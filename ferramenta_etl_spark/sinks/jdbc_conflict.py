"""Relational conflict-insert sink: the reference's literal load path.

The reference loads PostgreSQL with ``INSERT INTO <target> (cols)
VALUES ... ON CONFLICT (id_manifesto, cd_parcela) DO NOTHING``
(``Select de Importação de Dados.py:214-218``) — the server's PK index
does the conflict check, so concurrent loaders and re-runs are atomic
and duplicate-free. The parquet sink in ``sinks.idempotent``
re-creates those semantics with an anti-join under an advisory lock;
THIS module provides them on the reference's actual target class
(a SQL server reachable over JDBC), where the right design at scale is:

    1. executors stage the batch to a side table (Spark's parallel
       batched JDBC writer — batchsize ≙ execute_batch page_size 50 000);
    2. the driver issues ONE set-based ``INSERT ... SELECT`` from the
       staging table into the target, with the dialect's native conflict
       clause — PostgreSQL: the reference's literal ``ON CONFLICT (keys)
       DO NOTHING``; engines without it (Derby, generic ANSI): an
       anti-join ``NOT EXISTS`` insert, which the server executes
       atomically within the single statement;
    3. the staging table is dropped.

One statement = one server-side transaction: the insert is atomic on
the target no matter how many Spark tasks staged rows, which a
row-at-a-time ``foreachPartition`` upsert can never be. No PostgreSQL
server exists in this container, so the PG branch is pinned by exact
generated-SQL tests and the full stage→insert→drop round-trip runs
against embedded Derby (tests/test_jdbc_conflict.py).
"""

from __future__ import annotations

import logging
import re
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame

from ..sources.jdbc import JdbcConfig

log = logging.getLogger(__name__)

_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_$#]*$")


def _ident(name: str) -> str:
    """Validate-and-pass-through TABLE identifiers. The sink builds one
    driver-side statement from config values, so identifiers are
    allowlisted (letters/digits/underscore, leading letter). Table names
    stay UNQUOTED — that is what Spark's JDBC writer emits when creating
    the staging table, so quoting here would make the statement
    case-sensitive against a table the writer created case-folded."""
    if not _IDENT_RE.match(name):
        raise ValueError(f"invalid SQL identifier: {name!r}")
    return name


def _qcol(name: str) -> str:
    """COLUMN identifiers are double-quoted case-exact: Spark's JDBC
    writer quotes column names when creating the staging table (a
    DataFrame column ``k`` becomes ``"k"``, which Derby/PG store
    case-exact), so an unquoted reference would case-fold and miss
    (Derby: ERROR 42X04 'K' not found)."""
    if not _IDENT_RE.match(name):
        raise ValueError(f"invalid SQL identifier: {name!r}")
    return f'"{name}"'


def jdbc_dialect(url: str) -> str:
    """Dialect dispatch from the JDBC URL scheme: ``postgresql`` gets
    the reference's native ON CONFLICT clause; ``sqlserver`` (the
    reference's SOURCE engine, S:162 — completing the round-trip story
    for shops whose sink is also SQL Server) gets T-SQL
    ``MERGE ... WITH (HOLDLOCK)``; everything else the portable
    NOT EXISTS insert (valid ANSI, runs on Derby/Oracle unchanged)."""
    scheme = url.split(":", 2)[1].lower() if url.count(":") >= 2 else ""
    if scheme == "postgresql":
        return "postgresql"
    if scheme == "sqlserver":
        return "sqlserver"
    return "generic"


def conflict_insert_sql(
    target: str,
    staging: str,
    columns: Sequence[str],
    keys: Sequence[str],
    dialect: str = "postgresql",
    cast_keys: dict[str, str] | None = None,
) -> str:
    """The single set-based statement of step 2.

    postgresql -> the reference's literal clause (S:214-218):
        INSERT INTO t (c1, c2) SELECT c1, c2 FROM stg
        ON CONFLICT (k1, k2) DO NOTHING
    generic    -> portable anti-join insert (atomic within the statement):
        INSERT INTO t (c1, c2) SELECT c1, c2 FROM stg
        WHERE NOT EXISTS (SELECT 1 FROM t
                          WHERE t.k1 = stg.k1 AND t.k2 = stg.k2)
    sqlserver  -> T-SQL MERGE, serializable on the merge keys:
        MERGE INTO t WITH (HOLDLOCK) USING stg ON (t.k1 = stg.k1)
        WHEN NOT MATCHED THEN INSERT (c1, c2) VALUES (stg.c1, stg.c2);
      WITH (HOLDLOCK) is load-bearing: unlike PG's ON CONFLICT, T-SQL
      MERGE under the default READ COMMITTED level is NOT atomic
      against a concurrent writer inserting the same key between the
      match-check and the insert (primary-key violation race); the
      hint takes key-range locks, making concurrent loaders serialize
      exactly like the reference's PK-checked ON CONFLICT. The
      trailing semicolon is T-SQL's mandatory MERGE terminator.
    """
    if not columns:
        raise ValueError("columns must be non-empty")
    missing = [k for k in keys if k not in columns]
    if missing:
        raise ValueError(f"keys {missing} not in columns {list(columns)}")
    t = _ident(target)
    s = _ident(staging)
    cols = ", ".join(_qcol(c) for c in columns)
    if dialect == "postgresql":
        ks = ", ".join(_qcol(k) for k in keys)
        return (
            f"INSERT INTO {t} ({cols}) SELECT {cols} FROM {s} "
            f"ON CONFLICT ({ks}) DO NOTHING"
        )
    if dialect == "sqlserver":
        on = " AND ".join(f"{t}.{_qcol(k)} = {s}.{_qcol(k)}" for k in keys)
        vals = ", ".join(f"{s}.{_qcol(c)}" for c in columns)
        return (
            f"MERGE INTO {t} WITH (HOLDLOCK) USING {s} ON ({on}) "
            f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals});"
        )
    if dialect == "generic":
        pred = " AND ".join(_key_eq(t, s, k, cast_keys) for k in keys)
        return (
            f"INSERT INTO {t} ({cols}) SELECT {cols} FROM {s} "
            f"WHERE NOT EXISTS (SELECT 1 FROM {t} WHERE {pred})"
        )
    raise ValueError(f"unknown dialect: {dialect!r}")


def conflict_upsert_sql(
    target: str,
    staging: str,
    columns: Sequence[str],
    keys: Sequence[str],
    dialect: str = "postgresql",
    cast_keys: dict[str, str] | None = None,
) -> str:
    """Set-based UPSERT — the natural next clause after DO NOTHING, for
    changed-row reloads where the newest batch should win.

    postgresql -> the dialect-native conflict-update clause:
        INSERT INTO t (c1, c2) SELECT c1, c2 FROM stg
        ON CONFLICT (k1) DO UPDATE SET c2 = EXCLUDED.c2
    generic    -> ANSI MERGE (Derby >= 10.11, Oracle):
        MERGE INTO t USING stg ON (t.k1 = stg.k1)
        WHEN MATCHED THEN UPDATE SET t.c2 = stg.c2
        WHEN NOT MATCHED THEN INSERT (c1, c2) VALUES (stg.c1, stg.c2)
    sqlserver  -> the same MERGE with T-SQL's WITH (HOLDLOCK) hint and
        mandatory trailing semicolon (see conflict_insert_sql for why
        the hint is required for atomicity under concurrency)

    When every column is a key there is nothing to update — both
    dialects degrade to the insert-only statement (PG: DO NOTHING;
    generic: MERGE without the WHEN MATCHED arm), keeping upsert a
    strict superset of ignore-conflicts."""
    if not columns:
        raise ValueError("columns must be non-empty")
    missing = [k for k in keys if k not in columns]
    if missing:
        raise ValueError(f"keys {missing} not in columns {list(columns)}")
    t = _ident(target)
    s = _ident(staging)
    cols = ", ".join(_qcol(c) for c in columns)
    nonkey = [c for c in columns if c not in keys]
    if dialect == "postgresql":
        ks = ", ".join(_qcol(k) for k in keys)
        if not nonkey:
            return conflict_insert_sql(target, staging, columns, keys, dialect)
        sets = ", ".join(f"{_qcol(c)} = EXCLUDED.{_qcol(c)}" for c in nonkey)
        return (
            f"INSERT INTO {t} ({cols}) SELECT {cols} FROM {s} "
            f"ON CONFLICT ({ks}) DO UPDATE SET {sets}"
        )
    if dialect in ("generic", "sqlserver"):
        hold = " WITH (HOLDLOCK)" if dialect == "sqlserver" else ""
        term = ";" if dialect == "sqlserver" else ""
        on = " AND ".join(
            _key_eq(t, s, k, cast_keys if dialect == "generic" else None)
            for k in keys
        )
        matched = ""
        if nonkey:
            sets = ", ".join(
                f"{t}.{_qcol(c)} = {s}.{_qcol(c)}" for c in nonkey
            )
            matched = f"WHEN MATCHED THEN UPDATE SET {sets} "
        vals = ", ".join(f"{s}.{_qcol(c)}" for c in columns)
        return (
            f"MERGE INTO {t}{hold} USING {s} ON ({on}) "
            f"{matched}"
            f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals}){term}"
        )
    raise ValueError(f"unknown dialect: {dialect!r}")


def _run_statement_jvm(df: DataFrame, cfg: JdbcConfig, sql: str) -> int:
    """Execute one driver-side statement through the session's JVM via
    java.sql.DriverManager (the same classpath the JDBC datasource
    uses). Returns the server-reported update count — the sink's
    inserted-row count, free."""
    spark = df.sparkSession
    jvm = spark._jvm
    if cfg.driver:
        jvm.java.lang.Class.forName(cfg.driver)
    conn = jvm.java.sql.DriverManager.getConnection(cfg.url, cfg.user, cfg.password)
    try:
        stmt = conn.createStatement()
        try:
            return int(stmt.executeUpdate(sql))
        finally:
            stmt.close()
    finally:
        conn.close()


_STG_RE_TMPL = r"{table}__stg_[0-9a-f]{{12}}"

_CAST_TYPE_RE = re.compile(r"^[A-Za-z][A-Za-z0-9 ]*(\(\d+(,\s*\d+)?\))?$")


def _key_eq(t: str, s: str, k: str, cast_keys: dict[str, str] | None) -> str:
    """One key-equality term for the anti-join/MERGE ON clause. When
    ``cast_keys`` maps the key to a SQL type, BOTH sides are cast —
    Derby maps StringType to CLOB, and CLOB = CLOB is a syntax error
    (ERROR 42818; Derby's own docs prescribe exactly this cast). The
    cast rides the comparison only, so staging keeps the driver's
    native types and null handling (casting the staged COLUMN TYPES
    instead broke Spark's setNull(CLOB) on every null string)."""
    a, b = f"{t}.{_qcol(k)}", f"{s}.{_qcol(k)}"
    if cast_keys and k in cast_keys:
        ty = cast_keys[k]
        if not _CAST_TYPE_RE.match(ty):
            raise ValueError(f"invalid SQL cast type: {ty!r}")
        a, b = f"CAST({a} AS {ty})", f"CAST({b} AS {ty})"
    return f"{a} = {b}"


def _default_staging(table: str) -> str:
    """Per-run-unique staging name: two concurrent loads of the same
    target must not share a staging table (writer B's overwrite would
    drop writer A's staged rows mid-flight, and either finally-DROP
    would delete the table the other is INSERT...SELECTing from). A
    12-hex uuid token keeps ``table + 7 + 12`` chars well under the
    tightest common identifier limit (PostgreSQL's 63) for any
    reasonably named target.

    Tradeoff (accepted): a run killed between staging and the
    finally-DROP leaves its uniquely-named staging table orphaned on
    the server — the fixed-name design self-healed via the next run's
    overwrite but raced concurrent writers. ``cleanup_staging_tables``
    is the maintenance sweep for the orphans (run it when no loader is
    active against the target)."""
    return f"{table}__stg_{uuid.uuid4().hex[:12]}"


def cleanup_staging_tables(spark, cfg: JdbcConfig, table: str) -> list[str]:
    """Drop orphaned ``<table>__stg_<12 hex>`` staging tables left by
    runs that died before their finally-DROP. Discovery goes through
    JDBC DatabaseMetaData (portable across Derby/PG/SQL Server —
    identifier case-folding handled via the driver's stores*Case flags);
    only names matching the exact uuid-staging shape are touched.
    MUST run while no loader is active against ``table`` — a live
    run's staging table is indistinguishable from an orphan. Returns
    the dropped names."""
    target = _ident(table)
    jvm = spark._jvm
    if cfg.driver:
        jvm.java.lang.Class.forName(cfg.driver)
    conn = jvm.java.sql.DriverManager.getConnection(
        cfg.url, cfg.user, cfg.password
    )
    dropped: list[str] = []
    try:
        md = conn.getMetaData()
        pattern = f"{target}__stg_%"
        if md.storesUpperCaseIdentifiers():
            pattern = pattern.upper()
        elif md.storesLowerCaseIdentifiers():
            pattern = pattern.lower()
        rs = md.getTables(None, None, pattern, None)
        names = []
        while rs.next():
            names.append(rs.getString("TABLE_NAME"))
        rs.close()
        shape = re.compile(
            _STG_RE_TMPL.format(table=re.escape(target)), re.IGNORECASE
        )
        for name in names:
            if not shape.fullmatch(name):
                continue
            stmt = conn.createStatement()
            try:
                stmt.executeUpdate(f"DROP TABLE {_ident(name)}")
                dropped.append(name)
            finally:
                stmt.close()
    finally:
        conn.close()
    if dropped:
        log.info("dropped %d orphaned staging tables: %s", len(dropped), dropped)
    return dropped


def _index_new_target(
    run: Callable[[str], int],
    target: str,
    index: str,
    keys: Sequence[str],
    df: DataFrame,
) -> None:
    """Index the keys of a target the sink has just created, so the
    NOT EXISTS insert probes the index instead of scanning the target
    for every staged row (Derby: a re-run took 0.45 s against 20 k
    target rows and 241 s against 40 k without it). String keys are
    left out: they land as LOBs (Derby CLOB, SQL Server NVARCHAR(MAX)),
    which these engines cannot index, and they compare through a CAST
    no index serves. The index only speeds the check, so a failure to
    build it is logged, not raised."""
    strings = {f.name for f in df.schema.fields if f.dataType.typeName() == "string"}
    cols = [k for k in keys if k not in strings]
    if not cols:
        return
    try:
        run(f"CREATE INDEX {index} ON {target} ({', '.join(_qcol(k) for k in cols)})")
    except Exception as exc:  # noqa: BLE001 — a missing index is slow, not wrong
        log.warning("could not index %s on %s: %s", target, cols, exc)


def write_jdbc_ignore_conflicts(
    df: DataFrame,
    cfg: JdbcConfig,
    table: str,
    keys: Sequence[str],
    staging_table: str | None = None,
    run_statement: Callable[[str], int] | None = None,
    ensure_target: bool = True,
    upsert: bool = False,
    string_key_cast: str | None = "VARCHAR(4000)",
) -> int:
    """Stage-then-conflict-insert into a JDBC target; returns the
    server-reported affected-row count (inserted rows; for ``upsert``,
    inserted + updated — PG's and MERGE's native update count).
    ``run_statement`` overrides the driver-side executor (unit tests
    capture the generated SQL with it; a deployment could route it
    through a pooled connection).

    ``upsert=False`` (default): the reference's first-writer-wins
    ON CONFLICT DO NOTHING (S:214-218). ``upsert=True``: last-writer
    -wins DO UPDATE / ANSI MERGE for changed-row reloads.

    ``ensure_target`` creates a missing target from the staged schema
    and indexes its keys: PostgreSQL gets the UNIQUE index its
    ON CONFLICT (keys) requires; other engines get a plain index on the
    non-string keys, built only when this call created the table.

    In-batch duplicates are collapsed BEFORE staging (ON CONFLICT also
    collapses them server-side, but the NOT EXISTS dialect would insert
    both — the sink must behave identically across dialects), matching
    the parquet sink's policy.

    ``string_key_cast``: on the generic dialect, string-typed KEY
    columns compare as ``CAST(k AS <this type>)`` on both sides of the
    anti-join/MERGE ON. Spark's JDBC writer maps StringType to CLOB on
    Derby, and CLOB = CLOB is a syntax error (ERROR 42818) — the cast
    is Derby's documented fix and rides the comparison only, so staging
    keeps driver-native types (and null strings keep working: staging
    the columns AS VARCHAR instead breaks Spark's setNull(CLOB) path).
    Keys longer than the cast width would truncate-error rather than
    silently collide (Derby raises 22001) — size it to the key domain.
    PostgreSQL/SQL Server compare TEXT/NVARCHAR natively and ignore it.
    Pass None to compare uncasted everywhere.
    """
    if not keys:
        raise ValueError("keys must be non-empty")
    missing = [k for k in keys if k not in df.columns]
    if missing:
        raise ValueError(f"keys {missing} not in dataframe columns {df.columns}")
    target = _ident(table)
    staging = _ident(staging_table or _default_staging(table))
    index = _ident(f"{table}__key")
    dialect = jdbc_dialect(cfg.url)
    cast_keys = None
    if string_key_cast is not None and dialect == "generic":
        cast_keys = {
            f.name: string_key_cast
            for f in df.schema.fields
            if f.name in keys and f.dataType.typeName() == "string"
        } or None
    build = conflict_upsert_sql if upsert else conflict_insert_sql
    sql = build(target, staging, df.columns, keys, dialect, cast_keys=cast_keys)
    run = run_statement or (lambda s: _run_statement_jvm(df, cfg, s))

    deduped = df.dropDuplicates(list(keys))
    # Stage with the parallel batched writer. The staging name is
    # per-run unique, so overwrite never collides with a concurrent
    # writer; a CRASHED run's staging table is orphaned (not reclaimed
    # by the next run's overwrite, as the old fixed-name design did) —
    # cleanup_staging_tables is the sweep for those.
    (
        deduped.write.format("jdbc")
        .mode("overwrite")
        .options(**cfg.base_options(), dbtable=staging)
        .save()
    )
    try:
        if ensure_target:
            # ≙ the reference's idempotent DDL bootstrap (S:166-186):
            # first write to a fresh target creates it from the staged
            # schema, with an index on the keys (the staging table has
            # none to copy). PG has a native IF NOT EXISTS, and its
            # ON CONFLICT (keys) needs a matching UNIQUE index; the
            # generic branch swallows the already-exists error (the
            # subsequent INSERT surfaces any real failure).
            if dialect == "postgresql":
                run(
                    f"CREATE TABLE IF NOT EXISTS {target} "
                    f"(LIKE {staging} INCLUDING ALL)"
                )
                run(
                    f"CREATE UNIQUE INDEX IF NOT EXISTS {index} ON {target} "
                    f"({', '.join(_qcol(k) for k in keys)})"
                )
            else:
                try:
                    run(
                        f"CREATE TABLE {target} AS SELECT * FROM {staging} "
                        "WITH NO DATA"
                    )
                except Exception:  # noqa: BLE001 — already exists
                    pass
                else:
                    _index_new_target(run, target, index, keys, df)
        inserted = run(sql)
        # ≙ the reference's per-batch read-count log lines (S:230, S:242):
        # the server's update count is the sink's ground-truth row count,
        # surfaced in the job log for load auditing
        log.info(
            "jdbc %s (%s): %d rows affected in %s (staged via %s)",
            "upsert" if upsert else "conflict-insert",
            dialect,
            inserted,
            target,
            staging,
        )
        return inserted
    finally:
        try:
            run(f"DROP TABLE {staging}")
        except Exception:  # noqa: BLE001 — cleanup; next run's overwrite recreates
            log.warning("could not drop staging table %s", staging)
