"""The JDBC conflict-insert sink (VERDICT r07 #4): exact generated SQL
for the PostgreSQL dialect (the reference's literal ON CONFLICT DO
NOTHING load, S:214-218 — no PG server in the container), plus the full
stage->insert->drop round-trip on embedded Derby through the portable
NOT EXISTS dialect."""

import logging
import re

import pytest

from ferramenta_etl_spark.sinks.jdbc_conflict import (
    _default_staging,
    conflict_insert_sql,
    conflict_upsert_sql,
    jdbc_dialect,
    write_jdbc_ignore_conflicts,
)
from ferramenta_etl_spark.sources.jdbc import JdbcConfig


def test_dialect_dispatch():
    assert jdbc_dialect("jdbc:postgresql://host:5432/db") == "postgresql"
    assert jdbc_dialect("jdbc:PostgreSQL://host/db") == "postgresql"
    assert jdbc_dialect("jdbc:derby:/tmp/db;create=true") == "generic"
    assert jdbc_dialect("jdbc:sqlserver://host;databaseName=db") == "sqlserver"
    assert jdbc_dialect("jdbc:SQLServer://host;databaseName=db") == "sqlserver"
    assert jdbc_dialect("jdbc:oracle:thin:@host:1521:sid") == "generic"


def test_postgres_statement_is_the_references_literal_clause():
    sql = conflict_insert_sql(
        "manifesto_parcelas",
        "manifesto_parcelas__stage",
        ["id_manifesto", "cd_parcela", "vl_parcela"],
        ["id_manifesto", "cd_parcela"],
        dialect="postgresql",
    )
    # column identifiers quoted case-exact (Spark's JDBC writer creates
    # them quoted); the clause structure is the reference's literal
    # ON CONFLICT (keys) DO NOTHING (S:214-218)
    assert sql == (
        'INSERT INTO manifesto_parcelas '
        '("id_manifesto", "cd_parcela", "vl_parcela") '
        'SELECT "id_manifesto", "cd_parcela", "vl_parcela" '
        'FROM manifesto_parcelas__stage '
        'ON CONFLICT ("id_manifesto", "cd_parcela") DO NOTHING'
    )


def test_generic_statement_is_anti_join_insert():
    sql = conflict_insert_sql(
        "t", "stg", ["k", "v"], ["k"], dialect="generic"
    )
    assert sql == (
        'INSERT INTO t ("k", "v") SELECT "k", "v" FROM stg '
        'WHERE NOT EXISTS (SELECT 1 FROM t WHERE t."k" = stg."k")'
    )


def test_generic_statement_casts_string_keys():
    """r13 (found by the Derby 5-job e2e run): Derby stages StringType
    as CLOB and CLOB = CLOB is a syntax error (42818) — string keys
    compare under CAST on BOTH sides, non-string keys uncasted, and the
    cast rides the comparison only (INSERT/SELECT lists untouched)."""
    sql = conflict_insert_sql(
        "t", "stg", ["k", "s", "v"], ["k", "s"], dialect="generic",
        cast_keys={"s": "VARCHAR(4000)"},
    )
    assert sql == (
        'INSERT INTO t ("k", "s", "v") SELECT "k", "s", "v" FROM stg '
        'WHERE NOT EXISTS (SELECT 1 FROM t WHERE t."k" = stg."k" AND '
        'CAST(t."s" AS VARCHAR(4000)) = CAST(stg."s" AS VARCHAR(4000)))'
    )
    up = conflict_upsert_sql(
        "t", "stg", ["k", "s", "v"], ["k", "s"], dialect="generic",
        cast_keys={"s": "VARCHAR(4000)"},
    )
    assert (
        'ON (t."k" = stg."k" AND CAST(t."s" AS VARCHAR(4000)) = '
        'CAST(stg."s" AS VARCHAR(4000)))' in up
    )
    # sqlserver compares NVARCHAR natively: cast_keys must not leak in
    ss = conflict_upsert_sql(
        "t", "stg", ["k", "s", "v"], ["k", "s"], dialect="sqlserver",
        cast_keys={"s": "VARCHAR(4000)"},
    )
    assert "CAST" not in ss
    with pytest.raises(ValueError, match="invalid SQL cast type"):
        conflict_insert_sql(
            "t", "stg", ["s"], ["s"], dialect="generic",
            cast_keys={"s": "VARCHAR(10)); DROP TABLE t; --"},
        )


def test_statement_validation():
    with pytest.raises(ValueError, match="invalid SQL identifier"):
        conflict_insert_sql("t; DROP TABLE x", "s", ["k"], ["k"])
    with pytest.raises(ValueError, match="not in columns"):
        conflict_insert_sql("t", "s", ["v"], ["k"])
    with pytest.raises(ValueError, match="unknown dialect"):
        conflict_insert_sql("t", "s", ["k"], ["k"], dialect="mysql")
    with pytest.raises(ValueError, match="not in columns"):
        conflict_upsert_sql("t", "s", ["v"], ["k"])
    with pytest.raises(ValueError, match="unknown dialect"):
        conflict_upsert_sql("t", "s", ["k"], ["k"], dialect="mysql")


def test_postgres_upsert_statement_do_update():
    """VERDICT r08 #7: the natural next dialect clause — last-writer-wins
    DO UPDATE SET for changed-row reloads, pinned exactly."""
    sql = conflict_upsert_sql(
        "manifesto_parcelas",
        "stg_x",
        ["id_manifesto", "cd_parcela", "vl_parcela", "dt_venc"],
        ["id_manifesto", "cd_parcela"],
        dialect="postgresql",
    )
    assert sql == (
        'INSERT INTO manifesto_parcelas '
        '("id_manifesto", "cd_parcela", "vl_parcela", "dt_venc") '
        'SELECT "id_manifesto", "cd_parcela", "vl_parcela", "dt_venc" '
        'FROM stg_x '
        'ON CONFLICT ("id_manifesto", "cd_parcela") DO UPDATE SET '
        '"vl_parcela" = EXCLUDED."vl_parcela", '
        '"dt_venc" = EXCLUDED."dt_venc"'
    )


def test_generic_upsert_statement_is_ansi_merge():
    sql = conflict_upsert_sql("t", "stg", ["k", "v"], ["k"], dialect="generic")
    assert sql == (
        'MERGE INTO t USING stg ON (t."k" = stg."k") '
        'WHEN MATCHED THEN UPDATE SET t."v" = stg."v" '
        'WHEN NOT MATCHED THEN INSERT ("k", "v") VALUES (stg."k", stg."v")'
    )


def test_upsert_all_key_columns_degrades_to_insert_only():
    """Nothing to update when every column is a key: PG falls back to
    DO NOTHING, MERGE drops the WHEN MATCHED arm."""
    pg = conflict_upsert_sql("t", "s", ["k"], ["k"], dialect="postgresql")
    assert pg.endswith("DO NOTHING")
    gen = conflict_upsert_sql("t", "s", ["k"], ["k"], dialect="generic")
    assert "WHEN MATCHED" not in gen
    assert 'WHEN NOT MATCHED THEN INSERT ("k") VALUES (s."k")' in gen


def test_default_staging_is_per_run_unique():
    """ADVICE r08 (medium): concurrent loads of the same target must not
    share a staging table — the default carries a per-run uuid token."""
    a, b = _default_staging("conflict_t"), _default_staging("conflict_t")
    assert a != b
    assert re.fullmatch(r"conflict_t__stg_[0-9a-f]{12}", a)


def test_pg_url_routes_on_conflict_without_server(spark):
    """Dispatch test: a postgresql URL emits stage + ON CONFLICT insert
    + drop through run_statement — captured, never executed (no server).
    The staging write is intercepted by pointing the URL at an
    unreachable host and asserting the statement list BEFORE any
    execution by stubbing run_statement to record."""
    cfg = JdbcConfig(url="jdbc:postgresql://db.example:5432/etl", user="u",
                     password="p")
    df = spark.createDataFrame([(1, "a")], "id_manifesto int, vl string")
    seen = []

    def record(sql):
        seen.append(sql)
        return 1

    # the staging write itself needs a live server; monkey-stub it
    class _W:
        def format(self, *_):
            return self

        def mode(self, *_):
            return self

        def options(self, **_):
            return self

        def save(self):
            seen.append("__staged__")

    deduped_cls = type(df)
    orig = deduped_cls.write
    try:
        deduped_cls.write = property(lambda self: _W())
        n = write_jdbc_ignore_conflicts(
            df, cfg, "manifesto", keys=["id_manifesto"], run_statement=record
        )
    finally:
        deduped_cls.write = orig
    assert n == 1
    assert seen[0] == "__staged__"
    stg = re.fullmatch(
        r"CREATE TABLE IF NOT EXISTS manifesto "
        r"\(LIKE (manifesto__stg_[0-9a-f]{12}) INCLUDING ALL\)",
        seen[1],
    )
    assert stg, seen[1]
    # LIKE ... INCLUDING ALL copies no index from the staging table, and
    # ON CONFLICT (keys) needs a unique one
    assert seen[2] == (
        'CREATE UNIQUE INDEX IF NOT EXISTS manifesto__key ON manifesto ("id_manifesto")'
    )
    assert 'ON CONFLICT ("id_manifesto") DO NOTHING' in seen[3]
    assert stg.group(1) in seen[3]
    assert seen[4] == f"DROP TABLE {stg.group(1)}"


@pytest.fixture(scope="module")
def derby_cfg(tmp_path_factory):
    db = tmp_path_factory.mktemp("derby_conflict") / "sink_db"
    return JdbcConfig(
        url=f"jdbc:derby:{db};create=true",
        user="app",
        password="app",
        driver="org.apache.derby.jdbc.EmbeddedDriver",
        fetchsize=1000,
        batchsize=1000,
    )


def test_derby_roundtrip_rerun_is_noop(spark, derby_cfg):
    """Full stage->NOT EXISTS insert->drop on a real (embedded) JDBC
    engine: first write inserts all, re-run inserts zero, overlapping
    batch inserts only the new keys, in-batch dupes collapse."""
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "b2")], "k int, v string"
    )
    n1 = write_jdbc_ignore_conflicts(df, derby_cfg, "conflict_t", keys=["k"])
    assert n1 == 2  # in-batch dupe on k=2 collapsed before staging
    n2 = write_jdbc_ignore_conflicts(df, derby_cfg, "conflict_t", keys=["k"])
    assert n2 == 0  # rerun: ON CONFLICT semantics, nothing lands
    df2 = spark.createDataFrame([(2, "dup"), (3, "c")], "k int, v string")
    n3 = write_jdbc_ignore_conflicts(df2, derby_cfg, "conflict_t", keys=["k"])
    assert n3 == 1  # only the genuinely new key
    back = (
        spark.read.format("jdbc")
        .options(**derby_cfg.base_options(), dbtable="conflict_t")
        .load()
    )
    assert sorted(r.k for r in back.collect()) == [1, 2, 3]
    # first-writer-wins: k=2 kept its original value
    assert {r.k: r.v for r in back.collect()}[2] in ("b", "b2")


def test_derby_bootstrap_indexes_the_keys(spark, derby_cfg):
    """A target the sink creates gets an index on its non-string keys,
    so the NOT EXISTS check probes it instead of scanning the target per
    staged row; the string key (a CLOB on Derby) stays out of it. The
    indexed target still takes a replay as a no-op."""
    df = spark.createDataFrame(
        [(i, i % 7, f"s{i % 3}", "v") for i in range(500)],
        "k1 long, k2 int, ks string, v string",
    )
    keys = ["k1", "k2", "ks"]
    assert write_jdbc_ignore_conflicts(df, derby_cfg, "keyidx_t", keys=keys) == 500
    # DESCRIPTOR is a Java object Spark's JDBC reader cannot map; read it
    # through a plain connection, where getString gives its text form
    conn = spark._jvm.java.sql.DriverManager.getConnection(
        derby_cfg.url, derby_cfg.user, derby_cfg.password
    )
    try:
        rs = conn.createStatement().executeQuery(
            "SELECT c.CONGLOMERATENAME, c.DESCRIPTOR "
            "FROM SYS.SYSCONGLOMERATES c JOIN SYS.SYSTABLES t "
            "ON c.TABLEID = t.TABLEID "
            "WHERE t.TABLENAME = 'KEYIDX_T' AND c.ISINDEX"
        )
        indexes = []
        while rs.next():
            indexes.append((rs.getString(1), rs.getString(2)))
    finally:
        conn.close()
    assert indexes == [("KEYIDX_T__KEY", "BTREE (1, 2)")]
    assert write_jdbc_ignore_conflicts(df, derby_cfg, "keyidx_t", keys=keys) == 0


def test_derby_upsert_roundtrip_last_writer_wins(spark, derby_cfg, caplog):
    """VERDICT r08 #7: upsert on a real JDBC engine via ANSI MERGE —
    new keys insert, existing keys take the new values, and the
    server-reported affected count lands in the job log."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    with caplog.at_level(logging.INFO, logger="ferramenta_etl_spark"):
        n1 = write_jdbc_ignore_conflicts(
            df, derby_cfg, "upsert_t", keys=["k"], upsert=True
        )
    assert n1 == 2
    # insert-count parity log (≙ the reference's per-batch count lines)
    assert any(
        "2 rows affected in upsert_t" in r.message for r in caplog.records
    )
    df2 = spark.createDataFrame([(2, "B2"), (3, "c")], "k int, v string")
    n2 = write_jdbc_ignore_conflicts(
        df2, derby_cfg, "upsert_t", keys=["k"], upsert=True
    )
    assert n2 == 2  # one update + one insert, both counted by MERGE
    back = (
        spark.read.format("jdbc")
        .options(**derby_cfg.base_options(), dbtable="upsert_t")
        .load()
    )
    got = {r.k: r.v for r in back.collect()}
    assert got == {1: "a", 2: "B2", 3: "c"}  # last writer won on k=2


def test_cleanup_staging_tables_sweeps_orphans(spark, derby_cfg):
    """A run killed before its finally-DROP orphans the uuid-named
    staging table; the metadata sweep finds and drops exactly the
    uuid-shaped names, leaving the target and unrelated tables alone."""
    from ferramenta_etl_spark.sinks.jdbc_conflict import (
        cleanup_staging_tables,
    )

    df = spark.createDataFrame([(1, "a")], "k int, v string")
    # simulate the crash: stage directly, never insert/drop
    orphan = _default_staging("sweep_t")
    (
        df.write.format("jdbc").mode("overwrite")
        .options(**derby_cfg.base_options(), dbtable=orphan)
        .save()
    )
    # an unrelated similarly-prefixed table that must NOT be swept
    (
        df.write.format("jdbc").mode("overwrite")
        .options(**derby_cfg.base_options(), dbtable="sweep_t__stg_keepme")
        .save()
    )
    write_jdbc_ignore_conflicts(df, derby_cfg, "sweep_t", keys=["k"])
    dropped = cleanup_staging_tables(spark, derby_cfg, "sweep_t")
    assert [d.lower() for d in dropped] == [orphan.lower()]
    # target intact, non-uuid-shaped neighbor intact, orphan gone
    back = (
        spark.read.format("jdbc")
        .options(**derby_cfg.base_options(), dbtable="sweep_t")
        .load()
    )
    assert back.count() == 1
    keep = (
        spark.read.format("jdbc")
        .options(**derby_cfg.base_options(), dbtable="sweep_t__stg_keepme")
        .load()
    )
    assert keep.count() == 1
    assert cleanup_staging_tables(spark, derby_cfg, "sweep_t") == []


def test_sqlserver_statement_is_holdlock_merge():
    """T-SQL dialect (VERDICT r09 #5): MERGE WITH (HOLDLOCK) — the hint
    is what makes concurrent same-key loaders serialize instead of
    racing to a PK violation (T-SQL MERGE alone is not atomic under
    READ COMMITTED) — and the mandatory statement terminator."""
    sql = conflict_insert_sql(
        "manifesto_parcelas",
        "manifesto_parcelas__stage",
        ["id_manifesto", "cd_parcela", "vl_parcela"],
        ["id_manifesto", "cd_parcela"],
        dialect="sqlserver",
    )
    assert sql == (
        'MERGE INTO manifesto_parcelas WITH (HOLDLOCK) '
        'USING manifesto_parcelas__stage '
        'ON (manifesto_parcelas."id_manifesto" = '
        'manifesto_parcelas__stage."id_manifesto" '
        'AND manifesto_parcelas."cd_parcela" = '
        'manifesto_parcelas__stage."cd_parcela") '
        'WHEN NOT MATCHED THEN INSERT '
        '("id_manifesto", "cd_parcela", "vl_parcela") '
        'VALUES (manifesto_parcelas__stage."id_manifesto", '
        'manifesto_parcelas__stage."cd_parcela", '
        'manifesto_parcelas__stage."vl_parcela");'
    )


def test_sqlserver_upsert_statement_holdlock_merge_update():
    sql = conflict_upsert_sql("t", "stg", ["k", "v"], ["k"], dialect="sqlserver")
    assert sql == (
        'MERGE INTO t WITH (HOLDLOCK) USING stg ON (t."k" = stg."k") '
        'WHEN MATCHED THEN UPDATE SET t."v" = stg."v" '
        'WHEN NOT MATCHED THEN INSERT ("k", "v") VALUES (stg."k", stg."v");'
    )
    # all-key degradation: no WHEN MATCHED arm, still HOLDLOCK-merged
    sql2 = conflict_upsert_sql("t", "stg", ["k"], ["k"], dialect="sqlserver")
    assert sql2 == (
        'MERGE INTO t WITH (HOLDLOCK) USING stg ON (t."k" = stg."k") '
        'WHEN NOT MATCHED THEN INSERT ("k") VALUES (stg."k");'
    )


def test_sqlserver_url_routes_merge_without_server(spark):
    """URL-scheme dispatch end-to-end: a jdbc:sqlserver cfg must route
    the load through the HOLDLOCK MERGE — statements captured via
    run_statement, staging write monkey-stubbed (no server exists)."""
    cfg = JdbcConfig(url="jdbc:sqlserver://db.example;databaseName=etl",
                     user="u", password="p")
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    seen = []

    def record(sql):
        seen.append(sql)
        return 1

    class _W:
        def format(self, *_):
            return self

        def mode(self, *_):
            return self

        def options(self, **_):
            return self

        def save(self):
            seen.append("__staged__")

    deduped_cls = type(df)
    orig = deduped_cls.write
    try:
        deduped_cls.write = property(lambda self: _W())
        n = write_jdbc_ignore_conflicts(
            df, cfg, "tgt", keys=["k"], run_statement=record,
            ensure_target=False,
        )
    finally:
        deduped_cls.write = orig
    assert n == 1
    assert seen[0] == "__staged__"
    m = re.fullmatch(
        r'MERGE INTO tgt WITH \(HOLDLOCK\) USING (tgt__stg_[0-9a-f]{12}) '
        r'ON \(tgt."k" = \1."k"\) '
        r'WHEN NOT MATCHED THEN INSERT \("k", "v"\) '
        r'VALUES \(\1."k", \1."v"\);',
        seen[1],
    )
    assert m, seen[1]
    assert seen[2] == f"DROP TABLE {m.group(1)}"
