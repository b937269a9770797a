"""Transaction-log parquet tables: the ACID MERGE-ignore backend.

The reference's load is ``INSERT ... ON CONFLICT DO NOTHING`` (``Select
de Importação de Dados.py:214-218``) — PostgreSQL serializes the
conflict check server-side, so two concurrent loaders can never both
insert the same key. The parquet anti-join backend
(:mod:`.idempotent`) approximates that with an advisory writer lock;
this module provides the transactional guarantee with a self-contained
transaction log — the standard log-structured table design
(Delta/Iceberg papers, public protocol):

``<table>/_txlog/``
    ``00000000000000000001.json``  one JSON manifest per commit: the
    data files it ADDS (paths relative to the table root, row counts,
    per-file key min/max stats), the schema, and the inserted-row count.
    ``00000000000000000010.checkpoint.json``  every
    ``CHECKPOINT_INTERVAL`` commits, a consolidated manifest of ALL
    live files, so a snapshot read is O(recent commits), not O(history).
    ``data/<uuid>/part-*.parquet``  immutable data files. The whole
    tree lives under the underscore directory, which Spark's file index
    treats as hidden: a half-written batch, an orphaned loser of a
    commit race, or the table itself is INVISIBLE to any naive
    ``spark.read.parquet(table)`` — readers must come through
    :func:`read_txlog`, and there is no window where a foreign reader
    can observe uncommitted rows (verified empirically: explicitly
    listed files under a hidden directory DO read back).

Atomicity & isolation — the commit protocol:

1. the full manifest body is written to a temp file, then PUBLISHED at
   ``<version>.json`` via an atomic exclusive primitive: ``os.link``
   on local filesystems (hard-link creation fails with EEXIST exactly
   when the version is taken, and the content is complete before the
   name exists — no partial-manifest window), ``fs.create(path,
   overwrite=false)`` elsewhere (atomic namespace op on HDFS; plain
   S3 lacks the primitive, same caveat as Delta-on-S3 without a
   coordination service);
2. exactly ONE writer wins each version number. The loser re-reads the
   snapshot, re-runs the conflict check against ONLY the files added
   by the commits it lost to, rewrites its batch minus the clashed
   keys, and retries at the next version — optimistic concurrency,
   first-writer-wins per key, no lock and no wait.

Scale posture (100 TB): the conflict check never scans the whole
table — each manifest carries per-file min/max stats for the key
columns, and the anti-join reads only files whose key range overlaps
the incoming batch (file skipping, the same trick as Delta data
skipping). Commit manifests are metadata (KB per commit, driver-side);
checkpoints bound snapshot assembly; data files are immutable parquet
read by explicit path with full column pruning. The OCC retry loop
re-checks only the DELTA between snapshots, so contention cost is
proportional to what actually landed in between, not to table size.
"""

from __future__ import annotations

import contextlib
import json
import logging
import os
import time
import uuid
from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import SchemaContractError
from .idempotent import anti_join_keys, dedup_batch

log = logging.getLogger(__name__)

LOG_DIR = "_txlog"
DATA_DIR = "_txlog/data"
CHECKPOINT_INTERVAL = 10
# stats are recorded (and trusted for file skipping) only for types
# whose python-value ordering matches Spark's column ordering
_STATS_TYPES = ("int", "bigint", "smallint", "tinyint", "double", "float", "string")


class TxLogConflict(RuntimeError):
    """The OCC commit loop exhausted its retries (pathological
    contention). The batch's data files are left orphaned and invisible;
    :func:`vacuum_txlog` reclaims them."""


@dataclass
class Snapshot:
    version: int
    files: list[dict] = field(default_factory=list)  # manifest file entries
    schema: str | None = None  # DDL string of the table schema


def _local_root(spark: SparkSession, path: str) -> str | None:
    """The os-level path of ``path`` when it lives on the local
    filesystem, else None (→ Hadoop FS API paths are used instead)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    q = fs.makeQualified(p)
    return q.toUri().getPath() if q.toUri().getScheme() == "file" else None


def _hadoop(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p, p.getFileSystem(spark._jsc.hadoopConfiguration())


def _version_name(v: int, checkpoint: bool = False) -> str:
    return f"{v:020d}" + (".checkpoint.json" if checkpoint else ".json")


def _list_log(spark: SparkSession, path: str) -> tuple[list[int], list[int]]:
    """(commit versions, checkpoint versions) present in the log dir,
    each sorted ascending. Driver-side metadata listing."""
    local = _local_root(spark, path)
    names: list[str] = []
    if local is not None:
        try:
            names = os.listdir(os.path.join(local, LOG_DIR))
        except FileNotFoundError:
            return [], []
    else:
        p, fs = _hadoop(spark, path.rstrip("/") + "/" + LOG_DIR)
        if not fs.exists(p):
            return [], []
        for st in fs.listStatus(p):
            names.append(st.getPath().getName())
    commits, checkpoints = [], []
    for n in names:
        if n.endswith(".checkpoint.json"):
            with contextlib.suppress(ValueError):
                checkpoints.append(int(n[: -len(".checkpoint.json")]))
        elif n.endswith(".json") and not n.startswith("_"):
            with contextlib.suppress(ValueError):
                commits.append(int(n[: -len(".json")]))
    return sorted(commits), sorted(checkpoints)


def _read_json(spark: SparkSession, path: str, name: str) -> dict:
    local = _local_root(spark, path)
    if local is not None:
        with open(os.path.join(local, LOG_DIR, name)) as fh:
            return json.load(fh)
    p, fs = _hadoop(spark, path.rstrip("/") + f"/{LOG_DIR}/{name}")
    stream = fs.open(p)
    try:
        return json.loads(bytes(stream.readAllBytes()).decode("utf-8"))
    finally:
        stream.close()


def _publish_json(spark: SparkSession, path: str, name: str, body: dict) -> bool:
    """Atomically publish ``body`` at ``_txlog/<name>``; False iff the
    name is already taken (a concurrent writer won the version)."""
    payload = json.dumps(body, separators=(",", ":"))
    local = _local_root(spark, path)
    if local is not None:
        log_dir = os.path.join(local, LOG_DIR)
        os.makedirs(log_dir, exist_ok=True)
        tmp = os.path.join(log_dir, f"_tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            fh.write(payload)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            # hard-link: atomic publish of COMPLETE content; EEXIST is
            # precisely "someone committed this version first"
            os.link(tmp, os.path.join(log_dir, name))
            return True
        except FileExistsError:
            return False
        finally:
            with contextlib.suppress(OSError):
                os.unlink(tmp)
    p, fs = _hadoop(spark, path.rstrip("/") + f"/{LOG_DIR}/{name}")
    try:
        out = fs.create(p, False)  # atomic exclusive create on HDFS
    except Exception as e:  # noqa: BLE001 — py4j wraps the java class
        # ONLY lost-the-race maps to False. Any other create failure
        # must surface: returning False would make the writer retry at
        # v+1 believing it lost an OCC race.
        msg = str(e)
        if "FileAlreadyExists" in msg or "already exists" in msg.lower():
            return False
        raise
    try:
        out.write(bytearray(payload.encode("utf-8")))
        out.close()
    except Exception:
        # a create-then-failed-write would otherwise leave a TRUNCATED
        # manifest published at this version — permanently corrupting
        # the log (every reader's json.loads fails). Clean up the
        # half-written file and re-raise; the caller sees a real error,
        # not a phantom race.
        with contextlib.suppress(Exception):
            out.close()
        with contextlib.suppress(Exception):
            fs.delete(p, False)
        raise
    return True


def snapshot_txlog(spark: SparkSession, path: str) -> Snapshot:
    """Current table state: highest checkpoint (if any) + the commits
    after it. Pure driver-side metadata — never touches data files."""
    commits, checkpoints = _list_log(spark, path)
    if not commits:
        return Snapshot(version=0)
    latest = commits[-1]
    base = 0
    files: list[dict] = []
    schema: str | None = None
    usable = [c for c in checkpoints if c <= latest]
    if usable:
        base = usable[-1]
        cp = _read_json(spark, path, _version_name(base, checkpoint=True))
        files = list(cp["files"])
        schema = cp.get("schema")
    for v in commits:
        if v <= base:
            continue
        c = _read_json(spark, path, _version_name(v))
        files.extend(c["files"])
        schema = c.get("schema") or schema
    return Snapshot(version=latest, files=files, schema=schema)


def _abs_files(path: str, entries: Sequence[dict]) -> list[str]:
    root = path.rstrip("/")
    return [f"{root}/{e['path']}" for e in entries]


def read_txlog(spark: SparkSession, path: str) -> DataFrame:
    """The table's current committed snapshot as a DataFrame. The file
    list is explicit, so orphaned (never-committed / lost-race) data
    files are invisible by construction."""
    snap = snapshot_txlog(spark, path)
    if not snap.files:
        if snap.schema is None:
            raise FileNotFoundError(f"no txlog table at {path}")
        return spark.createDataFrame([], snap.schema)
    reader = spark.read
    if snap.schema is not None:
        # pin the schema: column order is the COMMIT order, not whatever
        # the first listed file happens to carry
        reader = reader.schema(snap.schema)
    return reader.parquet(*_abs_files(path, snap.files))


def history_txlog(spark: SparkSession, path: str) -> list[dict]:
    """All commit manifests, newest first (≙ DeltaTable.history)."""
    commits, _ = _list_log(spark, path)
    return [_read_json(spark, path, _version_name(v)) for v in reversed(commits)]


def _file_stats(local_file: str, keys: Sequence[str]) -> dict:
    """Per-key min/max from the parquet footer (row-group stats) —
    metadata-only, no data read. Missing/untyped stats → no entry →
    the file is never skipped (safe default)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(local_file).metadata
    idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
    out: dict[str, list] = {}
    for k in keys:
        if k not in idx:
            continue
        lo = hi = None
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[k]).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if ok and lo is not None and isinstance(lo, (int, float, str)):
            out[k] = [lo, hi]
    return out


def _write_batch(
    df: DataFrame, path: str, keys: Sequence[str], stats_keys: Sequence[str]
) -> tuple[list[dict], str]:
    """Write ``df`` as immutable data files under a fresh uuid dir;
    return (manifest entries, batch dir relative path). Not yet
    committed — invisible until a manifest references it."""
    spark = df.sparkSession
    rel_dir = f"{DATA_DIR}/{uuid.uuid4().hex}"
    out_dir = f"{path.rstrip('/')}/{rel_dir}"
    df.write.parquet(out_dir)
    local = _local_root(spark, out_dir)
    entries: list[dict] = []
    if local is not None:
        import pyarrow.parquet as pq

        for name in sorted(os.listdir(local)):
            if not name.endswith(".parquet") or name.startswith((".", "_")):
                continue
            full = os.path.join(local, name)
            entries.append(
                {
                    "path": f"{rel_dir}/{name}",
                    "rows": pq.ParquetFile(full).metadata.num_rows,
                    "stats": _file_stats(full, stats_keys),
                }
            )
    else:
        p, fs = _hadoop(spark, out_dir)
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if not name.endswith(".parquet") or name.startswith((".", "_")):
                continue
            entries.append({"path": f"{rel_dir}/{name}", "rows": None, "stats": {}})
    return entries, rel_dir


def _delete_dir(spark: SparkSession, path: str, rel_dir: str) -> None:
    with contextlib.suppress(Exception):
        p, fs = _hadoop(spark, f"{path.rstrip('/')}/{rel_dir}")
        fs.delete(p, True)


def _batch_bounds(df: DataFrame, keys: Sequence[str]) -> dict:
    """min/max of each key column over the incoming batch — one tiny
    aggregate job; the result is driver-side metadata used to skip
    existing files whose key range cannot overlap."""
    aggs = []
    dt = dict(df.dtypes)
    for k in keys:
        # NULL keys compare equal under <=> but are invisible to
        # min/max (both here and in parquet footers), so a column
        # with any NULL in the batch must not prune at all: the
        # matching NULL could hide in any file. NaN is the same hole
        # for float keys — parquet footer min/max EXCLUDE NaN while
        # Spark's NaN <=> NaN matches — so a batch NaN also disables
        # pruning on that column (Spark's own max() returning NaN
        # would otherwise poison the range compare too).
        unusable = F.col(k).isNull()
        if dt.get(k) in ("double", "float"):
            unusable = unusable | F.isnan(k)
        aggs += [
            F.min(k).alias(f"__min_{k}"),
            F.max(k).alias(f"__max_{k}"),
            F.count(F.when(unusable, F.lit(1))).alias(f"__nulls_{k}"),
        ]
    row = df.agg(*aggs).first()
    out = {}
    for k in keys:
        lo, hi = row[f"__min_{k}"], row[f"__max_{k}"]
        if row[f"__nulls_{k}"] == 0 and lo is not None and isinstance(lo, (int, float, str)):
            out[k] = [lo, hi]
    return out


def _overlaps(entry: dict, bounds: dict) -> bool:
    """False only when some key column's file range and batch range are
    PROVABLY disjoint — conflict on that key is then impossible (key
    equality needs every column equal). Missing stats → assume overlap."""
    for k, (blo, bhi) in bounds.items():
        st = entry.get("stats", {}).get(k)
        if st is None:
            continue
        flo, fhi = st
        if type(flo) is not type(blo):  # never compare across types
            continue
        if fhi < blo or flo > bhi:
            return False
    return True


def _stats_keys(df: DataFrame, keys: Sequence[str]) -> list[str]:
    dt = dict(df.dtypes)
    return [k for k in keys if dt.get(k) in _STATS_TYPES]


def _check_schema(incoming: DataFrame, snap_schema: str | None) -> None:
    if snap_schema is None:
        return
    from pyspark.sql.types import StructType

    existing = StructType.fromDDL(snap_schema)
    if [f.name for f in existing.fields] != [f.name for f in incoming.schema.fields]:
        raise SchemaContractError(
            f"txlog sink: existing columns {[f.name for f in existing.fields]} "
            f"!= incoming {incoming.columns}"
        )
    in_types = {f.name: f.dataType for f in incoming.schema.fields}
    drift = {
        f.name: (f.dataType.simpleString(), in_types[f.name].simpleString())
        for f in existing.fields
        if f.dataType != in_types[f.name]
    }
    if drift:
        raise SchemaContractError(
            f"txlog sink: column type drift (existing vs incoming): {drift}"
        )


def write_merge_txlog(
    incoming: DataFrame,
    path: str,
    keys: Sequence[str],
    order_by: Sequence[str] = (),
    max_retries: int = 20,
) -> int:
    """ACID first-writer-wins keyed append (≙ ON CONFLICT DO NOTHING,
    S:214-218) on the transaction-log table at ``path``. ``incoming``
    may hold in-batch duplicates: the key bounds and the conflict check
    run over it as offered (the dedup keeps every key, so the bounds are
    the same), and only the survivors are deduped on ``keys`` under
    ``order_by`` (:func:`.idempotent.dedup_batch`). Returns the number
    of rows actually inserted; re-running the same batch inserts 0. Safe
    under concurrent writers: commits serialize through the atomic
    version publish, and a loser re-checks its batch against exactly the
    files the winner added."""
    spark = incoming.sparkSession
    keys = list(keys)
    snap = snapshot_txlog(spark, path)
    _check_schema(incoming, snap.schema)
    schema_ddl = incoming.schema.toDDL()
    stats_keys = _stats_keys(incoming, keys)
    bounds = _batch_bounds(incoming, stats_keys)

    def survivors_against(entries: Sequence[dict], df: DataFrame) -> DataFrame:
        live = [e for e in entries if e.get("rows") != 0 and _overlaps(e, bounds)]
        if not live:
            return df
        existing_keys = (
            spark.read.schema(schema_ddl)
            .parquet(*_abs_files(path, live))
            .select(*keys)
        )
        return anti_join_keys(df, existing_keys, keys)

    # Materialize survivors BEFORE writing: cuts lineage so the write
    # and any OCC re-check never re-scan the source mid-flight.
    fresh = dedup_batch(
        survivors_against(snap.files, incoming), keys, order_by
    ).localCheckpoint(eager=True)
    n = fresh.count()
    if n == 0:
        return 0
    entries, rel_dir = _write_batch(fresh, path, keys, stats_keys)

    for _ in range(max_retries):
        version = snap.version + 1
        body = {
            "version": version,
            "op": "merge_ignore",
            "inserted": n,
            "files": entries,
            "schema": schema_ddl,
            "keys": keys,
            "ts": time.time(),
        }
        if _publish_json(spark, path, _version_name(version), body):
            if version % CHECKPOINT_INTERVAL == 0:
                _write_checkpoint(spark, path, version)
            log.info("txlog %s: committed v%d, %d rows", path, version, n)
            return n
        # Lost the race: someone owns this version. Re-check only the
        # files added since OUR snapshot — contention cost scales with
        # what landed in between, never with table size.
        new_snap = snapshot_txlog(spark, path)
        known = {e["path"] for e in snap.files}
        delta = [e for e in new_snap.files if e["path"] not in known]
        if delta:
            remaining = survivors_against(delta, fresh).localCheckpoint(eager=True)
            n2 = remaining.count()
            if n2 < n:
                _delete_dir(spark, path, rel_dir)  # superseded, uncommitted
                if n2 == 0:
                    return 0
                fresh, n = remaining, n2
                entries, rel_dir = _write_batch(fresh, path, keys, stats_keys)
        snap = new_snap
    _delete_dir(spark, path, rel_dir)
    raise TxLogConflict(
        f"txlog {path}: lost the commit race {max_retries} times; "
        "pathological contention — batch rolled back"
    )


def _write_checkpoint(spark: SparkSession, path: str, version: int) -> None:
    """Consolidate the live file list at ``version``. Best-effort and
    idempotent: a failed/raced checkpoint only means snapshot assembly
    reads a few more commit files."""
    commits, checkpoints = _list_log(spark, path)
    base = 0
    files: list[dict] = []
    schema = None
    usable = [c for c in checkpoints if c <= version]
    if usable:
        base = usable[-1]
        cp = _read_json(spark, path, _version_name(base, checkpoint=True))
        files = list(cp["files"])
        schema = cp.get("schema")
    for v in commits:
        if base < v <= version:
            c = _read_json(spark, path, _version_name(v))
            files.extend(c["files"])
            schema = c.get("schema") or schema
    _publish_json(
        spark,
        path,
        _version_name(version, checkpoint=True),
        {"version": version, "files": files, "schema": schema},
    )


def vacuum_txlog(spark: SparkSession, path: str, older_than_s: float = 3600.0) -> int:
    """Delete data files no manifest references (lost OCC races, crashed
    writers) once older than ``older_than_s`` — the age guard keeps an
    IN-FLIGHT writer's not-yet-committed batch safe, exactly Delta's
    VACUUM retention rationale. Returns the number of files deleted."""
    snap = snapshot_txlog(spark, path)
    live = {e["path"] for e in snap.files}
    root = path.rstrip("/")
    deleted = 0
    local = _local_root(spark, root)
    now = time.time()
    if local is not None:
        data_root = os.path.join(local, DATA_DIR)
        if not os.path.isdir(data_root):
            return 0
        for sub in os.listdir(data_root):
            subdir = os.path.join(data_root, sub)
            for name in os.listdir(subdir) if os.path.isdir(subdir) else []:
                rel = f"{DATA_DIR}/{sub}/{name}"
                full = os.path.join(subdir, name)
                if rel in live or not name.endswith(".parquet"):
                    continue
                if now - os.path.getmtime(full) < older_than_s:
                    continue
                with contextlib.suppress(OSError):
                    os.unlink(full)
                    deleted += 1
            # drop emptied batch dirs so the data root stays listable
            with contextlib.suppress(OSError):
                if os.path.isdir(subdir) and not os.listdir(subdir):
                    os.rmdir(subdir)
        return deleted
    p, fs = _hadoop(spark, f"{root}/{DATA_DIR}")
    if not fs.exists(p):
        return 0
    it = fs.listFiles(p, True)
    base = fs.makeQualified(_hadoop(spark, root)[0]).toUri().getPath().rstrip("/")
    while it.hasNext():
        st = it.next()
        f = st.getPath()
        rel = f.toUri().getPath()[len(base) + 1 :]
        if rel in live or not f.getName().endswith(".parquet"):
            continue
        if now - st.getModificationTime() / 1000.0 < older_than_s:
            continue
        with contextlib.suppress(Exception):
            fs.delete(f, False)
            deleted += 1
    return deleted


def is_txlog_table(spark: SparkSession, path: str) -> bool:
    commits, _ = _list_log(spark, path)
    return bool(commits)
