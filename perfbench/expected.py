"""Independent builds of each workload's expected outcome.

Nothing here calls the program under test. Sink row counts come from
DuckDB key queries over the generated parquet (each job's sink holds one
row per distinct key), and the curated corpus is rebuilt in plain Python
from the generator's planted duplicate groups and the documented scoring
rules of operators/text.py.
"""

from __future__ import annotations

import hashlib
import json
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pyarrow as pa

from gen import LANG_MARKERS, STOPWORDS

# Distinct output keys of each shipped job, written against the tables of
# one input directory: {orders} names a view of '<dir>/orders.parquet'.
KEY_SQL = {
    "alimentacao_view_manifestos": "SELECT DISTINCT o_custkey FROM {orders}",
    "alimentacao_view_movimento": (
        # 15-minute tumbling windows aligned to the epoch, keyed by start ms
        "SELECT DISTINCT (epoch_us(ts) // 900000000) * 900000 AS ms, event_type FROM {events}"
    ),
    "alimentacao_view_manifestomovimento": (
        "SELECT DISTINCT l_orderkey, l_linenumber FROM {lineitem} "
        "JOIN {orders} ON l_orderkey = o_orderkey "
        "WHERE o_orderdate >= TIMESTAMP '1998-01-01'"
    ),
    "alimentacao_view_adicionais": "SELECT DISTINCT l_orderkey, l_linenumber FROM {lineitem}",
    # the flagship keeps, per customer, its newest qualifying order as
    # id_manifesto and pairs it with the line numbers of all the
    # customer's orders from 1995-07-01 on
    "alimentacao_parcela_ciot": """
        WITH latest AS (
            SELECT o.o_custkey AS ciot, max(o.o_orderkey) AS id_manifesto
            FROM {orders} o
            JOIN {customer} c ON o.o_custkey = c.c_custkey
            JOIN {nation} n ON c.c_nationkey = n.n_nationkey
            JOIN {region} r ON n.n_regionkey = r.r_regionkey
            JOIN {lineitem} l ON o.o_orderkey = l.l_orderkey
            JOIN {part} p ON l.l_partkey = p.p_partkey
            WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
            GROUP BY o.o_custkey
        )
        SELECT DISTINCT latest.id_manifesto, a.l_linenumber
        FROM {lineitem} a
        JOIN {orders} b ON a.l_orderkey = b.o_orderkey
        JOIN latest ON b.o_custkey = latest.ciot
        WHERE b.o_orderdate >= TIMESTAMP '1995-07-01'
    """,
}

_TABLES = ("orders", "lineitem", "customer", "nation", "region", "part", "events")


def _views(con: duckdb.DuckDBPyConnection, schema: str, input_dir: str) -> dict[str, str]:
    con.execute(f"CREATE SCHEMA IF NOT EXISTS {schema}")
    for t in _TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {schema}.{t} AS "
            f"SELECT * FROM read_parquet('{input_dir}/{t}.parquet')"
        )
    return {t: f"{schema}.{t}" for t in _TABLES}


def _count(con: duckdb.DuckDBPyConnection, sql: str) -> int:
    return int(con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0])


def job_counts(jobs, base_dir: str, rerun_dir: str) -> dict[str, tuple[int, int]]:
    """job -> (rows a re-run over ``rerun_dir`` appends to a sink holding
    the load of ``base_dir``, rows the sink holds afterwards)."""
    out = {}
    with duckdb.connect() as con:
        base_t, rerun_t = _views(con, "base", base_dir), _views(con, "rerun", rerun_dir)
        for job in jobs:
            base, rerun = KEY_SQL[job].format(**base_t), KEY_SQL[job].format(**rerun_t)
            out[job] = (
                _count(con, f"({rerun}) EXCEPT ({base})"),
                _count(con, f"({rerun}) UNION ({base})"),
            )
    return out


def sink_rows(glob: str) -> int | None:
    """Rows in the sink's parquet files; None when there are none."""
    with duckdb.connect() as con:
        try:
            return _count(con, f"SELECT * FROM read_parquet('{glob}')")
        except duckdb.IOException:
            return None


# -- curation ---------------------------------------------------------------

_PLAIN = set("abcdefghijklmnopqrstuvwxyz0123456789 ")


def _lang(tokens: list[str]) -> str:
    """Argmax of marker-token counts, alphabetically first on ties."""
    best, best_n = "", -1
    for lang in sorted(LANG_MARKERS):
        n = sum(t in LANG_MARKERS[lang] for t in tokens)
        if n > best_n:
            best, best_n = lang, n
    return best


def _quality(text: str, tokens: list[str]) -> float:
    """operators.text.quality_score, same operation order, rounded to 6
    places half-up from the shortest decimal form as Spark's round()."""
    n = len(tokens)
    length = len(text)
    stop = sum(t in STOPWORDS for t in tokens) / n
    digits = sum(c in "0123456789" for c in text) / length if length else 0.0
    punct = sum(c not in _PLAIN for c in text.lower()) / length if length else 0.0
    q = stop * 0.3 + (1.0 - digits) * 0.3 + (1.0 - punct) * 0.2 + min(n / 100.0, 1.0) * 0.2
    return float(Decimal(repr(q)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def curated_rows(documents: pa.Table, planted: list[list[int]],
                 min_quality: float = 0.5, min_tokens: int = 5) -> list[tuple]:
    """The rows curate_documents must load, as (doc_id, lang, source,
    n_tok, quality, text): documents that pass the language, quality and
    token floors, one per duplicate group, the group's minimum id. A
    group is an exact-text group joined with the generator's planted
    (original, copy) pairs; the generator keeps unplanted documents far
    below the near-duplicate threshold of each other."""
    kept = {}
    for d in documents.to_pylist():
        tokens = d["text"].lower().split(" ")
        row = (d["doc_id"], _lang(tokens), d["source"], len(tokens),
               _quality(d["text"], tokens), d["text"])
        if row[4] >= min_quality and row[3] >= min_tokens:
            kept[d["doc_id"]] = row

    parent = {i: i for i in kept}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    first_by_text: dict[str, int] = {}
    for i, row in kept.items():
        union(first_by_text.setdefault(row[5], i), i)
    for a, b in planted:
        if a in kept and b in kept:
            union(a, b)
    return sorted(kept[i] for i in kept if find(i) == i)


def rows_digest(rows) -> str:
    h = hashlib.sha256()
    for row in sorted(rows):
        h.update(json.dumps(row).encode())
        h.update(b"\n")
    return h.hexdigest()


def curated_sink_rows(sink: str) -> list[tuple]:
    with duckdb.connect() as con:
        try:
            return con.execute(
                "SELECT doc_id, lang, source, n_tok, quality, text FROM "
                f"read_parquet('{sink}/*/*.parquet', hive_partitioning = true)"
            ).fetchall()
        except duckdb.IOException:
            return []
