"""Seeded input generator for the end-to-end benchmark.

Every input the program under test reads is made here from ``--seed``:
the star-schema tables the five ETL jobs extract, the delta of a
scheduled re-run, and a document corpus with planted duplicates. Table
names, column types and value ranges follow the parquet footers of the
repository's test fixtures at sf0.1: every timestamp column is written
as timestamp[us], as those files hold it (FIXTURES.md's timestamp[ns]
``events.ts`` and timestamp[ms] dates describe an earlier generation of
the fixtures). Row counts scale with the TPC-H scale factor as the
fixtures' do. Nothing is read from outside the benchmark; the same seed
gives byte-identical tables and so the same input digest.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = int(np.datetime64("1995-01-01", "us").astype(np.int64))
_EPOCH_2024 = int(np.datetime64("2024-01-01", "us").astype(np.int64))

# Vocabulary of the fixture corpus: the language-marker and filler words of
# operators/text.py's heuristics, plus its stopwords.
TECH_WORDS = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data vector"
).split()
STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "on")
LANG_MARKERS = {
    "de": ("small", "data", "scan", "line"),
    "en": ("column", "sort", "key", "window"),
    "es": ("column", "line", "part", "hash"),
    "fr": ("order", "sort", "query", "group"),
    "zh": ("group", "order", "merge", "vector"),
}


@dataclass(frozen=True)
class EtlScale:
    customers: int
    orders: int
    lines_per_order: int
    parts: int
    suppliers: int
    events: int

    @classmethod
    def at(cls, sf: float) -> "EtlScale":
        """The fixtures' row counts at scale factor ``sf`` (sf0.1: 15k
        customers, 150k orders, 600k lineitems, 20k parts, 1k suppliers,
        100k events)."""
        return cls(customers=int(150_000 * sf), orders=int(1_500_000 * sf), lines_per_order=4,
                   parts=int(200_000 * sf), suppliers=int(10_000 * sf),
                   events=int(1_000_000 * sf))


@dataclass(frozen=True)
class CorpusScale:
    documents: int  # distinct good documents before planting
    low_quality: int
    exact_copies: int
    near_copies: int


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per table group, so changing one table's
    generator never shifts the values of another."""
    key = int.from_bytes(hashlib.sha256(f"{seed}:{stream}".encode()).digest()[:8], "little")
    return np.random.default_rng(key)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dims(seed: int, scale: EtlScale) -> dict[str, pa.Table]:
    r = _rng(seed, "dims")
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    s = scale.suppliers
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(r.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, s),
    })
    p = scale.parts
    adjectives = np.array(["large", "hot", "small", "blue", "shiny", "heavy"])
    nouns = np.array(["ring", "bolt", "gear", "pipe", "valve", "screw"])
    part = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(r.choice(adjectives, p), r.choice(nouns, p))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, p)],
        "p_type": r.choice(np.array(["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL"]), p).tolist(),
        "p_size": pa.array(r.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 2),
    })
    return {"region": region, "nation": nation, "supplier": supplier, "part": part}


def _customers(r: np.random.Generator, keys: np.ndarray) -> pa.Table:
    n = len(keys)
    return pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n),
        "c_mktsegment": r.choice(
            np.array(["FURNITURE", "MACHINERY", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]), n
        ).tolist(),
    })


def _orders(r: np.random.Generator, keys: np.ndarray, custkeys: np.ndarray) -> pa.Table:
    n = len(keys)
    days = r.integers(0, 2404, n)  # 1995-01-01 .. 2001-08-01
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(custkeys, pa.int64()),
        "o_orderstatus": r.choice(np.array(["O", "F", "P"]), n).tolist(),
        "o_totalprice": _money(r, 1000.0, 500000.0, n),
        "o_orderdate": _ts(_EPOCH_1995 + days * _DAY_US),
        "o_orderpriority": r.choice(
            np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n
        ).tolist(),
    })


def _lineitems(r: np.random.Generator, orderkeys: np.ndarray, scale: EtlScale) -> pa.Table:
    n = len(orderkeys)
    return pa.table({
        "l_orderkey": pa.array(orderkeys, pa.int64()),
        "l_partkey": pa.array(r.integers(0, scale.parts, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, scale.suppliers, n), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 100000.0, n),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": r.choice(np.array(["R", "A", "N"]), n).tolist(),
        "l_linestatus": r.choice(np.array(["O", "F"]), n).tolist(),
        "l_shipdate": _ts(_EPOCH_1995 + r.integers(1, 2499, n) * _DAY_US),
    })


def _events(r: np.random.Generator, ids: np.ndarray, start_us: int, span_days: int) -> pa.Table:
    n = len(ids)
    return pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": _ts(np.sort(start_us + r.integers(0, span_days * _DAY_US, n))),
        "user_id": pa.array(r.integers(0, 1500, n), pa.int64()),
        "event_type": r.choice(np.array(["click", "view", "error", "purchase", "search"]), n).tolist(),
        "value": _money(r, 0.0, 200.0, n),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    })


def _reemit(table: pa.Table, idx: np.ndarray, money_col: str) -> pa.Table:
    """Existing rows again, keys untouched, one money value changed: an
    idempotent sink must ignore them."""
    t = table.take(pa.array(idx))
    changed = np.round(t.column(money_col).to_numpy() * 1.1 + 0.01, 2)
    return t.set_column(t.schema.get_field_index(money_col), money_col, pa.array(changed))


def etl_tables(seed: int, scale: EtlScale) -> tuple[dict, dict]:
    """(base tables, delta tables). The delta of a scheduled
    re-run holds key-shifted copies of 2% of the orders with all their
    lineitems (half of those orders moved to new customers), 1% of the
    orders and their lineitems re-emitted with changed prices, and a day
    of new events plus 1% of the events re-emitted with changed values."""
    base = _dims(seed, scale)
    r = _rng(seed, "facts")
    base["customer"] = _customers(r, np.arange(scale.customers))
    base["orders"] = _orders(
        r, np.arange(scale.orders), r.integers(0, scale.customers, scale.orders)
    )
    base["lineitem"] = _lineitems(
        r, r.integers(0, scale.orders, scale.orders * scale.lines_per_order), scale
    )
    base["events"] = _events(r, np.arange(scale.events), _EPOCH_2024, 30)

    d = _rng(seed, "delta")
    orders, lines = base["orders"], base["lineitem"]
    n_new = max(2, scale.orders // 50)
    picked = np.sort(d.choice(scale.orders, n_new, replace=False))
    shift = scale.orders  # shifted keys start right after the base's last key
    new_cust_keys = scale.customers + np.arange(n_new // 2)
    cust = orders.column("o_custkey").to_numpy()[picked].copy()
    cust[: len(new_cust_keys)] = new_cust_keys
    new_orders = orders.take(pa.array(picked))
    new_orders = new_orders.set_column(0, "o_orderkey", pa.array(picked + shift, pa.int64()))
    new_orders = new_orders.set_column(1, "o_custkey", pa.array(cust, pa.int64()))
    line_keys = lines.column("l_orderkey").to_numpy()
    line_idx = np.nonzero(np.isin(line_keys, picked))[0]
    new_lines = lines.take(pa.array(line_idx)).set_column(
        0, "l_orderkey", pa.array(line_keys[line_idx] + shift, pa.int64())
    )

    re_orders = np.sort(d.choice(scale.orders, max(1, scale.orders // 100), replace=False))
    re_line_idx = np.nonzero(np.isin(line_keys, re_orders))[0]
    re_events = np.sort(d.choice(scale.events, max(1, scale.events // 100), replace=False))
    new_events = _events(
        d, scale.events + np.arange(max(1, scale.events // 30)), _EPOCH_2024 + 30 * _DAY_US, 1
    )
    delta_tables = {
        "customer": _customers(d, new_cust_keys),
        "orders": pa.concat_tables([new_orders, _reemit(orders, re_orders, "o_totalprice")]),
        "lineitem": pa.concat_tables([new_lines, _reemit(lines, re_line_idx, "l_extendedprice")]),
        "events": pa.concat_tables([new_events, _reemit(base["events"], re_events, "value")]),
    }
    return base, delta_tables


def merged(base: dict, delta: dict) -> dict:
    """The re-run's input: every base table with its delta rows appended."""
    return {
        name: pa.concat_tables([t, delta[name]]) if name in delta else t
        for name, t in base.items()
    }


# -- corpus ---------------------------------------------------------------


def _words(r: np.random.Generator, n: int) -> list[str]:
    consonants = list("bcdfghjklmnpqrstvwxz")
    vowels = list("aeiou")
    taken = set(TECH_WORDS) | set(STOPWORDS)
    words: list[str] = []
    while len(words) < n:
        k = int(r.integers(2, 5))
        w = "".join(consonants[int(r.integers(20))] + vowels[int(r.integers(5))] for _ in range(k))
        if w not in taken:
            taken.add(w)
            words.append(w)
    return words


def corpus(seed: int, scale: CorpusScale) -> tuple[pa.Table, list[list[int]]]:
    """(documents table, [original id, planted copy id] per planted pair).

    Good documents are 40-119 lowercase words, about a quarter of them
    stopwords, so they pass the quality floor by a wide margin; each leans
    on one language's marker words. Low-quality documents are digit and
    punctuation noise that fails it by a wide margin. Planted copies of
    good documents are exact duplicates or near duplicates: the same
    words with the first and about a third of the others capitalised, so
    the text (and its md5) differs while the lowercased 3-shingle set the
    near-duplicate stage hashes is the original's. An edit that changes
    the shingle set would leave the expected output to hash details: the
    engine's linear MinHash family missed a pair with one word replaced
    (shingle Jaccard 0.97, 23 of 32 positions equal, no band of 4 equal).
    Doc ids are a random permutation, so the canonical (min-id) member of
    a group is not always the original."""
    r = _rng(seed, "corpus")
    fillers = _words(r, 600)
    pool = np.array(TECH_WORDS + fillers)
    stop_arr = np.array(STOPWORDS)
    langs = sorted(LANG_MARKERS)
    texts: list[str] = []
    for _ in range(scale.documents):
        n = int(r.integers(40, 120))
        toks = r.choice(pool, n)
        stop_mask = r.random(n) < 0.25
        toks[stop_mask] = r.choice(stop_arr, int(stop_mask.sum()))
        markers = np.array(LANG_MARKERS[langs[int(r.integers(len(langs)))]])
        mark_mask = r.random(n) < 0.12
        toks[mark_mask] = r.choice(markers, int(mark_mask.sum()))
        texts.append(" ".join(toks.tolist()))
    good = len(texts)
    for _ in range(scale.low_quality):
        texts.append(" ".join(
            f"{int(r.integers(10**6))}-{int(r.integers(999))}!{pool[int(r.integers(len(pool)))]}?"
            for _ in range(int(r.integers(10, 40)))
        ))
    planted_from = r.choice(good, scale.exact_copies + scale.near_copies, replace=False)
    for i, src in enumerate(planted_from):
        text = texts[src]
        if i >= scale.exact_copies:
            words = text.split(" ")
            caps = r.random(len(words)) < 0.3
            caps[0] = True
            text = " ".join(w.capitalize() if c else w for w, c in zip(words, caps))
        texts.append(text)
    n = len(texts)
    ids = r.permutation(n).astype(np.int64)
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": [langs[int(k)] for k in r.integers(0, len(langs), n)],
        "source": [f"src{k}" for k in r.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    first_copy = good + scale.low_quality
    pairs = [[int(ids[s]), int(ids[first_copy + i])] for i, s in enumerate(planted_from)]
    return table, pairs


# -- writing + digest -----------------------------------------------------


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One ``<name>.parquet`` file per table, like the fixtures."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def digest(tables: dict[str, pa.Table]) -> str:
    """sha256 over every table's name, schema and rows (Arrow IPC form),
    independent of parquet encoder details."""
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()
