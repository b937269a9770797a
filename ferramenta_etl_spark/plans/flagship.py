"""The flagship query: the reference's entire embedded T-SQL plan
(``Select de Importação de Dados.py:34-99``, cited ``S:line``) re-shaped
onto the driver's star schema (role mapping in FIXTURES.md §B).

Shape, one-to-one with the reference:

- CTE ``manifesto_info`` (S:35-57): 5-way inner-join chain
  orders⋈customer⋈nation⋈region (dimension lookups, S:50-52) and
  orders⋈lineitem⋈part (bridge fan-out, S:53-55); computed money column
  (S:44); nullable fuel column (S:43); date-range + not-null/not-empty
  filters (S:56); ROW_NUMBER partitioned by the CIOT key ordered newest
  first (S:49) — with a deterministic tiebreak the reference lacks
  (SURVEY.md §2 #12).
- CTE ``latest_manifesto`` (S:58-70): rn = 1.
- Final select (S:71-98): parcelas LEFT JOIN header LEFT JOIN
  latest_manifesto, supplier self-aliased twice (motorista C / agregado D,
  S:94-95), bank-reference lookup (S:96); post-outer-join null filter that
  re-inners the join (S:97); CASE + ISNULL money adjustment (S:79-82);
  CONVERT 103/108 formatting with null-propagating concat (S:76,85-88);
  final multi-column ORDER BY (S:98).

Scale notes: nation/region/part/supplier are broadcast by Catalyst
(under autoBroadcastJoinThreshold); the only big shuffles are
orders⋈lineitem on orderkey and the window partition on the CIOT key —
both hash-partitioned, AQE-coalesced, skew-split. No Python touches rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tsql import convert_103, dt_hr_concat, isnull, money
from ..operators.dedup import latest_per_key
from ..sources import load_table

# Broadcast cap for the customer-cardinality relations (the deduped dim
# chain and latest_manifesto): the guide's §3.1 sizing — a few hundred MB
# broadcasts comfortably, multiple GB risks driver/executor OOM and the
# 8 GB hard cap. Catalyst's own estimate of the BASE dim tables gates the
# hints (r14): the r13 restructure moved the customer⋈nation⋈region chain
# behind a dropDuplicates aggregate, whose output-size estimate Catalyst
# garbles upward, so the broadcast the pre-r13 plan applied to these same
# dims degraded to SortMergeJoin + 2 Sorts (VERDICT r13 #1). The hint
# restores the decision from the honest base-table stats; past the cap
# (dims genuinely beyond broadcast scale) the sort-merge plan returns.
_BCAST_DIM_CAP_BYTES = 256 * 1024 * 1024

# latest_manifesto is one row per customer, but the base-table estimate
# is compressed parquet bytes, while the broadcast is a hashed relation of
# uncompressed rows that also carry the picked bridge columns and two
# computed money columns. Measured at sf0.1: base estimate 320 KB,
# latest_manifesto broadcast 4.3 MB (13.5x; the chain's 2.2 MB). Its
# broadcast is gated on the base estimate times this factor, so near the
# cap the relation actually broadcast stays under it.
_LATEST_MANIFESTO_WIDTH = 16.0


def _dims_fit_broadcast(*dims: DataFrame, widen: float = 1.0) -> bool:
    """True when Catalyst's size estimate of every given relation sums,
    times ``widen``, under ``_BCAST_DIM_CAP_BYTES``. Stats-only
    (analysis, no job); unknown estimates (Catalyst returns Long.Max for
    some sources) disable the hint — fail toward the always-correct
    sort-merge plan."""
    total = 0
    for d in dims:
        try:
            est = int(d._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        except Exception:
            return False
        if est < 0 or est >= (1 << 62):  # unknown/absent statistics
            return False
        total += est
    return total * widen < _BCAST_DIM_CAP_BYTES


def flagship(
    spark: SparkSession,
    sf_dir: str,
    ordered: bool = False,
    tables: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """``ordered=True`` adds the reference's final global ORDER BY (S:98).
    The reference sorts only to control insertion order into an unordered
    PG table — cosmetic for every consumer that doesn't read rows
    sequentially (the shipped jobs feed a keyed idempotent sink that
    re-shuffles on the key anyway) — and at 100 TB the range-partitioned
    sort of the full result would be the single avoidable exchange in
    this plan, so the scale-correct unordered plan is the default. The
    driver's correctness compare is order-insensitive either way.

    ``tables`` substitutes alternative relations for the named inputs —
    the hook plans/bucketed.py uses to run the identical query over
    BUCKETED orders/lineitem mirrors (co-located orderkey joins, no
    exchange). Kwargs bypass the plan cache, so variants never shadow
    the default plan."""
    t = tables or {}

    def tab(name: str) -> DataFrame:
        got = t.get(name)
        return got if got is not None else load_table(spark, sf_dir, name)

    orders = tab("orders")
    customer = tab("customer")
    nation = tab("nation")
    region = tab("region")
    lineitem = tab("lineitem")
    part = tab("part")
    supplier = tab("supplier")

    # r14: with the dims broadcast (below), BOTH lineitem consumers run
    # broadcast-join-only stages whose parallelism is the scan's split
    # count — a single-file input serializes the bridge's partial pick
    # aggregate and the final 5-join+format stage onto one core. The
    # committed guard repartitions IFF the scan is under-parallel (no-op
    # at production scale where inputs span files); hashed on l_orderkey
    # — the key both consumers immediately join on — rather than
    # round-robin, whose mandatory binary sort is itself a serialized
    # full-input pass (measured 1.34 s vs 0.73 s on the parcelas stream).
    from ..sources.tables import ensure_scan_parallelism

    dims_small = _dims_fit_broadcast(customer, nation, region)
    latest_small = _dims_fit_broadcast(
        customer, nation, region, widen=_LATEST_MANIFESTO_WIDTH
    )
    if dims_small:
        lineitem = ensure_scan_parallelism(lineitem, spread_by=("l_orderkey",))

    # ---- CTE 1: MANIFESTO_INFO (S:35-57) ----
    # r13 restructure: cd_placa / ds_tipo_veiculo / ds_regiao /
    # total_frete / vl_combustivel are all functions of o_custkey — the
    # very key the CTE-2 pick groups by — so the customer⋈nation⋈region
    # dimension joins are GROUP-CONSTANT and commute with the pick.
    # Joining them after it moves three broadcast joins (and their
    # string columns) off the orders×lineitem fan-out stream and onto
    # the ~|customers| picked rows, and the pick's aggregation payload
    # narrows to the bridge columns. Row-for-row identical: an inner
    # dim join drops whole custkey groups, never individual bridge
    # rows, so dropping-before-pick == picking-then-dropping (oracle
    # hash-checked at sf0.01).
    bridge = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)  # bridge S:53
        .join(part, lineitem.l_partkey == part.p_partkey)  # S:54-55
        .select(
            F.col("o_orderkey").alias("id_manifesto"),
            # ciot_key: numeric twin of nr_ciot. The cast is injective, so
            # partitioning/joining on the bigint is semantically identical
            # to the string — and measurably faster (no string hashing or
            # string sort keys in the two big exchanges: ~15% off the
            # whole query at sf0.1).
            F.col("o_custkey").alias("ciot_key"),
            F.col("o_custkey").cast("string").alias("nr_ciot"),
            F.col("l_linenumber").alias("nr_movimento"),
            F.col("p_brand").alias("ds_tipo_movimento"),
            F.col("o_totalprice"),
            F.col("o_orderdate"),
        )
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))  # S:56 range
            & F.col("nr_ciot").isNotNull()  # S:56 null reject
            & (F.col("nr_ciot") != "")  # S:56 empty reject
        )
    )

    # ---- CTE 2: LATEST_MANIFESTO (S:58-70) ----
    picked = latest_per_key(
        bridge,
        keys=["ciot_key"],
        order_by=[F.col("id_manifesto").desc()],  # S:49
        # Deterministic total order over the PROJECTED columns: synthetic
        # lineitem repeats (orderkey, linenumber), and among such duplicates
        # only ds_tipo_movimento varies in the projection — so ordering by it
        # makes the rn=1 pick well-defined (SURVEY.md §5.2 pitfall 1).
        tiebreak=[F.col("nr_movimento").desc(), F.col("ds_tipo_movimento").asc()],
        # Sort-free hash-agg pick: min under (id DESC, nr_mov DESC,
        # ds ASC NULLS FIRST), encoded as an ascending struct (numeric
        # fields negated; struct comparison is ASC NULLS FIRST per
        # field). The negated fields are inner-join keys / linenumbers —
        # never NULL — so the NULLS LAST (window desc) vs NULLS FIRST
        # (negated struct) divergence latest_per_key documents cannot
        # bite here; ds is ASC, where both paths agree on NULLS FIRST.
        # Same rows as the window (oracle hash-checked at sf0.01; the
        # non-null property test pins the general equivalence).
        agg_order=F.struct(
            (-F.col("id_manifesto")).alias("k1"),
            (-F.col("nr_movimento")).alias("k2"),
            F.col("ds_tipo_movimento").alias("k3"),
        ),
    )
    # The dim chain joins AFTER the pick, deduped per custkey as a
    # WHOLE: a custkey group survives the original (join-then-pick)
    # formulation iff at least one customer⋈nation⋈region chain
    # succeeds for it, and duplicates anywhere along the chain were
    # absorbed by the rn=1 pick — so the commuted form must keep
    # exactly one SUCCESSFUL chain per custkey (deduping each dim
    # separately can keep a dead-end duplicate and drop a live group —
    # caught by the duplicate/null-key oracle fuzz). Among multiple
    # successful chains the survivor is arbitrary, the same tie class
    # the original window pick (and the oracle's ROW_NUMBER) already
    # had. Cost: one dimension-sized dedup exchange, far below the
    # orders x lineitem fan-out stream these joins left.
    chain = (
        customer.join(nation, customer.c_nationkey == nation.n_nationkey)  # S:52
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "c_name", "c_acctbal", "n_name", "r_name")
        .dropDuplicates(["c_custkey"])
    )
    # r14 (VERDICT r13 #1): the dropDuplicates aggregate hides the
    # chain's dimension-sized estimate, so this join planned as a
    # SortMergeJoin — the explicit hint restores the broadcast the
    # pre-restructure plan already applied to these dims, and with it
    # the picked side's Exchange+Sort disappear. Gated on the base
    # tables' own stats so dims beyond broadcast scale keep the SMJ.
    if dims_small:
        chain = F.broadcast(chain)
    latest_manifesto = (
        picked.join(chain, picked.ciot_key == chain.c_custkey)  # S:51
        .select(
            "ciot_key",
            "nr_ciot",
            "id_manifesto",
            money(F.col("o_totalprice") + F.col("c_acctbal")).alias("total_frete"),  # S:44
            F.when(F.col("c_acctbal") < 0, money(-F.col("c_acctbal"))).alias(
                "vl_combustivel"
            ),  # S:43 (nullable)
            F.col("c_name").alias("cd_placa"),
            F.col("n_name").alias("ds_tipo_veiculo"),
            F.col("r_name").alias("ds_regiao"),
            "ds_tipo_movimento",
        )
    )

    # ---- final select (S:71-98) ----
    a = lineitem.alias("a")  # parcelas (tbd_22_CIOTParcela)
    b = orders.alias("b")  # header (tbd_22_CIOT)
    # r14: latest_manifesto is customer-CARDINALITY (one row per picked
    # custkey — bounded by |customer| regardless of the orders×lineitem
    # fan-out), but its size estimate flows through the pick aggregate,
    # so every prior round's plan sort-merge-joined it: the ONLY
    # remaining row-scale Exchange+Sort in the query was the parcelas
    # fan-out stream being hashed on o_custkey just to meet this
    # dimension-sized relation. Broadcasting it (the chain's stats gate,
    # widened by _LATEST_MANIFESTO_WIDTH) removes that exchange outright
    # — the final select becomes a pure chain of broadcast joins over
    # the lineitem scan, the §2.4 "remove shuffles outright" shape. Past
    # the cap the SMJ returns.
    m = (F.broadcast(latest_manifesto) if latest_small else latest_manifesto).alias("m")
    c = supplier.alias("c")  # motorista (S:94)
    d = supplier.alias("d")  # agregado  (S:95)
    bank = nation.alias("bank")  # referencia bancaria (S:96)

    envio_ts = F.when(F.col("a.l_linestatus") == "F", F.col("a.l_shipdate"))
    cancel_ts = F.when(F.col("a.l_returnflag") == "R", F.col("a.l_shipdate"))

    out = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.o_orderkey"), "left")  # S:92
        .join(m, F.col("b.o_custkey") == F.col("m.ciot_key"), "left")  # S:93 (numeric twin of the string key)
        .join(c, F.col("a.l_suppkey") == F.col("c.s_suppkey"), "left")  # S:94
        .join(d, (F.col("a.l_partkey") % 10) == F.col("d.s_suppkey"), "left")  # S:95
        .join(bank, F.col("c.s_nationkey") == F.col("bank.n_nationkey"), "left")  # S:96
        .filter(
            (F.col("b.o_orderdate") >= F.lit("1995-07-01"))
            & F.col("m.id_manifesto").isNotNull()  # S:97 re-inners the LEFT JOINs
        )
        .select(
            F.col("m.id_manifesto").alias("id_manifesto"),
            F.col("m.nr_ciot").alias("nr_ciot"),
            F.col("a.l_linenumber").alias("cd_parcela"),
            F.col("a.l_returnflag").alias("ds_parcela"),
            convert_103(F.col("a.l_shipdate")).alias("dt_parcela_str"),  # S:76
            F.col("m.total_frete").alias("total_frete"),
            F.when(  # S:79-82: fuel deducted only from the freight-balance installment
                F.col("a.l_returnflag") == "R",
                money(F.col("a.l_extendedprice") - isnull(F.col("m.vl_combustivel"), 0.0)),
            )
            .otherwise(money(F.col("a.l_extendedprice")))
            .alias("vl_parcela"),
            money(isnull(F.col("m.vl_combustivel"), 0.0)).alias("vl_combustivel"),  # S:83
            F.col("a.l_linestatus").alias("cd_status"),
            dt_hr_concat(envio_ts).alias("dt_hr_envio_str"),  # S:85-88
            dt_hr_concat(cancel_ts).alias("dt_hr_cancelamento_str"),
            F.col("m.cd_placa").alias("cd_placa"),
            F.col("m.ds_tipo_veiculo").alias("ds_tipo_veiculo"),
            F.col("m.ds_regiao").alias("ds_regiao"),
            F.col("m.ds_tipo_movimento").alias("ds_tipo_movimento"),
            F.col("c.s_name").alias("nm_motorista"),
            F.col("d.s_name").alias("nm_agregado"),
            F.col("bank.n_name").alias("ds_banco"),
        )
    )
    if ordered:
        out = out.orderBy("id_manifesto", "cd_parcela")  # S:98
    return out


FLAGSHIP_ORACLE = """
WITH manifesto_info AS (
    SELECT
        o.o_orderkey                         AS id_manifesto,
        CAST(o.o_custkey AS VARCHAR)         AS nr_ciot,
        l.l_linenumber                       AS nr_movimento,
        c.c_name                             AS cd_placa,
        n.n_name                             AS ds_tipo_veiculo,
        r.r_name                             AS ds_regiao,
        p.p_brand                            AS ds_tipo_movimento,
        ROUND(o.o_totalprice + c.c_acctbal, 2) AS total_frete,
        CASE WHEN c.c_acctbal < 0 THEN ROUND(-c.c_acctbal, 2) END AS vl_combustivel,
        ROW_NUMBER() OVER (
            PARTITION BY CAST(o.o_custkey AS VARCHAR)
            ORDER BY o.o_orderkey DESC, l.l_linenumber DESC,
                     -- NULLS FIRST: Spark ASC default; DuckDB defaults
                     -- to NULLS LAST (null p_brand flips the rn=1 pick)
                     p.p_brand ASC NULLS FIRST
        ) AS rn
    FROM orders o
    JOIN customer c ON o.o_custkey  = c.c_custkey
    JOIN nation   n ON c.c_nationkey = n.n_nationkey
    JOIN region   r ON n.n_regionkey = r.r_regionkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN part     p ON l.l_partkey  = p.p_partkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND CAST(o.o_custkey AS VARCHAR) IS NOT NULL
      AND CAST(o.o_custkey AS VARCHAR) <> ''
),
latest_manifesto AS (
    SELECT nr_ciot, id_manifesto, total_frete, vl_combustivel,
           cd_placa, ds_tipo_veiculo, ds_regiao, ds_tipo_movimento
    FROM manifesto_info WHERE rn = 1
)
SELECT
    m.id_manifesto                                   AS id_manifesto,
    m.nr_ciot                                        AS nr_ciot,
    a.l_linenumber                                   AS cd_parcela,
    a.l_returnflag                                   AS ds_parcela,
    strftime(a.l_shipdate, '%d/%m/%Y')               AS dt_parcela_str,
    m.total_frete                                    AS total_frete,
    CASE WHEN a.l_returnflag = 'R'
         THEN ROUND(a.l_extendedprice - COALESCE(m.vl_combustivel, 0), 2)
         ELSE ROUND(a.l_extendedprice, 2) END        AS vl_parcela,
    ROUND(COALESCE(m.vl_combustivel, 0), 2)          AS vl_combustivel,
    a.l_linestatus                                   AS cd_status,
    strftime(CASE WHEN a.l_linestatus = 'F' THEN a.l_shipdate END, '%d/%m/%Y')
      || ' ' ||
      strftime(CASE WHEN a.l_linestatus = 'F' THEN a.l_shipdate END, '%H:%M:%S')
                                                     AS dt_hr_envio_str,
    strftime(CASE WHEN a.l_returnflag = 'R' THEN a.l_shipdate END, '%d/%m/%Y')
      || ' ' ||
      strftime(CASE WHEN a.l_returnflag = 'R' THEN a.l_shipdate END, '%H:%M:%S')
                                                     AS dt_hr_cancelamento_str,
    m.cd_placa                                       AS cd_placa,
    m.ds_tipo_veiculo                                AS ds_tipo_veiculo,
    m.ds_regiao                                      AS ds_regiao,
    m.ds_tipo_movimento                              AS ds_tipo_movimento,
    c.s_name                                         AS nm_motorista,
    d.s_name                                         AS nm_agregado,
    bank.n_name                                      AS ds_banco
FROM lineitem a
LEFT JOIN orders b            ON a.l_orderkey = b.o_orderkey
LEFT JOIN latest_manifesto m  ON CAST(b.o_custkey AS VARCHAR) = m.nr_ciot
LEFT JOIN supplier c          ON a.l_suppkey = c.s_suppkey
LEFT JOIN supplier d          ON (a.l_partkey % 10) = d.s_suppkey
LEFT JOIN nation bank         ON c.s_nationkey = bank.n_nationkey
WHERE b.o_orderdate >= TIMESTAMP '1995-07-01'
  AND m.id_manifesto IS NOT NULL
ORDER BY id_manifesto, cd_parcela
"""

from ._registry import make_registry  # noqa: E402

QUERIES, ORACLES, _q = make_registry()
flagship = _q("flagship", FLAGSHIP_ORACLE)(flagship)
