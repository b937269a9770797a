"""Bad-record quarantine (≙ the reference's skip-bad-batch-and-continue,
S:231-236)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ferramenta_etl_spark.sinks import (
    quarantine_invalid,
    read_json_with_quarantine,
    split_by_rules,
    write_ignore_conflicts,
)


def _rules():
    return {
        "key_not_null": F.col("k").isNotNull(),
        "amount_positive": F.col("amount") > 0,
    }


def test_split_by_rules_flags_all_violations(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (None, 5.0), (3, -2.0), (None, -1.0)],
        "k int, amount double",
    )
    valid, invalid = split_by_rules(df, _rules())
    assert [r.k for r in valid.collect()] == [1]
    flags = {tuple(r._violations) for r in invalid.collect()}
    assert ("key_not_null",) in flags
    assert ("amount_positive",) in flags
    assert ("key_not_null", "amount_positive") in flags


def test_null_comparison_counts_as_violation(spark):
    # amount NULL -> (amount > 0) is NULL, which must quarantine, not pass
    df = spark.createDataFrame([(1, None)], "k int, amount double")
    valid, invalid = split_by_rules(df, _rules())
    assert valid.count() == 0 and invalid.count() == 1


def test_quarantine_invalid_continues_with_valid(spark, tmp_path):
    qpath = str(tmp_path / "quarantine")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 9)] + [(None, 1.0), (99, -5.0)],
        "k int, amount double",
    )
    valid, n_bad = quarantine_invalid(df, _rules(), qpath)
    assert n_bad == 2
    assert valid.count() == 8  # N-k loaded, k quarantined
    q = spark.read.parquet(qpath)
    assert q.count() == 2
    assert "_violations" in q.columns


def test_read_json_with_quarantine(spark, tmp_path):
    src = tmp_path / "events.jsonl"
    good = [f'{{"id": {i}, "name": "row{i}"}}' for i in range(8)]
    bad = ['{"id": broken', "not json at all"]
    src.write_text("\n".join(good[:4] + bad + good[4:]) + "\n")
    schema = StructType(
        [StructField("id", IntegerType()), StructField("name", StringType())]
    )
    qpath = str(tmp_path / "quarantine")
    valid, n_bad = read_json_with_quarantine(spark, str(src), schema, qpath)
    assert n_bad == 2
    assert valid.count() == 8
    assert valid.columns == ["id", "name"]
    raw = {r.raw_record for r in spark.read.parquet(qpath).collect()}
    assert raw == {'{"id": broken', "not json at all"}


def test_sink_quarantine_flag(spark, tmp_path):
    """write_ignore_conflicts with bad_records_path: one flag gives the
    reference's keep-going posture — bad rows audited, load succeeds."""
    df = spark.createDataFrame(
        [(1, 10.0), (None, 5.0), (2, -3.0), (2, -3.0)], "k int, amount double"
    )
    sink = str(tmp_path / "sink")
    qdir = str(tmp_path / "bad")
    # default rules: key columns non-null
    n = write_ignore_conflicts(df, sink, keys=["k"], bad_records_path=qdir)
    assert n == 2  # k=1 and k=2 (deduped); null key quarantined
    bad = spark.read.parquet(qdir).collect()
    assert len(bad) == 1 and bad[0]._violations == ["k_not_null"]
    # extra caller rules compose with the defaults
    df2 = spark.createDataFrame([(3, -1.0), (4, 7.0)], "k int, amount double")
    n2 = write_ignore_conflicts(
        df2, sink, keys=["k"], bad_records_path=qdir,
        rules={"amount_positive": F.col("amount") > 0},
    )
    assert n2 == 1
    assert spark.read.parquet(qdir).count() == 2
    # rules without a quarantine destination would silently lose rows
    with pytest.raises(ValueError, match="bad_records_path"):
        write_ignore_conflicts(
            df2, sink, keys=["k"], rules={"amount_positive": F.col("amount") > 0}
        )


def test_shipped_job_quarantines_poisoned_fixture(spark, sf_dir, tmp_path):
    """A shipped registry job over a poisoned source: N-k rows load, k
    rows land in quarantine with _violations, and the job SUCCEEDS —
    the reference's S:231-236 posture as one build_jobs argument."""
    import pyarrow.parquet as pq
    import pyarrow as pa

    from ferramenta_etl_spark.pipeline.jobs import build_jobs

    src = pq.read_table(f"{sf_dir}/lineitem.parquet")
    k = 7
    poison = src.slice(0, k).set_column(
        src.schema.get_field_index("l_orderkey"),
        "l_orderkey",
        pa.array([None] * k, type=src.schema.field("l_orderkey").type),
    )
    poisoned_dir = tmp_path / "sf_poisoned"
    poisoned_dir.mkdir()
    pq.write_table(
        pa.concat_tables([src, poison]), str(poisoned_dir / "lineitem.parquet")
    )

    sink_dir = str(tmp_path / "sinks")
    qdir = str(tmp_path / "quarantine")
    jobs = build_jobs(str(poisoned_dir), sink_dir, quarantine_dir=qdir)
    n = jobs["alimentacao_view_adicionais"](spark)
    assert n > 0
    bad = spark.read.parquet(f"{qdir}/view_adicionais")
    assert bad.count() == k
    assert {tuple(r._violations) for r in bad.collect()} == {
        ("id_manifesto_not_null",)
    }
    # loaded side has no null keys and is idempotent on rerun
    loaded = spark.read.parquet(f"{sink_dir}/view_adicionais")
    assert loaded.filter(F.col("id_manifesto").isNull()).count() == 0
    assert jobs["alimentacao_view_adicionais"](spark) == 0


def test_sink_quarantine_runs_the_input_once(spark, tmp_path):
    """The quarantine split and the sink's load read one materialized
    batch, so the input's plan runs once, not once per side."""
    produced = spark.sparkContext.accumulator(0)

    def source(batches):
        for pdf in batches:
            produced.add(len(pdf))
            yield pdf

    df = (
        spark.range(100)
        .select(
            F.when(F.col("id") % 10 != 0, F.col("id").cast("int")).alias("k"),
            F.col("id").cast("double").alias("amount"),
        )
        .mapInPandas(source, "k int, amount double")
    )
    n = write_ignore_conflicts(
        df, str(tmp_path / "sink"), keys=["k"], bad_records_path=str(tmp_path / "bad")
    )
    assert n == 90
    assert spark.read.parquet(str(tmp_path / "bad")).count() == 10
    assert produced.value == 100
