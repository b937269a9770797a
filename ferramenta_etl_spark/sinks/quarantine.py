"""Bad-record quarantine: divert dirty rows, keep the job running.

The reference tolerates bad data at BATCH granularity: a failed 50k-row
insert batch is rolled back, logged, and skipped while the job continues
(``Select de Importação de Dados.py:231-236``). Spark's task-retry model
would instead fail the whole job, so the engine provides the same
keep-going posture at ROW granularity, which is strictly less lossy than
dropping 50 000 rows for one poison pill:

- ``read_json_with_quarantine``: malformed source records (PERMISSIVE
  parse + corrupt-record column) land in a quarantine parquet with the
  raw text preserved for replay; well-formed rows flow on.
- ``split_by_rules`` / ``quarantine_invalid``: declarative row-validity
  rules (name -> boolean Column); violating rows are diverted with a
  ``_violations`` array naming every failed rule. A NULL rule result
  counts as a violation (null-safe: dirty data can't sneak past a
  three-valued comparison).

Both paths are single-pass scans — the valid/invalid split is one
projection, no shuffle — and the quarantine write is an append so
repeated runs accumulate an audit trail.
"""

from __future__ import annotations

import logging
from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

log = logging.getLogger(__name__)

CORRUPT_COL = "_corrupt_record"
VIOLATIONS_COL = "_violations"


def _tag_violations(df: DataFrame, rules: Mapping[str, Column]) -> DataFrame:
    """``df`` plus ``_violations``: the names of the rules each row
    fails, NULL counting as a failure."""
    checks = F.array(
        *[
            F.when(~cond.eqNullSafe(F.lit(True)), F.lit(name))
            for name, cond in rules.items()
        ]
    )
    return df.withColumn(VIOLATIONS_COL, F.filter(checks, lambda x: x.isNotNull()))


def _split_tagged(tagged: DataFrame) -> tuple[DataFrame, DataFrame]:
    valid = tagged.filter(F.size(VIOLATIONS_COL) == 0).drop(VIOLATIONS_COL)
    invalid = tagged.filter(F.size(VIOLATIONS_COL) > 0)
    return valid, invalid


def split_by_rules(
    df: DataFrame, rules: Mapping[str, Column]
) -> tuple[DataFrame, DataFrame]:
    """Split ``df`` into (valid, invalid) under named boolean rules.

    A row is valid iff EVERY rule evaluates to true; NULL (three-valued
    logic from comparisons against NULL) counts as a violation. The
    invalid side carries ``_violations``: the names of all failed rules.
    Both sides are lazy: each action on either re-evaluates ``df``.
    """
    return _split_tagged(_tag_violations(df, rules))


def quarantine_invalid(
    df: DataFrame, rules: Mapping[str, Column], quarantine_path: str
) -> tuple[DataFrame, int]:
    """Divert rule-violating rows to ``quarantine_path`` (parquet append,
    with the ``_violations`` audit column) and return (valid_df,
    n_quarantined). The job continues with the valid rows — the engine's
    analog of the reference's skip-bad-batch-and-continue (S:231-236).

    The tagged batch is materialized once and both sides are split from
    it, so ``df``'s plan runs once, however often the valid side is
    read afterwards."""
    tagged = _tag_violations(df, rules).localCheckpoint(eager=True)
    valid, invalid = _split_tagged(tagged)
    n_bad = invalid.count()
    if n_bad:
        invalid.write.mode("append").parquet(quarantine_path)
        log.warning("quarantined %d rows to %s", n_bad, quarantine_path)
    return valid, n_bad


def read_json_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: StructType,
    quarantine_path: str,
) -> tuple[DataFrame, int]:
    """Read JSON-lines with a declared schema; malformed records go to
    ``quarantine_path`` (raw text preserved under ``raw_record``) instead
    of failing the read or silently nulling out.

    Returns (valid_df with exactly ``schema``'s columns, n_quarantined).
    """
    if CORRUPT_COL in schema.fieldNames():
        raise ValueError(f"schema must not already contain {CORRUPT_COL}")
    read_schema = StructType(
        list(schema.fields) + [StructField(CORRUPT_COL, StringType())]
    )
    df = (
        spark.read.schema(read_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )
    # Spark refuses to filter on the corrupt-record column of an
    # un-materialized PERMISSIVE scan (it may be pruned away); cache
    # makes the split well-defined on one parse.
    df = df.cache()
    try:
        bad = df.filter(F.col(CORRUPT_COL).isNotNull()).select(
            F.col(CORRUPT_COL).alias("raw_record")
        )
        n_bad = bad.count()
        if n_bad:
            bad.write.mode("append").parquet(quarantine_path)
            log.warning(
                "quarantined %d malformed records from %s to %s",
                n_bad, path, quarantine_path,
            )
        valid = (
            df.filter(F.col(CORRUPT_COL).isNull())
            .drop(CORRUPT_COL)
            .localCheckpoint(eager=True)
        )
    finally:
        df.unpersist()
    return valid, n_bad
