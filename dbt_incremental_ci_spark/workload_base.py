"""The engine's query workload: one entry per operator family from
SURVEY.md §2, expressed Spark-first over the driver's test tables, each
paired with an ANSI-SQL DuckDB oracle.

Determinism rules (so Spark and DuckDB hash-match bit-for-bit):

- Money/measure aggregation casts doubles to ``decimal(18,2)`` first —
  decimal arithmetic is exact in both engines regardless of summation
  order; the final cast to double is then deterministic.
- Ratios divide two already-deterministic doubles.
- Inherently floating aggregates (stddev/corr) and cosines are rounded.
- Rankings always carry an id tiebreaker; ranked floats are rounded
  *before* ranking in both engines.
- All aliases are lowercase and identical on both sides (the driver
  compares columns by name).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_incremental_ci_spark.operators import (
    asof,
    dedup,
    packing,
    sampling,
    similarity,
    skew,
    text,
)
from dbt_incremental_ci_spark.sources.catalog import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
# Oracles whose construction is expensive (parquet I/O, Python replica
# pipelines) register a thunk here instead of computing at import time;
# get_oracles() materializes them once on first access.
_LAZY_ORACLES: dict[str, Callable[[], str | None]] = {}


def get_oracles() -> dict[str, str]:
    """ORACLES plus lazily-built entries (memoized into ORACLES)."""
    for name in list(_LAZY_ORACLES):
        sql = _LAZY_ORACLES.pop(name)()
        if sql is not None:
            ORACLES[name] = sql
    return dict(ORACLES)


def q(name: str, oracle: str | None = None):
    def wrap(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return wrap


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


def fan_out(df: DataFrame) -> DataFrame:
    """Workload-side alias of
    :func:`~dbt_incremental_ci_spark.operators.scaling.ensure_min_parallelism`
    (round-11, guide §2.5/§6): unlock CPU parallelism on
    expression-heavy pipelines whose scan yields fewer partitions
    than cores. The local test inputs are single-row-group parquet
    files, so a scan produces ONE working task — every per-row-
    expensive stage downstream (decimal folds, tokenize+explode, big
    codegen aggregates) runs single-threaded on a 32-core box.
    Scale-adaptive by construction: on cluster-sized inputs (splits ≥
    cores) it is a structural no-op. Apply AFTER projecting the
    needed columns (guide §2.3) and only on measured CPU-bound paths
    — an exchange under a cheap map pipeline is pure overhead
    (measured: a plain scan+sum goes 0.33 → 1.0 s under it).
    """
    from dbt_incremental_ci_spark.operators.scaling import (
        ensure_min_parallelism,
    )

    return ensure_min_parallelism(df)


def events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract: ``ts`` is ALWAYS BIGINT nanoseconds-since-epoch,
    whatever the file's physical type — queries do exact integer
    arithmetic on it and never emit raw ts.

    - TIMESTAMP(NANOS) files (earlier testdata): Spark's vectorized
      reader rejects nanos; ``nanosAsLong`` reads them as the raw long
      (exact — no double conversion, nanos exceed 2^53).
    - TIMESTAMP(MICROS) files (current testdata): read natively, then
      ``unix_micros * 1000``. The session timezone is pinned UTC
      (session.py), so a TIMESTAMP_NTZ wall clock converts to the same
      epoch DuckDB's ``epoch_ns`` gives for the naive timestamp — the
      oracle twins stay aligned."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = t(spark, sf_dir, "events")
    ts_type = df.schema["ts"].dataType.simpleString()
    if ts_type in ("timestamp", "timestamp_ntz"):
        df = df.withColumn(
            "ts", F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
        )
    return df


def dec(col: str | F.Column) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(18,2)")


def d(col: F.Column) -> F.Column:
    return col.cast("double")


