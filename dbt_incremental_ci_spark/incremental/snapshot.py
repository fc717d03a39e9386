"""Snapshot (SCD-2) materialization.

The reference's CI tool treats snapshots as first-class pre-seedable
resources (SRC/dbt_helper.py:146-156 filters ``resource_type ==
'snapshot'``) even though the demo project defines none. This implements
dbt's timestamp/check snapshot semantics on Spark:

- first run → all rows open: ``dbt_valid_from = run_ts``,
  ``dbt_valid_to = NULL``, plus a ``dbt_scd_id`` surrogate;
- later runs → rows whose tracked columns changed get their open
  version *closed* (``dbt_valid_to = run_ts``) and a new open version
  inserted; vanished keys are closed; unchanged keys untouched.

Physical strategy mirrors ``incremental_upsert`` on an unpartitioned
target: each pass writes the snapshot table once through
:func:`~.merge.replace_table` (Delta/Iceberg MERGE is the drop-in at
lakehouse scale); only the *open* slice is compared, so the diff cost
scales with current cardinality, not history length.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_incremental_ci_spark.incremental.merge import replace_table

META_COLS = ["dbt_scd_id", "dbt_valid_from", "dbt_valid_to"]


def _with_meta(df: DataFrame, unique_key: str, run_ts: datetime) -> DataFrame:
    return df.select(
        "*",
        F.md5(
            F.concat_ws("||", F.col(unique_key).cast("string"),
                        F.lit(str(run_ts)))
        ).alias("dbt_scd_id"),
        F.lit(run_ts).cast("timestamp").alias("dbt_valid_from"),
        F.lit(None).cast("timestamp").alias("dbt_valid_to"),
    )


def snapshot(
    spark: SparkSession,
    qualified_table: str,
    source_df: DataFrame,
    unique_key: str,
    check_cols: list[str] | None = None,
    run_ts: datetime | None = None,
) -> str:
    """Apply one SCD-2 snapshot pass. Returns ``created`` | ``updated``.

    ``check_cols`` — columns whose change opens a new version
    (default: every non-key column).
    """
    run_ts = run_ts or datetime(2026, 1, 1)
    if not spark.catalog.tableExists(qualified_table):
        _with_meta(source_df, unique_key, run_ts).write.mode("overwrite").format(
            "parquet"
        ).saveAsTable(qualified_table)
        return "created"

    target = spark.table(qualified_table)
    data_cols = [c for c in source_df.columns]
    check = check_cols or [c for c in data_cols if c != unique_key]

    open_rows = target.filter(F.col("dbt_valid_to").isNull())
    closed_rows = target.filter(F.col("dbt_valid_to").isNotNull())

    src = source_df.alias("src")
    cur = open_rows.alias("cur")
    key_eq = F.col(f"src.{unique_key}") == F.col(f"cur.{unique_key}")
    joined = src.join(cur, key_eq, "full_outer")

    changed_cond = F.lit(False)
    for c in check:
        # null-safe inequality on each tracked column
        changed_cond = changed_cond | ~F.col(f"src.{c}").eqNullSafe(
            F.col(f"cur.{c}")
        )
    is_new = F.col(f"cur.{unique_key}").isNull()
    is_gone = F.col(f"src.{unique_key}").isNull()

    # 1) versions to close: changed or vanished
    to_close = joined.filter(~is_new & (is_gone | changed_cond)).select(
        *[F.col(f"cur.{c}").alias(c) for c in data_cols],
        F.col("cur.dbt_scd_id").alias("dbt_scd_id"),
        F.col("cur.dbt_valid_from").alias("dbt_valid_from"),
        F.lit(run_ts).cast("timestamp").alias("dbt_valid_to"),
    )
    # 2) versions that stay open untouched
    unchanged = joined.filter(~is_new & ~is_gone & ~changed_cond).select(
        *[F.col(f"cur.{c}").alias(c) for c in data_cols], *[
            F.col(f"cur.{m}").alias(m) for m in META_COLS
        ]
    )
    # 3) new open versions: brand-new keys + changed keys
    to_open = _with_meta(
        joined.filter(~is_gone & (is_new | changed_cond)).select(
            *[F.col(f"src.{c}").alias(c) for c in data_cols]
        ),
        unique_key,
        run_ts,
    )

    merged = (
        closed_rows.select(*data_cols, *META_COLS)
        .unionByName(to_close)
        .unionByName(unchanged)
        .unionByName(to_open)
    )
    replace_table(spark, qualified_table, merged)
    return "updated"
