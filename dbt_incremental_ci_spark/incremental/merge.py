"""Incremental materialization: watermark filter + unique-key upsert.

Reproduces the reference's incremental semantics (SURVEY §2.11, §3.3):

- first run → full CTAS;
- later runs → source filtered past ``max(watermark)`` of the existing
  target (``>`` with an epoch fallback, ref
  student_enrollment_history_incremental.sql:24-26), then a
  delete+insert by ``unique_key`` (dbt-postgres's default strategy,
  which is MERGE-equivalent when the key is unique);
- ``on_schema_change: append_new_columns`` → new columns added to the
  target, null-backfilled (ref dbt_project.yml:232).

Physical strategy (plain Parquet tables — no Delta in this
environment, and the same logic maps 1:1 onto Delta/Iceberg MERGE on a
real lakehouse). Every merge writes its result once:

- **Partitioned targets** → *partition-scoped* merge: only partitions
  that receive new keys or hold stale rows of moved keys are rewritten,
  by one ``insertInto`` straight into the target with dynamic partition
  overwrite. At 100 TB this is the only viable plan — a day-partitioned
  fact table merging one day of late data rewrites one partition, not
  the table. The rewrite set is one O(#partitions) collect; the merge
  then reads only those partitions, through one null-safe ``IN`` over
  the partition columns that Spark prunes at file listing. The
  partition columns come from the catalog, so a copy that lost its
  partitioning takes the unpartitioned path instead of a static full
  overwrite. The dynamic mode is a table property, never the session
  conf. Partitions the merge empties (every row moved to another
  partition) are the rewrite set minus the partitions observed on the
  write job; they are dropped from the catalog.
- **Unpartitioned targets** → :func:`replace_table`: one write into a
  fresh version directory, then a metastore pointer flip.
- **Widened schemas** → ``ALTER TABLE … ADD COLUMNS`` (old files read
  the new columns as null), then the normal path.
"""

from __future__ import annotations

import re
import uuid
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

# A table's version directories, written by replace_table under the
# table's own directory; the leading underscore hides them from Spark's
# file listing of that directory.
_VERSION_DIR = re.compile(r"_v[0-9a-f]{32}")


def read_watermark(
    spark: SparkSession, qualified_table: str, col: str, default: Any = None
) -> Any:
    """Scalar watermark: ``select max(col) from target`` — read as a
    literal *before* planning the main scan so the incremental filter
    can partition-prune (SURVEY §4 'scalar subquery' row)."""
    if _table_meta(spark, qualified_table) is None:
        return default
    # driver-bound: 1 scalar row — incremental watermark read
    row = spark.table(qualified_table).agg(F.max(col).alias("wm")).collect()[0]
    return row["wm"] if row["wm"] is not None else default


def watermark_filter(
    src: DataFrame, col: str, watermark: Any, strict: bool = True
) -> DataFrame:
    """``src WHERE col > watermark`` (``>=`` when strict=False — the
    reference uses both; ``>=`` re-reads boundary rows, absorbed by the
    unique-key upsert, ref stg_enrollments_incremental.sql:20)."""
    if watermark is None:
        return src
    return src.filter(F.col(col) > F.lit(watermark) if strict else F.col(col) >= F.lit(watermark))


def incremental_upsert(
    spark: SparkSession,
    qualified_table: str,
    new_df: DataFrame,
    unique_key: str | None = None,
    on_schema_change: str = "ignore",
    partition_by: list[str] | None = None,
) -> str:
    """MERGE ``new_df`` into ``qualified_table``. Returns the action taken
    (``created`` | ``appended`` | ``merged``).

    The caller applies the watermark filter to ``new_df`` (the engine
    does this via :func:`read_watermark` + :func:`watermark_filter`);
    this function only guarantees key-level upsert semantics:
    rows whose ``unique_key`` exists in the target replace the old rows,
    others insert — dbt delete+insert ≡ MERGE WHEN MATCHED UPDATE /
    WHEN NOT MATCHED INSERT (SRC manifest config ``unique_key``,
    dbt_project.yml:231).

    ``partition_by`` shapes only the first write; later merges take the
    partition columns from the catalog.
    """
    meta = _table_meta(spark, qualified_table)
    if meta is None:
        writer = new_df.write.mode("overwrite").format("parquet")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.saveAsTable(qualified_table)
        return "created"

    target = spark.table(qualified_table)
    if on_schema_change == "append_new_columns":
        added = [f for f in new_df.schema.fields if f.name not in target.columns]
        if added:
            cols = ", ".join(
                "`{}` {}".format(f.name.replace("`", "``"), f.dataType.simpleString())
                for f in added
            )
            spark.sql(f"ALTER TABLE {qualified_table} ADD COLUMNS ({cols})")
            target = spark.table(qualified_table)
    # New rows in the target's column order (insertInto matches by
    # position; partition columns come last), null for columns they lack.
    new_df = new_df.select(
        *[
            F.col(f.name) if f.name in new_df.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in target.schema.fields
        ]
    )

    if unique_key is None:
        new_df.write.mode("append").format("parquet").insertInto(qualified_table)
        return "appended"

    names = meta.partitionColumnNames()
    part_cols = [names.apply(i) for i in range(names.length())]
    if not part_cols:
        replace_table(spark, qualified_table, _merge_frames(target, new_df, unique_key))
        return "merged"

    # Partition-scoped merge: rewrite only partitions that receive
    # new/changed keys. dbt's delete+insert deletes by key TABLE-WIDE,
    # so a key arriving under a different partition value (e.g. a
    # corrected semester_id) must also evict its stale row from the
    # partition it used to live in — the rewrite set includes those
    # partitions. No broadcast hint on the incoming keys: a backfill
    # batch can carry a data-sized key set; AQE broadcasts it on its own
    # when it is small, else this is a shuffled semi-join.
    stale = target.join(new_df.select(unique_key), unique_key, "left_semi")
    parts = new_df.select(*part_cols).unionByName(stale.select(*part_cols))
    # driver-bound: O(#partitions) keys — the rewrite set, read before the write
    scope = parts.distinct().collect()
    if not scope:
        return "merged"
    # The target restricted to the rewrite set by one IN over literal
    # structs: null-safe (struct equality matches NULL fields, so the
    # default partition is kept), prunable (partition columns only) and
    # one expression node however large the scope (an INSET past 10 rows).
    types = {f.name: f.dataType.simpleString() for f in target.schema.fields}
    fields = ", ".join(f"'{c}', `{c}`" for c in part_cols)
    structs = ", ".join(
        "named_struct("
        + ", ".join(
            f"'{c}', CAST({_partition_literal(v, 'NULL')} AS {types[c]})"
            for c, v in zip(part_cols, row)
        )
        + ")"
        for row in scope
    )
    affected = target.filter(F.expr(f"named_struct({fields}) IN ({structs})"))
    written = Observation()
    merged = _merge_frames(affected, new_df, unique_key).select(*target.columns)
    # Spark stages a dynamic overwrite itself, so the write may read the
    # table it replaces partitions of. The table property, unlike a
    # writer option, is honoured by insertInto.
    spark.sql(
        f"ALTER TABLE {qualified_table} "
        "SET SERDEPROPERTIES ('partitionOverwriteMode'='dynamic')"
    )
    observed = merged.observe(written, F.collect_set(F.struct(*part_cols)).alias("parts"))
    observed.write.mode("overwrite").insertInto(qualified_table)
    # Dynamic overwrite only touches partitions present in the written
    # data: a partition whose every row was a moved key would silently
    # keep its stale files — drop those partitions explicitly. The
    # observed set is O(#partitions written), like the scope.
    kept = {tuple(r) for r in written.get["parts"]}
    emptied = [r for r in scope if tuple(r) not in kept]
    # One ALTER TABLE drops many partitions — batches of 500 keep the
    # statement size bounded and cut metastore round trips from
    # O(partitions) to O(partitions/500).
    for i in range(0, len(emptied), 500):
        specs = ", ".join(
            "PARTITION ("
            + ", ".join(f"{c}={_partition_literal(v)}" for c, v in zip(part_cols, row))
            + ")"
            for row in emptied[i : i + 500]
        )
        spark.sql(f"ALTER TABLE {qualified_table} DROP IF EXISTS {specs}")
    spark.catalog.refreshTable(qualified_table)
    return "merged"


def replace_table(spark: SparkSession, qualified_table: str, df: DataFrame) -> None:
    """Replace the rows of an unpartitioned Parquet table with ``df``,
    creating the table if it does not exist. ``df`` may read the table.

    One write into a fresh ``_v<id>`` directory under the table's
    directory, then ``ALTER TABLE … SET LOCATION`` to it, then
    everything else under the directory is deleted: superseded files go
    at commit, as an overwrite deletes them, so a later ``DROP TABLE``
    leaves the directory empty and the name can be re-created. A failure
    before the flip leaves the previous version readable (the new
    directory is hidden from its file listing); the next successful call
    deletes the orphan. The table keeps its catalog schema, so ``df``
    must have the table's columns and types.

    A partitioned table is refused: a table-level ``SET LOCATION`` does
    not move its partitions.
    """
    meta = _table_meta(spark, qualified_table)
    if meta is None:
        df.write.format("parquet").saveAsTable(qualified_table)
        return
    if not meta.partitionColumnNames().isEmpty():
        raise ValueError(f"replace_table: {qualified_table} is partitioned")
    Path = spark._jvm.org.apache.hadoop.fs.Path
    root = Path(meta.location())
    if _VERSION_DIR.fullmatch(root.getName()):
        root = root.getParent()
    version = Path(root, "_v" + uuid.uuid4().hex)
    df.write.parquet(version.toString())
    spark.sql(f"ALTER TABLE {qualified_table} SET LOCATION '{version.toString()}'")
    fs = root.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    for status in fs.listStatus(root):
        if status.getPath().getName() != version.getName():
            fs.delete(status.getPath(), True)


def _table_meta(spark: SparkSession, qualified_table: str) -> Any:
    """The table's ``CatalogTable`` (partition columns, location), or
    ``None`` if it does not exist: a session-catalog lookup that starts
    no Spark job."""
    state = spark._jsparkSession.sessionState()
    ident = state.sqlParser().parseTableIdentifier(qualified_table)
    if not state.catalog().tableExists(ident):
        return None
    return state.catalog().getTableMetadata(ident)


def _merge_frames(target: DataFrame, new_df: DataFrame, unique_key: str) -> DataFrame:
    # Late-arriving duplicates inside one batch: last write wins is not
    # defined without an ordering, so dedupe deterministically by key.
    deduped_new = new_df.dropDuplicates([unique_key])
    survivors = target.join(deduped_new.select(unique_key), unique_key, "left_anti")
    return survivors.unionByName(deduped_new)


def _partition_literal(value: Any, null: str = "'__HIVE_DEFAULT_PARTITION__'") -> str:
    """SQL literal for a partition value: ``null`` (the Hive default
    partition name, as ALTER TABLE ... PARTITION takes it) for None."""
    if value is None:
        return null
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, (int, float)):
        return str(value)
    return "'" + str(value).replace("\\", "\\\\").replace("'", "\\'") + "'"
