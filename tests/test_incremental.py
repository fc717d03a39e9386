"""Incremental materialization: the core invariant of the reference —
an incremental run over appended batches must equal a from-scratch full
rebuild (SURVEY §5 'Incremental-specific test')."""

import os
import re
from datetime import date, datetime
from urllib.parse import urlparse

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from dbt_incremental_ci_spark.incremental.merge import (
    incremental_upsert,
    read_watermark,
    replace_table,
    watermark_filter,
)
from dbt_incremental_ci_spark.incremental.snapshot import snapshot


def rows(spark, table):
    return sorted(
        tuple(r) for r in spark.table(table).select("id", "d", "val").collect()
    )


def test_upsert_equals_full_rebuild(spark):
    b1 = spark.createDataFrame(
        [(1, date(2024, 1, 1), "a"), (2, date(2024, 1, 2), "b")], ["id", "d", "val"]
    )
    # batch 2 overlaps id=2 (late update) and adds id=3
    b2 = spark.createDataFrame(
        [(2, date(2024, 1, 2), "b2"), (3, date(2024, 1, 3), "c")], ["id", "d", "val"]
    )
    tgt = "t_inc.ev"
    spark.sql("CREATE DATABASE IF NOT EXISTS t_inc")
    spark.sql("DROP TABLE IF EXISTS " + tgt)
    assert incremental_upsert(spark, tgt, b1, unique_key="id") == "created"
    assert incremental_upsert(spark, tgt, b2, unique_key="id") == "merged"
    assert rows(spark, tgt) == [
        (1, date(2024, 1, 1), "a"),
        (2, date(2024, 1, 2), "b2"),
        (3, date(2024, 1, 3), "c"),
    ]


def test_watermark_roundtrip(spark):
    tgt = "t_inc.wm"
    spark.sql("CREATE DATABASE IF NOT EXISTS t_inc")
    spark.sql("DROP TABLE IF EXISTS " + tgt)
    b1 = spark.createDataFrame(
        [(1, date(2024, 1, 1), "a"), (2, date(2024, 1, 5), "b")], ["id", "d", "val"]
    )
    incremental_upsert(spark, tgt, b1, unique_key="id")
    wm = read_watermark(spark, tgt, "d")
    assert wm == date(2024, 1, 5)
    src = spark.createDataFrame(
        [(2, date(2024, 1, 5), "dup"), (3, date(2024, 1, 6), "new")],
        ["id", "d", "val"],
    )
    new = watermark_filter(src, "d", wm, strict=True)
    assert [r["id"] for r in new.collect()] == [3]
    # default watermark when table missing
    assert read_watermark(spark, "t_inc.nope", "d", default=date(1900, 1, 1)) == date(
        1900, 1, 1
    )


def test_append_only(spark):
    tgt = "t_inc.app"
    spark.sql("CREATE DATABASE IF NOT EXISTS t_inc")
    spark.sql("DROP TABLE IF EXISTS " + tgt)
    b = spark.createDataFrame([(1, date(2024, 1, 1), "a")], ["id", "d", "val"])
    incremental_upsert(spark, tgt, b, unique_key=None)
    incremental_upsert(spark, tgt, b, unique_key=None)
    assert spark.table(tgt).count() == 2


def test_schema_evolution_append_new_columns(spark):
    tgt = "t_inc.evolve"
    spark.sql("CREATE DATABASE IF NOT EXISTS t_inc")
    spark.sql("DROP TABLE IF EXISTS " + tgt)
    b1 = spark.createDataFrame([(1, "a")], ["id", "val"])
    incremental_upsert(spark, tgt, b1, unique_key="id")
    b2 = spark.createDataFrame([(2, "b", 9.5)], ["id", "val", "score"])
    incremental_upsert(
        spark, tgt, b2, unique_key="id", on_schema_change="append_new_columns"
    )
    got = {r["id"]: (r["val"], r["score"]) for r in spark.table(tgt).collect()}
    assert got == {1: ("a", None), 2: ("b", 9.5)}


def test_partitioned_merge_rewrites_only_affected_partitions(spark):
    tgt = "t_inc.part"
    spark.sql("CREATE DATABASE IF NOT EXISTS t_inc")
    spark.sql("DROP TABLE IF EXISTS " + tgt)
    odd = "it's a\\b"  # a partition value SQL literals must escape
    b1 = spark.createDataFrame(
        [(1, "2024-01", "a"), (2, "2024-01", "b"), (3, "2024-02", "c"), (5, odd, "e")],
        ["id", "month", "val"],
    )
    incremental_upsert(spark, tgt, b1, unique_key="id", partition_by=["month"])
    b2 = spark.createDataFrame(
        [(3, "2024-02", "c2"), (4, "2024-02", "d"), (6, odd, "f")], ["id", "month", "val"]
    )
    incremental_upsert(spark, tgt, b2, unique_key="id", partition_by=["month"])
    got = {r["id"]: (r["month"], r["val"]) for r in spark.table(tgt).collect()}
    assert got == {
        1: ("2024-01", "a"),
        2: ("2024-01", "b"),
        3: ("2024-02", "c2"),
        4: ("2024-02", "d"),
        5: (odd, "e"),
        6: (odd, "f"),
    }


def test_batch_internal_duplicates_deduped(spark):
    tgt = "t_inc.dupes"
    spark.sql("CREATE DATABASE IF NOT EXISTS t_inc")
    spark.sql("DROP TABLE IF EXISTS " + tgt)
    b1 = spark.createDataFrame([(1, date(2024, 1, 1), "a")], ["id", "d", "val"])
    incremental_upsert(spark, tgt, b1, unique_key="id")
    b2 = spark.createDataFrame(
        [(2, date(2024, 1, 2), "x"), (2, date(2024, 1, 2), "x")], ["id", "d", "val"]
    )
    incremental_upsert(spark, tgt, b2, unique_key="id")
    assert spark.table(tgt).count() == 2


def test_partitioned_merge_key_moves_partition(spark):
    """A key arriving under a new partition value must evict its stale
    row from the old partition (dbt delete+insert deletes table-wide),
    and a partition left empty by the move must disappear."""
    tgt = "t_inc.moved"
    spark.sql("CREATE DATABASE IF NOT EXISTS t_inc")
    spark.sql("DROP TABLE IF EXISTS " + tgt)
    b1 = spark.createDataFrame(
        [(1, "2024-01", "a"), (2, "2024-02", "b"), (3, "2024-03", "c")],
        ["id", "month", "val"],
    )
    incremental_upsert(spark, tgt, b1, unique_key="id", partition_by=["month"])
    # id=2 corrects its month 2024-02 -> 2024-01 (old partition keeps
    # nothing else -> must be dropped); id=3 stays put with a new value
    b2 = spark.createDataFrame(
        [(2, "2024-01", "b2"), (3, "2024-03", "c2")], ["id", "month", "val"]
    )
    incremental_upsert(spark, tgt, b2, unique_key="id", partition_by=["month"])
    got = {r["id"]: (r["month"], r["val"]) for r in spark.table(tgt).collect()}
    assert got == {
        1: ("2024-01", "a"),
        2: ("2024-01", "b2"),
        3: ("2024-03", "c2"),
    }
    months = {r["month"] for r in spark.table(tgt).select("month").distinct().collect()}
    assert months == {"2024-01", "2024-03"}


def test_large_key_batch_no_forced_broadcast(spark, monkeypatch):
    """A backfill batch with >=10^5 distinct keys goes through the
    partition-scoped path with NO BroadcastExchange in the executed
    rewrite-set plan when AQE declines to broadcast (threshold -1
    emulates a key set larger than executor memory allows) — the
    round-2 scale fix for the forced-broadcast OOM at merge.py's
    moved-key semi-join. The target read is pruned to the rewrite
    set's partitions."""
    from dbt_incremental_ci_spark.incremental import merge

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # 20 partitions: keys below 100k spread over p = id % 20, the
        # rest over p = id % 16, so partitions 16-19 hold no batch key
        target = spark.range(0, 200_000).select(
            F.col("id"),
            F.when(F.col("id") < 100_000, F.col("id") % 20)
            .otherwise(F.col("id") % 16).cast("int").alias("p"),
            F.lit("old").alias("val"),
        )
        # 120k distinct keys: 100k updates + 20k inserts, none moving
        # partition, so the rewrite set is exactly p = 0..15
        batch = spark.range(100_000, 220_000).select(
            F.col("id"), (F.col("id") % 16).cast("int").alias("p"),
            F.lit("new").alias("val"),
        )
        tgt = "t_inc.bigkeys"
        spark.sql("CREATE DATABASE IF NOT EXISTS t_inc")
        spark.sql("DROP TABLE IF EXISTS " + tgt)
        incremental_upsert(spark, tgt, target, unique_key="id", partition_by=["p"])
        collected, restricted = [], []
        collect, merge_frames = type(batch).collect, merge._merge_frames

        def spy_collect(self):
            collected.append(self)
            return collect(self)

        def spy_merge_frames(affected, *args):
            restricted.append(affected)
            return merge_frames(affected, *args)

        monkeypatch.setattr(type(batch), "collect", spy_collect)
        monkeypatch.setattr(merge, "_merge_frames", spy_merge_frames)
        assert (
            incremental_upsert(spark, tgt, batch, unique_key="id", partition_by=["p"])
            == "merged"
        )
        monkeypatch.undo()

        # the rewrite set is the merge's one collect; collect() runs the
        # DataFrame's OWN QueryExecution, so its adaptive plan is final
        [scope] = collected
        assert len(scope.collect()) == 16
        plan = scope._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan
        assert "BroadcastExchange" not in plan, plan

        # the restricted target lists only the rewrite set's partitions
        [affected] = restricted
        listed = {re.search(r"/p=(\d+)/", f).group(1) for f in affected.inputFiles()}
        assert listed == {str(p) for p in range(16)}, listed

        # end-to-end: the full merge at this key count stays correct
        out = spark.table(tgt)
        assert out.count() == 220_000
        assert out.filter(F.col("val") == "new").count() == 120_000
        assert out.filter((F.col("id") == 150_000) & (F.col("val") == "new")).count() == 1
        assert out.filter(F.col("p") >= 16).count() == 20_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def _table_dir(spark, table):
    schema, name = table.split(".")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    return os.path.join(warehouse, f"{schema}.db", name)


def test_replace_table_survives_failed_flip(spark, monkeypatch):
    """An exception between the data write and the SET LOCATION flip
    leaves the old rows readable; a rerun converges to exactly one
    version directory, and the name can be dropped and re-created."""
    tgt = "t_inc.flip"
    spark.sql("CREATE DATABASE IF NOT EXISTS t_inc")
    spark.sql("DROP TABLE IF EXISTS " + tgt)
    root = _table_dir(spark, tgt)
    replace_table(spark, tgt, spark.createDataFrame([(1, "a")], "id int, val string"))

    def vals():
        return sorted(tuple(r) for r in spark.table(tgt).collect())

    def bump():  # reads the table it replaces
        return spark.table(tgt).withColumn("val", F.concat("val", F.lit("b")))

    sql = spark.sql

    def failing_sql(statement, *args, **kwargs):
        if "SET LOCATION" in statement:
            raise RuntimeError("injected before the flip")
        return sql(statement, *args, **kwargs)

    monkeypatch.setattr(spark, "sql", failing_sql)
    with pytest.raises(RuntimeError, match="injected"):
        replace_table(spark, tgt, bump())
    monkeypatch.undo()
    assert vals() == [(1, "a")]

    replace_table(spark, tgt, bump())
    replace_table(spark, tgt, bump())
    assert vals() == [(1, "abb")]
    left = os.listdir(root)
    assert len(left) == 1 and left[0].startswith("_v"), left

    spark.sql("DROP TABLE " + tgt)
    spark.createDataFrame([(2, "c")], "id int, val string").write.format(
        "parquet"
    ).saveAsTable(tgt)
    assert vals() == [(2, "c")]

    spark.sql("DROP TABLE IF EXISTS t_inc.flip_part")
    part = spark.createDataFrame([(1, 1)], "id int, p int")
    part.write.format("parquet").partitionBy("p").saveAsTable("t_inc.flip_part")
    with pytest.raises(ValueError, match="partitioned"):
        replace_table(spark, "t_inc.flip_part", part)


def test_merge_leaves_session_alone(spark, monkeypatch):
    """Dynamic overwrite comes from the table, not the session: with the
    session conf at static, a partitioned merge still rewrites only the
    affected partitions and leaves the conf as it was. No merge or
    snapshot ever creates a stage table."""
    saved = []
    save_as_table = DataFrameWriter.saveAsTable

    def spy(self, name, *args, **kwargs):
        saved.append(name)
        return save_as_table(self, name, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "saveAsTable", spy)
    conf = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(conf, "static")
    try:
        spark.sql("CREATE DATABASE IF NOT EXISTS t_inc")
        tgt = "t_inc.session"
        spark.sql("DROP TABLE IF EXISTS " + tgt)
        b1 = spark.createDataFrame(
            [(1, "2024-01", "a"), (2, "2024-02", "b"), (3, "2024-03", "c")],
            ["id", "month", "val"],
        )
        incremental_upsert(spark, tgt, b1, unique_key="id", partition_by=["month"])
        untouched = os.path.join(_table_dir(spark, tgt), "month=2024-03")
        files_before = sorted(os.listdir(untouched))
        b2 = spark.createDataFrame(
            [(1, "2024-01", "a2"), (4, "2024-02", "d")], ["id", "month", "val"]
        )
        incremental_upsert(spark, tgt, b2, unique_key="id", partition_by=["month"])
        assert spark.conf.get(conf) == "static"
        got = {r["id"]: (r["month"], r["val"]) for r in spark.table(tgt).collect()}
        assert got == {
            1: ("2024-01", "a2"),
            2: ("2024-02", "b"),
            3: ("2024-03", "c"),
            4: ("2024-02", "d"),
        }
        assert sorted(os.listdir(untouched)) == files_before

        spark.sql("DROP TABLE IF EXISTS t_inc.session_flat")
        for batch in (b1, b2):
            incremental_upsert(spark, "t_inc.session_flat", batch, unique_key="id")
        spark.sql("DROP TABLE IF EXISTS t_inc.session_snap")
        for ts, batch in ((datetime(2024, 1, 1), b1), (datetime(2024, 2, 1), b2)):
            snapshot(spark, "t_inc.session_snap", batch, "id", run_ts=ts)
        assert spark.conf.get(conf) == "static"
    finally:
        spark.conf.unset(conf)
    stage = ("__stage", "__snapstage")
    assert not [n for n in saved if n.endswith(stage)], saved
    assert not [t.name for t in spark.catalog.listTables("t_inc") if t.name.endswith(stage)]
