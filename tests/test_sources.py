"""The Parquet reader's schema cache: a cached read must give exactly
the schema inference gives, and must notice a rewritten file."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dbt_incremental_ci_spark.sources import catalog

# the sf0.01 sibling of the catalog's default test-data directory
SF_DIR = os.path.join(os.path.dirname(catalog.DEFAULT_SF_DIR), "sf0.01")
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _fields(schema):
    return [(f.name, f.dataType, f.nullable) for f in schema.fields]


@pytest.mark.parametrize("name", catalog.TABLES)
def test_cached_read_matches_inference(spark, name):
    path = os.path.join(SF_DIR, f"{name}.parquet")
    if not os.path.isfile(path):
        pytest.skip(f"{path} absent")
    prev = spark.conf.get(NANOS_AS_LONG, None)
    try:
        for nanos in (["false", "true"] if name == "events" else [prev or "false"]):
            spark.conf.set(NANOS_AS_LONG, nanos)
            catalog.load_table(spark, name, SF_DIR)  # fills the cache
            assert catalog._schema_key(spark, path) in catalog._SCHEMAS
            cached = catalog.load_table(spark, name, SF_DIR)
            inferred = spark.read.parquet(path)
            assert _fields(cached.schema) == _fields(inferred.schema)
            assert cached.limit(5).collect() == inferred.limit(5).collect()
    finally:
        if prev is None:
            spark.conf.unset(NANOS_AS_LONG)
        else:
            spark.conf.set(NANOS_AS_LONG, prev)


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    assert [f.name for f in catalog.read_parquet(spark, path).schema] == ["a", "b"]
    assert [f.name for f in catalog.read_parquet(spark, path).schema] == ["a", "b"]

    pq.write_table(pa.table({"c": [1.5], "a": [3]}), path)
    df = catalog.read_parquet(spark, path)
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
        ("c", "double"),
        ("a", "bigint"),
    ]
    assert df.collect()[0]["c"] == 1.5


def test_directory_path_infers(spark, tmp_path):
    d = tmp_path / "parts"
    d.mkdir()
    pq.write_table(pa.table({"k": [1]}), str(d / "p0.parquet"))
    assert catalog._schema_key(spark, str(d)) is None
    before = len(catalog._SCHEMAS)
    df = catalog.read_parquet(spark, str(d))
    assert [f.name for f in df.schema] == ["k"]
    assert df.count() == 1
    assert len(catalog._SCHEMAS) == before
