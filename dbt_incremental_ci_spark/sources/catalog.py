"""Typed source catalog over the driver's Parquet test tables.

The reference declares fixed source schemas in DDL + sources.yml
(SURVEY §1.2); here sources are Parquet (self-describing), so the
catalog's job is resolution + registration, not schema declaration.
Parquet scans give Catalyst column pruning and predicate pushdown for
free — check with ``.explain``: ``PushedFilters``/``ReadSchema``.
"""

from __future__ import annotations

import os
import stat
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Session confs that change what Parquet schema inference returns
# (``events_table`` flips the first one mid-session).
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
)
_MAX_SCHEMAS = 256
_SCHEMAS: dict[tuple, StructType] = {}
_SCHEMAS_LOCK = threading.Lock()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, minus the schema-inference job on
    repeat reads of one local file (absolute path).

    Inference runs one Spark job per read (~70 ms in local mode), which
    an ad-hoc query pays for every table it scans while its plan is
    built. The inferred schema of a single local Parquet file is cached
    under the file's identity and version (absolute path, inode, size,
    ``st_mtime_ns``), the session (application id) and the session
    confs that change inference; a hit reads with that schema. A
    rewrite of the file changes its inode, size or mtime, so the next
    read infers again (an in-place rewrite to the same size within one
    file-system timestamp tick would not). Directories and paths on
    another file system always infer."""
    key = _schema_key(spark, path)
    if key is None:
        return spark.read.parquet(path)
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    # a private copy: df.schema is handed to callers, who may mutate it
    schema = StructType.fromJson(df.schema.jsonValue())
    with _SCHEMAS_LOCK:
        if len(_SCHEMAS) >= _MAX_SCHEMAS:
            del _SCHEMAS[next(iter(_SCHEMAS))]
        _SCHEMAS[key] = schema
    return df


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    """Cache key of a single local file, or None when *path* is not one.
    Relative paths are left alone: the JVM resolves them against its own
    working directory, which need not be this process's."""
    if not os.path.isabs(path):
        return None
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    default_fs = spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS")
    if not (default_fs or "file:").startswith("file:"):
        return None
    return (
        path,
        st.st_ino,
        st.st_size,
        st.st_mtime_ns,
        spark.conf.get("spark.app.id"),
        tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS),
    )


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names: list[str] | None = None
) -> dict[str, DataFrame]:
    return {n: load_table(spark, n, sf_dir) for n in (names or TABLES)}


def register_views(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names: list[str] | None = None
) -> dict[str, DataFrame]:
    """Register each table as a temp view (for the SQL API path)."""
    dfs = load_tables(spark, sf_dir, names)
    for n, df in dfs.items():
        df.createOrReplaceTempView(n)
    return dfs


def load_seed_csv(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """Seed loader (ref DEDP/seeds/*.csv — small reference CSVs,
    SURVEY §2.1 S3). Explicit schema preferred; header inference as a
    fallback for tiny files only."""
    reader = spark.read.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def load_jsonl(
    spark: SparkSession,
    path: str,
    schema: str,
    bad_records_col: str = "_corrupt_record",
) -> DataFrame:
    """JSON-lines source — the interchange format of most raw
    web/crawl/training-data drops. Schema is REQUIRED: at 100 TB,
    schema inference is a full extra pass over the data, and drifting
    inferred types silently fork pipelines. ``PERMISSIVE`` mode parks
    malformed lines in ``bad_records_col`` instead of failing the job —
    callers route them to a quarantine sink."""
    full_schema = f"{schema}, {bad_records_col} string"
    return (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", bad_records_col)
        .json(path)
    )


def split_corrupt(
    df: DataFrame, bad_records_col: str = "_corrupt_record"
) -> tuple[DataFrame, DataFrame]:
    """(clean_rows, quarantine_rows) from a PERMISSIVE JSONL read.

    Quarantine rows keep ALL columns, not just the raw line — partly
    for triage, partly because Spark disallows queries that reference
    only the internal corrupt-record column of a JSON scan."""
    from pyspark.sql import functions as F

    clean = df.filter(F.col(bad_records_col).isNull()).drop(bad_records_col)
    bad = df.filter(F.col(bad_records_col).isNotNull())
    return clean, bad
