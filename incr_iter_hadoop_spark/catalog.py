"""Catalog: load the driver's parquet tables and register temp views.

The reference's "catalog" is hardcoded key/value classes per job
(``JobConf.setOutputKeyClass`` etc. — incr-hadoop-0.1/src/mapred/org/apache/
hadoop/mapred/JobConf.java:681-696). Here schemas come from parquet footers;
the engine only names the tables. A footer is read once per table file: the
first ``load_table`` of a file runs Spark's one-task schema-inference job
and keeps the schema, and later loads hand it to ``spark.read.schema`` and
run no job. The kept schema is dropped when the file's size or mtime or a
reader conf that changes inferred types differs from when it was inferred.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
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
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# reader confs that change the types parquet schema inference yields
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
# absolute path -> ((size, mtime_ns, reader confs), inferred schema)
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only when the
    file or the reader confs changed since the last inference."""
    key = os.path.abspath(path)
    try:
        st = os.stat(key)
    except OSError:  # not a local file: let Spark resolve it
        return spark.read.parquet(path)
    stamp = (
        st.st_size,
        st.st_mtime_ns,
        tuple(spark.conf.get(c) for c in _SCHEMA_CONFS),
    )
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (stamp, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table ``name`` of ``sf_dir`` as a DataFrame. The schema of each
    table file is inferred once and kept (see the module docstring); a
    rewritten file, or a changed reader conf, is inferred again."""
    if name == "events":
        # ts encoding varies by generator version: timestamp[ns] (which
        # Spark's reader rejects — read as raw long nanos via the legacy
        # conf and truncate to micros) or timestamp[us] (read natively).
        # Set the conf at runtime too so driver-owned sessions work.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
        ts_type = df.schema["ts"].dataType.simpleString()
        if ts_type == "bigint":
            # integer DIV: ts/1000 via double loses precision above 2^53 ns.
            # timestamp_micros yields TIMESTAMP (LTZ) — cast to NTZ so BOTH
            # generator encodings expose one type (schema-sensitive
            # consumers: unions, writes, the driver's schema hash; values
            # agree because the session timezone is pinned to UTC).
            return df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts DIV 1000")).cast(
                    "timestamp_ntz"
                ),
            )
        return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every driver table as a DataFrame keyed by name."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load tables and register them as temp views for spark.sql queries."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def spread_scan(df: DataFrame, key: str) -> DataFrame:
    """Spread a scan that arrives in too few partitions across one task
    wave of the session's cores. The sf corpora land as ONE parquet
    row-group, so every map-heavy stage over a raw scan
    (tokenize/shingle/codec/regex) would run as a single task however many
    cores the session has. When the plan has fewer partitions than
    min(``sparkContext.defaultParallelism``,
    ``spark.sql.shuffle.partitions``), hash-repartition it on ``key`` to
    that count right after the read: hashing places rows
    deterministically, where a random repartition would not, and wider
    than one wave would only add tasks a small scan cannot fill. A scan
    already split that wide is returned unchanged, so at cluster scale the
    exchange never exists."""
    spark = df.sparkSession
    n = min(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, key)
