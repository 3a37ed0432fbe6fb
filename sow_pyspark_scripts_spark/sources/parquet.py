"""Parquet table source layer.

The reference reads whole relations over single-partition JDBC with
full query pushdown (reference ``sql_to_es_etl.py:76-82``,
``snowflake_to_es_etl.py:89-99``). The engine's sources are Parquet
directories; Catalyst gives predicate pushdown + column pruning to the
scan natively, so the "pushed query" becomes ordinary DataFrame ops on
top of ``read_table``.

``register_tables`` is the SQL front door (reference
``exec_temp_view_sql``, ``preprocess_and_store_parquets.py:216,226-230``):
every fixture table becomes a temp view so ``spark.sql(...)`` works
against the same names the DuckDB oracle uses.

Schema once per session: a plain ``spark.read.parquet`` infers the
schema on every call by launching a one-task Spark job that reads the
file footers (75-95 ms per read at sf0.1 on a 4-core host, several
times per query). ``read_parquet`` infers it on the first read of a
path and passes it to every later read through
``spark.read.schema(known)``, which plans the scan without a job. Only
the schema is kept, never the DataFrame: each read still builds a fresh
relation with its own attribute ids (self-joins keep working), and the
files are listed again by the scan itself, so new rows are always seen.
The cache key is what decides the inferred schema: the path's Hadoop
``FileStatus`` (length and modification time; for a directory, its
listing from one ``listStatus``) plus the session confs that change
Parquet type inference. Rewriting a table at the same path changes the
key, and the next read infers again.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

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


# Session confs that change the schema Parquet inference returns.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)
# path -> (cache key, inferred schema); one entry per path.
_schemas: dict[str, tuple[tuple, StructType]] = {}


def _schema_key(spark: SparkSession, path: str) -> tuple:
    """Hadoop file status of ``path`` (no local-FS calls, so the key
    works on HDFS/S3 paths too) plus the inference confs."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    st = fs.getFileStatus(hpath)
    if st.isDirectory():
        files = tuple(
            (f.getPath().getName(), f.getLen(), f.getModificationTime())
            for f in fs.listStatus(hpath)
        )
    else:
        files = ((st.getLen(), st.getModificationTime()),)
    return (tuple(sorted(files)), tuple(spark.conf.get(c) for c in _INFERENCE_CONFS))


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` would infer, inferred at
    most once per process (so once per session) for an unchanged path
    under unchanged inference confs."""
    key = _schema_key(spark, path)
    hit = _schemas.get(path)
    if hit is not None and hit[0] == key:
        return hit[1]
    schema = spark.read.parquet(path).schema
    _schemas[path] = (key, schema)
    return schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the per-read schema job."""
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Column pruning and filter pushdown are
    Catalyst's job — callers express plain selects/filters on the result."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # The caller's session may not have gone through our factory (e.g. the
    # driver harness): pin the correctness-bearing runtime confs here.
    # UTC matters because events.ts becomes a local-tz TIMESTAMP after the
    # nanos conversion — date_format/unix_timestamp outputs would shift
    # under a non-UTC session and break oracle parity.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # must be set before planning the scan
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = parquet_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    if name == "events" and isinstance(schema["ts"].dataType, LongType):
        # fixture written as parquet TIMESTAMP(NANOS): with
        # spark.sql.legacy.parquet.nanosAsLong it arrives as epoch-nanos
        # long — truncate to a microsecond timestamp (matches DuckDB's
        # ns->us cast).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Any TIMESTAMP_NTZ column (fixtures written with
    # isAdjustedToUTC=false) is normalized to TIMESTAMP_LTZ — NTZ rejects
    # unix_micros/to_unix_timestamp and the two types never coerce in
    # comparisons, so the engine speaks one timestamp type throughout.
    # With the session timezone pinned UTC the cast is the identity on
    # the wall-clock values the oracle sees.
    ntz = [f.name for f in schema.fields if isinstance(f.dataType, TimestampNTZType)]
    if ntz:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return df


def read_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(read_table(spark, sf_dir, n) for n in names)


def spread(df: DataFrame, n: int | None = None) -> DataFrame:
    """Round-robin repartition to engine parallelism, for use directly
    before CPU-heavy narrow stages (hashing, shingling, regex chains,
    Arrow UDFs) — SKIPPED when the input is already parallel.

    Parquet can't split below a row group, so a single-row-group input
    file pins the whole map stage to one core no matter how many
    executors exist. The reference hit the same cliff with
    single-partition JDBC reads and fixed it the same way
    (``repartition(300/120/60)`` — ``sql_to_es_etl.py:84``,
    ``preprocess_and_store_parquets.py:176``). The shuffle moves raw
    input once, cheap relative to the compute it unlocks.

    On a many-file 100 TB table the scan is already parallel and the
    shuffle would be pure overhead, so the repartition is gated, in two
    steps:

    1. If the input's optimized plan already contains a
       shuffle-inducing operator (join, aggregate, window, distinct,
       repartition, sort), its output is already laid out at the
       session's shuffle-partition count — skip. This check reads the
       LOGICAL plan only: calling ``.rdd`` here would force AQE to
       EXECUTE the upstream query stages to finalize the physical plan
       (measured: the cluster composites ran their candidate semi-join
       twice, +1-3s each, when the first version of this gate asked the
       RDD for its partition count).
    2. Otherwise (a narrow chain over a scan — the only shape the
       measured spread call sites feed) the RDD partition count is
       planning-only and cheap: skip when it is already at or above
       half the target."""
    import re

    target = n or df.sparkSession.sparkContext.defaultParallelism
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        if re.search(
            r"\b(Join|Aggregate|Window|Deduplicate|"
            r"RepartitionByExpression)\b|\bRepartition \d+, true\b"
            r"|\bSort \[.*\], true\b",
            plan,
        ):
            return df
        if df.rdd.getNumPartitions() * 2 >= target:
            return df
    except Exception:  # noqa: BLE001 — unplannable input: spread anyway
        pass
    return df.repartition(target)


def register_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Create temp views for SQL-entry queries (`spark.sql` front door)."""
    for n in names:
        read_table(spark, sf_dir, n).createOrReplaceTempView(n)
