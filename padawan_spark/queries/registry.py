"""Query registry: named (spark_fn, oracle_sql) pairs.

This is the engine's user-facing query surface and the driver's
correctness gate.  Every query is registered with a DuckDB-runnable
ANSI-SQL oracle unless it is genuinely non-SQL-expressible (those are
registered with ``oracle=None`` and get a weaker rows-only check).

Cross-engine float determinism
------------------------------
The driver hash-compares values, so Spark and DuckDB must produce
*bit-identical* numbers.  Per-row IEEE double arithmetic (+,-,*,/,sqrt)
is deterministic across engines; **aggregation order is not**.  Policy:

- per-row expressions: plain double math, identical on both sides;
- SUM/AVG: cast the per-row value to an exact DECIMAL before summing
  (decimal addition is associative → order-independent), cast the exact
  result back to DOUBLE.  :func:`dsum` / :func:`davg` build the Spark
  side; write the oracle as ``CAST(SUM(CAST(x AS DECIMAL(18,6))) AS
  DOUBLE)`` / ``... / COUNT(*)``;
- MIN/MAX/COUNT: natively order-independent, use as-is;
- screen in double, decide in exact decimal within a proven bound: a
  comparison of exact sums (an argmin over distances) may be decided
  from double sums when their gap exceeds a derived bound on the
  double-vs-decimal error, and must fall back to the exact decimal sums
  otherwise, or when a double is null or non-finite.  The result is then
  the exact one, bit for bit (``similarity._km_assign`` derives its
  bound next to the constants);
- never put transcendentals (exp/log/pow) into hashed outputs without
  coarse rounding — their libm implementations differ.
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def query(name: str, oracle: str | None = None):
    """Register a query.  ``oracle`` is DuckDB SQL over the pre-registered
    table views; None → rows-only check (non-SQL-expressible)."""
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn
    return deco


def ensure_session_conf(spark: SparkSession) -> None:
    """Runtime-settable confs the queries depend on, applied defensively in
    case the caller (e.g. the driver) built the session without our factory:
    UTC session timezone (timestamp values must collect identically to the
    DuckDB oracle), nanos-as-long (the events table stores TIMESTAMP(NANOS),
    which the parquet reader otherwise rejects), and AQE."""
    for k, v in (("spark.sql.session.timeZone", "UTC"),
                 ("spark.sql.legacy.parquet.nanosAsLong", "true"),
                 ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
                 ("spark.sql.adaptive.enabled", "true")):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this deployment; keep going


def load(spark: SparkSession, sf_dir: str, name: str,
         wide: bool = False) -> DataFrame:
    """Read one testdata table.  ``wide=True`` routes through
    :func:`spread` — use it whenever the query chains expensive per-row
    compute (shingling, hashing, regex, vector math, Pandas UDFs)
    directly onto the scan, so a single-row-group file doesn't serialize
    the whole pipeline onto one task."""
    ensure_session_conf(spark)
    path = f"{sf_dir}/{name}.parquet"
    reader = spark.read
    schema = footer_schema(spark, path)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.parquet(path)
    if name == "events":
        # ts type is generation-dependent: TIMESTAMP(NANOS) reads as long
        # (nanosAsLong) and truncates to microseconds matching DuckDB's
        # ns→µs truncation; plain micros with NTZ inference active reads as
        # TIMESTAMP_NTZ and is cast to session-tz TIMESTAMP (UTC — identical
        # wall-clock values, uniform downstream arithmetic).
        from pyspark.sql.types import LongType, TimestampNTZType
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(df.schema["ts"].dataType, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spread(df) if wide else df


def footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema Spark infers for the parquet file ``path``, read from
    its footer on the driver: Spark's own footer conversion
    (``ParquetFileFormat.readSchemaFromFooter``) under the session's SQL
    conf, so nanos-as-long and NTZ inference apply exactly as in
    inference, but without the one-task job inference launches.  None
    when ``path`` is not a single file: a directory of parts, or a
    missing path, is left to Spark's own inference and errors.  Reads
    the footer on every call: a cached schema would outlive a rewrite of
    the file or a conf change."""
    jvm = spark._jvm
    state = spark._jsparkSession.sessionState()
    hconf = state.newHadoopConf()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    if not hpath.getFileSystem(hconf).isFile(hpath):
        return None
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    meta = pq.ParquetFooterReader.readFooter(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            hpath, hconf),
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter
        .SKIP_ROW_GROUPS)
    schema = pq.ParquetFileFormat.readSchemaFromFooter(
        jvm.org.apache.parquet.hadoop.Footer(hpath, meta),
        pq.ParquetToSparkSchemaConverter(state.conf()))
    return StructType.fromJson(json.loads(schema.json()))


def spread(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Decouple compute parallelism from scan parallelism.

    A single-row-group parquet file scans as ONE task, and any per-row
    compute chained onto the scan (shingling, hashing, regex, feature
    UDFs) inherits that serialism — a 32× loss on this box regardless of
    engine.  For *small inputs with expensive per-row pipelines* (the
    documents/embeddings tables feeding dedup/text/multimodal), one
    cheap shuffle of the raw rows buys full-width compute.  Do NOT use
    on large scan-bound inputs (lineitem aggregates): there the shuffle
    costs more than it saves — and on a healthy multi-file layout this
    is a no-op."""
    sc = df.sparkSession.sparkContext
    n = min_parts or sc.defaultParallelism
    return df.repartition(n) if df.rdd.getNumPartitions() < n else df


# ---- cross-engine-deterministic aggregate builders -----------------------

DEC = "decimal(18,6)"


def dsum(col, name: str):
    """Order-independent SUM of a double expression (exact decimal inside)."""
    return F.sum(col.cast(DEC)).cast("double").alias(name)


def davg(col, name: str):
    """SUM(decimal)/COUNT(*) — deterministic AVG over non-null doubles."""
    return (F.sum(col.cast(DEC)).cast("double") / F.count(F.lit(1))).alias(name)


def sql_dsum(expr: str, name: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE) AS {name}"


def sql_davg(expr: str, name: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS {name}"
