"""Loaders for the driver-generated TPC-H-ish testdata (TESTDATA.md).

Tables are plain parquet; ``spark.read.parquet`` gives Catalyst full pushdown
(PushedFilters + ReadSchema pruning) — the tests in ``tests/test_plans.py``
assert that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

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

# Small dimension tables that should always be broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_event_ts(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a microsecond timestamp across the two
    physical types the driver's generator has shipped:

    * TIMESTAMP(NANOS) — Spark's vectorized reader rejects it, so callers set
      ``spark.sql.legacy.parquet.nanosAsLong`` and the column arrives as a
      nanos ``long``; truncate to micros with integer ``div`` (float division
      of ~1.7e18 ns loses low bits past the 53-bit double mantissa and lands
      ±1 µs off DuckDB's exact truncation).
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) — read natively (TIMESTAMP_NTZ
      under Spark's NTZ inference); already exactly what DuckDB stores.  Cast
      to plain TIMESTAMP so downstream code sees one type: with the UTC
      session timezone the cast is value-identical, and NTZ would reject
      ``unix_micros`` and differ in ``window``/watermark typing.
    """
    if isinstance(df.schema["ts"].dataType, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for spark.sql-style access)."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def small_input_threshold() -> int:
    """The shared latency-vs-throughput crossover knob, in bytes
    (``SPARK_GRAFT_SMALL_INPUT_BYTES``, default 256 MiB).  ONE reader for
    the gate every scale-dependent decision keys on (``small_input``,
    ``cache.materialize``) so the knob's name and default can never
    silently diverge between callers."""
    import os

    return int(
        os.environ.get("SPARK_GRAFT_SMALL_INPUT_BYTES", str(256 * 1024 * 1024))
    )


def path_bytes(path: str) -> int:
    """``os.path.getsize`` with the ``table_bytes`` unknown-size contract:
    -1 when the path cannot be stat'd locally (non-local store) — callers
    treat unknown as "large" so every scale-gated decision fails safe in
    the direction of cluster scale."""
    import os

    try:
        return os.path.getsize(path)
    except OSError:
        return -1


def table_bytes(sf_dir: str, name: str) -> int:
    """On-disk size of a testdata table, or -1 when it cannot be stat'd
    locally (non-local store) — callers treat unknown as "large" so every
    scale-gated decision fails safe in the direction of cluster scale."""
    return path_bytes(f"{sf_dir}/{name}.parquet")


def small_input(sf_dir: str, name: str) -> bool:
    """True when a table sits below the small-input crossover
    (``SPARK_GRAFT_SMALL_INPUT_BYTES``, default 256 MiB) — the scale gate
    shared by every latency-vs-throughput plan decision (r13): below it a
    query's wall time is dominated by per-stage latency on mostly-idle
    cores, so fewer stages win even at the cost of re-evaluating a subtree
    or concentrating a key; above it (or when the size cannot be stat'd,
    ``table_bytes == -1``) the cluster-scale shape — persisted shared
    subtrees, skew-splittable joins — is the right one and callers must
    choose it."""
    b = table_bytes(sf_dir, name)
    return 0 <= b < small_input_threshold()


def load_wide(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a table and spread it across the cluster's cores before heavy
    per-row compute (shingling, per-k-gram hashing, signature math).

    A small input may arrive as ONE parquet row group → one task, serializing
    CPU-bound map work while the rest of the cluster idles.  The repartition
    is CONDITIONAL: it fires only when the scan yields fewer partitions than
    cores (the small-file case), so at 100 TB — where the scan naturally
    splits into thousands of partitions — it is a no-op and the plan stays
    shuffle-free.  Locally it is the difference between 1 and N cores, and
    the shuffle moves only the raw rows once, before any expansion.
    """
    n = spark.sparkContext.defaultParallelism
    df = load_table(spark, sf_dir, name)
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)
