"""Loaders for the driver-generated TPC-H-ish testdata (TESTDATA.md).

Tables are plain parquet, read through ``DataFrameReader.parquet`` so
Catalyst keeps full pushdown (PushedFilters + ReadSchema pruning); the tests
in ``tests/test_plans.py`` assert that.

Load contract (:func:`load_table`, :func:`parquet_schema`): a read without a
schema makes Spark infer one, and for parquet that inference is a one-task
Spark job reading the footer.  Every table's record type is fixed, so this
module infers each file's schema once per process and hands Spark its own
answer on every later load:

- **What is cached**: the ``StructType`` Spark's own first read of the file
  returned, never one derived from a pyarrow footer, so the NTZ inference and
  the nanos-as-long mapping stay exactly Spark's.  A cached load is the same
  reader call with ``.schema(cached)``, and it runs no job.
- **Key**: the path, the file's ``st_size`` and ``st_mtime_ns``, and the
  session values of the SQL confs the parquet schema converter reads
  (:data:`_SCHEMA_CONFS` and ``nanosAsLong``).  A rewritten file or a
  toggled conf is inferred again, with one exception: Spark refuses a
  TIMESTAMP(NANOS) column unless ``nanosAsLong`` is on, and the conf changes
  no other type, so a schema inferred with it off still holds once the
  ``events`` loader turns it on.  One entry is kept per path and replaced
  when its key changes, so the cache is bounded by the number of distinct
  files.
- **Fallback**: a path that is not a regular local file (a directory, a
  non-local store, anything ``os.stat`` cannot read) is inferred on every
  load, exactly as a plain ``spark.read.parquet`` would.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

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

# The SQL confs Spark's parquet-to-Spark schema converter reads: a change to
# any of them changes the inferred type of some column.
_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
_SCHEMA_CONFS = (
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)

# path -> (key, nanosAsLong at inference, Spark's inferred schema of the file)
_SCHEMAS: dict[str, tuple[tuple, str, StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, passing the schema Spark inferred for
    the same file, size, mtime and schema confs earlier in this process."""
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (st.st_size, st.st_mtime_ns, *(spark.conf.get(c) for c in _SCHEMA_CONFS))
    nanos = spark.conf.get(_NANOS_AS_LONG)
    hit = _SCHEMAS.get(path)
    # a schema inferred with nanosAsLong off holds with it on (see above)
    if hit is not None and hit[0] == key and hit[1] in (nanos, "false"):
        return spark.read.schema(hit[2]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (key, nanos, df.schema)
    return df


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """Spark's schema of a parquet path, inferred once per file (see the
    module docstring for the key and the fallback)."""
    return _read_parquet(spark, path).schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set(_NANOS_AS_LONG, "true")
        return normalize_event_ts(_read_parquet(spark, path))
    return _read_parquet(spark, path)


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
    return int(
        os.environ.get("SPARK_GRAFT_SMALL_INPUT_BYTES", str(256 * 1024 * 1024))
    )


def path_bytes(path: str) -> int:
    """``os.path.getsize`` with the ``table_bytes`` unknown-size contract:
    -1 when the path cannot be stat'd locally (non-local store) — callers
    treat unknown as "large" so every scale-gated decision fails safe in
    the direction of cluster scale."""
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
