"""The read plane of the Python-decoded sources (BAM, CRAM, VCF, BCF, FASTQ,
FASTA, BGZF blocks): one task seeder and one batch builder.

A source plans a list of small picklable *tasks* (split or range
descriptors) on the driver and supplies ``task_rows(task)``, which decodes
one task into dict rows on an executor.  Everything between the decoder and
the JVM lives here:

- **Seed.** ``to_dataframe`` seeds with ``spark.range(0, n, 1, n)``: the
  JVM range splits ``[0, n)`` evenly over ``n`` partitions, so partition
  *i* holds the single id *i* and runs ``tasks[i]``.  ``mapInArrow`` keeps
  the partitioning, so rows come back in task order — file order for a
  planner that lists tasks in file order (the file-order contract, SURVEY
  §2.6).  The seed is a JVM leaf: no Python RDD, no pickled rows.
- **Batches.** ``record_batches`` turns dict rows into ``pa.RecordBatch``
  es of ``_ARROW_BATCH`` rows, with column names and Arrow types taken from
  the Spark schema through ``to_arrow_schema``.  ``mapInArrow`` does not
  cast, so a batch whose types differ from the declared schema (an
  ``int64`` column declared ``int``) fails; building from the schema rules
  that out.  No pandas on the way.

The ``format("bam")`` / ``format("cram")`` DataSource facade
(``datasource.py``) runs the same plan and yields the same batches from its
``read()``, but Spark plans a Python DataSource in extra Python workers
(schema, then partitions) before the first task.  A count over 4 tasks
with no rows takes 0.70 s through a facade and 0.27 s through
``to_dataframe`` on a ``session.get_spark`` session (medians of 11,
``local[4]`` on a 4-core VM; 0.90 s and 0.46 s under PySpark's stock
worker daemon, which re-reads its zip directories before every task), so
the storage API (``ReadsStorage``, ``BamSource.read``) is the fast path.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

_ARROW_BATCH = 8192  # rows per Arrow batch handed to the JVM


def pruned_schema(schema: StructType, fields) -> StructType:
    """``schema`` cut to the names in ``fields`` (None keeps it whole), in
    ``schema``'s order."""
    if fields is None:
        return schema
    return StructType([f for f in schema.fields if f.name in fields])


def record_batches(rows: Iterable[dict], schema: StructType) -> Iterator[pa.RecordBatch]:
    """Arrow batches of ``schema``'s columns from dict rows; keys outside
    ``schema`` (fields decoded for internal use) are left out."""
    arrow = to_arrow_schema(schema)
    cols = schema.names

    def batch(buf: list[dict]) -> pa.RecordBatch:
        return pa.RecordBatch.from_pydict({c: [r[c] for r in buf] for c in cols}, schema=arrow)

    buf: list[dict] = []
    for row in rows:
        buf.append(row)
        if len(buf) == _ARROW_BATCH:
            yield batch(buf)
            buf = []
    if buf:
        yield batch(buf)


def to_dataframe(
    spark: SparkSession,
    tasks: Sequence,
    task_rows: Callable[..., Iterable[dict]],
    schema: StructType,
) -> DataFrame:
    """Run ``task_rows(task)`` per task on executors, one task per
    partition, and return the rows as a DataFrame of ``schema``.  ``tasks``
    ride in the closure, so they must be small and picklable; an empty list
    gives an empty frame of ``schema``."""
    tasks = list(tasks)

    def run(seeds: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for seed in seeds:
            for i in seed.column(0).to_pylist():
                yield from record_batches(task_rows(tasks[i]), schema)

    n = len(tasks)
    return spark.range(0, n, 1, max(n, 1)).mapInArrow(run, schema)
