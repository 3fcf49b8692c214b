"""Arrow transfer plane for the Python-decoded sources (BAM / CRAM / VCF).

``spark.createDataFrame(rdd_of_rows)`` pickles every row across the
Python→JVM boundary; profiling the BAM path showed ~5% decode / ~95%
serialization.  ``mapInPandas`` ships columnar Arrow batches instead, which
removes nearly all of that cost while keeping the decode code unchanged.

Shape: the task list (split/range descriptors) becomes a one-row-per-
partition DataFrame — ``parallelize(n, n)`` preserves list order and
``mapInPandas`` preserves partitioning, so the file-order contract of the
sources (SURVEY §2.6) survives the transfer plane.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_ARROW_BATCH = 8192  # rows per Arrow batch handed to the JVM


def rows_to_dataframe(
    spark: SparkSession,
    tasks: Sequence,
    row_iter_fn: Callable[..., Iterable[dict]],
    columns: Sequence[str],
    schema: StructType | str,
) -> DataFrame:
    """Run ``row_iter_fn(task)`` per task on executors and return its dict
    rows as a DataFrame via Arrow batches.  ``tasks`` must be picklable and
    small (they ride in the closure); one task per partition."""
    tasks = list(tasks)
    cols = list(columns)

    def gen(batches) -> Iterator:
        import pandas as pd

        def to_pdf(buf: list[dict]) -> pd.DataFrame:
            # dict-of-lists: pandas ingests each column as one array instead
            # of walking keys per row
            return pd.DataFrame({c: [r[c] for r in buf] for c in cols})

        for pdf in batches:
            for (i,) in pdf.itertuples(index=False):
                buf: list[dict] = []
                for row in row_iter_fn(tasks[i]):
                    buf.append(row)
                    if len(buf) == _ARROW_BATCH:
                        yield to_pdf(buf)
                        buf = []
                if buf:
                    yield to_pdf(buf)

    n = max(1, len(tasks))
    idx = spark.createDataFrame(
        spark.sparkContext.parallelize([(i,) for i in range(len(tasks))], n),
        "i int",
    )
    return idx.mapInPandas(gen, schema)

