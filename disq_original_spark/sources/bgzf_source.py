"""Distributed BGZF block enumeration — a DataFrame of every block in a file
(reference parity: `bgzf/BgzfBlockSource.java:24-89`).

Each task scans its byte range for block starts (guesser) and emits the
blocks that *start* in its range — the same exactly-once ownership rule the
text and BAM readers use, so any tiling of the file enumerates each block
exactly once."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

from .arrow_xfer import to_dataframe
from .fsio import get_fs

BLOCKS_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("pos", LongType()),
        StructField("c_size", IntegerType()),
        StructField("u_size", IntegerType()),
    ]
)


class BgzfBlockSource:
    def blocks(
        self, spark: SparkSession, path: str, split_size: int = 128 * 1024
    ) -> DataFrame:
        fs = get_fs(path)
        flen = fs.size(path)
        ranges = [(s, min(s + split_size, flen)) for s in range(0, flen, split_size)]

        def scan(task):
            from .bgzf import enumerate_blocks

            s, e = task
            with fs.open_input(path) as fh:
                for b in enumerate_blocks(fh, s, e):
                    yield {"path": path, "pos": b.pos, "c_size": b.c_size, "u_size": b.u_size}

        return to_dataframe(spark, ranges, scan, BLOCKS_SCHEMA)
