"""FASTA reference source: windowed sequence chunks as a DataFrame.

The engine already consumes .fai-indexed FASTA internally (CRAM
reference-based decode, `cram_codec.IndexedFasta`); this source makes the
reference itself queryable — the input of GC-content profiling, motif
scans, k-mer statistics and liftover-style region ops.

Planning is O(contigs) driver work: only the ``.fai`` (name, length, byte
offset, bases/line, bytes/line) is read up front, contigs split into
window-aligned task ranges sized by ``split_windows``.  Each task then
RANGE-reads exactly its own byte span from the FASTA through fsio (so
s3/gs/mock schemes work) and strips newlines positionally — no task reads a
whole contig, no driver reads any sequence.  Rows cross to the JVM as Arrow
batches (`arrow_xfer.to_dataframe`).

Coordinates are 1-based closed (htsjdk Locatable convention, like every
other source here).  Without a ``.fai`` the reader falls back to
`IndexedFasta`'s in-memory parse (small references only — the fixture
scale), keeping behavior identical.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .arrow_xfer import to_dataframe
from .cram_codec import IndexedFasta

FASTA_SCHEMA = StructType(
    [
        StructField("contig", StringType()),
        StructField("w_start", LongType()),
        StructField("w_end", LongType()),
        StructField("seq", StringType()),
    ]
)


@dataclass(frozen=True)
class _FastaTask:
    path: str
    contig: str
    length: int
    offset: int  # byte offset of the contig's first base (.fai)
    line_bases: int
    line_width: int
    first_window: int  # 0-based window index range [first, last)
    last_window: int
    window: int
    overlap: int  # extra lookahead bases per row (k-mer tiling)
    in_memory: bool  # no .fai: decode via IndexedFasta instead of range IO


def _read_span(task: _FastaTask, start0: int, end0: int) -> str:
    """Bases [start0, end0) of the contig (0-based half-open), newline-free,
    via one contiguous byte-range read."""
    from .fsio import fs_open

    lb, lw = task.line_bases, task.line_width
    byte_lo = task.offset + (start0 // lb) * lw + (start0 % lb)
    last = end0 - 1
    byte_hi = task.offset + (last // lb) * lw + (last % lb) + 1
    with fs_open(task.path) as fh:
        fh.seek(byte_lo)
        raw = fh.read(byte_hi - byte_lo)
    seq = raw.decode("ascii").replace("\n", "").replace("\r", "").upper()
    # fail loud on a lying .fai (stale index, truncated FASTA): silence here
    # would emit short windows that downstream k-mer/GC stats consume as
    # real sequence
    if len(seq) != end0 - start0:
        raise ValueError(
            f"FASTA {task.path} contig {task.contig}: .fai declares bases "
            f"[{start0}, {end0}) but the file yielded {len(seq)} bases — "
            "stale or corrupt .fai / truncated FASTA"
        )
    return seq


def _task_rows(task: _FastaTask):
    span_end = min(task.length, task.last_window * task.window + task.overlap)
    if task.in_memory:
        fa = IndexedFasta(task.path)
        seq = fa.get(fa.names().index(task.contig)).decode("ascii").upper()
        span = seq[task.first_window * task.window : span_end]
    else:
        span = _read_span(task, task.first_window * task.window, span_end)
    for wi in range(task.first_window, task.last_window):
        lo = (wi - task.first_window) * task.window
        chunk = span[lo : lo + task.window + task.overlap]
        if lo >= len(span) or not chunk:
            break
        yield {
            "contig": task.contig,
            "w_start": wi * task.window + 1,
            "w_end": wi * task.window + len(chunk),
            "seq": chunk,
        }


class FastaSource:
    def read(
        self,
        spark: SparkSession,
        path: str,
        window: int = 1000,
        split_windows: int = 4096,
        overlap: int = 0,
    ) -> DataFrame:
        """(contig, w_start, w_end, seq): the reference cut into fixed
        windows (the last window of each contig is short).  ``split_windows``
        windows per task bound task IO to window × split_windows bytes.

        ``overlap`` appends that many lookahead bases to every row (so
        ``seq`` spans up to window+overlap bases and rows overlap their
        successor) — the exactly-once k-mer tiling shape: extracting only
        k-mers whose START lies in the first ``window`` bases of each row
        covers every k-mer of the contig exactly once, including those
        crossing window AND task boundaries (the same tiling contract the
        BGZF line reader uses for records)."""
        from .fsio import fs_exists, fs_read_bytes

        path = str(path)
        fai = path + ".fai"
        entries: list[tuple[str, int, int, int, int]] = []
        in_memory = not fs_exists(fai)
        if in_memory:
            entries = [(n, ln, off, lb, lw) for n, ln, off, lb, lw in IndexedFasta(path).index]
        else:
            for line in fs_read_bytes(fai).decode().splitlines():
                name, ln, off, lb, lw = line.split("\t")[:5]
                entries.append((name, int(ln), int(off), int(lb), int(lw)))
        tasks: list[_FastaTask] = []
        for name, ln, off, lb, lw in entries:
            n_windows = (ln + window - 1) // window
            for first in range(0, max(n_windows, 1), split_windows):
                tasks.append(
                    _FastaTask(
                        path=path,
                        contig=name,
                        length=ln,
                        offset=off,
                        line_bases=max(lb, 1),
                        line_width=max(lw, 1),
                        first_window=first,
                        last_window=min(first + split_windows, n_windows),
                        window=window,
                        overlap=overlap,
                        in_memory=in_memory,
                    )
                )
        return to_dataframe(spark, tasks, _task_rows, FASTA_SCHEMA)
