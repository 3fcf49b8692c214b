r"""Splittable FASTQ source and sink (beyond the reference, which handles
BAM/CRAM/SAM/VCF only — README.md:30-38; FASTQ is the one ubiquitous
sequencing text format it leaves out, and its 4-line records make it the
canonical record-boundary-detection problem this repo's guessers solve for
BGZF/BAM: ``sources/bgzf.py:110``, ``sources/bam_codec.py:273``).

The boundary problem: a byte split lands mid-record, and a line starting
with ``@`` is EITHER a record header OR a quality line (``@`` is Phred 31,
squarely inside the valid quality alphabet).  The disambiguation rule —
used by SeqDoop/Hadoop-BAM's FastqInputFormat and proven sufficient for
4-line FASTQ — is:

    a line L is a record start  ⟺  L starts with '@' AND the line two
    below starts with '+'

A quality line starting with '@' can never satisfy this: two lines below a
quality line is the NEXT record's sequence line (nucleotides, never '+') —
or EOF.  A '+' separator line can never start with '@'.  So the rule has
zero false positives on well-formed 4-line FASTQ, and every split maps to
the unique next record boundary — each record is owned by exactly one task
(the task whose [start, end) contains its first byte), the same
exactly-once tiling contract as the BAM/BGZF guessers.

Limitations (documented, standard for splittable readers): multi-line
(wrapped) FASTQ is not splittable and is rejected; gzip input falls back
to one task per file (gzip is not splittable — same posture as the VCF
source's plain-gzip path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .fsio import get_fs
from .merger import commit, text_format

FASTQ_COLUMNS = ["name", "seq", "plus", "qual"]

_SCHEMA = StructType([StructField(c, StringType()) for c in FASTQ_COLUMNS])

# Lookahead while hunting a record boundary after a split start.  4-line
# records are bounded by read length; 1 MiB covers >100 kb reads.
_SCAN = 1 << 20
_DEFAULT_SPLIT_SIZE = 128 * 1024 * 1024


def _is_gzip(fh) -> bool:
    pos = fh.tell()
    magic = fh.read(2)
    fh.seek(pos)
    return magic == b"\x1f\x8b"


def find_record_start(fh, start: int, file_len: int) -> int:
    """Byte offset of the first record boundary at or after ``start``.

    Reads from ``start - 1`` (so a record starting exactly at ``start`` is
    seen as following a newline) and applies the '@' / '+2 lines is +' rule
    to every candidate line start in the window.  Returns ``file_len`` when
    no further record starts (split begins inside the trailing record).
    """
    if start == 0:
        return 0
    scan = _SCAN
    while True:
        fh.seek(start - 1)
        buf = fh.read(min(scan, file_len - (start - 1)))
        lines: list[int] = []  # offsets IN buf of line starts
        off = 0
        while True:
            nl = buf.find(b"\n", off)
            if nl < 0:
                break
            lines.append(nl + 1)
            off = nl + 1
        for i, lo in enumerate(lines):
            if lo >= len(buf) or not buf[lo : lo + 1] == b"@":
                continue
            # need the start of line i+2 inside the buffer to test '+'
            if i + 2 < len(lines):
                if buf[lines[i + 2] : lines[i + 2] + 1] == b"+":
                    return (start - 1) + lo
            elif (start - 1) + len(buf) < file_len:
                break  # candidate too close to window end: widen and retry
            # else: EOF inside the window — candidate has no +2 line; it is
            # a quality line of the trailing record, keep scanning
        if (start - 1) + len(buf) >= file_len:
            return file_len
        scan *= 2


def _iter_records(fh, split_start: int, split_end: int, file_len: int):
    """Yield (name, seq, plus, qual) for every record whose first byte lies
    in [split_start, split_end) — the exactly-once tiling contract."""
    rs = find_record_start(fh, split_start, file_len)
    if rs >= split_end or rs >= file_len:
        return
    fh.seek(rs)
    pos = rs  # byte offset of the next unyielded record
    lines: list[bytes] = []  # complete lines (no terminator), FIFO
    leftover = b""
    eof = False
    li = 0
    while pos < split_end:
        # keep >= 4 whole lines buffered (amortized: each chunk split once)
        while len(lines) - li < 4 and not eof:
            chunk = fh.read(_SCAN)
            if not chunk:
                eof = True
                if leftover:
                    lines.append(leftover)
                    leftover = b""
                break
            parts = (leftover + chunk).split(b"\n")
            leftover = parts.pop()
            if li:  # drop consumed prefix before extending
                lines = lines[li:]
                li = 0
            lines.extend(parts)
        if len(lines) - li == 0:
            return
        if len(lines) - li < 4:
            raise ValueError(
                f"truncated FASTQ record at byte {pos}: "
                f"{lines[li][:80]!r} (4-line records required)"
            )
        name, seq, plus, qual = lines[li], lines[li + 1], lines[li + 2], lines[li + 3]
        li += 4
        if not name.startswith(b"@") or not plus.startswith(b"+"):
            raise ValueError(
                f"malformed FASTQ record at byte {pos}: {name[:60]!r} / "
                f"{plus[:60]!r} (wrapped multi-line FASTQ is not supported)"
            )
        if len(seq) != len(qual):
            raise ValueError(
                f"FASTQ seq/qual length mismatch at byte {pos}: "
                f"{len(seq)} vs {len(qual)} for {name[:60]!r}"
            )
        yield (
            name[1:].decode("utf-8", "replace"),
            seq.decode("ascii", "replace"),
            plus[1:].decode("utf-8", "replace"),
            qual.decode("ascii", "replace"),
        )
        pos += len(name) + len(seq) + len(plus) + len(qual) + 4


class FastqSource:
    """Splittable 4-line FASTQ reader → DataFrame(name, seq, plus, qual)."""

    def read(
        self,
        spark: SparkSession,
        path: str,
        split_size: int = _DEFAULT_SPLIT_SIZE,
    ) -> DataFrame:
        from .arrow_xfer import to_dataframe
        from .fsio import collect_metadata, list_data_files

        fs = get_fs(path)
        files = list_data_files(fs, str(path))
        if not files:
            raise FileNotFoundError(f"no FASTQ data files under {path}")

        def meta_for(f: str) -> tuple[str, int, bool]:
            with fs.open_input(f) as fh:
                gz = _is_gzip(fh)
            return (f, fs.size(f), gz)

        metas = collect_metadata(spark, files, meta_for)
        ranges: list[tuple[str, int, int, bool]] = []
        for f, flen, gz in metas:
            if gz:
                # gzip: not splittable — one task owns the whole file
                ranges.append((f, 0, flen, True))
            else:
                ranges.extend(
                    (f, s, min(s + split_size, flen), False)
                    for s in range(0, flen, split_size)
                )

        def read_range(task):
            import gzip as _gzip
            import io

            p, s, e, gz = task
            with fs.open_input(p) as fh:
                if gz:
                    raw = _gzip.open(fh, "rb").read()
                    rfh = io.BytesIO(raw)
                    for rec in _iter_records(rfh, 0, len(raw), len(raw)):
                        yield dict(zip(FASTQ_COLUMNS, rec))
                else:
                    for rec in _iter_records(fh, s, e, fs.size(p)):
                        yield dict(zip(FASTQ_COLUMNS, rec))

        return to_dataframe(spark, ranges, read_range, _SCHEMA)


def to_fastq_line() -> F.Column:
    """Native reverse expression: one record → its 4 lines joined by \\n."""
    return F.concat_ws(
        "\n",
        F.concat(F.lit("@"), F.col("name")),
        F.col("seq"),
        F.concat(F.lit("+"), F.col("plus")),
        F.col("qual"),
    )


class FastqSink:
    """Single-file FASTQ writer: native expression → text parts → concat
    commit (the repo's standard headerless single-file commit path)."""

    def write(self, df: DataFrame, path: str) -> None:
        commit(df.select(to_fastq_line().alias("value")), path, text_format())


def pair_up(r1: DataFrame, r2: DataFrame) -> DataFrame:
    """Join paired-end mates on the read-name stem (``/1``/``/2`` and
    whitespace-comment suffixes stripped) — one hash shuffle per side, the
    standard mate-pairing step before alignment or pair-aware filtering."""
    stem = lambda c: F.regexp_replace(F.split_part(c, F.lit(" "), F.lit(1)), "/[12]$", "")  # noqa: E731
    a = r1.select(
        stem(F.col("name")).alias("stem"),
        F.col("name").alias("name_1"),
        F.col("seq").alias("seq_1"),
        F.col("qual").alias("qual_1"),
    )
    b = r2.select(
        stem(F.col("name")).alias("stem"),
        F.col("name").alias("name_2"),
        F.col("seq").alias("seq_2"),
        F.col("qual").alias("qual_2"),
    )
    return a.join(b, "stem", "full_outer")


_COMP_FROM = "ACGTNacgtn"
_COMP_TO = "TGCANtgcan"


def bam_to_fastq(reads: DataFrame, mate_suffix: bool = True) -> DataFrame:
    """`samtools fastq` semantics as pure codegen expressions: secondary
    (0x100) and supplementary (0x800) alignments drop; reverse-strand
    records (0x10) emit the reverse complement with the quality string
    reversed (restoring the original instrument orientation); first/last
    mates (0x40/0x80) get the classic ``/1``/``/2`` suffix.  Zero Python
    in the row path — translate + reverse stay in Tungsten, so converting
    a 100 TB BAM back to FASTQ is one map-side scan feeding
    :class:`FastqSink`."""
    primary = reads.filter(
        (F.col("flag").bitwiseAND(0x100) == 0)
        & (F.col("flag").bitwiseAND(0x800) == 0)
    )
    rev = F.col("flag").bitwiseAND(0x10) != 0
    seq = F.when(
        rev, F.reverse(F.translate(F.col("seq"), _COMP_FROM, _COMP_TO))
    ).otherwise(F.col("seq"))
    qual = F.when(rev, F.reverse(F.col("qual"))).otherwise(F.col("qual"))
    suffix = (
        F.when(F.col("flag").bitwiseAND(0x40) != 0, "/1")
        .when(F.col("flag").bitwiseAND(0x80) != 0, "/2")
        .otherwise("")
        if mate_suffix
        else F.lit("")
    )
    return primary.select(
        F.concat(F.col("qname"), suffix).alias("name"),
        seq.alias("seq"),
        F.lit("").alias("plus"),
        qual.alias("qual"),
    )


def fastq_to_reads(fq: DataFrame) -> DataFrame:
    """`samtools import` semantics: FASTQ records become UNALIGNED reads
    (reads schema) ready for any BAM/SAM/CRAM sink — flag 0x4 (unmapped)
    plus 0x1|0x40 / 0x1|0x80 for ``/1``/``/2`` mates (paired flags also
    carry mate-unmapped 0x8, matching samtools import), name suffix and
    comment stripped, no coordinates, '*' CIGAR conventions as NULLs.
    Pure codegen — a 100 TB FASTQ import is one map-side scan feeding the
    BAM sink's distributed single-file commit."""
    base = F.split_part(F.col("name"), F.lit(" "), F.lit(1))
    is_r1 = base.endswith("/1")
    is_r2 = base.endswith("/2")
    qname = F.regexp_replace(base, "/[12]$", "")
    flag = (
        F.when(is_r1, 0x1 | 0x4 | 0x8 | 0x40)
        .when(is_r2, 0x1 | 0x4 | 0x8 | 0x80)
        .otherwise(0x4)
    )
    return fq.select(
        qname.alias("qname"),
        flag.cast("int").alias("flag"),
        F.lit(None).cast("string").alias("rname"),
        F.lit(None).cast("long").alias("pos"),
        F.lit(0).alias("mapq"),
        F.lit(None).cast("string").alias("cigar"),
        F.lit(None).cast("string").alias("rnext"),
        F.lit(None).cast("long").alias("pnext"),
        F.lit(0).cast("long").alias("tlen"),
        F.col("seq"),
        F.col("qual"),
        F.create_map().cast("map<string,string>").alias("attributes"),
    )
