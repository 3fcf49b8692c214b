"""BAM source/sink, Spark-first.

Read plan (reference lifecycle, SURVEY §3.1): driver reads the header and the
``.sbi`` index if present; byte-range splits are planned driver-side; each
task maps its range to a record-aligned virtual-offset chunk — via the SBI
(the reference's *intended* fast path, fixing its dead-code bug at
`bam/BamSource.java:74-92`) or the record guesser (`bam/BamSource.java:96-158`)
— then decodes records with the pure-Python codec.  Chunks tile exactly:
a record belongs to the split whose byte range contains its BGZF block start.

Write: executors encode BGZF parts without terminator; the shared commit
(``merger``) adds the header block + EOF block and concatenates (reference
`bam/BamSink.java:27-70`).

Scale note: per-record decode is Python, embarrassingly parallel across
chunks; rows reach the JVM as columnar Arrow batches (`arrow_xfer`), which
profiling showed is the lever that matters — the pickled-row path spent
~95% of task time on serialization, Arrow brings the end-to-end rate to
within ~2.5× of the raw single-core codec speed.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from ..operators.interval import READ_SPAN_FIELDS, collect_intervals, read_keeper
from .bam_codec import (
    BamRecordGuesser,
    MAX_READ_SIZE,
    SbiIndex,
    encode_bam_header,
    encode_record,
    parse_record,
)
from .bgzf import (
    EMPTY_GZIP_BLOCK,
    BgzfBlock,
    BgzfReader,
    compress_blocks,
    decompress_block,
    find_next_block,
    make_virtual_offset,
    read_block_header,
    warn_if_missing_terminator,
    write_bgzf_part,
)
from .fsio import (
    METADATA_JOB_THRESHOLD,
    FileSystem,
    collect_metadata,
    fs_open,
    fs_size,
    fs_write_bytes,
    get_fs,
    list_data_files,
)
from .headers import SamHeader, read_bam_header
from .merger import PartFormat, commit, commit_sharded, part_bases
from .sam import READS_COLUMNS, validate_columns
from .tabix import clip_ranges, index_chunks, merge_ranges

READS_SCHEMA = StructType(
    [
        StructField("qname", StringType()),
        StructField("flag", IntegerType()),
        StructField("rname", StringType()),
        StructField("pos", LongType()),
        StructField("mapq", IntegerType()),
        StructField("cigar", StringType()),
        StructField("rnext", StringType()),
        StructField("pnext", LongType()),
        StructField("tlen", LongType()),
        StructField("seq", StringType()),
        StructField("qual", StringType()),
        StructField("attributes", MapType(StringType(), StringType())),
    ]
)


def _find_first_record_voffset(fh, start: int, end: int, n_ref: int) -> int | None:
    """Heuristic boundary search: for each BGZF block starting in
    [start, end), try every uncompressed offset until the guesser confirms a
    record start (bounded by MAX_READ_SIZE examined bytes)."""
    guesser = BamRecordGuesser(n_ref)
    examined = 0
    block = find_next_block(fh, start, end)
    while block is not None and block.pos < end and examined < MAX_READ_SIZE:
        # window: this block + enough following data for 10 records
        window = bytearray()
        reader = BgzfReader(fh)
        reader.seek_virtual(make_virtual_offset(block.pos, 0))
        window.extend(reader.read(1 << 20))
        # a short read means the window reaches end-of-file: candidate
        # records must then tile the remaining bytes exactly
        window_at_eof = len(window) < (1 << 20)
        for uoff in range(min(block.u_size, len(window))):
            if guesser.is_record_start(window, uoff, at_eof=window_at_eof):
                return make_virtual_offset(block.pos, uoff)
            examined += 1
            if examined >= MAX_READ_SIZE:
                return None
        nxt = block.end
        hdr_fh_end = _file_len(fh)
        if nxt >= hdr_fh_end or nxt >= end:
            return None
        blk = _block_at(fh, nxt)
        if blk is None:
            return None
        block = blk
    return None


def _file_len(fh) -> int:
    fh.seek(0, 2)
    return fh.tell()


def _block_at(fh, pos: int) -> BgzfBlock | None:
    hdr = read_block_header(fh, pos)
    if hdr is None:
        return None
    return BgzfBlock(pos, hdr[0], hdr[1])


_TRIM_BYTES = 1 << 22  # drop consumed uncompressed prefix past this size


def _read_records_in_chunk(
    path: str,
    vstart: int,
    vend: int,
    ref_names: list[str],
    fs: FileSystem | None = None,
    with_voffsets: bool = False,
    fields: frozenset[str] | None = None,
):
    """Yield reads-schema rows for records whose start voffset is in
    [vstart, vend).

    Blocks are inflated once into a contiguous buffer and records parsed by
    offset — no per-record stream reads (the previous two-``read()``-calls-
    per-record form spent more time in buffer bookkeeping than in the actual
    decode).  A base table maps buffer offsets back to virtual offsets for
    the ``vend`` bound; the consumed prefix is trimmed at block granularity
    so memory stays bounded by a few blocks, not the chunk."""
    from .bam_codec import FIXED_RECORD_BYTES

    if fs is None:
        fs = get_fs(path)
    c0 = vstart >> 16
    # readahead on remote filesystems (no-op wrapper locally): the block
    # loop below reads strictly forward, so the next 4 MB downloads on a
    # background thread while this one inflates
    from .fsio import open_prefetched

    with open_prefetched(fs, path) as fh:
        fh.seek(0, 2)
        flen = fh.tell()
        if c0 >= flen > 0:
            # defense-in-depth only: split planning tiles [0, flen) and
            # index ranges are validated against flen at PLANNING time
            # (plan_file_meta), so this cannot fire from those paths — it
            # guards direct _read_records_in_chunk callers against a
            # chunk beyond end-of-file ever yielding nothing silently
            raise ValueError(
                f"{path}: chunk start voffset {vstart:#x} (compressed "
                f"offset {c0}) is at/past end-of-file ({flen}) — "
                "truncated BAM or stale index"
            )
        buf = bytearray()
        bases: list[tuple[int, int]] = []  # (buffer offset of block start, cpos)
        next_cpos = c0
        bi = 0

        def load_next_block() -> bool:
            nonlocal next_cpos
            if next_cpos >= flen:
                return False
            hdr = read_block_header(fh, next_cpos)
            if hdr is None:
                return False
            c_size, u_size = hdr
            data = decompress_block(fh, BgzfBlock(next_cpos, c_size, u_size))
            bases.append((len(buf), next_cpos))
            buf.extend(data)
            next_cpos += c_size
            return True

        if not load_next_block():
            return
        o = vstart & 0xFFFF
        while True:
            while o + 4 > len(buf):
                if not load_next_block():
                    if o == len(buf):
                        # clean end: chunk ends exactly on a boundary — but a
                        # BAM truncated at a block boundary looks identical,
                        # so when this chunk reaches end-of-file, require the
                        # 28-byte BGZF EOF terminator (htsjdk warns/errors on
                        # a missing terminator; lenient here: warn)
                        if next_cpos >= flen:
                            warn_if_missing_terminator(fh, flen, path)
                        return
                    raise ValueError(
                        f"{path}: truncated BAM record header at EOF "
                        f"({len(buf) - o} trailing bytes)"
                    )
            (block_size,) = struct.unpack_from("<i", buf, o)
            if block_size < FIXED_RECORD_BYTES:
                raise ValueError(
                    f"{path}: corrupt BAM record (block_size={block_size})"
                )
            while o + 4 + block_size > len(buf):
                if not load_next_block():
                    raise ValueError(
                        f"{path}: truncated BAM record body at EOF "
                        f"(need {block_size} bytes)"
                    )
            while bi + 1 < len(bases) and bases[bi + 1][0] <= o:
                bi += 1
            v = (bases[bi][1] << 16) | (o - bases[bi][0])
            if v >= vend:
                return
            parsed = parse_record(buf, o, ref_names, fields)
            if parsed is None:
                return
            yield (parsed[0], v) if with_voffsets else parsed[0]
            o = parsed[1]
            if bases[bi][0] > _TRIM_BYTES:
                cut = bases[bi][0]
                del buf[:cut]
                bases = [(b - cut, c) for b, c in bases[bi:]]
                o -= cut
                bi = 0


#: sentinel: "compute this file's first-record voffset in the task" — the
#: driver reads ONE header per directory (the reference's same-header
#: contract, `HtsjdkReadsRddStorage.java:150-156`); other files resolve
#: their own header end lazily, one small read per task instead of O(files)
#: serial driver IO.
LAZY_FIRST_VOFFSET = -1


def _qname_before(
    path: str,
    fs: FileSystem,
    vstart: int,
    n_ref: int,
    ref_names: list[str],
    first_voffset: int,
) -> str | None:
    """qname of the record immediately preceding ``vstart`` (None at the
    first record).  Finds a record-aligned start in a widening lookback
    window (a BGZF block is ≤ 64 KiB compressed, so one block of lookback
    usually suffices) and decodes forward to ``vstart``."""
    if vstart <= first_voffset:
        return None
    target_c = vstart >> 16
    first_c = first_voffset >> 16
    lookback = 1 << 17
    while True:
        probe = max(first_c, target_c - lookback)
        if probe <= first_c:
            v0 = first_voffset
        else:
            with fs.open_input(path) as fh:
                v0 = _find_first_record_voffset(fh, probe, target_c + 1, n_ref)
        if v0 is not None and v0 < vstart:
            last = None
            for row in _read_records_in_chunk(path, v0, vstart, ref_names, fs):
                last = row
            if last is not None:
                return last["qname"]
        if probe <= first_c:
            return None
        lookback *= 2


def records_for_split(
    path: str,
    start: int,
    end: int,
    ref_names: list[str],
    n_ref: int,
    first_voffset: int,
    sbi_offsets: tuple[int, ...] | None,
    bai_ranges: list[tuple[int, int]] | None = None,
    fs: FileSystem | None = None,
    group_by_qname: bool = False,
    fields: frozenset[str] | None = None,
):
    """Yield reads-schema rows for the byte-range split [start, end): map the
    range to a record-aligned virtual-offset chunk (SBI fast path, else
    boundary guesser), then decode.  ``bai_ranges`` (interval pushdown)
    restricts decoding to the chunk ∩ index-range intersections — the
    reference's removeContentsBefore/After span intersection.  Shared by the
    RDD facade and the Python DataSource.

    ``group_by_qname`` (queryname-sorted inputs) enforces the reference's
    documented-but-unimplemented guarantee (README.md:155-159): paired
    reads never straddle partitions.  Ownership moves from records to qname
    GROUPS — a group belongs to the split containing its first record — so
    each split skips leading records belonging to its predecessor's final
    group and decodes past its end through the tail of its own final group.
    Any tiling still yields every record exactly once."""
    if fs is None:
        fs = get_fs(path)
    if first_voffset == LAZY_FIRST_VOFFSET and (sbi_offsets is None or group_by_qname):
        _header, _refs, first_voffset = read_bam_header(path)
    if sbi_offsets is not None:
        idx = SbiIndex(0, b"", b"", 0, 0, sbi_offsets)
        chunk = idx.chunk_for_split(start, end)
        if chunk is None:
            return
        vstart, vend = chunk
    else:
        first_c = first_voffset >> 16
        if end <= first_c:
            return
        with fs.open_input(path) as fh:
            if start <= first_c:
                vstart = first_voffset
            else:
                found = _find_first_record_voffset(fh, start, end, n_ref)
                if found is None:
                    return
                vstart = found
        vend = end << 16
    if group_by_qname:
        prev_q = _qname_before(path, fs, vstart, n_ref, ref_names, first_voffset)
        in_head = prev_q is not None
        last_q: str | None = None
        for row, v in _read_records_in_chunk(
            path, vstart, 1 << 62, ref_names, fs, with_voffsets=True, fields=fields
        ):
            q = row["qname"]
            if in_head:
                if q == prev_q:
                    continue  # predecessor split owns its final group's tail
                in_head = False
            if v < vend:
                yield row
                last_q = q
            elif last_q is not None and q == last_q:
                yield row  # tail of our final group, past the byte boundary
            else:
                return
        return
    if bai_ranges is None:
        yield from _read_records_in_chunk(path, vstart, vend, ref_names, fs, fields=fields)
        return
    for lo, hi in clip_ranges(vstart, vend, bai_ranges):
        yield from _read_records_in_chunk(path, lo, hi, ref_names, fs, fields=fields)


def plan_read(
    spark: SparkSession | None,
    path: str,
    iv_rows: list[tuple[str, int, int]] | None = None,
    include_unplaced: bool = False,
    split_size: int = 128 * 1024 * 1024,
    use_sbi: bool = True,
    fields: frozenset[str] | None = None,
) -> tuple[list[tuple[int, int, int]], Callable[[tuple], Iterator[dict]]]:
    """The BAM read plan, ``(tasks, task_rows)`` for the read plane
    (``arrow_xfer``): one ``(file index, start, end)`` task per byte-range
    split, in file order; ``task_rows(task)`` decodes one split
    (``records_for_split``) to rows with ``fields``.  ``BamSource.read``
    and ``format("bam")`` both read through it (``spark=None`` plans
    serially).

    ``iv_rows`` ((contig, start, end) rows) push down to the ``.bai``/``.csi``;
    a file no index range meets gets no task.  With ``iv_rows`` or
    ``include_unplaced`` each task keeps only the reads the traversal
    selects (``interval.read_keeper``: exact overlap, plus the
    unplaced-unmapped reads), decoding the span fields for the test even
    when ``fields`` leaves them out.  A queryname-sorted header switches
    record ownership to qname groups, so paired reads never straddle
    partitions (the reference's README.md:155-159 guarantee); the group
    test decodes ``qname`` even when ``fields`` leaves it out.  Rows may
    carry such internal fields; the read plane's schema leaves them out."""
    fs = get_fs(path)
    files = _expand_files(path, fs)
    # ONE driver header read per input — directory files share a header
    # by contract (`HtsjdkReadsRddStorage.java:150-156`); per-file
    # metadata (size, indexes) is collected in a Spark job when the file
    # count is large, so driver planning stays O(1) in files.
    header, refs, first_voffset0 = read_bam_header(files[0])
    ref_names = [r[0] for r in refs]
    n_ref = len(refs)
    ivs = None
    if iv_rows is not None and not include_unplaced:
        # .bai pushdown: unplaced reads sit outside every bin, so
        # include_unplaced scans the whole file
        ivs = (iv_rows, ref_names)
    by_qname = header.sort_order == "queryname"
    if by_qname and fields is not None:
        fields = fields | {"qname"}
    keep = read_keeper(iv_rows, include_unplaced)
    if keep is not None and fields is not None:
        fields = fields | READ_SPAN_FIELDS
    tasks: list[tuple[int, int, int]] = []
    file_params: list[tuple] = []
    for i, (f, flen, sbi_offsets, bai_ranges) in enumerate(
        _collect_file_metadata(spark, files, fs, use_sbi, ivs)
    ):
        if bai_ranges is not None and not bai_ranges:
            continue  # no index range meets the intervals: nothing to read
        first_voffset = first_voffset0 if i == 0 else LAZY_FIRST_VOFFSET
        fi = len(file_params)
        file_params.append((f, first_voffset, sbi_offsets, bai_ranges))
        tasks.extend((fi, s, min(s + split_size, flen)) for s in range(0, flen, split_size))

    def task_rows(task):
        fi, s, e = task
        f, fv, sbi, bai = file_params[fi]
        rows = records_for_split(
            f, s, e, ref_names, n_ref, fv, sbi, bai, fs, group_by_qname=by_qname, fields=fields
        )
        return rows if keep is None else filter(keep, rows)

    return tasks, task_rows


class BamSource:
    """Read BAM files into a reads DataFrame (splittable, index-aware)."""

    def read_header(self, path: str) -> SamHeader:
        header, refs, _ = read_bam_header(path)
        return header

    def read(
        self,
        spark: SparkSession,
        path: str,
        intervals: DataFrame | None = None,
        include_unplaced: bool = False,
        split_size: int = 128 * 1024 * 1024,
        use_sbi: bool = True,
        columns: Sequence[str] | None = None,
    ) -> DataFrame:
        """``intervals`` (a (contig, start, end) frame, 1-based inclusive)
        returns the reads overlapping any interval, exactly: the frame is
        collected once, its rows plan the ``.bai``/``.csi`` reads and each
        task drops the reads no interval overlaps (``plan_read``).
        ``include_unplaced`` adds the unplaced-unmapped reads; alone, it
        returns only those.

        ``columns`` prunes the DECODE, not just the projection: Python
        data sources have no ReadSchema pushdown, so without it every scan
        pays the full per-record materialization (CIGAR string join, seq
        nibble translate, qual translate, aux-tag dict walk) even for a
        3-column aggregate — the custom-source analog of a parquet scan
        reading all columns for a 2-column projection.  The returned frame
        carries exactly ``columns`` (schema order); internal needs
        (qname grouping, the overlap test's spans) are decoded in the task
        and never leave it."""
        from .arrow_xfer import pruned_schema, to_dataframe

        if columns is not None:
            validate_columns(columns, READS_COLUMNS, "reads")
        fields = None if columns is None else frozenset(columns)
        iv_rows = collect_intervals(intervals) if intervals is not None else None
        tasks, task_rows = plan_read(
            spark, path, iv_rows, include_unplaced, split_size, use_sbi, fields
        )
        return to_dataframe(spark, tasks, task_rows, pruned_schema(READS_SCHEMA, fields))


def _collect_file_metadata(
    spark: SparkSession,
    files: list[str],
    fs: FileSystem,
    use_sbi: bool,
    ivs: tuple[list[tuple[str, int, int]], list[str]] | None,
    job_threshold: int = METADATA_JOB_THRESHOLD,
) -> list[tuple[str, int, tuple[int, ...] | None, list[tuple[int, int]] | None]]:
    """(path, size, sbi_offsets, bai_ranges) per file — serially for a few
    files, via a Spark job for many (``fsio.collect_metadata``; a 100 TB
    directory has tens of thousands of shards — minutes of serial driver IO
    otherwise).  ``ivs`` is ``((contig, start, end) rows, header reference
    names)`` for ``.bai``/``.csi`` interval pushdown (reference
    `AbstractBinarySamSource.java:96-113`, ``tabix.index_chunks``, which
    also refuses a stale index); disabled when None."""

    def meta_for(f: str):
        flen = fs.size(f)
        sbi_path = f + ".sbi"
        sbi = SbiIndex.load(sbi_path) if use_sbi and fs.exists(sbi_path) else None
        chunks = None if ivs is None else index_chunks(fs, f, flen, *ivs)
        # records_for_split decodes each range on its own: adjacent chunks
        # read as one
        bai_ranges = None if chunks is None else merge_ranges(chunks)
        if (
            sbi is not None
            and sbi.offsets
            and (
                (sbi.offsets[-1] >> 16) > flen
                or (
                    (sbi.offsets[-1] >> 16) == flen
                    and (sbi.offsets[-1] & 0xFFFF) != 0
                )
            )
        ):
            # index_chunks' stale-index contract for the .sbi split index:
            # its last record voffset must lie inside the file.  The end
            # SENTINEL may sit
            # exactly at flen<<16 — htsjdk records BlockCompressedInputStream's
            # position at true EOF, which for a BAM lacking the optional
            # 28-byte EOF terminator block is exactly (flen, 0); samtools
            # treats a missing terminator as warn-only, so strict > mirrors
            # the BAI/tabix pointer-past-end convention (ADVICE r9).
            raise ValueError(
                f"{f}: .sbi references record voffset {sbi.offsets[-1]:#x} "
                f"past end-of-file ({flen}) — truncated BAM or stale index"
            )
        return (f, flen, sbi.offsets if sbi else None, bai_ranges)

    return collect_metadata(spark, files, meta_for, job_threshold)


def _expand_files(path: str, fs: FileSystem | None = None) -> list[str]:
    p = str(path)
    return list_data_files(fs or get_fs(p), p)


def _norm_attrs(row: dict) -> dict:
    """Arrow map cells may arrive as lists of (key, value) pairs; the encoder
    wants a dict."""
    a = row.get("attributes")
    if a is not None and not isinstance(a, dict):
        row["attributes"] = dict(a)
    return row


class BamSink:
    """Write a reads DataFrame as a single BAM file, or as a directory of
    complete BAM shards, through the shared commit (``merger``): BGZF
    record parts, a header block and the EOF block.

    ``write_sbi`` / ``write_bai`` create the indexes *at write time* — the
    reference can only do this for ``.sbi`` (its README marks ``.bai``
    writing ✗, `README.md:121-131`), and a post-hoc build would re-read
    the whole output serially on the driver.  Each part returns its
    part-relative index metadata with the job result; the commit rebases it
    by the part's byte offset without touching the data again.  The
    ``.bai`` is byte-identical to a sequential post-hoc build; ``.sbi``
    entry spacing restarts per part (every entry is still a true record
    start, entries are ≤ granularity apart — exactly what split planning
    needs)."""

    def write(
        self,
        df: DataFrame,
        header: SamHeader,
        path: str,
        *,
        write_sbi: bool = False,
        write_bai: bool = False,
        sbi_granularity: int = 4096,
    ) -> None:
        commit(df, path, _bam_format(header, write_sbi, write_bai, sbi_granularity))

    def write_sharded(
        self,
        df: DataFrame,
        header: SamHeader,
        path: str,
        *,
        write_index: bool = False,
        sbi_granularity: int = 4096,
    ) -> None:
        """One complete BAM (header + records + terminator) per partition in
        directory ``path`` (reference `sam/AnySamSinkMultiple.java:31-74`);
        the directory reads back as one input via ``BamSource.read``.

        ``write_index=True`` writes each shard's ``.sbi`` + ``.bai`` beside
        it on the executor, so index creation costs O(shard) per executor
        and nothing on the driver; directory reads pick the per-file indexes
        up for chunking and interval pushdown.

        Precondition (the same one ``samtools index`` places on its input):
        rows must be position-sorted within each partition — e.g.
        ``df.sortWithinPartitions("rname", "pos")`` — because the BAI
        linear index's fill-forward semantics assume voffsets grow with
        position per reference; a ``.bai`` built over interleaved
        positions can prune incorrectly."""
        commit_sharded(df, path, _bam_format(header, write_index, write_index, sbi_granularity))


def _bam_format(header: SamHeader, write_sbi: bool, write_bai: bool, granularity: int) -> PartFormat:
    from .bai import BaiAccumulator
    from .bam_codec import cigar_ref_length
    from .tabix import rebase_voffset

    refs = header.contigs
    ref_index = {name: i for i, (name, _len) in enumerate(refs)}

    def record(row: dict) -> bytes:
        return encode_record(_norm_attrs(row), ref_index)

    def encode(rows, fh) -> dict | None:
        if not (write_sbi or write_bai):
            write_bgzf_part(fh, rows, record)
            return None
        acc = BaiAccumulator(len(refs))
        offsets: list[int] = []  # every granularity-th record start (.sbi)
        n = 0

        def add(row: dict, v: int, v_end: int) -> None:
            nonlocal n
            if n % granularity == 0:
                offsets.append(v)
            n += 1
            rname = row["rname"]
            pos0 = (row["pos"] or 0) - 1
            end0 = pos0 + max(1, cigar_ref_length(row["cigar"] or "*"))
            acc.add(ref_index.get(rname, -1), pos0, end0, v, v_end)

        csize = write_bgzf_part(fh, rows, record, add)
        acc.finish(csize)
        return {"csize": csize, "n": n, "offsets": offsets, **acc.to_meta()}

    def index(metas: list[dict], base: int, path: str) -> None:
        if write_bai:
            fs_write_bytes(path + ".bai", BaiAccumulator(len(refs)).fold(metas, base).dump())
        if write_sbi:
            offsets = [rebase_voffset(o, b) for m, b in part_bases(metas, base) for o in m["offsets"]]
            end = base + sum(m["csize"] for m in metas)
            sbi = SbiIndex(
                file_length=end + len(EMPTY_GZIP_BLOCK),
                md5=b"\x00" * 16,
                uuid=b"\x00" * 16,
                total_records=sum(m["n"] for m in metas),
                granularity=granularity,
                offsets=tuple(offsets) + (end << 16,),
            )
            fs_write_bytes(path + ".sbi", sbi.dump())

    return PartFormat(
        header=compress_blocks(encode_bam_header(header.text, refs)),
        encode=encode,
        terminator=EMPTY_GZIP_BLOCK,
        index=index if write_sbi or write_bai else None,
        ext=".bam",
    )


def create_sbi(bam_path: str, granularity: int = 4096) -> str:
    """Write a ``.sbi`` splitting index for a BAM (reference
    `htsjdk/samtools/BAMSBIIndexer.java:43-64`; format `SBIIndex.java`).
    Driver-side single pass; records every Nth record's virtual offset plus
    the end sentinel."""
    _, refs, first_voffset = read_bam_header(bam_path)
    ref_names = [r[0] for r in refs]
    offsets = []
    n = 0
    with fs_open(bam_path) as fh:
        reader = BgzfReader(fh)
        reader.seek_virtual(first_voffset)
        while True:
            v = reader.tell_virtual()
            size_b = reader.read(4)
            if len(size_b) < 4:
                end_v = v
                break
            (block_size,) = struct.unpack("<i", size_b)
            body = reader.read(block_size)
            if len(body) < block_size:
                end_v = v
                break
            if n % granularity == 0:
                offsets.append(v)
            n += 1
    offsets.append(end_v)
    idx = SbiIndex(
        file_length=fs_size(bam_path),
        md5=b"\x00" * 16,
        uuid=b"\x00" * 16,
        total_records=n,
        granularity=granularity,
        offsets=tuple(offsets),
    )
    out = bam_path + ".sbi"
    fs_write_bytes(out, idx.dump())
    return out
