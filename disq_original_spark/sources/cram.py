"""CRAM source/sink: container enumeration, .crai-driven split planning,
distributed record decode, and single-file writes.

Split machinery mirrors the reference (snapping byte-range splits to
container start offsets, `cram/CramSource.java:96-151`); record decode —
which the reference delegates to htsjdk (`cram/CramSource.java:153-167`) —
is the from-scratch pure-Python codec in ``cram_codec`` (CRAM 2.x gzip,
3.0 rANS-4x8 and 3.1 rANS-Nx16 blocks, reference-based sequence
reconstruction), and the sink uses the encoder in ``cram_writer``
(versions 2.1, 3.0 and 3.1).

CRAM structure (CRAM spec §6–8): a 26-byte file definition, then containers,
each with a header of fixed-width length + ITF8/LTF8 varints, ending with a
fixed EOF container.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import gzip
import struct
from functools import lru_cache
from dataclasses import dataclass
from pathlib import Path
from typing import BinaryIO

from pyspark.sql import DataFrame, SparkSession

from .fsio import fs_exists, fs_open, fs_size, fs_write_bytes, get_fs
from .merger import PartFormat, commit, commit_sharded, part_bases

CRAM_MAGIC = b"CRAM"
FILE_DEFINITION_SIZE = 26


def _read_itf8(fh: BinaryIO) -> int:
    b0 = fh.read(1)[0]
    if b0 < 0x80:
        return b0
    if b0 < 0xC0:
        return ((b0 & 0x7F) << 8) | fh.read(1)[0]
    if b0 < 0xE0:
        b = fh.read(2)
        return ((b0 & 0x3F) << 16) | (b[0] << 8) | b[1]
    if b0 < 0xF0:
        b = fh.read(3)
        return ((b0 & 0x1F) << 24) | (b[0] << 16) | (b[1] << 8) | b[2]
    b = fh.read(4)
    v = ((b0 & 0x0F) << 28) | (b[0] << 20) | (b[1] << 12) | (b[2] << 4) | (b[3] & 0x0F)
    return v - (1 << 32) if v >= (1 << 31) else v


def _read_ltf8(fh: BinaryIO) -> int:
    b0 = fh.read(1)[0]
    n_extra = 0
    mask = 0x80
    while n_extra < 8 and b0 & mask:
        n_extra += 1
        mask >>= 1
    if n_extra == 0:
        return b0
    prefix = b0 & (0xFF >> (n_extra + (0 if n_extra == 8 else 1)))
    v = prefix
    for byte in fh.read(n_extra):
        v = (v << 8) | byte
    return v - (1 << 64) if v >= (1 << 63) else v


@dataclass(frozen=True)
class CramContainer:
    offset: int  # byte offset of container start
    length: int  # payload length (excl. header)
    ref_seq_id: int
    start: int
    span: int
    n_records: int
    n_blocks: int
    is_eof: bool


def read_file_definition(fh: BinaryIO) -> tuple[int, int]:
    fh.seek(0)
    d = fh.read(FILE_DEFINITION_SIZE)
    if d[:4] != CRAM_MAGIC:
        raise ValueError(f"not a CRAM file (magic {d[:4]!r})")
    major, minor = d[4], d[5]
    # Supported: CRAM 2.x, 3.0 and 3.1.  A 3.1 container parses like 3.0;
    # its new block codecs are gated at the BLOCK level — rANS Nx16 is
    # complete (order-0/1, X32, PACK, STRIPE, RLE, CAT — rans_nx16.py),
    # the adaptive range coder (method 6, arith.py) and the name
    # tokenizer (method 8, tok3.py) are implemented read+write, so only
    # a 3.1 file using fqzcomp (method 7) fails loud, by codec NAME in
    # cram_codec.decompress, instead of being rejected wholesale here.
    if not (major == 2 or (major, minor) in ((3, 0), (3, 1))):
        raise ValueError(
            f"unsupported CRAM version {major}.{minor}: this reader "
            "implements CRAM 2.x, 3.0 and 3.1 (of the 3.1 block codecs "
            "only fqzcomp remains gated, failing loud by name at block "
            "decode)"
        )
    return major, minor


def enumerate_containers(fh: BinaryIO) -> list[CramContainer]:
    """Walk the container chain (the reference's no-index fallback,
    `cram/CramSource.java:123-151`).  Handles CRAM 2.x and 3.x container
    headers (the CRC32 trailer exists only in 3.0+)."""
    major, _minor = read_file_definition(fh)
    fh.seek(0, 2)
    file_len = fh.tell()
    out: list[CramContainer] = []
    pos = FILE_DEFINITION_SIZE
    while pos < file_len:
        fh.seek(pos)
        (length,) = struct.unpack("<i", fh.read(4))
        ref_seq_id = _read_itf8(fh)
        start = _read_itf8(fh)
        span = _read_itf8(fh)
        n_records = _read_itf8(fh)
        # record counter: LTF8 from CRAM 3.0, ITF8 in 2.x (spec §8; the
        # encodings agree below 2^28 — see cram_codec.read_container_header)
        _counter = _read_ltf8(fh) if major >= 3 else _read_itf8(fh)
        _bases = _read_ltf8(fh)
        n_blocks = _read_itf8(fh)
        n_landmarks = _read_itf8(fh)
        for _ in range(n_landmarks):
            _read_itf8(fh)
        if major >= 3:
            fh.read(4)  # crc32
        header_size = fh.tell() - pos
        is_eof = ref_seq_id == -1 and start == 4_542_278 and n_records == 0
        end = pos + header_size + length
        if end > file_len:
            # The container header declares more payload than the file
            # holds.  Without this check the `pos < file_len` loop guard
            # exits SILENTLY here — and if the truncation lands inside
            # the (record-free) SAM-header container, split planning sees
            # zero data containers and a truncated file reads back as 0
            # records with no error: the silent-tail-loss failure mode.
            raise ValueError(
                f"{getattr(fh, 'name', '<stream>')}: truncated CRAM — "
                f"container at offset {pos} declares {length} payload "
                f"bytes (ends at {end}) but the file ends at {file_len}"
            )
        out.append(
            CramContainer(pos, length, ref_seq_id, start, span, n_records, n_blocks, is_eof)
        )
        pos = end
    if not out or not out[-1].is_eof:
        # Chain ends cleanly but without the spec EOF container: a file
        # truncated exactly at a container boundary looks like this.
        # Same lenient posture as the BAM terminator check (samtools
        # warns "EOF marker is absent" for both formats).
        import warnings

        warnings.warn(
            f"{getattr(fh, 'name', '<stream>')}: no CRAM EOF container — "
            "file may be truncated at a container boundary",
            stacklevel=2,
        )
    return out


@lru_cache(maxsize=64)
def _worker_cached_meta(path: str, file_len: int, first_container_off: int):
    """Per-process cache of a CRAM file's decode meta (header container):
    Spark reuses Python workers, so a directory read parses each shard's
    header once per worker instead of once per split task.  Keyed by
    (path, length, first-data-container offset) — the offset is free (the
    driver's split-planning pass already computed the container bounds) and
    moves whenever the header container is rewritten, so it invalidates
    same-length in-place overwrites that (path, length) alone would alias.
    A rewrite that preserves BOTH length and header-container size within
    one worker's lifetime is still undetected — the FileSystem interface
    carries no mtime, and a content fingerprint would cost the very read
    this cache saves; ``_worker_cached_meta.cache_clear()`` is the explicit
    escape hatch for tests and long-lived workers."""
    from .cram_codec import read_cram_meta_file

    return read_cram_meta_file(path)[0]


def read_crai_entries(crai_path: str | Path) -> list[tuple[int, int, int, int]]:
    """``(seq_id, aln_start, aln_span, container_offset)`` rows from a
    .crai index (gzip text: seqid, start, span, container-offset,
    slice-offset, slice-size).  Multi-reference containers appear once per
    reference, same offset."""
    import io

    out = []
    with fs_open(str(crai_path)) as raw, io.TextIOWrapper(
        gzip.GzipFile(fileobj=raw)
    ) as fh:
        for line in fh:
            parts = line.split("\t")
            if len(parts) >= 4:
                out.append(
                    (int(parts[0]), int(parts[1]), int(parts[2]), int(parts[3]))
                )
    return out


def read_crai_offsets(crai_path: str | Path) -> list[int]:
    """Container offsets from a .crai index — the reference's indexed
    path (`cram/CramSource.java:123-138`)."""
    return sorted({off for _sid, _s, _sp, off in read_crai_entries(crai_path)})


def _crai_within(path: str, flen: int) -> tuple[list[tuple[int, int, int, int]], list[int]]:
    """``(entries, sorted container offsets)`` of ``path``'s ``.crai``,
    refusing an index with an entry at or past end-of-file: the planners
    tile only ``[0, flen)`` and would drop such entries silently, so the
    file's tail would vanish with no error.  Checked over the whole index,
    whichever containers a read keeps — the index is authoritative about
    what the file must contain."""
    entries = read_crai_entries(path + ".crai")
    offsets = sorted({off for _sid, _s, _sp, off in entries})
    if offsets and offsets[-1] >= flen:
        raise ValueError(
            f"{path}: .crai references a container at offset "
            f"{offsets[-1]} but the file ends at {flen} — "
            "truncated CRAM or stale index"
        )
    return entries, offsets


def crai_entries_for_reads(reads, ref_index: dict[str, int]) -> list[tuple[int, int, int]]:
    """``(seq_id, aln_start, aln_span)`` CRAI triples for the reads of one
    (multi-reference) slice — one entry per distinct reference like htsjdk's
    multiref ``CRAIEntry`` split; unmapped reads collapse to one
    ``(-1, 0, 0)`` entry.  Shared by the write-time path (rows in hand) and
    the post-hoc ``create_crai`` (rows decoded back) so the two builds are
    byte-comparable."""
    from .bam_codec import cigar_ref_length

    spans: dict[int, list[int]] = {}
    unmapped = False
    for r in reads:
        name = r.get("rname")
        pos = r.get("pos")
        sid = ref_index.get(name) if name else None
        if sid is None or not pos:
            unmapped = True
            continue
        end = pos + max(1, cigar_ref_length(r.get("cigar") or "*")) - 1
        cur = spans.get(sid)
        if cur is None:
            spans[sid] = [pos, end]
        else:
            if pos < cur[0]:
                cur[0] = pos
            if end > cur[1]:
                cur[1] = end
    entries = [(sid, s, e - s + 1) for sid, (s, e) in sorted(spans.items())]
    if unmapped:
        entries.append((-1, 0, 0))
    return entries


def _crai_dump(lines: list[tuple[int, int, int, int, int, int]]) -> bytes:
    text = "".join("\t".join(str(v) for v in line) + "\n" for line in lines)
    return gzip.compress(text.encode(), mtime=0)


def create_crai(
    path: str, out: str | None = None, reference_path: str | None = None
) -> None:
    """Sequential post-hoc ``.crai`` build (htsjdk ``CRAMCRAIIndexer`` role:
    multiref slices are resolved by decoding the records).  Also the truth
    the distributed write-time build (``CramSink.write(write_index=True)``)
    is byte-compared against in tests."""
    from .cram_codec import (
        Buf,
        IndexedFasta,
        decode_container,
        read_container_header,
        read_cram_meta_file,
    )
    from .fsio import fs_read_bytes, fs_write_bytes

    meta, first_data = read_cram_meta_file(path)
    ref_index = {n: i for i, n in enumerate(meta.ref_names)}
    getter = IndexedFasta(reference_path).get if reference_path else None
    data = fs_read_bytes(path)
    lines: list[tuple[int, int, int, int, int, int]] = []
    pos = first_data
    while pos < len(data):
        hdr = read_container_header(Buf(data), pos, meta.major)
        rows, nxt = decode_container(data, pos, meta, getter, verify_ref_md5=False)
        if rows:
            # one slice per landmark; our writer emits one slice/container,
            # and the decode returns the container's rows in slice order
            landmark = hdr.landmarks[0]
            slice_size = hdr.length - landmark
            for sid, start, span in crai_entries_for_reads(rows, ref_index):
                lines.append((sid, start, span, pos, landmark, slice_size))
        pos = nxt
    fs_write_bytes(out or path + ".crai", _crai_dump(lines))


def snap_splits_to_containers(
    offsets: list[int], file_len: int, split_size: int
) -> list[tuple[int, int]]:
    """Byte-range splits snapped to container starts: each split covers the
    containers whose offset falls in [start, end) (`cram/CramSource.java:96-120`);
    empty splits are dropped."""
    import bisect

    chunks = []
    for s in range(0, file_len, split_size):
        e = min(s + split_size, file_len)
        lo = bisect.bisect_left(offsets, s)
        hi = bisect.bisect_left(offsets, e)
        if lo < hi:
            chunks.append((offsets[lo], offsets[hi] if hi < len(offsets) else file_len))
    return chunks


class CramSource:
    """Container-granular CRAM access: metadata DataFrame, split planning,
    and distributed record decode via the pure-Python codec."""

    def containers(self, spark: SparkSession, path: str) -> DataFrame:
        with fs_open(path) as fh:
            cs = enumerate_containers(fh)
        return spark.createDataFrame(
            [
                (c.offset, c.length, c.ref_seq_id, c.start, c.span, c.n_records, c.n_blocks, c.is_eof)
                for c in cs
            ],
            "offset long, length long, ref_seq_id int, start long, span long, "
            "n_records long, n_blocks int, is_eof boolean",
        )

    def plan_splits(
        self, path: str, split_size: int = 1 << 20, file_len: int | None = None
    ) -> list[tuple[int, int]]:
        """``file_len`` lets directory planners that already stat'd the file
        skip a second size round-trip (one HEAD per shard on object stores)."""
        if file_len is None:
            file_len = fs_size(path)
        if fs_exists(path + ".crai"):
            _entries, offsets = _crai_within(path, file_len)
        else:
            with fs_open(path) as fh:
                offsets = [c.offset for c in enumerate_containers(fh) if not c.is_eof and c.n_records > 0]
        return snap_splits_to_containers(offsets, file_len, split_size)

    def read(
        self,
        spark: SparkSession,
        path: str,
        reference_path: str | None = None,
        split_size: int = 1 << 20,
        intervals: DataFrame | None = None,
        include_unplaced: bool = False,
        columns: Sequence[str] | None = None,
    ) -> DataFrame:
        """Distributed CRAM read: splits snap to container boundaries
        (``plan_splits``); each task decodes its containers with the pure-
        Python CRAM 2.x codec (``cram_codec``), reconstructing sequences from
        ``reference_path`` (a .fai-indexed FASTA on shared storage).

        ``path`` may be a directory of same-header CRAMs (the reference's
        directory-input contract, README.md:81-92 — e.g. a
        ``write_sharded`` output); per-file split planning fans out as a
        Spark job above the file-count threshold, and each task reads its
        own file's meta (CRAM shards carry their own compression headers,
        unlike the BAM same-header shortcut).

        ``intervals`` (a (contig, start, end) DataFrame, 1-based inclusive)
        returns EXACT overlap matches, same contract as BamSource.read:
        when a ``.crai`` sits beside a file its (seqid, start, span,
        container-offset) entries prune planning to overlapping containers
        before any IO, and each task drops the reads no interval overlaps
        (``plan_read``); without an index every container is decoded and
        tested.  ``include_unplaced`` additionally keeps unplaced-unmapped
        reads (crai seq_id -1 containers are retained by the pruner).

        ``columns`` prunes the DECODE (as BamSource.read): per-base series
        the request does not need skip instead of reading — and because
        CRAM is columnar within a slice, an external block whose series
        are entirely skipped (e.g. the QS quality block, typically the
        largest) is never DECOMPRESSED at all; pruning 'seq' also skips
        the reference-based reconstruction.  Internal needs (the overlap
        test's spans) are decoded in the task and never leave it."""
        from ..operators.interval import collect_intervals
        from .arrow_xfer import pruned_schema, to_dataframe
        from .bam import READS_SCHEMA
        from .sam import READS_COLUMNS, validate_columns

        if columns is not None:
            validate_columns(columns, READS_COLUMNS, "reads")
        fields = None if columns is None else frozenset(columns)
        iv_rows = collect_intervals(intervals) if intervals is not None else None
        tasks, task_rows = plan_read(
            spark, path, reference_path, split_size, iv_rows, include_unplaced, fields
        )
        return to_dataframe(spark, tasks, task_rows, pruned_schema(READS_SCHEMA, fields))


def plan_read(
    spark: SparkSession | None,
    path: str,
    reference_path: str | None = None,
    split_size: int = 1 << 20,
    iv_rows: list[tuple[str, int, int]] | None = None,
    include_unplaced: bool = False,
    fields: frozenset[str] | None = None,
) -> tuple[list[tuple[str, int, int, int, int]], Callable[[tuple], Iterator[dict]]]:
    """The CRAM read plan, ``(tasks, task_rows)`` for the read plane
    (``arrow_xfer``): one ``(file, start, end, file length, first container
    offset)`` task per run of whole containers, in file order;
    ``task_rows(task)`` decodes the task's containers to rows with
    ``fields``.  ``CramSource.read`` and ``format("cram")`` both read
    through it (``spark=None`` plans serially).

    Without ``iv_rows`` the splits are ``CramSource.plan_splits``'s, each
    extended to the next split's start.  With them and a ``.crai`` beside a
    file, only the containers whose entries overlap an interval (and, with
    ``include_unplaced``, the unmapped ones) are read, in runs of about
    ``split_size`` bytes; a plan that keeps no container seeds no task.
    With ``iv_rows`` or ``include_unplaced`` each task keeps only the reads
    the traversal selects (``interval.read_keeper``), decoding the span
    fields for the test even when ``fields`` leaves them out."""
    from ..operators.interval import READ_SPAN_FIELDS, read_keeper
    from .cram_codec import IndexedFasta, decode_container, read_cram_meta_file
    from .fsio import collect_metadata, list_data_files
    from .headers import header_ref_and_rg_names

    fs = get_fs(str(path))
    files = list_data_files(fs, str(path))
    keep = read_keeper(iv_rows, include_unplaced)
    if keep is not None and fields is not None:
        fields = fields | READ_SPAN_FIELDS

    def meta_for(f: str):
        """(file, flen, ((start, end), ...), first_container_offset)."""
        flen = fs.size(f)
        if iv_rows is not None and fs_exists(f + ".crai"):
            entries, offsets = _crai_within(f, flen)
            if not offsets:
                return (f, flen, (), 0)
            meta, _ = read_cram_meta_file(f)
            ref_names, _rg = header_ref_and_rg_names(meta.header_text)
            ref_ids = {n: i for i, n in enumerate(ref_names)}
            want: set[int] = set()
            for sid, s0, sp, off in entries:
                if sid == -1:
                    if include_unplaced:
                        want.add(off)
                elif sp > 0 and any(
                    ref_ids.get(c) == sid and s0 <= hi and s0 + sp - 1 >= lo
                    for c, lo, hi in iv_rows
                ):
                    want.add(off)
            # contiguous runs of selected containers, cut at container
            # starts once a task reaches ~split_size (record-aligned:
            # every container body stays whole inside one task)
            bounds = offsets + [flen]
            rngs: list[list[int]] = []
            for i, off in enumerate(offsets):
                if off not in want:
                    continue
                end = bounds[i + 1]
                if (
                    rngs
                    and rngs[-1][1] == off
                    and rngs[-1][1] - rngs[-1][0] < split_size
                ):
                    rngs[-1][1] = end
                else:
                    rngs.append([off, end])
            return (f, flen, tuple((s, e) for s, e in rngs), offsets[0])
        chunks = CramSource().plan_splits(f, split_size, file_len=flen)
        # extend each chunk to the next chunk's start (or EOF) so every
        # container body is fully inside exactly one task's range
        bounds = [c[0] for c in chunks] + [flen]
        return (
            f,
            flen,
            tuple((bounds[i], bounds[i + 1]) for i in range(len(chunks))),
            bounds[0] if chunks else 0,
        )

    tasks: list[tuple[str, int, int, int, int]] = []
    for f, flen, rngs, first_off in collect_metadata(spark, files, meta_for):
        tasks.extend((f, s, e, flen, first_off) for s, e in rngs)
    # single file: one driver meta read shipped via closure; directories
    # read meta per task instead
    single_meta = read_cram_meta_file(files[0])[0] if len(files) == 1 and tasks else None

    def task_rows(task):
        f, s, e, flen, first_off = task
        meta = single_meta
        if meta is None:
            # directory read: per-file meta, cached per (reused) worker
            # so a file's header container is parsed once per worker,
            # not once per split
            meta = _worker_cached_meta(f, flen, first_off)
        getter = IndexedFasta(reference_path).get if reference_path else None
        with fs.open_input(f) as fh:
            fh.seek(s)
            data = fh.read(e - s)
        pos = 0
        while pos < len(data):
            rows, pos = decode_container(data, pos, meta, getter, fields=fields)
            yield from rows if keep is None else filter(keep, rows)

    return tasks, task_rows


class CramSink:
    """Write a reads DataFrame as a single CRAM file, or as a directory of
    complete CRAM shards, through the shared commit (``merger``): each
    partition encodes one container, framed by the file definition +
    SAM-header container and the spec EOF container — the reference's
    write-parallel-then-concat plan (`cram/CramSink.java:31-86`) with a
    from-scratch encoder instead of htsjdk."""

    def write(
        self,
        df: DataFrame,
        header_text: str,
        path: str,
        reference_path: str | None = None,
        version: tuple[int, int] = (2, 1),
        *,
        write_index: bool = False,
    ) -> None:
        """``write_index=True`` additionally creates ``path + ".crai"`` at
        write time: each part returns its container's CRAI entries (computed
        from the rows it encodes — no decode needed) and slice landmark/size,
        offset by the merge layout.  The reference cannot write any index
        (README.md)."""
        commit(df, path, _cram_format(header_text, reference_path, version, write_index))

    def write_sharded(
        self,
        df: DataFrame,
        header_text: str,
        path: str,
        reference_path: str | None = None,
        version: tuple[int, int] = (2, 1),
        *,
        write_index: bool = False,
    ) -> None:
        """One complete CRAM (file definition + header container + data
        container + EOF) per partition in directory ``path`` (reference
        `sam/AnySamSinkMultiple.java:31-74`, which covers CRAM via
        ``CRAMContainerStreamWriter``); the directory reads back as one
        input via ``CramSource.read``.  ``write_index=True`` writes each
        shard's ``.crai`` beside it on the executor."""
        commit_sharded(df, path, _cram_format(header_text, reference_path, version, write_index))


def _cram_format(
    header_text: str, reference_path: str | None, version: tuple[int, int], write_index: bool
) -> PartFormat:
    from .cram_writer import (
        encode_container,
        encode_file_header_container,
        eof_container,
        file_definition,
    )
    from .headers import header_ref_and_rg_names

    major, minor = version
    ref_names, rg_ids = header_ref_and_rg_names(header_text)

    def encode(rows_iter, fh) -> dict | None:
        from .bam import _norm_attrs
        from .cram_codec import Buf, IndexedFasta, read_container_header

        rows = [_norm_attrs(r) for r in rows_iter]
        fasta = IndexedFasta(reference_path) if reference_path else None
        data = encode_container(rows, ref_names, rg_ids, fasta, major, minor)
        fh.write(data)
        if not write_index:
            return None
        hdr = read_container_header(Buf(data), 0, major)
        return {
            "csize": len(data),
            "landmark": hdr.landmarks[0],
            "slice_size": hdr.length - hdr.landmarks[0],
            "entries": crai_entries_for_reads(rows, {n: i for i, n in enumerate(ref_names)}),
        }

    def index(metas: list[dict], base: int, path: str) -> None:
        lines = [
            (sid, start, span, offset, m["landmark"], m["slice_size"])
            for m, offset in part_bases(metas, base)
            for sid, start, span in m["entries"]
        ]
        fs_write_bytes(path + ".crai", _crai_dump(lines))

    return PartFormat(
        header=file_definition(major=major, minor=minor)
        + encode_file_header_container(header_text, major),
        encode=encode,
        terminator=eof_container(major),
        index=index if write_index else None,
        ext=".cram",
    )
