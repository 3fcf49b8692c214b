"""The commit every sink shares: single-file and sharded output.

Reference parity: `file/Merger.java:9-30` + `file/HadoopFileSystemWrapper.java:86-121`
(executors write headerless parts; the driver writes the header and the
terminator and concatenates, trying the filesystem's server-side concat
first — HDFS ``concat`` / object-store multipart compose — then a serial
stream copy) and `sam/AnySamSinkMultiple.java:31-74` (a sharded sink reuses
the same part writer and gives every file its own header and terminator).
All IO goes through the pluggable filesystem layer (``fsio``), so both
commits work on any registered scheme.

A format supplies only what belongs to it (``PartFormat``): header and
terminator bytes, a part encoder, and an index dump.  ``write_parts`` runs
the encoder on every partition — temp name, empty-partition drop, rename —
and returns each part's index metadata through the job result.  Then:

- ``commit`` (single file): headerless parts, concatenated with the header
  and terminator by ``merge_parts``; the index is folded from the parts'
  metadata, rebased part by part from ``len(header)``.
- ``commit_sharded``: every part is written as header + part + terminator,
  a complete file, and its index is dumped beside it on the executor,
  rebased once by ``len(header)``.

So a one-part sharded write is, byte for byte, the single-file write of
the same rows, indexes included.
"""

from __future__ import annotations

import itertools
import pickle
import shutil
import uuid
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from pathlib import Path
from typing import BinaryIO

from pyspark.sql import DataFrame

from .fsio import fs_basename, fs_join, get_fs

_COPY_BUF = 8 * 1024 * 1024


@dataclass(frozen=True)
class PartFormat:
    """What one output format adds to the shared commit.

    ``encode(rows, fh)`` writes one non-empty partition's headerless body
    to ``fh`` and returns the part's index metadata (with its compressed
    size as ``csize``), or None when no index is written.
    ``index(metas, base, path)`` writes the indexes of ``path`` from the
    metadata of its parts in file order, the first part starting ``base``
    bytes into the file.  ``native_text`` formats (one ``value`` column)
    leave single-file parts to Spark's own text writer; ``ext`` names the
    shards."""

    header: bytes
    encode: Callable[[Iterator[dict], BinaryIO], object]
    terminator: bytes = b""
    index: Callable[[list, int, str], None] | None = None
    ext: str = ""
    native_text: bool = False


def part_bases(metas: list[dict], base: int) -> Iterator[tuple[dict, int]]:
    """Each part's metadata with the byte offset of the part in the file,
    the first part starting at ``base`` (metadata carry the part's
    compressed size as ``csize``)."""
    for meta in metas:
        yield meta, base
        base += meta["csize"]


def encode_text_lines(rows: Iterator[dict], fh: BinaryIO) -> None:
    """Part encoder of the text formats: the ``value`` column, a line a row."""
    for row in rows:
        fh.write(row["value"].encode() + b"\n")


def text_format(header: bytes = b"", **kw) -> PartFormat:
    """A line format over one ``value`` column: Spark's text writer makes
    single-file parts, ``encode_text_lines`` makes shards."""
    return PartFormat(header, encode_text_lines, native_text=True, **kw)


def write_parts(df: DataFrame, out_dir: str, fmt: PartFormat, *, sharded: bool) -> list:
    """Encode every non-empty partition of ``df`` as ``out_dir/part-NNNNN``
    (plus ``fmt.ext``, header, terminator and index when ``sharded``);
    returns the parts' index metadata in partition order.  Rows arrive as
    Arrow batches (``foreachPartition`` would pickle every row)."""
    fs = get_fs(out_dir)

    def commit_part(batches):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        # astype(object) + where(notna, None): a null in an integer column
        # would otherwise promote the whole pandas column to float64 and
        # deliver NaN (and 100 → 100.0) to the encoders' struct.pack
        rows = (
            row
            for pdf in batches
            for row in pdf.astype(object).where(pdf.notna(), None).to_dict("records")
        )
        first = next(rows, None)
        if first is None:
            return  # an empty partition writes no part
        tmp = fs_join(out_dir, f".tmp-{uuid.uuid4().hex}")
        with fs.open_output(tmp) as fh:
            if sharded:
                fh.write(fmt.header)
            meta = fmt.encode(itertools.chain([first], rows), fh)
            if sharded:
                fh.write(fmt.terminator)
        part = fs_join(out_dir, f"part-{pid:05d}{fmt.ext if sharded else ''}")
        fs.rename(tmp, part)
        if sharded and fmt.index is not None:
            fmt.index([meta], len(fmt.header), part)
        yield pd.DataFrame({"pid": [pid], "meta": [pickle.dumps(meta)]})

    done = df.mapInPandas(commit_part, "pid int, meta binary").collect()
    return [pickle.loads(r.meta) for r in sorted(done, key=lambda r: r.pid)]


def commit(df: DataFrame, path: str, fmt: PartFormat) -> None:
    """Single-file output: parts in a temp directory, then header + parts +
    terminator concatenated into ``path``, then the index."""
    temp_dir = f"{path}.parts-{uuid.uuid4().hex[:8]}"
    metas: list = []
    if fmt.native_text:
        df.write.mode("overwrite").text(temp_dir)
    else:
        get_fs(temp_dir).mkdirs(temp_dir)
        metas = write_parts(df, temp_dir, fmt, sharded=False)
    merge_parts(temp_dir, path, header=fmt.header, terminator=fmt.terminator)
    if fmt.index is not None:
        fmt.index(metas, len(fmt.header), path)


def commit_sharded(df: DataFrame, path: str, fmt: PartFormat) -> None:
    """One complete file (and its index) per non-empty partition in the
    directory ``path``, which reads back as one input."""
    fs = get_fs(path)
    fs.delete(path, recursive=True)
    fs.mkdirs(path)
    write_parts(df, path, fmt, sharded=True)


def list_parts(temp_dir: str | Path) -> list[str]:
    d = str(temp_dir)
    return [
        p
        for p in get_fs(d).listdir(d)
        if not fs_basename(p).startswith((".", "_"))
    ]


def merge_parts(
    temp_dir: str | Path,
    output_path: str | Path,
    *,
    header: bytes | None = None,
    terminator: bytes | None = None,
    delete_temp: bool = True,
) -> None:
    """Concatenate header + parts + terminator into ``output_path``
    (overwriting it, like the reference — README.md:53).

    The header/terminator are staged as dot-prefixed files in the temp dir
    (invisible to ``list_parts``) so the whole output is a pure concat — the
    shape the fast path needs."""
    temp_dir = str(temp_dir)
    out = str(output_path)
    fs = get_fs(out)
    pieces: list[str] = []
    if header:
        hp = fs_join(temp_dir, ".header")
        get_fs(hp).write_bytes(hp, header)
        pieces.append(hp)
    pieces.extend(list_parts(temp_dir))
    if terminator:
        tp = fs_join(temp_dir, ".terminator")
        get_fs(tp).write_bytes(tp, terminator)
        pieces.append(tp)
    if not fs.concat(pieces, out):
        tmp_out = out + ".tmp_merge"
        with fs.open_output(tmp_out) as o:
            for piece in pieces:
                with get_fs(piece).open_input(piece) as src:
                    shutil.copyfileobj(src, o, _COPY_BUF)
        fs.rename(tmp_out, out)
    if delete_temp:
        get_fs(temp_dir).delete(temp_dir, recursive=True)
