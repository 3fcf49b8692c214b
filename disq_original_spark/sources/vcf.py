r"""VCF source and sink, Spark-first.

Source paths (reference parity: `vcf/VcfSource.java:45-186`), each a plan
of Python line tasks:
- BGZF (``.bgz``, or a ``.gz`` that sniffs as BGZF — the reference's
  BGZFEnhancedGzipCodec distinction): byte ranges are planned on the
  driver and each task yields the lines *owned* by its range via
  ``bgzf.iter_lines_in_range`` (exactly-once tiling).
- plain ``.vcf``: the same per-file byte-range splits over the text.
- true-gzip ``.vcf.gz``: one task per file (gzip is not splittable,
  exactly like the reference's non-BGZF path).
- with intervals, each task keeps only the lines whose record overlaps an
  interval (``_line_keeper``), and a ``.tbi``/``.csi`` or Tribble ``.idx``
  beside a file prunes its splits and seeks its chunks.

Parsing: each task parses the lines it keeps into variants rows itself
(``parse_vcf_line``) and applies the stringency mode, so every read has
one schema (``VARIANTS_SCHEMA``) and one plan, a ``MapInArrow`` — no
per-read ``selectExpr`` analysis and no interpreted higher-order map
projection (Spark runs higher-order functions without codegen).  On a
29,895-record BGZF VCF (``perfbench`` ``io``, ``local[4]`` on a 4-core VM)
that took a full scan from 0.85 to 0.48 s and a region read from 0.47 to
0.26 s, medians over ten seeds.  Spark cannot prune columns out of those
rows, so ``VcfSource.read(columns=...)`` does it in the task.  The Spark
SQL parse the rows are checked against is ``tests/vcf_reference.py``.

Variants schema (SURVEY §1.3): contig pos id ref alts qual filters info
genotypes.  Conventions: ``id``/``qual`` NULL for '.'; ``filters`` NULL for
'.', empty array for PASS; ``info`` map value '' for flag keys.
"""

from __future__ import annotations

from collections.abc import Callable, Collection, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from ..operators.interval import collect_intervals, overlap_test, try_double, try_long
from .fsio import fs_basename, fs_open, fs_write_bytes, get_fs, list_data_files
from .headers import read_vcf_header_text, vcf_sample_names
from .merger import PartFormat, commit, commit_sharded, text_format
from .tabix import index_chunks, merge_ranges

_GENOTYPE = StructType(
    [
        StructField("sample", StringType()),
        StructField("gt", StringType()),
        StructField("attrs", MapType(StringType(), StringType())),
    ]
)
#: the variants schema every VCF and BCF read returns (SURVEY §1.3)
VARIANTS_SCHEMA = StructType(
    [
        StructField("contig", StringType()),
        StructField("pos", LongType()),
        StructField("id", StringType()),
        StructField("ref", StringType()),
        StructField("alts", ArrayType(StringType())),
        StructField("qual", DoubleType()),
        StructField("filters", ArrayType(StringType())),
        StructField("info", MapType(StringType(), StringType())),
        StructField("genotypes", ArrayType(_GENOTYPE)),
    ]
)
VARIANTS_COLUMNS = VARIANTS_SCHEMA.names


def _last_wins(entries: list[tuple[str, str]]) -> dict[str, str]:
    """Spark's last-wins map of ``entries`` (``map_from_entries`` after
    ``functions.map_from_entries_last_wins``' dedup): one entry per key,
    holding its last value at the position of its last occurrence."""
    m = dict(entries)
    if len(m) < len(entries):
        m = {}
        for k, v in entries:
            m.pop(k, None)
            m[k] = v
    return m


def parse_vcf_line(
    line: str, sample_names: Sequence[str], fields: Collection[str] | None = None
) -> dict:
    """The variants row of one body line, as a dict whose maps keep their
    entry order: the decode tasks' parser.  Its rows are those of the Spark
    SQL parse of the same line (``try_element_at`` NULLs on short lines,
    ``try_cast`` for POS and QUAL; ``tests/vcf_reference.py``).  The site
    fields are always built; INFO and FORMAT are parsed only when
    ``fields`` (None: all) names ``info`` / ``genotypes``."""
    f = line.split("\t")
    short = 9 + len(sample_names) - len(f)
    if short > 0:
        # a missing field parses as NULL, as try_element_at gives it
        f += [None] * short
    contig, pos, vid, ref, alts, qual, filters, info, keys = f[:9]
    row = {
        "contig": contig,
        "pos": try_long(pos),
        "id": None if vid == "." else vid,
        "ref": ref,
        "alts": None if alts is None else [] if alts == "." else alts.split(","),
        "qual": None if qual == "." else try_double(qual),
        "filters": None if filters is None or filters == "." else [] if filters == "PASS" else filters.split(";"),
    }
    if fields is None or "info" in fields:
        if info is None:
            row["info"] = None
        elif info == ".":
            row["info"] = {}
        else:
            row["info"] = _last_wins([kv.partition("=")[::2] for kv in info.split(";")])
    if fields is None or "genotypes" in fields:
        # each sample's FORMAT map is clamped to the shorter of the keys
        # and its values (zip); a missing sample column gives a NULL map
        keys = None if keys is None else keys.split(":")
        gts = []
        for sample, values in zip(sample_names, f[9:]):
            attrs = None if values is None else _last_wins(list(zip(keys, values.split(":"))))
            gts.append({"sample": sample, "gt": None if attrs is None else attrs.get("GT"), "attrs": attrs})
        row["genotypes"] = gts
    return row


def variant_end(info: Column, pos: Column, ref: Column) -> Column:
    """1-based inclusive end: INFO/END when present (symbolic alleles), else
    pos + len(ref) - 1 — htsjdk VariantContext.getEnd semantics.  Its
    Python twin, for decode tasks, is ``interval.variant_end``."""
    return F.coalesce(
        F.try_element_at(info, F.lit("END")).try_cast("long"),
        pos + F.length(ref) - 1,
    )


def info_end(info: str) -> str | None:
    """The value ``parse_vcf_line`` gives INFO key ``END`` on a line with
    this INFO field: the text after the first '=' of the LAST ``END``
    entry ('' for a bare ``END`` flag), None without one or for '.'."""
    if "END" not in info or info == ".":
        return None
    end = None
    for kv in info.split(";"):
        k, _, v = kv.partition("=")
        if k == "END":
            end = v
    return end


def _line_keeper(ivs: list[tuple[str, int, int]] | None, stringency: str) -> Callable[[str], bool]:
    """The test a VCF decode task applies to each line before parsing it:
    keep a body (non-``#``) line, and with intervals only one whose record
    overlaps an interval, with the span ``parse_vcf_line`` and
    ``variant_end`` give it, or under ``strict`` a malformed one (< 8
    fields or POS not a long), on which the task then raises.  The rows
    are those of filtering the full read, in every stringency mode."""
    from ..operators.interval import variant_end as end_of

    if ivs is None:
        return lambda line: not line.startswith("#")
    hit = overlap_test(ivs)
    strict = stringency == "strict"

    def keep(line: str) -> bool:
        if line.startswith("#"):
            return False
        f = line.split("\t", 8)
        pos = try_long(f[1]) if len(f) > 1 else None
        if strict and (len(f) < 8 or pos is None):
            return True
        ref = f[3] if len(f) > 3 else None
        end = info_end(f[7]) if len(f) > 7 else None
        return hit(f[0], pos, end_of(pos, ref, end))

    return keep


# Spark's spark.sql.files.maxPartitionBytes and openCostInBytes defaults
_MAX_SPLIT = 128 * 1024 * 1024
_OPEN_COST = 4 * 1024 * 1024
# one maximal BGZF block: index ranges closer than this are read as one
_SEEK_GAP = 64 * 1024


class VcfSource:
    """Read VCF (plain / gzip / BGZF) into a variants DataFrame.

    Directory inputs must be compression-homogeneous (all BGZF or all
    plain/gzip — what every sharded writer, including ours, produces).  The
    format is sniffed from the first file; the wrapper read paths then
    verify every file's magic bytes during the existing per-file metadata
    pass and fail fast on a mismatch instead of decoding garbage."""

    def read_header(self, path: str) -> str:
        return read_vcf_header_text(path)

    def read(
        self,
        spark: SparkSession,
        path: str,
        intervals: DataFrame | None = None,
        split_size: int | None = None,
        stringency: str = "lenient",
        columns: list[str] | None = None,
    ) -> DataFrame:
        """``intervals`` (a (contig, start, end) frame, 1-based inclusive)
        returns the records overlapping any interval, exactly.  The frame
        is collected once; its rows plan the index reads, and each line
        task drops the lines no interval overlaps (``_line_keeper``).  With
        a ``.tbi``/``.csi`` (BGZF) or a Tribble ``.idx`` (plain text)
        beside a file, splits no index range reaches get no task, and each
        remaining task decodes only the index ranges inside its split —
        past the reference's split-only pruning
        (`vcf/VcfSource.java:143-168`), where the surviving split decodes
        in full.

        ``split_size`` caps the bytes of each task's split; left None,
        the files split as Spark's file scan splits them (``_scan_split``),
        so a plain-text read keeps the parallelism of Spark's text scan.

        ``columns`` returns exactly those columns, in schema order, and
        the tasks parse INFO and FORMAT only when they are asked for.
        Spark cannot prune the rows a task builds, so a caller that reads
        some columns should name them here rather than select them after
        the read."""
        from .bgzf import is_bgzf
        from .sam import stringency_mode, validate_columns

        if columns is not None:
            validate_columns(columns, VARIANTS_COLUMNS, "variants")
        mode = stringency_mode(stringency)
        header_text = read_vcf_header_text(path)
        samples = vcf_sample_names(header_text)

        with fs_open(_first(path)) as fh:
            bgzf = is_bgzf(fh)
        ivs = collect_intervals(intervals) if intervals is not None else None
        if bgzf:
            # tabix pushdown: with intervals + a .tbi, drop byte-range
            # splits the index proves contain no overlapping record and
            # seek the index chunks inside the others
            plan = _bgzf_line_plan(spark, path, split_size, ivs)
        else:
            # the explicit file list keeps index sidecars out of a
            # directory read
            files = list_data_files(get_fs(str(path)), str(path))
            if any(f.endswith(".gz") for f in files):
                # non-BGZF gzip is not splittable: one task per file, as
                # the reference's non-BGZF path (`vcf/VcfSource.java:80-86`)
                plan = _gzip_line_plan(files)
            else:
                # Plain text: per-file byte-range splits, pruned (and
                # seeked) per file by that file's Tribble `.idx` when
                # intervals are given
                # (reference picks the index per format: tabix for .bgz/.gz,
                # Tribble for .vcf — `vcf/VcfSource.java:143-168`,
                # `tribble/TribbleIndexIntervalFilteringTextInputFormat.java:33-67`).
                plan = _text_line_plan(spark, files, split_size, ivs)
        return _variants_frame(spark, plan, samples, _line_keeper(ivs, mode), mode, columns)


def _first(path: str):
    from .headers import first_file_in

    return first_file_in(path)


def _variants_frame(
    spark: SparkSession,
    plan: tuple[list, Callable],
    samples: list[str],
    keep: Callable[[str], bool],
    stringency: str,
    columns: list[str] | None,
) -> DataFrame:
    """The variants frame of a line plan ``(tasks, task_lines)``: each task
    parses the lines ``keep`` passes (``parse_vcf_line``) and applies the
    stringency mode to a malformed one (< 8 fields or POS not a long):
    ``strict`` raises, ``silent`` drops it, ``lenient`` keeps its row."""
    from .arrow_xfer import pruned_schema, to_dataframe

    tasks, task_lines = plan
    fields = None if columns is None else frozenset(columns)

    def task_rows(task):
        for line in filter(keep, task_lines(task)):
            row = parse_vcf_line(line, samples, fields)
            if row["pos"] is None or line.count("\t") < 7:
                if stringency == "strict":
                    raise ValueError(f"malformed record: {line}")
                if stringency == "silent":
                    continue
            yield row

    return to_dataframe(spark, tasks, task_rows, pruned_schema(VARIANTS_SCHEMA, fields))


def _bgzf_line_plan(
    spark: SparkSession | None,
    path: str,
    split_size: int | None,
    ivs: list[tuple[str, int, int]] | None = None,
) -> tuple[list, Callable]:
    """The BGZF line plan ``(tasks, task_lines)``: byte ranges planned on
    the driver (serially when ``spark`` is None); ``task_lines(task)``
    decodes its ranges' lines to ``str``.

    Partition planning matches the reference's split model (splitSize →
    ranges); each task re-opens the file locally — at cluster scale `path`
    is on a shared store and the open goes through the cluster filesystem.
    With ``ivs`` (interval list), each file's own tabix ``.tbi`` (or
    tabix-flavored ``.csi``) maps the intervals to compressed byte ranges
    (``tabix.index_chunks``, which also refuses a stale index):
    splits none of them reaches get no task, and each other task inflates
    only the BGZF blocks of the ranges inside its split (``_split_tasks``),
    where the reference decodes a surviving split whole.  Per-file, so a
    sharded directory with per-shard indexes seeks in every shard; for many
    files the size+index metadata collection runs as a Spark job, keeping
    driver planning O(1) (same policy as BamSource).  A file read whole
    (no intervals, or no index) that lacks the BGZF EOF terminator draws
    a warning, as a BAM does."""
    from .fsio import collect_metadata, list_data_files

    fs = get_fs(path)
    files = list_data_files(fs, str(path))

    def meta_for(f: str):
        # compression homogeneity: the directory was sniffed BGZF from its
        # first file — a plain-text shard here would decode as garbage rows,
        # so fail fast with the offending file named
        from .bgzf import is_bgzf, warn_if_missing_terminator

        flen = fs.size(f)
        chunks = None if ivs is None else index_chunks(fs, f, flen, ivs, sidecars=(".tbi", ".csi"))
        with fs.open_input(f) as fh:
            if not is_bgzf(fh):
                raise ValueError(
                    f"{f}: not BGZF, but the first file of this input is — "
                    "VCF directory inputs must be compression-homogeneous"
                )
            if chunks is None:
                warn_if_missing_terminator(fh, flen, f)
        if chunks is None:
            return (f, flen, None)
        # a chunk's last records may start in the block its end points
        # into: the byte range keeps that block
        return (f, flen, merge_ranges([(u >> 16, (v >> 16) + 1) for u, v in chunks]))

    metas = collect_metadata(spark, files, meta_for)
    tasks = _split_tasks(metas, split_size or _scan_split(spark, metas))

    def task_lines(task):
        from .bgzf import iter_lines_in_range
        from .fsio import open_prefetched

        f, parts = task
        # readahead on remote filesystems: the block decode loop is strictly
        # sequential, so the next 4 MB downloads while this one inflates
        with open_prefetched(fs, f) as fh:
            for s, e in parts:
                for line in iter_lines_in_range(fh, s, e):
                    yield line.decode("utf-8", "replace")

    return tasks, task_lines


def _scan_split(spark: SparkSession | None, metas: list[tuple[str, int, object]]) -> int:
    """The split size of Spark's file scan (``FilePartition.maxSplitBytes``)
    at its default confs: the files' bytes, each plus a 4 MB open cost,
    spread over the default parallelism, between 4 MB and 128 MB."""
    cores = spark.sparkContext.defaultParallelism if spark is not None else 1
    total = sum(flen + _OPEN_COST for _f, flen, _r in metas)
    return min(_MAX_SPLIT, max(_OPEN_COST, -(-total // cores)))


def _split_tasks(
    metas: list[tuple[str, int, list[tuple[int, int]] | None]], split_size: int
) -> list[tuple[str, list[tuple[int, int]]]]:
    """One task per ``split_size`` byte-range split of each file: ``(file,
    parts)``, where ``parts`` is the whole split, or with an index
    (``franges`` not None) the index ranges clipped to the split.  Splits
    no index range reaches get no task.  Each split still owns the lines
    starting in it, so the clipped parts of all splits tile the index
    ranges exactly once.

    Parts less than ``_SEEK_GAP`` apart are read as one: each part start
    reads up to that much beyond its own bytes (a BGZF part probes the
    block before it; a text part reads at least a 64 KiB chunk), so
    seeking past a smaller gap would read more than decoding it.  A task
    thus never reads much more than its whole split, however many
    intervals it serves."""
    from .tabix import clip_ranges

    tasks = []
    for f, flen, franges in metas:
        for s in range(0, flen, split_size):
            e = min(s + split_size, flen)
            parts = [(s, e)] if franges is None else clip_ranges(s, e, franges)
            if not parts:
                continue
            merged = [parts[0]]
            for u, v in parts[1:]:
                if u - merged[-1][1] < _SEEK_GAP:
                    merged[-1] = (merged[-1][0], v)
                else:
                    merged.append((u, v))
            tasks.append((f, merged))
    return tasks


def _text_line_plan(
    spark: SparkSession | None,
    files: list[str],
    split_size: int | None,
    ivs: list[tuple[str, int, int]] | None,
) -> tuple[list, Callable]:
    """Plain-text analog of ``_bgzf_line_plan``: per-file byte-range splits
    planned driver-side (as a Spark job for many files); with ``ivs``, each
    file's own Tribble ``.idx`` raw byte ranges prune its splits and clip
    each remaining task to the ranges inside its split, so a task reads
    only the index blocks it owns, not its whole split
    (``tribble.iter_text_lines_in_range`` per range)."""
    from .fsio import collect_metadata

    fs = get_fs(files[0])

    def meta_for(f: str):
        # compression homogeneity (mirror of the BGZF path's check): this
        # directory was sniffed plain-text — a BGZF/gzip shard fed to a
        # byte-range text reader would yield binary garbage
        from .bgzf import is_bgzf

        with fs.open_input(f) as fh:
            if is_bgzf(fh):
                raise ValueError(
                    f"{f}: BGZF, but the first file of this input is plain "
                    "text — VCF directory inputs must be compression-homogeneous"
                )
        flen = fs.size(f)
        franges = None
        if ivs is not None and fs.exists(f + ".idx"):
            from .tribble import parse_tribble, text_ranges_for_intervals

            franges = text_ranges_for_intervals(parse_tribble(f + ".idx"), ivs)
        return (f, flen, franges)

    metas = collect_metadata(spark, files, meta_for)
    tasks = _split_tasks(metas, split_size or _scan_split(spark, metas))

    def task_lines(task):
        from .tribble import iter_text_lines_in_range

        p, parts = task
        with fs.open_input(p) as fh:
            for s, e in parts:
                for line in iter_text_lines_in_range(fh, s, e):
                    yield line.decode("utf-8", "replace")

    return tasks, task_lines


def _gzip_line_plan(files: list[str]) -> tuple[list, Callable]:
    """True-gzip line plan: one task per file, gunzipped whole (gzip is not
    splittable); lines split on ``\n`` with trailing ``\r``/``\n``
    stripped, as the plain-text reader does."""

    def task_lines(f: str):
        import gzip

        with fs_open(f) as raw, gzip.open(raw) as fh:
            for line in fh:
                yield line.rstrip(b"\r\n").decode("utf-8", "replace")

    return list(files), task_lines


def to_vcf_line(sample_names: list[str]) -> Column:
    """Native expression rebuilding the VCF line from the variants columns."""
    qual = F.when(F.col("qual").isNull(), ".").otherwise(
        F.when(
            F.col("qual") == F.col("qual").cast("long").cast("double"),
            F.col("qual").cast("long").cast("string"),
        ).otherwise(F.col("qual").cast("string"))
    )
    filters = (
        F.when(F.col("filters").isNull(), ".")
        .when(F.size("filters") == 0, "PASS")
        .otherwise(F.array_join("filters", ";"))
    )
    info = F.when(F.size(F.map_entries("info")) == 0, ".").otherwise(
        F.array_join(
            F.transform(
                F.map_entries("info"),
                lambda e: F.when(e["value"] == "", e["key"]).otherwise(
                    F.concat(e["key"], F.lit("="), e["value"])
                ),
            ),
            ";",
        )
    )
    base = F.concat_ws(
        "\t",
        F.col("contig"),
        F.col("pos").cast("string"),
        F.coalesce(F.col("id"), F.lit(".")),
        F.col("ref"),
        F.when(F.size("alts") == 0, ".").otherwise(F.array_join("alts", ",")),
        qual,
        filters,
        info,
    )
    if not sample_names:
        return base
    # FORMAT is declared from sample 1's attrs keys; every sample's values
    # are then emitted BY THOSE KEYS, so a sample whose key set diverged
    # under the lenient per-sample clamp can never write values misaligned
    # with the FORMAT declaration.  Mid-array absences become '.'; TRAILING
    # absences are trimmed (the VCF-spec "trailing fields can be dropped"
    # form), which keeps parse→write→parse lossless for short samples.
    fmt_keys = F.map_keys(F.element_at(F.col("genotypes"), 1)["attrs"])
    fmt = F.array_join(fmt_keys, ":")

    def sample_values(i: int) -> Column:
        attrs = F.element_at(F.col("genotypes"), i + 1)["attrs"]
        vals = F.transform(fmt_keys, lambda k: F.try_element_at(attrs, k))
        present_idx = F.zip_with(
            vals,
            F.sequence(F.lit(1), F.size(vals)),
            lambda v, j: F.when(v.isNotNull(), j).otherwise(0),
        )
        last = F.greatest(F.array_max(present_idx), F.lit(1))
        return F.when(F.size(vals) == 0, F.lit("")).otherwise(
            F.array_join(F.slice(vals, 1, last), ":", ".")
        )

    sample_cols = F.concat_ws(
        "\t", *[sample_values(i) for i in range(len(sample_names))]
    )
    return F.concat_ws("\t", base, fmt, sample_cols)


class VcfSink:
    """Write a variants DataFrame to a single VCF, or to a directory of
    complete VCF shards, through the shared commit (``merger``) — plain
    text, or BGZF (.bgz) with terminator-less parts + header blocks + EOF
    block (reference `vcf/VcfSink.java:23-69`)."""

    def write(
        self,
        df: DataFrame,
        header_text: str,
        path: str,
        sample_names: list[str] | None = None,
        *,
        write_index: bool = False,
    ) -> None:
        compressed = path.endswith((".bgz", ".gz"))
        commit(_vcf_lines(df, header_text, sample_names), path, _vcf_format(header_text, compressed, write_index))

    def write_sharded(
        self,
        df: DataFrame,
        header_text: str,
        path: str,
        sample_names: list[str] | None = None,
        *,
        write_index: bool = False,
    ) -> None:
        """One complete VCF per partition in directory ``path`` (reference
        `vcf/VcfSinkMultiple.java:12-45`); BGZF-compressed when the directory
        name contains .bgz/.gz (e.g. out.vcf.bgz.sharded).

        ``write_index=True`` writes each shard's index beside it on the
        executor: tabix ``.tbi`` for BGZF shards, Tribble ``.idx`` for
        plain-text shards.  Precondition (as for ``tabix``/``samtools``
        themselves): rows must be position-sorted within each partition,
        e.g. ``df.sortWithinPartitions("contig", "pos")``."""
        compressed = ".bgz" in fs_basename(path) or ".gz" in fs_basename(path)
        commit_sharded(
            _vcf_lines(df, header_text, sample_names), path, _vcf_format(header_text, compressed, write_index)
        )


def _vcf_lines(df: DataFrame, header_text: str, sample_names: list[str] | None) -> DataFrame:
    samples = sample_names if sample_names is not None else vcf_sample_names(header_text)
    return df.select(to_vcf_line(samples).alias("value"))


def _tribble_index(_metas: list, _base: int, path: str) -> None:
    # plain text gets the Tribble .idx, like the reference's per-format
    # index choice on the read side: a pass over the committed text file
    from .tribble import create_tribble_index

    create_tribble_index(path)


def _vcf_format(header_text: str, compressed: bool, write_index: bool) -> PartFormat:
    if not compressed:
        return text_format(header_text.encode(), index=_tribble_index if write_index else None, ext=".vcf")
    from .bgzf import EMPTY_GZIP_BLOCK, compress_blocks, write_bgzf_part
    from .tabix import TabixAccumulator, vcf_feature_span

    def line(row: dict) -> bytes:
        return row["value"].encode() + b"\n"

    def encode(rows, fh) -> dict | None:
        if not write_index:
            write_bgzf_part(fh, rows, line)
            return None
        acc = TabixAccumulator()
        csize = write_bgzf_part(
            fh, rows, line, lambda row, v, v_end: acc.add(*vcf_feature_span(row["value"]), v, v_end)
        )
        acc.finish(csize)
        return {"csize": csize, **acc.to_meta()}

    def index(metas: list[dict], base: int, path: str) -> None:
        fs_write_bytes(path + ".tbi", TabixAccumulator().fold(metas, base).dump())

    return PartFormat(
        header=compress_blocks(header_text.encode()),
        encode=encode,
        terminator=EMPTY_GZIP_BLOCK,
        index=index if write_index else None,
        ext=".vcf.bgz",
    )
