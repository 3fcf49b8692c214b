r"""VCF source and sink, Spark-first.

Source paths (reference parity: `vcf/VcfSource.java:45-186`):
- plain ``.vcf`` (and true-gzip ``.vcf.gz``) without intervals:
  ``spark.read.text`` — Spark's text source is splittable for plain text
  and handles gzip (one partition per gzip file, exactly like the
  reference's non-BGZF path).
- BGZF (``.bgz``, or a ``.gz`` that sniffs as BGZF — the reference's
  BGZFEnhancedGzipCodec distinction): custom splittable read — byte ranges
  are planned on the driver and each task yields the lines *owned* by its
  range via ``bgzf.iter_lines_in_range`` (exactly-once tiling).
- with intervals, every read takes Python line tasks (BGZF as above,
  plain text by byte range, true gzip one task per file), and each task
  keeps only the lines whose record overlaps an interval (``_line_keeper``).

Parsing is 100% native column expressions (split / transform /
map_from_entries) — the whole decode stays in Tungsten codegen; the
Python-per-line work is block decompression and, for interval reads, the
overlap test.

Variants schema (SURVEY §1.3): contig pos id ref alts qual filters info
genotypes.  Conventions: ``id``/``qual`` NULL for '.'; ``filters`` NULL for
'.', empty array for PASS; ``info`` map value '' for flag keys.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..operators.interval import collect_intervals, overlap_test, try_long
from .fsio import fs_basename, fs_open, fs_write_bytes, get_fs, list_data_files
from .headers import read_vcf_header_text, vcf_sample_names
from .merger import PartFormat, commit, commit_sharded, text_format
from .tabix import index_chunks, merge_ranges

VARIANTS_COLUMNS = ["contig", "pos", "id", "ref", "alts", "qual", "filters", "info", "genotypes"]


def _null_if_dot(c: Column) -> Column:
    return F.when(c == ".", F.lit(None)).otherwise(c)


_GT_STRUCT = "struct<sample:string,gt:string,attrs:map<string,string>>"

# the line readers' schema: one text line per row
_LINES = StructType([StructField("value", StringType())])


def _sql_map_entries_last_wins(entries: str) -> str:
    """SQL-text twin of ``functions.map_from_entries_last_wins`` (same
    guard-then-dedup shape; see that docstring for the semantics)."""
    keys = f"transform({entries}, e -> e.key)"
    deduped = (
        f"filter({entries}, (e, i) -> NOT exists("
        f"slice({entries}, i + 2, size({entries})), later -> later.key = e.key))"
    )
    return (
        f"CASE WHEN size(array_distinct({keys})) = size({entries}) "
        f"THEN map_from_entries({entries}) ELSE map_from_entries({deduped}) END"
    )


def _sql_map_arrays_last_wins(keys: str, values: str) -> str:
    """SQL-text twin of ``functions.map_from_arrays_last_wins``."""
    entries = f"zip_with({keys}, {values}, (k, v) -> named_struct('key', k, 'value', v))"
    return (
        f"CASE WHEN size(array_distinct({keys})) = size({keys}) "
        f"THEN map_from_arrays({keys}, {values}) "
        f"ELSE {_sql_map_entries_last_wins(entries)} END"
    )


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def parse_vcf_lines(lines: DataFrame, sample_names: list[str], value_col: str = "value") -> DataFrame:
    """Parse raw VCF body lines into the variants schema.

    The projection is rendered as SQL TEXT and handed to ``selectExpr`` —
    one JVM parse — rather than composed through the Column API: building
    the higher-order map/dedup expressions op-by-op costs thousands of py4j
    round trips (~0.4 s of driver time per plan, growing with sample count),
    which dominated small reads.  The expression tree is identical; only the
    construction path changed.
    """
    v = f"`{value_col}`"

    def at(i: int) -> str:
        return f"try_element_at(split({v}, '\\t'), {i})"

    key = "substring_index(kv, '=', 1)"
    info_entries = (
        f"transform(split({at(8)}, ';'), kv -> named_struct("
        f"'key', {key}, "
        f"'value', CASE WHEN length({key}) < length(kv) "
        f"THEN substr(kv, length({key}) + 2, length(kv)) ELSE '' END))"
    )
    info = (
        f"CASE WHEN {at(8)} = '.' THEN map() "
        f"ELSE {_sql_map_entries_last_wins(info_entries)} END"
    )

    format_keys = f"split({at(9)}, ':')"

    def _sample_map(i: int) -> str:
        # clamp BOTH arrays to the shorter length: a sample with more (or
        # fewer) ':'-subfields than FORMAT keys must degrade per lenient
        # semantics, not crash map_from_arrays with a length mismatch
        vals = f"split({at(10 + i)}, ':')"
        n = f"least(size({format_keys}), size({vals}))"
        return _sql_map_arrays_last_wins(
            f"slice({format_keys}, 1, {n})", f"slice({vals}, 1, {n})"
        )

    if sample_names:
        # two-stage projection: materialize each sample's attrs map once,
        # then reference it twice (gt lookup + attrs) — keeps the rendered
        # text linear in sample count
        lines = lines.selectExpr(
            v, *[f"{_sample_map(i)} AS __sm{i}" for i in range(len(sample_names))]
        )
        genotypes = (
            "array("
            + ", ".join(
                f"named_struct('sample', {_sql_str(s)}, "
                f"'gt', try_element_at(__sm{i}, 'GT'), 'attrs', __sm{i})"
                for i, s in enumerate(sample_names)
            )
            + ")"
        )
    else:
        genotypes = f"cast(array() AS array<{_GT_STRUCT}>)"

    return lines.selectExpr(
        f"{at(1)} AS contig",
        f"try_cast({at(2)} AS bigint) AS pos",
        f"nullif({at(3)}, '.') AS id",
        f"{at(4)} AS ref",
        f"CASE WHEN {at(5)} = '.' THEN cast(array() AS array<string>) "
        f"ELSE split({at(5)}, ',') END AS alts",
        f"try_cast(nullif({at(6)}, '.') AS double) AS qual",
        f"CASE WHEN {at(7)} = '.' THEN cast(NULL AS array<string>) "
        f"WHEN {at(7)} = 'PASS' THEN cast(array() AS array<string>) "
        f"ELSE split({at(7)}, ';') END AS filters",
        f"{info} AS info",
        f"{genotypes} AS genotypes",
    )


def variant_end(info: Column, pos: Column, ref: Column) -> Column:
    """1-based inclusive end: INFO/END when present (symbolic alleles), else
    pos + len(ref) - 1 — htsjdk VariantContext.getEnd semantics.  Its
    Python twin, for decode tasks, is ``interval.variant_end``."""
    return F.coalesce(
        F.try_element_at(info, F.lit("END")).try_cast("long"),
        pos + F.length(ref) - 1,
    )


def info_end(info: str) -> str | None:
    """The value ``parse_vcf_lines`` gives INFO key ``END`` on a line with
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


def _line_keeper(
    ivs: list[tuple[str, int, int]] | None, stringency: str
) -> Callable[[str], bool] | None:
    """The test a VCF decode task applies to each line of an interval read:
    keep a body line whose record overlaps an interval, with the span
    ``parse_vcf_lines`` and ``variant_end`` give it, and under ``strict``
    a malformed one (< 8 fields or POS not a long), on which
    ``apply_stringency`` then raises.  The rows are those of filtering the
    full read, in every stringency mode.  None without intervals."""
    from ..operators.interval import variant_end as end_of

    if ivs is None:
        return None
    hit = overlap_test(ivs)
    strict = stringency.lower() == "strict"

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


# Default split size, defined ONCE: it is both read()'s parameter default
# and _native_text_ok's "caller did not tune split_size" sentinel — two
# copies of the literal could drift and silently route reads to the wrong
# scan path.
_DEFAULT_SPLIT_SIZE = 128 * 1024 * 1024
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
        split_size: int = _DEFAULT_SPLIT_SIZE,
        stringency: str = "lenient",
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
        in full."""
        from .bgzf import is_bgzf

        header_text = read_vcf_header_text(path)
        samples = vcf_sample_names(header_text)

        with fs_open(_first(path)) as fh:
            bgzf = is_bgzf(fh)
        ivs = collect_intervals(intervals) if intervals is not None else None
        files = plan = None
        if bgzf:
            # tabix pushdown: with intervals + a .tbi, drop byte-range
            # splits the index proves contain no overlapping record and
            # seek the index chunks inside the others
            plan = _bgzf_line_plan(spark, path, split_size, ivs)
        else:
            # the explicit file list keeps index sidecars out of a
            # directory read
            fs = get_fs(str(path))
            files = list_data_files(fs, str(path))
            gz = any(f.endswith(".gz") for f in files)
            if ivs is not None and gz:
                # non-BGZF gzip is not splittable: one task per file, the
                # partitioning of Spark's gzip text scan
                plan = _gzip_line_plan(files)
            elif ivs is not None or not (gz or _native_text_ok(fs, split_size)):
                # Plain text: per-file byte-range splits, pruned (and
                # seeked) per file by that file's Tribble `.idx` when
                # intervals are given
                # (reference picks the index per format: tabix for .bgz/.gz,
                # Tribble for .vcf — `vcf/VcfSource.java:143-168`,
                # `tribble/TribbleIndexIntervalFilteringTextInputFormat.java:33-67`).
                plan = _text_line_plan(spark, files, split_size, ivs)
        if plan is None:
            # no intervals → nothing to test per line: the native JVM text
            # scan (whole-stage codegen) beats any Python reader — gzip
            # whole-file (reference `vcf/VcfSource.java:80-86`), or plain
            # text when the scheme is JVM-visible (a registered mock:// /
            # Arrow-only scheme must stay on the wrapper) and the caller did
            # not tune split_size (the native scan partitions by
            # spark.sql.files.maxPartitionBytes, not our knob).
            lines = spark.read.text(files)
        else:
            lines = _lines_frame(spark, plan, _line_keeper(ivs, stringency))
        body = lines.filter(~F.col("value").startswith("#"))
        from .sam import apply_stringency

        f = F.split(F.col("value"), "\t")
        malformed = (F.size(f) < 8) | F.try_element_at(f, F.lit(2)).try_cast(
            "long"
        ).isNull()
        body = apply_stringency(body, malformed, stringency)
        return parse_vcf_lines(body, samples)


def _first(path: str):
    from .headers import first_file_in

    return first_file_in(path)


def _lines_frame(
    spark: SparkSession, plan: tuple[list, Callable], keep: Callable[[str], bool] | None
) -> DataFrame:
    """One-column ``value`` frame of a line plan ``(tasks, task_lines)``:
    each task keeps the lines ``keep`` passes (all when None)."""
    from .arrow_xfer import to_dataframe

    tasks, task_lines = plan

    def task_rows(task):
        lines = task_lines(task)
        return ({"value": v} for v in (lines if keep is None else filter(keep, lines)))

    return to_dataframe(spark, tasks, task_rows, _LINES)


def _bgzf_line_plan(
    spark: SparkSession | None,
    path: str,
    split_size: int,
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

    tasks = _split_tasks(collect_metadata(spark, files, meta_for), split_size)

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


def _native_text_ok(fs, split_size: int) -> bool:
    """True when the native JVM text scan may replace the wrapper-routed
    Python range reader: the files live on the plain local filesystem (a
    registered mock:// or Arrow-only scheme is invisible to the JVM) and
    the caller left ``split_size`` at its default (the native scan
    partitions by spark.sql.files.maxPartitionBytes, so a tuned
    ``split_size`` must go through the range reader to be honored)."""
    from .fsio import LocalFileSystem

    return isinstance(fs, LocalFileSystem) and split_size == _DEFAULT_SPLIT_SIZE


def _text_line_plan(
    spark: SparkSession | None,
    files: list[str],
    split_size: int,
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

    tasks = _split_tasks(collect_metadata(spark, files, meta_for), split_size)

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
