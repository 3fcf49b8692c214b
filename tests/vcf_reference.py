"""A Spark SQL VCF line parser, kept as the reference the decode tasks'
``vcf.parse_vcf_line`` is checked against (``tests/test_vcf.py``).

It parses a frame of raw body lines with native column expressions
(split / transform / map_from_entries), so its rows carry Spark's own
semantics for every edge: ``try_element_at`` on short lines,
``try_cast`` for POS and QUAL, last-wins maps for duplicated INFO and
FORMAT keys."""

from __future__ import annotations

from pyspark.sql import DataFrame

from disq_original_spark.sources.vcf import _GENOTYPE


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
    """Parse raw VCF body lines into the variants schema, rendered as one
    SQL projection handed to ``selectExpr``."""
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
        genotypes = f"cast(array() AS array<{_GENOTYPE.simpleString()}>)"

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
