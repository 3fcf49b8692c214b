"""Cache hygiene (VERDICT r4 directive #1): every materialization a query
builder takes is registered with ``disq_original_spark.cache`` and released
by the harness once the build's results are drained — no persisted or
checkpointed blocks survive a build+drain+release cycle, so a long session
(the driver's 139-query sweep, a bench run) never accumulates stale cached
subtrees and no query's timing is flattered by another query's resident
cache."""

from __future__ import annotations

import pytest

from disq_original_spark.cache import (
    materialize,
    release_persists,
    tracked_count,
    tracked_info,
)
from disq_original_spark.queries import QUERIES

# Queries whose build path materializes (directly or through operators):
# MinHash-LSH family, connected components' per-round checkpoints, dupmark,
# interval-merge subtract, pHash, token features, the cached VCF decode.
PERSISTING = [
    "d04_ngram_jaccard",
    "d07_dup_clusters",
    "d14_lsh_estimate_audit",
    "g07_typed_variant_stats",
    "g09_mark_duplicates",
    "g17_interval_subtract",
    "m04_phash_neardup",
    "p06_importance_resampling",
]


def _persistent_rdd_count(spark) -> int:
    # the authoritative storage view: JVM-side registry of persisted RDDs
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture(autouse=True)
def _clean_slate(spark, monkeypatch):
    # r13: corpus persists are scale-gated (cache.materialize) and the
    # test SFs sit far below the default 256 MiB threshold — zero the
    # threshold so these tests keep exercising the persist machinery the
    # way a production-scale run would take it.
    monkeypatch.setenv("SPARK_GRAFT_SMALL_INPUT_BYTES", "0")
    release_persists()
    spark.catalog.clearCache()
    yield
    release_persists()
    spark.catalog.clearCache()


def _cached_partitions(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.numCachedPartitions() for i in infos)


def test_scale_gated_materialization_small_corpus(spark, sf_dir, monkeypatch):
    """At the DEFAULT threshold a bench-scale corpus takes the lazy
    checkpoint, not the persist: below the crossover a persist barrier
    measurably dominates the recompute it saves (r13, d04 2.53 s -> 1.49 s
    median), and ``eager`` does not apply to the checkpoint, so nothing is
    materialized before the drain.  At a zeroed gate the same site is one
    eager persist, materialized at build."""
    monkeypatch.delenv("SPARK_GRAFT_SMALL_INPUT_BYTES", raising=False)
    QUERIES["d04_ngram_jaccard"].build(spark, sf_dir)
    assert [mode for _df, mode in tracked_info()] == ["checkpoint"]
    assert _cached_partitions(spark) == 0
    release_persists()
    monkeypatch.setenv("SPARK_GRAFT_SMALL_INPUT_BYTES", "0")
    QUERIES["d04_ngram_jaccard"].build(spark, sf_dir)
    assert [mode for _df, mode in tracked_info()] == ["eager"]
    assert _cached_partitions(spark) > 0


@pytest.mark.parametrize("name", PERSISTING)
def test_build_drain_release_leaves_no_cached_blocks(spark, sf_dir, name):
    df = QUERIES[name].build(spark, sf_dir)
    assert tracked_count() > 0, f"{name} expected to register persists"
    df.write.format("noop").mode("overwrite").save()  # drain
    released = release_persists()
    assert released > 0
    spark.catalog.clearCache()  # drop non-tracked .cache() blocks, if any
    assert _persistent_rdd_count(spark) == 0, (
        f"{name}: persisted RDDs survived build+drain+release"
    )


# The eager/lazy persist split is a MEASURED decision (SCALE.md "Selective
# eager persist": a persist dedupes sequential reuse only, so SLIM frames
# with CONCURRENT consumers materialize at build — d04 −16%, d14/d03 −8% —
# while FAT pipeline-fused caches stay lazy — eager cost g09 +0.3-1.0 s
# because the decode pass stopped fusing with its consumer).  Pin the
# policy per frame, in registration order, so a refactor can't silently
# flip a frame's eagerness (VERDICT r6 directive #2).
EAGER_POLICY = {
    "d04_ngram_jaccard": [True],  # capped postings index (counts + pairs)
    "d14_lsh_estimate_audit": [True, True, True],  # sig, pairs, shingle hashes
    "g09_mark_duplicates": [False],  # dupmark slim sig — decode pass must fuse
    "m04_phash_neardup": [False],  # pHash table — single-chain consumer
}


@pytest.mark.parametrize("name", sorted(EAGER_POLICY))
def test_persist_eagerness_policy(spark, sf_dir, name):
    QUERIES[name].build(spark, sf_dir)  # build only — no drain
    flags = [mode == "eager" for _df, mode in tracked_info()]
    assert flags == EAGER_POLICY[name], (
        f"{name}: persist eagerness flipped — measured policy is "
        f"{EAGER_POLICY[name]}, build registered {flags}"
    )
    # behavior, not just the flag: an eager build has cached partitions
    # materialized BEFORE any drain; a fully-lazy build has none yet
    cached = _cached_partitions(spark)
    if any(EAGER_POLICY[name]):
        assert cached > 0, f"{name}: eager persist did not materialize at build"
    else:
        assert cached == 0, (
            f"{name}: lazy persist materialized {cached} partitions at build "
            "time — something is forcing the cache before the drain"
        )


def test_release_is_correctness_neutral(spark, sf_dir):
    """Unpersisting between build and drain must not change results — the
    subtree recomputes from lineage (this is why harness-level release
    can never corrupt a query, only cost recompute time)."""
    a = QUERIES["d04_ngram_jaccard"].build(spark, sf_dir)
    expected = sorted(map(tuple, a.collect()))
    release_persists()
    b = QUERIES["d04_ngram_jaccard"].build(spark, sf_dir)
    release_persists()  # release BEFORE the drain: persists never materialize
    got = sorted(map(tuple, b.collect()))
    assert got == expected


def test_entry_contract_releases_previous_build(spark):
    """__spark_entry__.queries() wrappers release the previous build's
    persists at each new build — the driver's sweep holds at most one
    query's persists at any time."""
    import __spark_entry__ as se

    qs = se.queries()
    qs["d04_ngram_jaccard"](spark, "/root/testdata/sf0.001")
    assert tracked_count() > 0
    qs["q02_filter"](spark, "/root/testdata/sf0.001")  # non-persisting build
    assert tracked_count() == 0


def _query_path_modules():
    import ast
    import pathlib

    import disq_original_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    for sub in ("queries", "operators", "streaming"):
        for f in sorted((root / sub).glob("*.py")):
            yield f"{sub}/{f.name}", ast.parse(f.read_text())


def test_no_env_reads_in_query_paths():
    """Query builders and operators take no environment switches: a knob
    read at build time forks the code path per process, and a dual path no
    deployment sets goes untested.  The knobs live in cache.py, tables.py
    and session.py."""
    import ast

    offenders: list[str] = []
    for where, tree in _query_path_modules():
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr in ("environ", "getenv"):
                offenders.append(f"{where}:{node.lineno} {node.attr}")
            if isinstance(node, ast.ImportFrom) and node.module == "os" and any(
                a.name in ("environ", "getenv") for a in node.names
            ):
                offenders.append(f"{where}:{node.lineno} from os import")
    assert offenders == [], offenders


def test_no_raw_materialization_in_query_paths():
    """VERDICT r13 #1: every query-path materialization point goes through
    ``cache.materialize``, so production-scale runs (above the small-input
    gate) get a recoverable tracked persist and every frame is released by
    ``release_persists`` — a raw ``persist``/``cache`` is never released,
    and a raw ``localCheckpoint``/``checkpoint`` truncates lineage at every
    scale (on a real cluster, losing one executor after materialization
    makes the query unrecoverable).  ``lineage_cut`` is the one
    scale-independent primitive, and only operators/graph.py's connected
    components loop may call it: per-round lineage truncation is the
    algorithm's documented requirement (plan growth is exponential in
    rounds without it)."""
    import ast

    raw = ("persist", "cache", "localCheckpoint", "checkpoint")
    offenders: list[str] = []
    for where, tree in _query_path_modules():
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in raw
            ):
                offenders.append(f"{where}:{node.lineno} .{node.func.attr}()")
            named = (
                (isinstance(node, ast.Name) and node.id == "lineage_cut")
                or (isinstance(node, ast.Attribute) and node.attr == "lineage_cut")
                or (
                    isinstance(node, ast.ImportFrom)
                    and any(a.name == "lineage_cut" for a in node.names)
                )
            )
            if named and where != "operators/graph.py":
                offenders.append(f"{where}:{node.lineno} lineage_cut")
    assert offenders == [], offenders


def test_no_raw_parquet_reads_in_query_paths():
    """Query builders and operators load parquet through ``tables``
    (``load_table``, ``parquet_schema``): a reader call without a schema
    makes Spark run a one-task schema-inference job at build, once per
    load, while ``tables`` infers each file once per process.  Any
    ``.parquet(...)`` call on a ``.read`` chain is an offender, with or
    without ``.schema(...)``; ``readStream`` and ``write`` are not reads."""
    import ast

    def on_read_chain(node) -> bool:
        while isinstance(node, (ast.Attribute, ast.Call)):
            if isinstance(node, ast.Attribute):
                if node.attr == "read":
                    return True
                node = node.value
            else:
                node = node.func
        return False

    offenders: list[str] = []
    for where, tree in _query_path_modules():
        if not where.startswith(("queries/", "operators/")):
            continue
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
                and on_read_chain(node.func.value)
            ):
                offenders.append(f"{where}:{node.lineno} .read...parquet()")
    assert offenders == [], offenders


def test_sessions_come_only_from_get_spark():
    """Every session the repo builds (tests, ``bench.py``, ``tools/``,
    ``perfbench/``) comes from ``session.get_spark``, so each runs its
    Python tasks under the ``pydaemon`` worker daemon and the shared confs.
    A ``SparkSession.builder`` outside ``session.py`` is an offender."""
    import ast
    import pathlib

    repo = pathlib.Path(__file__).resolve().parent.parent
    offenders: list[str] = []
    for f in sorted(repo.rglob("*.py")):
        rel = f.relative_to(repo)
        if rel.parts[0].startswith(".") or rel == pathlib.Path("disq_original_spark/session.py"):
            continue
        for node in ast.walk(ast.parse(f.read_text())):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "builder"
                and "SparkSession" in (getattr(node.value, "id", None), getattr(node.value, "attr", None))
            ):
                offenders.append(f"{rel}:{node.lineno}")
    assert offenders == [], offenders


def test_indexes_are_opened_only_by_the_index_lookup():
    """BAM, VCF and BCF planners look their ``.bai``/``.tbi``/``.csi`` up
    through ``tabix.index_chunks``, the one place that picks the sidecar,
    maps intervals to chunks and refuses a stale index.  A call of an index
    parser anywhere else under the package is a second lookup to keep in
    step."""
    import ast
    import pathlib

    import disq_original_spark as pkg

    parsers = {"parse_bai", "parse_tabix", "parse_csi"}
    allowed = {"sources/tabix.py", "sources/bai.py", "sources/csi.py"}
    root = pathlib.Path(pkg.__file__).parent
    offenders: list[str] = []
    for f in sorted(root.rglob("*.py")):
        rel = f.relative_to(root).as_posix()
        if rel in allowed:
            continue
        for node in ast.walk(ast.parse(f.read_text())):
            if isinstance(node, ast.Call):
                fn = node.func
                name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
                if name in parsers:
                    offenders.append(f"{rel}:{node.lineno} {name}()")
    assert offenders == [], offenders


def test_indexed_sources_filter_intervals_in_their_tasks():
    """The Python-decoded interval sources (BAM, CRAM, SAM, VCF, BCF)
    apply the overlap test inside their decode tasks
    (``interval.overlap_test``); an import of the join-based
    ``interval_filter``, the query operator, would be a second plan per
    region read.  The interval-table builders and the SAM text scan's
    join residual (``residual_traversal``) are gone."""
    import ast
    import pathlib

    import disq_original_spark as pkg
    from disq_original_spark.operators import interval

    joins = {"interval_filter", "residual_traversal"}
    root = pathlib.Path(pkg.__file__).parent / "sources"
    offenders: list[str] = []
    for name in ("bam.py", "cram.py", "sam.py", "vcf.py", "bcf.py"):
        for node in ast.walk(ast.parse((root / name).read_text())):
            if isinstance(node, ast.ImportFrom):
                offenders += [f"{name}:{node.lineno} {a.name}" for a in node.names if a.name in joins]
    assert offenders == [], offenders
    assert not hasattr(interval, "intervals_frame")
    assert not hasattr(interval, "residual_variant_overlap")
    assert not hasattr(interval, "residual_traversal")


def test_sources_set_no_session_conf():
    """No source writes the caller's session confs (``spark.conf.set``):
    a lazy plan reads a conf when it runs, so a read that sets one changes
    every later query of the session.  A read's options ride in its own
    plan."""
    import ast
    import pathlib

    import disq_original_spark as pkg

    root = pathlib.Path(pkg.__file__).parent / "sources"
    offenders: list[str] = []
    for f in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(f.read_text())):
            fn = node.func if isinstance(node, ast.Call) else None
            if (
                isinstance(fn, ast.Attribute) and fn.attr in ("set", "unset")
                and isinstance(fn.value, ast.Attribute) and fn.value.attr == "conf"
            ):
                offenders.append(f"{f.name}:{node.lineno}")
    assert offenders == [], offenders


def test_vcf_has_one_parse_path():
    """VCF lines are parsed by ``parse_vcf_line`` in the decode tasks and
    nowhere else: ``vcf.py`` runs no Spark text scan and no SQL-text
    projection, no module under the package defines or calls a
    ``parse_vcf_lines``, and ``vcf.py`` reads no environment switch."""
    import ast
    import pathlib

    import disq_original_spark as pkg

    def names(tree):
        for node in ast.walk(tree):
            yield getattr(node, "name", None) or getattr(node, "attr", None) or getattr(node, "id", None)

    root = pathlib.Path(pkg.__file__).parent
    named = [f for f in sorted(root.rglob("*.py")) if "parse_vcf_lines" in names(ast.parse(f.read_text()))]
    assert named == []
    vcf = (root / "sources" / "vcf.py").read_text()
    banned = {"selectExpr", "text", "environ", "getenv"}
    assert banned.isdisjoint(names(ast.parse(vcf))), banned.intersection(names(ast.parse(vcf)))


def test_materialize_logs_the_branch_taken(spark, monkeypatch, caplog):
    """Each ``materialize`` call logs which side of the scale gate it took,
    with the source size and the gate, so a run at any scale can say why a
    frame was checkpointed or persisted."""
    import logging

    caplog.set_level(logging.DEBUG, logger="disq_original_spark.cache")
    df = spark.range(4)
    monkeypatch.delenv("SPARK_GRAFT_SMALL_INPUT_BYTES", raising=False)
    materialize(df, 1024)
    monkeypatch.setenv("SPARK_GRAFT_SMALL_INPUT_BYTES", "0")
    materialize(df, 1024)
    lines = [r.getMessage() for r in caplog.records if r.name == "disq_original_spark.cache"]
    assert lines == [
        f"materialize: checkpoint (source_bytes=1024, gate={256 * 1024 * 1024})",
        "materialize: persist (source_bytes=1024, gate=0)",
    ]


def test_release_frees_checkpoint_blocks(spark, sf_dir, monkeypatch):
    """Below the gate materialize lazily localCheckpoints; those blocks
    live OUTSIDE the SQL cache, so release_persists must free them
    explicitly (ADVICE r13) — a long sweep must not accumulate
    checkpointed RDDs until GC happens to run."""
    monkeypatch.delenv("SPARK_GRAFT_SMALL_INPUT_BYTES", raising=False)
    df = QUERIES["p01_sequence_packing"].build(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()  # materializes the lckpt
    assert _persistent_rdd_count(spark) > 0, "expected checkpoint blocks"
    release_persists()
    assert _persistent_rdd_count(spark) == 0, (
        "checkpointed RDD blocks survived release_persists"
    )


def test_eager_persist_registers_before_materializing(spark):
    """A failing eager materialization must still leave the frame
    releasable (r6 review finding: append-after-count leaked the persist
    on the error path)."""
    import pyspark.sql.functions as F

    df = spark.range(4).select(
        F.when(F.col("id") < 99, F.col("id"))
        .otherwise(F.raise_error(F.lit("boom")))
        .alias("id"),
        F.assert_true(F.col("id") < 2, F.lit("boom")).alias("chk"),
    )
    with pytest.raises(Exception, match="boom"):
        materialize(df, -1, eager=True)  # unknown size: the persist branch
    assert tracked_count() == 1  # registered despite the failed count()
    assert release_persists() == 1


# The one read plane (sources/arrow_xfer.py) seeds every Python-decoded
# read; the other sites that start a Python job or build a frame from
# driver data are not reads: the sinks' write commit, the many-file
# metadata job, and CRAM's driver-local container listing.
SEEDING_CALLS = ("parallelize", "mapInPandas", "mapInArrow", "createDataFrame")
SEEDING_SITES = {
    "merger.py": {"write_parts"},
    "fsio.py": {"collect_metadata"},
    "cram.py": {"CramSource.containers"},
}


def _seeding_offenders(root) -> list[str]:
    import ast

    offenders: list[str] = []
    for f in sorted(root.glob("*.py")):
        if f.name == "arrow_xfer.py":
            continue
        allowed = SEEDING_SITES.get(f.name, set())

        def visit(node, scope: str) -> None:
            for child in ast.iter_child_nodes(node):
                inner = scope
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    inner = f"{scope}.{child.name}" if scope else child.name
                if isinstance(child, ast.Attribute) and child.attr in SEEDING_CALLS:
                    site = next((s for s in allowed if scope == s or scope.startswith(s + ".")), None)
                    if site is None:
                        offenders.append(f"{f.name}:{child.lineno} {scope or '<module>'} .{child.attr}")
                visit(child, inner)

        visit(ast.parse(f.read_text()), "")
    return offenders


def test_sources_seed_reads_only_through_the_read_plane():
    """Under ``sources/``, only ``arrow_xfer.py`` seeds read tasks
    (``parallelize``, ``mapInPandas``, ``mapInArrow``, ``createDataFrame``);
    a second seeder is a second transfer plane to keep in step."""
    import pathlib

    import disq_original_spark as pkg

    offenders = _seeding_offenders(pathlib.Path(pkg.__file__).parent / "sources")
    assert offenders == [], offenders
