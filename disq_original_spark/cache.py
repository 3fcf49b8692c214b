"""Session cache hygiene: every materialization point a query builder takes
goes through :func:`materialize`, and harness layers (``__spark_entry__``,
``bench.py``, tests) call :func:`release_persists` once a build's results
have been drained.

Why this exists (VERDICT r4): builders materialize shared subtrees (MinHash
signatures, shingle hashes, pHash tables) that are reused several times
WITHIN one query plan — correct and cheap — but nothing ever released them.
Over a 145-query driver sweep or a long bench session the stale blocks
accumulate (storage leak), and any query sharing a persisted subtree with a
previously-run query gets a flattering time (d03 timed 0.36x its honest
cost because d14's warm-pass cache was still resident).  At 100 TB scale
the same leak evicts useful blocks and spills working sets.

The contract is deliberately harness-level, not builder-level: a
materialized frame must stay alive until the RESULT of the build is drained
(builders return unexecuted DataFrames), so only the caller that runs the
action knows when release is safe.

One registry holds every frame this module creates — persists and lazy
``localCheckpoint`` frames alike.  A checkpoint's backing RDD blocks live in
executor storage outside the SQL cache, so ``clearCache()`` never frees
them and GC-based cleanup is nondeterministic; :func:`release_persists`
unpersists them explicitly so a long sweep cannot accumulate them.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

from .tables import small_input_threshold

_LOG = logging.getLogger(__name__)

# (frame, mode) in registration order; mode is "persist", "eager" or
# "checkpoint"
_TRACKED: list[tuple[DataFrame, str]] = []


def materialize(df: DataFrame, source_bytes: int, eager: bool = False) -> DataFrame:
    """Materialization point for a subtree referenced several times within
    one plan, picking the mechanism by the size of the subtree's SOURCE
    input (r13 session-5 measurement):

    - AT OR ABOVE the small-input gate, or ``source_bytes < 0`` (size
      unknown, e.g. an operator handed a frame it cannot stat — fail safe
      toward scale): a tracked persist (MEMORY_AND_DISK, Spark's default).
      Fault-tolerant and recomputable from lineage — the production posture
      for corpus-sized shared passes.  A ``localCheckpoint`` stores blocks
      on executor-local storage with lineage truncated, so on a real
      cluster losing one executor after materialization makes the query
      unrecoverable; at 100 TB executor churn is routine.

      ``eager=True`` additionally MATERIALIZES the persist (one
      ``count()``) before returning.  Choose it for SLIM frames with
      CONCURRENT consumers: a persist dedupes sequential reuse only — the
      two map stages of a self-join are submitted together, so both sides
      of an unmaterialized cache evaluate the full subtree before either
      populates it (measured at sf0.1: d04 −16%, d14/d03 −8% with eager).
      Leave the default (lazy) for fat frames whose first consumer
      pipelines the cache fill into useful work — eagerly materializing
      dupmark's full-row read cache cost g09 +0.3-1.0 s because the decode
      pass stopped fusing with its consumer.

    - BELOW the gate: a tracked lazy ``localCheckpoint``
      (:func:`lineage_cut`).  With a small input a persist measurably LOSES
      to recompute — its separate barrier job and the InMemoryRelation
      statistics wall that join planning cannot see through cost more than
      the duplicated work (r13, d04 median 2.53 s persisted vs 1.49 s
      recomputed) — yet bare recompute re-evaluates the subtree per
      reference (d14's bench plan ran SIXTEEN MapInPandas corpus passes).
      The lazy checkpoint keeps the single evaluation without either cost.
      ``eager`` does NOT apply on this branch: the first downstream job
      fills the checkpoint, so concurrent first consumers may each evaluate
      the subtree once more — time, never rows.

    The gate is ``SPARK_GRAFT_SMALL_INPUT_BYTES`` (default 256 MiB), read
    through ``tables.small_input_threshold`` so a deployment tunes ONE
    number for where latency-dominated ends and throughput-dominated
    begins.
    """
    if 0 <= source_bytes < small_input_threshold():
        return lineage_cut(df)
    df = df.persist()
    # register BEFORE materializing: if count() dies mid-build (executor
    # failure, missing fixture) the partially-cached frame must still be
    # releasable, or the sweep-long storage leak this module exists to
    # prevent comes back through the error path (r6 review finding)
    _TRACKED.append((df, "eager" if eager else "persist"))
    if eager:
        df.count()
    return df


def lineage_cut(df: DataFrame) -> DataFrame:
    """Tracked lazy ``localCheckpoint`` at every scale: the first downstream
    job materializes it (no separate barrier job), it is not wrapped in an
    InMemoryRelation, and lineage restarts at it.

    Query builders must not call this directly — :func:`materialize` gives
    them the recoverable persist at scale.  The one sanctioned caller is
    ``operators/graph.py``'s connected-components loop, where per-round
    lineage truncation is part of the algorithm (plan growth is exponential
    in rounds without it) and the frames are slim two-long edge lists
    (pinned by ``tests/test_cache_hygiene.py``)."""
    cdf = df.localCheckpoint(eager=False)
    _TRACKED.append((cdf, "checkpoint"))
    return cdf


def release_persists() -> int:
    """Unpersist every tracked persist (non-blocking), free every tracked
    checkpoint's backing RDD blocks, and clear the registry.  Returns how
    many frames were released.

    Call it only once the build's results have been drained, and never
    drain a released frame again: a released persist recomputes from
    lineage (same rows, more time), but a released checkpoint has no
    lineage to recompute from, so re-reading it fails.  Harnesses
    therefore rebuild per run (``__spark_entry__.queries()`` wrappers,
    ``bench.py``, ``perfbench``)."""
    n = len(_TRACKED)
    for df, mode in _TRACKED:
        try:
            if mode == "checkpoint":
                # a localCheckpoint's blocks live on the backing RDD,
                # reachable via the LogicalRDD plan node — outside the SQL
                # cache, so neither unpersist() nor clearCache() frees them
                df._jdf.queryExecution().logical().rdd().unpersist(False)
            else:
                df.unpersist()
        except Exception as exc:
            # Expected only when the owning session is already stopped
            # (teardown race in tests/bench) — but never swallow silently:
            # a genuinely wrong tracked object must leave a trace (ADVICE r5).
            _LOG.warning("release_persists: %s release failed (%s: %s)",
                         mode, type(exc).__name__, exc)
    _TRACKED.clear()
    return n


def tracked_count() -> int:
    return len(_TRACKED)


def tracked_info() -> list[tuple[DataFrame, str]]:
    """(frame, mode) for every registered frame, in registration order;
    mode is "persist", "eager" or "checkpoint" — the probe surface for the
    materialization-POLICY contract tests (the eager/lazy split is a
    measured decision, VERDICT r6 directive #2; a refactor must not
    silently flip a frame's eagerness or branch)."""
    return list(_TRACKED)
