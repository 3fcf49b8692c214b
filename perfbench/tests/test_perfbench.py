"""The benchmark's own tests: generator determinism, the tail-percentile
rule, and the event-log fold.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def _digest(seed: int, d: Path) -> str:
    """Hash of every generated input for ``seed``, files and frames."""
    d.mkdir(parents=True)
    h = hashlib.sha256()
    reads = gen.tile_reads(seed, 2)
    variants = gen.tile_variants(seed, 1)
    gen.reference_fasta(seed, reads, d / "ref.fa")
    gen.query_tables(seed, d / "tables", 0.001)
    for line in gen.reads_canon(reads.frame) + gen.variants_canon(variants.frame):
        h.update(line.encode())
    h.update(reads.header_text.encode() + variants.header_text.encode())
    h.update(repr(gen.lookups(seed, 50, reads, variants)).encode())
    for f in sorted(d.rglob("*")):
        if f.is_file():
            h.update(f.name.encode() + f.read_bytes())
    return h.hexdigest()


def test_generator_is_deterministic_per_seed(tmp_path):
    a = _digest(7, tmp_path / "a")
    assert a == _digest(7, tmp_path / "b")
    assert a != _digest(8, tmp_path / "c")


def test_generated_reads_are_sorted_and_tagged():
    r = gen.tile_reads(3, 2)
    rank = r.frame["rname"].map({c: i for i, c in enumerate(gen.READ_CONTIGS)})
    keys = list(zip(rank, r.frame["pos"]))
    assert keys == sorted(keys)
    assert r.count == 2 * len(gen.fixture("bam_1_reads"))
    assert all(a == {"RG": f"Z:{gen.RG_ID}"} for a in r.frame["attributes"])
    assert f"@RG\tID:{gen.RG_ID}" in r.header_text


@pytest.mark.parametrize("n", list(range(0, 120)) + [250, 1000])
def test_tail_never_reports_a_percentile_with_fewer_than_ten_beyond(n):
    rng = random.Random(n)
    samples = [rng.expovariate(1.0) for _ in range(n)]
    got = run.tail(samples)
    if n < 2 * run.MIN_BEYOND:
        assert got is None
        return
    p, v = got
    assert sum(1 for x in samples if x > v) >= run.MIN_BEYOND
    # it is the highest grid percentile that qualifies
    for q in run.TAIL_GRID:
        if q > p:
            assert run.nearest_rank(sorted(samples), q)[1] < run.MIN_BEYOND


def _ev(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def test_fold_charges_tasks_to_their_job():
    lines = [
        _ev("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1000,
                                        "Stage IDs": [0, 1],
                                        "Properties": {"spark.jobGroup.id": "op.0"}}),
        _ev("SparkListenerTaskEnd", **{"Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 300, "Executor CPU Time": 2e8,
            "Executor Deserialize Time": 10,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 120}}}),
        _ev("SparkListenerTaskEnd", **{"Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 200, "Executor CPU Time": 1e8,
            "Executor Deserialize Time": 5}}),
        _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 0}}),
        _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 1}}),
        _ev("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 1600}),
    ]
    jobs = tracing.fold_event_log(lines)
    j = jobs[0]
    assert (j.group, j.n_stages, j.tasks, j.shuffle_bytes) == ("op.0", 2, 2, 120)
    assert j.task_s == pytest.approx(0.5) and j.cpu_s == pytest.approx(0.3)
    g = tracing.group_summary([j], wall=1.0, cores=2, t0=0.9, t1=1.9)
    assert g["driver_s"] == pytest.approx(0.4)
    assert g["core_idle_frac"] == pytest.approx(0.75)


def test_union_length_merges_overlaps():
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4


def test_event_log_fold_pins_q02(tmp_path):
    """q02_filter (a pushed-down filter + projection, drained with toPandas)
    runs two jobs, the parquet footer read while planning and the scan,
    and shuffles nothing; the fold must see exactly that."""
    os.environ["PYTHONPATH"] = str(HERE.parent)
    inp = workloads.Inputs(tmp_path, None, None, None, None, tmp_path / "tables", [])
    gen.query_tables(1, inp.sf_dir, workloads.TABLE_SCALE)
    spark = run.start_session(tmp_path, 2, event_log=tmp_path / "eventlog")
    try:
        op = workloads.query_op(spark, inp, "q02_filter")
        spark.sparkContext.setJobGroup("q02", "q02")
        op.execute(op.plan())
    finally:
        spark.stop()
    jobs = [j for j in tracing.read_event_log(tmp_path / "eventlog").values()
            if j.group == "q02"]
    assert len(jobs) == Q02_JOBS
    assert sum(j.shuffle_bytes for j in jobs) == 0
    assert all(j.tasks >= 1 for j in jobs)


Q02_JOBS = 2
