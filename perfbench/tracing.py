"""Tracing for the per-layer run: spans kept in memory, the Spark event log
folded into per-op job/stage/task figures, an in-process codec probe, and a
peak-RSS sampler over the client, the JVM and the Python workers.

Spans are recorded by the benchmark around its calls into the program
(op -> plan / execute / verify, one span per Spark job from the event log,
one per codec probe); nothing inside the program is instrumented.
"""

from __future__ import annotations

import glob
import io
import json
import os
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path
from statistics import median

# ---------------------------------------------------------------- spans


@dataclass
class Span:
    id: str
    name: str
    start: float  # epoch seconds
    end: float
    parent: str | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []

    def add(self, *args, **kw) -> Span:
        s = Span(*args, **kw)
        self.spans.append(s)
        return s

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps([s.__dict__ for s in self.spans]))


# ---------------------------------------------------------------- event log


@dataclass
class JobFold:
    job_id: int
    group: str | None
    start: float
    end: float
    stages: set = field(default_factory=set)
    n_stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    deser_s: float = 0.0
    shuffle_bytes: int = 0


def event_log_files(log_dir: Path) -> list[str]:
    """Spark writes ``<app-id>`` (or rolling ``eventlog_v2_*/events_*``)."""
    files = [f for f in glob.glob(str(log_dir / "*")) if os.path.isfile(f)]
    files += sorted(glob.glob(str(log_dir / "eventlog_v2_*" / "events_*")))
    return files


def fold_event_log(lines) -> dict[int, JobFold]:
    """Fold JobStart/JobEnd, StageCompleted and TaskEnd events into one
    record per job, keyed by job id; tasks and stages are charged to the
    job whose stage list holds them."""
    jobs: dict[int, JobFold] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            j = JobFold(ev["Job ID"], props.get("spark.jobGroup.id"),
                        ev["Submission Time"] / 1000.0, ev["Submission Time"] / 1000.0)
            j.stages = set(ev.get("Stage IDs", []))
            for s in j.stages:
                stage_job[s] = j.job_id
            jobs[j.job_id] = j
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_job:
                jobs[stage_job[sid]].n_stages += 1
        elif kind == "SparkListenerTaskEnd":
            j = jobs.get(stage_job.get(ev["Stage ID"], -1))
            m = ev.get("Task Metrics")
            if j is None or not m:
                continue
            j.tasks += 1
            j.task_s += m.get("Executor Run Time", 0) / 1000.0
            j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            j.deser_s += m.get("Executor Deserialize Time", 0) / 1000.0
            j.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return jobs


def read_event_log(log_dir: Path) -> dict[int, JobFold]:
    lines: list[str] = []
    for f in event_log_files(log_dir):
        with open(f) as fh:
            lines.extend(fh)
    return fold_event_log(lines)


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def group_summary(jobs, wall: float, cores: int, t0: float, t1: float) -> dict:
    """Per-op figures from the jobs of one job group; ``driver_s`` is the op
    wall minus the union of its job intervals (clipped to the op window)."""
    busy = union_length((max(j.start, t0), min(j.end, t1)) for j in jobs if j.end > t0)
    task_s = sum(j.task_s for j in jobs)
    return {
        "jobs": len(jobs),
        "stages": sum(j.n_stages for j in jobs),
        "tasks": sum(j.tasks for j in jobs),
        "task_s": task_s,
        "cpu_s": sum(j.cpu_s for j in jobs),
        "deser_s": sum(j.deser_s for j in jobs),
        "shuffle_bytes": sum(j.shuffle_bytes for j in jobs),
        "driver_s": max(wall - busy, 0.0),
        "core_idle_frac": 1.0 - task_s / (cores * wall) if wall > 0 else 0.0,
    }


# ---------------------------------------------------------------- memory


def _children(pid: int) -> list[int]:
    out: list[int] = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            out.extend(int(x) for x in Path(task).read_text().split())
        except OSError:
            pass
    return out


def _rss_kb(pid: int) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmRSS:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> dict[str, float]:
    """Resident memory (MB) of ``root`` and all its descendants, summed per
    command name: ``java`` for the JVM, ``python*`` for the client and the
    Spark Python workers.  Other names are skipped: a child the JVM has
    forked but not yet exec'd carries the forking thread's name and, until
    it execs, the JVM's whole resident set a second time."""
    out: dict[str, float] = {}
    todo, seen = [root], set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            comm = Path(f"/proc/{pid}/comm").read_text().strip()
        except OSError:
            continue
        if comm == "java" or comm.startswith("python"):
            out[comm] = out.get(comm, 0.0) + _rss_kb(pid) / 1024.0
        todo.extend(_children(pid))
    return out


class PeakRss:
    """Background sampler of :func:`tree_rss_mb` over this process tree:
    ``peak`` is the highest total, ``parts`` its split by command."""

    def __init__(self, interval: float = 0.1):
        self.interval, self.peak, self.parts = interval, 0.0, {}
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            parts = tree_rss_mb(me)
            if sum(parts.values()) > self.peak:
                self.peak, self.parts = sum(parts.values()), parts
            self._stop.wait(self.interval)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()


# ---------------------------------------------------------------- codec probe


def _rate(work: float, fn, reps: int = 3) -> float:
    """``work`` units per second of ``fn``, median over ``reps`` calls."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return work / median(times)


def codec_probe(inp, tracer: Tracer, parent: str) -> dict[str, float]:
    """In-process (no Spark) throughput of each codec over the generated
    inputs: the work the scan/write tasks do, minus Spark."""
    import gzip

    from disq_original_spark.sources import arith, rans4x8, rans_nx16, tok3
    from disq_original_spark.sources.bam_codec import encode_record, parse_record
    from disq_original_spark.sources.bgzf import (
        BgzfReader, compress_block, decompress_block, enumerate_blocks,
    )
    from disq_original_spark.sources.cram_codec import IndexedFasta, decode_cram, decompress
    from disq_original_spark.sources.cram_writer import encode_container
    from disq_original_spark.sources.headers import header_ref_and_rg_names, read_bam_header

    out: dict[str, float] = {}
    t_probe = time.time()

    def probe(name, work, fn):
        t0 = time.time()
        out[name] = _rate(work, fn)
        tracer.add(f"{parent}/{name}", name, t0, time.time(), parent)

    bam = str(inp.paths["bam"])
    fh = io.BytesIO(Path(bam).read_bytes())
    blocks = list(enumerate_blocks(fh))

    def inflate():
        return [decompress_block(fh, b) for b in blocks]

    raw = b"".join(inflate())
    probe("codec.bgzf_inflate_mb_per_s", len(raw) / 1e6, inflate)
    chunks = [raw[i:i + 65280] for i in range(0, len(raw), 65280)]
    probe("codec.bgzf_deflate_mb_per_s", len(raw) / 1e6,
          lambda: [compress_block(c) for c in chunks])

    _, refs, first_v = read_bam_header(bam)
    names = [r[0] for r in refs]
    with open(bam, "rb") as fh:
        r = BgzfReader(fh)
        r.seek_virtual(first_v)
        body = r.read(1 << 40)

    def decode_bam():
        off, n = 0, 0
        while (rec := parse_record(body, off, names)) is not None:
            off, n = rec[1], n + 1
        return n

    probe("codec.bam_decode_records_per_s", decode_bam(), decode_bam)
    rows = inp.reads.frame.head(5000).to_dict("records")
    ref_index = {n: i for i, n in enumerate(names)}
    probe("codec.bam_encode_records_per_s", len(rows),
          lambda: [encode_record(x, ref_index) for x in rows])

    cram = str(inp.paths["cram"])
    probe("codec.cram_decode_records_per_s", inp.cram_reads.count,
          lambda: decode_cram(cram, str(inp.ref)))
    crows = inp.cram_reads.frame.head(2000).to_dict("records")
    ref_names, rg_ids = header_ref_and_rg_names(inp.cram_reads.header_text)
    fasta = IndexedFasta(str(inp.ref))
    probe("codec.cram_encode_records_per_s", len(crows),
          lambda: encode_container(crows, ref_names, rg_ids, fasta, 3, 1))

    quals = "".join(inp.reads.frame["qual"].head(800)).encode()
    qnames = b"".join(q.encode() + b"\0" for q in inp.reads.frame["qname"].head(800))
    for method, (mid, payload, enc) in {
        "gzip": (1, quals, gzip.compress),
        "rans4x8": (4, quals, lambda d: rans4x8.compress(d, order=1)),
        "rans_nx16": (5, quals, lambda d: rans_nx16.compress(d, order=1)),
        "arith": (6, quals, lambda d: arith.compress(d, order=1)),
        "tok3": (8, qnames, tok3.encode),
    }.items():
        blob = enc(payload)
        probe(f"codec.cram_block_mb_per_s.{method}", len(payload) / 1e6,
              lambda m=mid, b=blob, n=len(payload): decompress(m, b, n))
    tracer.add(parent, "codec.probe", t_probe, time.time(), None)
    return out
