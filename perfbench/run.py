#!/usr/bin/env python3
"""Benchmark of disq_original_spark through its public API.

    python3 perfbench/run.py --workload io --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md): ``io`` and ``query_mix``.  One
single-threaded client drives ``local[<cores>]`` in a closed loop.
Every input is generated from ``--seed`` (``gen.py``) under a temporary
directory inside the checkout, removed at exit.  Every op is checked; a
wrong result or an exception counts as failed.

The last line of stdout is one JSON object: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a separate
traced pass (Spark event log + codec probe) and the tracing overhead.
Lines before it are a readable report (units, sample counts, the tail
percentile used, per-op-type medians).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path
from statistics import median

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

SETUP_REPS = 3
# The canary (a fixed pure-Python loop, timed around every op) and its
# time at the reference speed; latencies are reported scaled by the ratio
# of this to the run's median canary.
CANARY_LOOPS = 300_000
CANARY_REF_S = 0.025
TAIL_GRID = (50, 75, 90, 95, 99)
MIN_BEYOND = 10


# ---------------------------------------------------------------- statistics


def nearest_rank(sorted_vals: list[float], p: float) -> tuple[float, int]:
    """Nearest-rank percentile: (value, samples strictly after its rank)."""
    n = len(sorted_vals)
    k = max(1, math.ceil(p / 100.0 * n))
    return sorted_vals[k - 1], n - k


def tail(samples: list[float]) -> tuple[float, float] | None:
    """Highest percentile of ``TAIL_GRID`` with at least ``MIN_BEYOND``
    samples beyond it, as (percentile, value); None when no grid percentile
    has that many (fewer than 20 samples)."""
    vals = sorted(samples)
    best = None
    for p in TAIL_GRID:
        if not vals:
            break
        v, beyond = nearest_rank(vals, p)
        if beyond >= MIN_BEYOND:
            best = (float(p), v)
    return best


# ---------------------------------------------------------------- session


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(tmp: Path, n_cores: int, event_log: Path | None = None):
    from disq_original_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(tmp / "spark-local"),
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
        # a fixed, pre-touched 1 GB heap: with the program's 8g default the
        # JVM's resident size follows GC timing, and peak RSS spread 20%
        # between runs.  -UsePerfData keeps the JVM from writing to /tmp.
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g -XX:+AlwaysPreTouch",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": event_log.as_uri(),
        })
    spark = get_spark("perfbench", master=f"local[{n_cores}]",
                      shuffle_partitions=n_cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the Py4J gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def reap_descendants(timeout: float = 15.0) -> None:
    """Terminate and wait for any process still below this one."""
    from tracing import _children

    def desc():
        out, todo = [], _children(os.getpid())
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(_children(p))
        return out

    deadline = time.time() + timeout
    sig = signal.SIGTERM
    while (pids := desc()):
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        for p in pids:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        if time.time() > deadline + 5:
            break  # only a process stuck in the kernel outlives SIGKILL
        if time.time() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.2)


# ---------------------------------------------------------------- running ops


@dataclass
class OpRun:
    id: str
    kind: str
    ok: bool
    t0: float  # epoch
    t_plan: float
    t_exec: float
    t_end: float  # after verify
    tracked: int = 0
    canary: float = 0.0

    @property
    def latency(self) -> float:
        return self.t_exec - self.t0


@dataclass
class Phase:
    runs: list[OpRun] = field(default_factory=list)
    warm: list[OpRun] = field(default_factory=list)

    def ok(self) -> list[OpRun]:
        return [r for r in self.runs if r.ok]


def canary() -> float:
    """Seconds of a fixed pure-Python loop: the box's speed right now."""
    t, x = time.perf_counter(), 0
    for j in range(CANARY_LOOPS):
        x += j * j
    return time.perf_counter() - t


def run_op(spark, op, op_id: str, tag: bool) -> OpRun:
    if tag:
        spark.sparkContext.setJobGroup(op_id, op.kind)
    c0 = canary()
    t0 = time.time()
    ok, t_plan, t_exec = True, t0, t0
    try:
        df = op.plan()
        t_plan = time.time()
        res = op.execute(df)
        t_exec = time.time()
        c1 = canary()
        op.verify(res)
    except Exception:
        ok = False
        t_plan = max(t_plan, t0)
        t_exec = max(t_exec, t_plan)
        print(f"# op {op_id} {op.kind} FAILED:\n" + "".join(
            "#   " + ln + "\n" for ln in traceback.format_exc().splitlines()), flush=True)
    t_end = time.time()
    if tag:
        spark.sparkContext.setJobGroup("perfbench.idle", "between ops")
    return OpRun(op_id, op.kind, ok, t0, t_plan, t_exec, t_end,
                 op.state.get("tracked", 0), (c0 + c1) / 2 if ok else c0)


def run_workload(spark, inp, workload: str, seed: int, seconds: float, n_cores: int,
                 tag: bool, prefix: str) -> Phase:
    """One warm round (untimed in the op figures, counted in set-up), then
    whole rounds until at least ``MIN_ROUNDS[workload]`` have run and
    ``seconds`` have passed.  Latency still falls over the first rounds
    (JIT), so a run must not end on a round count that flips with the box's
    speed: the minimum keeps the count fixed at the budgeted length."""
    from workloads import MIN_ROUNDS, schedule

    rounds = schedule(workload, spark, inp, seed, n_cores)
    ph = Phase()
    for i, op in enumerate(next(rounds)):
        ph.warm.append(run_op(spark, op, f"{prefix}warm.{i}", tag))
    start, n = time.time(), 0
    for k, rnd in enumerate(rounds, 1):
        for op in rnd:
            ph.runs.append(run_op(spark, op, f"{prefix}op.{n}", tag))
            n += 1
        if k >= MIN_ROUNDS[workload] and time.time() - start >= seconds:
            break
    return ph


# ---------------------------------------------------------------- metrics


def op_median(runs: list[OpRun]) -> float:
    """Mean over op types of each type's median latency: every type weighs
    the same and a change to any one of them moves it (a pooled median
    would sit on one type, or flip between two)."""
    by_kind: dict[str, list[float]] = {}
    for r in runs:
        by_kind.setdefault(r.kind, []).append(r.latency)
    return sum(median(v) for v in by_kind.values()) / len(by_kind)


def speed_scale(runs: list[OpRun]) -> float:
    """Factor that scales this run's latencies to the reference box speed."""
    return CANARY_REF_S / median(r.canary for r in runs)


def end_to_end(ph: Phase, setup: dict, peak_mb: float) -> tuple[dict, list[str]]:
    """Latency metrics are scaled by :func:`speed_scale` (see README: the
    box's speed drifts by more than the bounds); the report also prints
    them unscaled.  ``op_tail_s`` is reported only when some percentile has
    ``MIN_BEYOND`` samples beyond it."""
    ok = ph.ok()
    if not ok:
        return {}, ["# no op succeeded"]
    lat = [r.latency for r in ok]
    scale = speed_scale(ok)
    m = {
        "setup_s": (setup["session_s"] + setup["inputs_s"] + setup["warm_s"], "s"),
        "op_median_s": (op_median(ok) * scale, "s"),
        "ops_per_s": (len(lat) / sum(lat) / scale, "1/s"),
        "peak_rss_mb": (peak_mb, "MB"),
    }
    report = [
        f"# samples: {len(lat)} ok ops of {len(ph.runs)} attempted "
        f"(+{len(ph.warm)} warm-up ops)",
        f"# unscaled: op_median_s {op_median(ok):.4f} s, ops_per_s "
        f"{len(lat) / sum(lat):.4f} 1/s; canary median {CANARY_REF_S / scale:.4f} s "
        f"(reference {CANARY_REF_S} s)",
    ]
    t = tail(lat)
    report.append(
        f"# op_tail_s (unscaled) = p{t[0]:g} {t[1]:.4f} s over {len(lat)} samples" if t
        else f"# op_tail_s: none ({len(lat)} samples; a percentile needs "
        f"{MIN_BEYOND} beyond it)")
    by_kind: dict[str, list[float]] = {}
    for r in ok:
        by_kind.setdefault(r.kind, []).append(r.latency)
    for name, v in sorted(by_kind.items()):
        report.append(f"#   {name}: median {median(v):.4f} s unscaled over {len(v)} ops")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, report


def per_layer(setup: dict, inp, traced: Phase, traced_writes: dict, jobs: dict,
              n_cores: int, codec: dict, untraced_median: float,
              tracer) -> tuple[dict, list[str]]:
    from tracing import group_summary
    from workloads import FORMATS

    m: dict[str, tuple[float, str]] = {}
    for k in ("session_s", "inputs_s", "warm_s"):
        m[f"setup.{k}"] = (setup[k], "s")
    by_group: dict[str, list] = {}
    for j in jobs.values():
        by_group.setdefault(j.group, []).append(j)
    for fmt in FORMATS:
        t0, t1 = traced_writes[fmt]
        s, n = t1 - t0, inp.records(fmt)
        tracer.add(f"setup.write.{fmt}", "write", t0, t1, None)
        for j in by_group.get(f"setup.write.{fmt}", []):
            tracer.add(f"setup.write.{fmt}/job{j.job_id}", "spark.job", j.start, j.end,
                       f"setup.write.{fmt}", {"tasks": j.tasks, "task_s": j.task_s})
        m[f"write.{fmt}.s"] = (s, "s")
        m[f"write.{fmt}.records_per_s"] = (n / s, "1/s")
        m[f"write.{fmt}.bytes_per_record"] = (
            (inp.data_bytes[fmt] + inp.index_bytes[fmt]) / n, "B")
        m[f"write.{fmt}.index_bytes"] = (inp.index_bytes[fmt], "B")
        g = group_summary(by_group.get(f"setup.write.{fmt}", []), t1 - t0, n_cores, t0, t1)
        m[f"write.{fmt}.jobs"] = (g["jobs"], "count")
        m[f"write.{fmt}.tasks"] = (g["tasks"], "count")
        m[f"write.{fmt}.driver_s"] = (g["driver_s"], "s")
    m.update({k: (v, "MB/s" if "mb_per_s" in k else "1/s") for k, v in codec.items()})

    ok = traced.ok()
    per_op, per_kind = [], {}
    for r in ok:
        js = by_group.get(r.id, [])
        g = group_summary(js, r.latency, n_cores, r.t0, r.t_exec)
        g["plan_s"] = r.t_plan - r.t0
        g["plan_jobs"] = sum(1 for j in js if j.start < r.t_plan)
        g["verify_s"] = r.t_end - r.t_exec
        g["tracked"] = r.tracked
        per_op.append(g)
        per_kind.setdefault(r.kind, []).append(g)
        tracer.add(r.id, r.kind, r.t0, r.t_end, None)
        tracer.add(r.id + "/plan", "plan", r.t0, r.t_plan, r.id)
        tracer.add(r.id + "/execute", "execute", r.t_plan, r.t_exec, r.id)
        tracer.add(r.id + "/verify", "verify", r.t_exec, r.t_end, r.id)
        for j in js:
            parent = r.id + ("/plan" if j.start < r.t_plan else "/execute")
            tracer.add(f"{r.id}/job{j.job_id}", "spark.job", j.start, j.end, parent,
                       {"stages": j.n_stages, "tasks": j.tasks, "task_s": j.task_s,
                        "shuffle_bytes": j.shuffle_bytes})

    def mean(rows, k):
        return sum(x[k] for x in rows) / len(rows) if rows else 0.0

    m["plan.read_call_s"] = (mean(per_op, "plan_s"), "s")
    m["plan.jobs"] = (mean(per_op, "plan_jobs"), "count")
    for k, u in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                 ("task_s", "s"), ("cpu_s", "s"), ("deser_s", "s"),
                 ("shuffle_bytes", "B"), ("driver_s", "s"), ("core_idle_frac", "frac")):
        m[f"spark.{k}"] = (mean(per_op, k), u)
    m["op.verify_s"] = (mean(per_op, "verify_s"), "s")
    m["cache.tracked_frames"] = (mean(per_op, "tracked"), "count")
    traced_median = op_median(ok) * speed_scale(ok) if ok else float("nan")
    m["trace.overhead_frac"] = (traced_median / untraced_median - 1.0, "frac")

    report = [f"# traced pass: {len(ok)} ok ops; op_median_s {traced_median:.4f} s "
              f"traced vs {untraced_median:.4f} s untraced"]
    for kind, rows in sorted(per_kind.items()):
        report.append("#   {}: n={} jobs={:.1f} stages={:.1f} tasks={:.1f} task_s={:.3f} "
                      "shuffle_B={:.0f} driver_s={:.3f} plan_s={:.3f}".format(
                          kind, len(rows), mean(rows, "jobs"), mean(rows, "stages"),
                          mean(rows, "tasks"), mean(rows, "task_s"),
                          mean(rows, "shuffle_bytes"), mean(rows, "driver_s"),
                          mean(rows, "plan_s")))
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, report


# ---------------------------------------------------------------- main


def check_program() -> None:
    """Abort loudly when the program or its committed twins are absent."""
    import gen

    missing = [p for p in (ROOT / "disq_original_spark" / "__init__.py", gen.FIXTURES)
               if not p.exists()]
    if missing:
        raise SystemExit(f"perfbench: program files missing: {missing}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a TERM (a harness timeout) unwinds through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    check_program()

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}; one of {WORKLOADS}")
    tmp = ROOT / ".perfbench_tmp" / f"{os.getpid()}"
    tmp.mkdir(parents=True)
    # everything the run writes (Spark scratch, Python temp files, worker
    # imports of the checkout's program) stays under the checkout
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    try:
        result = bench(args, tmp)
    finally:
        try:
            stop_jvm()
        finally:
            reap_descendants()
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                (ROOT / ".perfbench_tmp").rmdir()
            except OSError:
                pass
    print(json.dumps(result))
    return 0


def bench(args, tmp: Path) -> dict:
    import workloads
    from tracing import PeakRss, Tracer, codec_probe, read_event_log

    n_cores = cores()
    with PeakRss() as rss:
        # the JVM starts in a thread while the client generates the inputs:
        # the launch is mostly waiting on the JVM process
        started = {}

        def start():
            t = time.perf_counter()
            try:
                started["spark"] = start_session(tmp, n_cores)
            finally:
                started["s"] = time.perf_counter() - t

        th = threading.Thread(target=start)
        th.start()
        try:
            inp = workloads.generate(args.seed, tmp)
            if args.workload == "query_mix":
                workloads.compute_oracles(inp, args.seed)
        finally:
            th.join()
        if "spark" not in started:
            raise RuntimeError("perfbench: the Spark session did not start")
        spark, session_s = started["spark"], started["s"]
        writes = [workloads.setup_inputs(spark, inp, args.workload, args.seed, r)
                  for r in range(SETUP_REPS)]
        ph = run_workload(spark, inp, args.workload, args.seed, args.seconds, n_cores,
                          tag=False, prefix="")
        spark.stop()
    setup = {"session_s": session_s,
             "inputs_s": median(sum(w.values()) for w in writes),
             "warm_s": sum(r.t_end - r.t0 for r in ph.warm)}
    metrics, report = end_to_end(ph, setup, rss.peak)
    attempted = len(ph.runs) + len(ph.warm)
    failed = sum(not r.ok for r in ph.runs + ph.warm)
    print(f"# workload {args.workload} seed {args.seed} cores {n_cores} "
          f"seconds {args.seconds:g}: set-up {setup}", flush=True)
    print("# peak RSS split (MB): " + ", ".join(
        f"{k} {v:.0f}" for k, v in sorted(rss.parts.items())))
    for line in report:
        print(line)
    if not args.trace:
        for k, v in metrics.items():
            print(f"# {k} = {v['value']:.6g} {v['unit']}")
        return {"correct": failed == 0 and bool(metrics), "attempted": attempted,
                "failed": failed, "metrics": metrics}

    # traced pass: a fresh session on the same JVM with the event log on
    spark = start_session(tmp, n_cores, event_log=tmp / "eventlog")
    traced_writes = _traced_write(spark, inp)
    traced = run_workload(spark, inp, args.workload, args.seed, args.seconds,
                          n_cores, tag=True, prefix="t.")
    spark.stop()
    attempted += len(traced.runs) + len(traced.warm)
    failed += sum(not r.ok for r in traced.runs + traced.warm)
    tracer = Tracer()
    jobs = read_event_log(tmp / "eventlog")
    codec = codec_probe(inp, tracer, "codec")
    untraced = metrics["op_median_s"]["value"] if metrics else float("nan")
    layer, lreport = per_layer(setup, inp, traced, traced_writes, jobs, n_cores, codec,
                               untraced, tracer)
    out = ROOT / ".perfbench_out" / f"trace-{args.workload}-seed{args.seed}.json"
    tracer.dump(out)
    for line in lreport:
        print(line)
    print(f"# spans: {len(tracer.spans)} written to {out.relative_to(ROOT)}")
    return {"correct": failed == 0 and bool(layer), "attempted": attempted,
            "failed": failed, "metrics": layer}


def _traced_write(spark, inp) -> dict[str, tuple[float, float]]:
    """One write of each format, each under its own job group; returns the
    (start, end) epoch of each.  The traced ops then read these files."""
    import workloads

    starts = {}

    def group(name):
        spark.sparkContext.setJobGroup(name, name)
        starts[name.rsplit(".", 1)[1]] = time.time()

    secs = workloads.write_inputs(spark, inp, "traced", group=group)
    spark.sparkContext.setJobGroup("perfbench.idle", "between ops")
    return {fmt: (starts[fmt], starts[fmt] + secs[fmt]) for fmt in secs}


if __name__ == "__main__":
    sys.exit(main())
