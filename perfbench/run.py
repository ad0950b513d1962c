#!/usr/bin/env python3
"""Seeded closed-loop benchmark of kafi_spark's topic shell, curation
pipeline, incremental Streams steps and stateful ingest.

    python3 perfbench/run.py --workload topic_shell --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics of BENCHMARK.json, with ``--trace 1`` its per-layer
metrics. ``--smoke`` shrinks every input for a quick functional check;
``--workload all`` runs every workload in one process. See README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

T_PROCESS = time.time()     # before the imports below, which load pyspark

import procfs  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _session(run_dir: str):
    from kafi_spark.session import get_spark

    return get_spark("perfbench", extra_conf={
        # the status REST API is the only window on per-job work; retention
        # is pinned high because evicted jobs/stages silently vanish from
        # the totals
        "spark.ui.enabled": "true",
        "spark.ui.port": "0",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.ui.retainedTasks": "10000000",
        "spark.sql.ui.retainedExecutions": "1000000",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    })


class Bench:
    """One workload's run: set-up, the timed phase, the traced phase when
    asked, the oracle checks and the metrics."""

    def __init__(self, args, run_dir: str, spec: dict):
        self.args = args
        self.run_dir = run_dir
        self.spec = spec
        self.proc = procfs.ProcTree()
        self.spark = None
        self.tracer = None

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def _new_tracer(self, enabled: bool):
        self.tracer = tracing.Tracer(
            self.spark.sparkContext,
            f"{self.args.workload}-{self.args.seed}-{os.getpid()}", enabled)

    def setup(self, wcls, t0: float):
        """Start a session, load the inputs into the program and warm up
        once. Returns the workload and the times from ``t0`` to a ready
        session, to loaded inputs and to the end of the warm-up."""
        self.spark = _session(self.run_dir)
        self._new_tracer(False)
        marks = [time.time() - t0]
        w = wcls(self, self.args.seed, self.args.smoke)
        w.prepare()
        marks.append(time.time() - t0)
        w.warmup()
        marks.append(time.time() - t0)
        return w, marks

    def phase(self, w, seconds: float, n_ops: int | None):
        """Run ``w.op`` back to back for ``seconds`` (at least once) or for
        exactly ``n_ops`` ops; stop early when ``w.op`` returns None, its
        pre-made input used up. Latency and process-tree CPU are kept per
        op."""
        lat, cpu, records, busy, errors = [], [], 0, 0.0, []
        p0, s0, t0 = self.proc.snapshot(), procfs.steal_ticks(), time.time()
        p = p0
        while True:
            a = time.perf_counter()
            try:
                done = w.op()
            except Exception:  # noqa: BLE001 - a failed op is a result
                errors.append(traceback.format_exc())
                break
            if done is None:
                break
            n, b = done
            dt = time.perf_counter() - a
            q = self.proc.snapshot()
            lat.append(dt)
            cpu.append(q["cpu_s"] - p["cpu_s"])
            records += n
            busy += dt if b is None else b
            p = q
            if n_ops is not None:
                if len(lat) >= n_ops:
                    break
            elif time.time() - t0 >= seconds:
                break
        t1 = time.time()
        p1 = self.proc.snapshot()
        return {"lat": lat, "cpu": cpu, "records": records, "busy": busy,
                "errors": errors, "t0": t0, "t1": t1,
                "py_worker_cpu_s": p1["py_worker_cpu_s"] - p0["py_worker_cpu_s"],
                "steal_s": (procfs.steal_ticks() - s0) / os.sysconf("SC_CLK_TCK")}


def _timed(bench: Bench, w, setup_s: float, ctx: dict):
    """Untraced timed phase; returns (end-to-end metrics, phase). Times,
    rates and CPU are means over the phase's ops: on the runs of the
    steadiness table (README) their spread across runs was smaller than that
    of the per-op medians, because ops still speed up through the phase and
    a median of four to six of them jumps with the op count."""
    bench.tracer.set_base_group("timed")
    ph = bench.phase(w, bench.args.seconds, None)
    ops = max(len(ph["lat"]), 1)
    rss = bench.proc.peak_rss_mb()
    log = tracing.SparkRest(bench.spark.sparkContext).snapshot()
    spark_tot = log.totals(log.job_ids({"timed"}))
    lat = sorted(ph["lat"])
    ctx.update(latencies_s=ph["lat"], cpu_s=ph["cpu"], steal_s=ph["steal_s"],
               peak_rss_mb=rss, py_worker_cpu_s=ph["py_worker_cpu_s"],
               latency_p50_s=statistics.median(lat) if lat else None,
               latency_p80_s=lat[math.ceil(0.8 * len(lat)) - 1] if lat else None,
               spark_jobs=spark_tot["jobs"], spark_tasks=spark_tot["tasks"])
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (sum(ph["lat"]) / ops, "s"),
        "records_per_s": (ph["records"] / max(ph["busy"], 1e-9), "1/s"),
        "cpu_s": (sum(ph["cpu"]) / ops, "s"),
        "shuffle_mb": (spark_tot["shuffle_mb"] / ops, "MB"),
    }, ph


def _traced(bench: Bench, w, ctx: dict):
    """``w.traced_ops`` ops untraced, then as many traced and the
    workload's traced tail; returns both phases' ops merged, the traced
    time window and its job log. The traced work is the same in every run,
    however fast the ops are, so per-layer totals compare across runs."""
    base = bench.phase(w, 0, w.traced_ops)
    bench._new_tracer(True)
    ph = bench.phase(w, 0, w.traced_ops)
    try:
        w.traced_tail()
    except Exception:  # noqa: BLE001 - a failed op is a result
        ph["errors"].append(traceback.format_exc())
    t1 = time.time()
    log = tracing.SparkRest(bench.spark.sparkContext).snapshot(tasks=True, sql=True)
    ctx.update(base_latencies_s=base["lat"], latencies_s=ph["lat"],
               overhead_s=(ph["t1"] - ph["t0"]) / max(len(ph["lat"]), 1)
               - (base["t1"] - base["t0"]) / max(len(base["lat"]), 1))
    merged = {"lat": base["lat"] + ph["lat"],
              "errors": base["errors"] + ph["errors"]}
    return merged, (ph["t0"], t1), log


def run_workload(bench: Bench, name: str, t0: float) -> dict:
    """One workload end to end, its set-up timed from ``t0``; returns the
    result object."""
    args = bench.args
    wcls = WORKLOADS[name]
    w, marks = bench.setup(wcls, t0)
    ctx = {"workload": name, "seed": args.seed, "unit": wcls.unit,
           "session_s": marks[0], "inputs_s": marks[1], "setup_s": marks[2],
           "cpus": os.environ["SPARK_GRAFT_CPUS"]}
    if args.trace:
        ph, window, log = _traced(bench, w, ctx)
        spans = bench.tracer.spans
    else:
        metrics, ph = _timed(bench, w, marks[2], ctx)
    bench.tracer.set_base_group("checks")
    checks, errs = w.check()
    ctx.update(ops=len(ph["lat"]), mismatches=errs, op_errors=ph["errors"])
    if args.trace:
        per, cov = tracing.attribute(spans, log, window)
        per.update(w.layer_extras(per))
        per.update({f"spark.{k}": cov["spark"][k]
                    for k in ("jobs", "tasks", "gc_s", "spill_mb")})
        per.update({"trace.overhead_s": ctx["overhead_s"],
                    "trace.self_coverage": cov["self_coverage"],
                    "trace.task_cpu_attributed": cov["task_cpu_attributed"],
                    "trace.unattributed_jobs": cov["unattributed_jobs"]})
        stem = os.path.join(ROOT, ".perfbench",
                            f"trace-{name}-{args.seed}-{os.getpid()}")
        bench.tracer.dump(stem + ".spans.jsonl")
        with open(stem + ".layers.json", "w") as f:
            json.dump({"context": ctx, "layers": per}, f, indent=1,
                      sort_keys=True)
        metrics = {m["name"]: (per.get(m["name"], 0), m["unit"])
                   for m in bench.spec.get("per_layer", [])}
    w.cleanup()
    print(json.dumps({"context": ctx}), file=sys.stderr)
    failed = len(ph["errors"]) + len(errs)
    return {
        "correct": failed == 0,
        "attempted": max(len(ph["lat"]) + len(ph["errors"]) + checks, 1),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _stop_children(timeout: float = 30.0) -> None:
    """Wait for (and if needed kill) every descendant process."""
    deadline = time.time() + timeout
    while True:
        kids = [p for p in procfs.descendants(os.getpid()) if p != os.getpid()]
        if not kids:
            return
        if time.time() > deadline:
            for p in kids:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            timeout, deadline = 0, time.time() + 5
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.2)


def _shutdown(bench: Bench | None) -> None:
    from pyspark import SparkContext

    if bench is not None and bench.spark is not None:
        bench.spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
    _stop_children()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the self-test")
    args = ap.parse_args(argv)
    # a terminating signal unwinds through the finally below, which stops
    # the JVM and the pyspark workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "kafi_spark", "session.py")):
        print("perfbench: no kafi_spark package next to perfbench/; run it "
              "from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    if any(n not in WORKLOADS for n in names):
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)} or 'all'", file=sys.stderr)
        return 2
    try:
        spec = _spec()
    except OSError:
        spec = {}

    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["KAFI_SPARK_DRIVER_MEM"] = "4g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # no hsperfdata file: HotSpot writes it to /tmp whatever java.io.tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={run_dir}/tmp "
                                       "-XX:-UsePerfData")

    results = {}
    bench = None
    try:
        for name in names:
            bench = bench or Bench(args, run_dir, spec)
            try:
                results[name] = run_workload(
                    bench, name, time.time() if results else T_PROCESS)
            except Exception:  # noqa: BLE001 - keep the other workloads going
                traceback.print_exc()
                results[name] = {"correct": False, "attempted": 1, "failed": 1,
                                 "metrics": {}}
            if len(names) > 1 and bench.spark is not None:
                bench.spark.stop()
                bench.spark = None
    finally:
        try:
            _shutdown(bench)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    if len(names) == 1:
        out = results[names[0]]
    else:
        out = {"correct": all(r["correct"] for r in results.values()),
               "attempted": sum(r["attempted"] for r in results.values()),
               "failed": sum(r["failed"] for r in results.values()),
               "metrics": {f"{n}.{k}": v for n, r in results.items()
                           for k, v in r["metrics"].items()}}
    if not out["metrics"]:
        return 1
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
