#!/usr/bin/env python3
"""Benchmark of the quality-filter engine: workloads that are each a closed
loop of one client, every output checked against the repository's oracles.

    python3 perfbench/run.py --workload resumable_ingest --seed 1 --seconds 10 --trace 0

Run it from the repository root.  ``--trace 0`` measures the end-to-end
metrics of ``BENCHMARK.json``; ``--trace 1`` measures the same loop
untraced, then again with the Spark event log on and spans around the calls
into each layer, and reports the per-layer metrics.  Every metric is printed
by name with its unit and sample count; the last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``.

The environment is pinned here, not in the program: ``local[<slots>]`` with
half the cores this process may run on, a small fixed driver heap,
``PYTHONPATH`` so Spark's Python workers import the package, and every
scratch, spill and temporary file under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "data_quality_analyzer_spark"
GEN_REPS = 3  # input generations per run; set-up reports their median
DRIVER_HEAP = "1g"
T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"[perfbench +{time.monotonic() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def pin_env(work: str, cores: int) -> None:
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # the inputs are a few MB: a small fixed heap leaves the machine's memory
    # to its co-tenants, and the JVM grows it to the cap on every run, so
    # peak_rss_mb repeats (with a 2g cap it read 1.8-2.2 GB from run to run;
    # the program's default heap is 48g)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # spark-submit first runs a small launcher JVM; keep its files here too
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts(work)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable


def jvm_opts(work: str) -> str:
    """JVM flags that keep temporary and perf-data files out of /tmp."""
    return f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"


def session_conf(work: str, extra: dict[str, str]) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": jvm_opts(work),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    conf.update(extra)
    return conf


def stop_jvm(timeout_s: float = 60.0) -> None:
    """Stop the session, the JVM and the Python workers, and wait for them."""
    import procs
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    pids = procs.descendants(os.getpid())
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # the JVM may already be gone; still reap it below
            traceback.print_exc()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout_s)
            except Exception:
                proc.kill()
                proc.wait(10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    for pid in procs.wait_gone(pids, timeout_s):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    procs.wait_gone(pids, 10)


def task_slots() -> int:
    """Spark task slots: half the cores this process may run on.

    The other half is left to what runs beside the tasks: the Python
    driver, the JVM's JIT compiler and GC threads, and the Python workers
    the tasks feed.  With a slot per core a fresh JVM's passes keep getting
    faster for a minute or more while the JIT competes with the tasks for
    the cores, so where a short run lands on that slope decides its
    figures; with half the cores the slope flattens after the warm-up."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


class Run:
    def __init__(self, args):
        import workloads

        self.args = args
        self.cores = task_slots()
        self.work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
        self.cache = os.path.join(HERE, ".cache")
        os.makedirs(self.work, exist_ok=True)
        pin_env(self.work, self.cores)
        self.wl = workloads.WORKLOADS[args.workload](
            self.work, self.cache, args.seed, self.cores
        )

    def session(self, extra: dict[str, str] | None = None):
        from data_quality_analyzer_spark.session import get_spark

        conf = dict(self.wl.spark_conf())
        conf.update(extra or {})
        return get_spark(
            app_name=f"perfbench-{self.wl.name}",
            cpus=self.cores,
            extra_conf=session_conf(self.work, conf),
        )

    def closed_loop(self, spark, rec, seconds: float | None = None) -> list:
        """Passes back to back until ``seconds`` (default ``--seconds``)
        have gone, and at least one."""
        passes = []
        deadline = time.monotonic() + (self.args.seconds if seconds is None else seconds)
        i = 0
        while True:
            try:
                passes.append(self.wl.run_pass(spark, rec, i))
            except Exception:
                traceback.print_exc()
            i += 1
            if time.monotonic() >= deadline:
                return passes

    def set_up(self, rec):
        t0 = time.perf_counter()
        spark = self.session()
        start_s = time.perf_counter() - t0
        log(f"session started in {start_s:.1f}s")
        gen = []
        for k in range(GEN_REPS):
            dst = os.path.join(self.work, f"input_{k}")
            t0 = time.perf_counter()
            self.wl.generate(dst)
            gen.append(time.perf_counter() - t0)
            if k:
                shutil.rmtree(os.path.join(self.work, f"input_{k - 1}"))
        self.input_dir = dst
        self.wl.prepare(spark, dst)
        t0 = time.perf_counter()
        self.wl.warm_up(spark, rec)
        warm_s = time.perf_counter() - t0
        log(f"inputs generated in {median(gen):.1f}s (median of {GEN_REPS}), warm-up {warm_s:.1f}s")
        return spark, start_s, median(gen), warm_s

    def run(self) -> dict:
        import procs
        from recorder import Recorder

        rec = Recorder()
        spark, start_s, gen_s, warm_s = self.set_up(rec)
        # a traced run measures an untraced and a traced loop of half the
        # time each, so it takes less than twice as long as an untraced run
        loop_s = self.args.seconds / 2 if self.args.trace else self.args.seconds
        passes = self.closed_loop(spark, rec, loop_s)
        peaks = procs.tree_peak_rss_mb()
        peak_mb = sum(peaks.values())
        log(f"{len(passes)} passes measured: " + " ".join(f"{p.wall_s:.2f}" for p in passes))
        log("peak RSS MB: " + " ".join(f"{k}={v:.0f}" for k, v in peaks.items()))
        walls = [p.wall_s for p in passes]
        calls = [s.seconds for s in rec.calls() if s.ok]
        e2e = {
            "setup_s": (start_s + gen_s + warm_s, 1),
            "wall_s": (median(walls), len(walls)),
            "items_per_s": (
                self.wl.items() / median(walls) if walls else 0.0, len(walls)
            ),
            "call_p50_s": (median(calls), len(calls)),
            "call_p90_s": (p90(calls), len(calls)),
            "peak_rss_mb": (peak_mb, 1),
        }
        recs, all_passes = [rec], list(passes)
        layers = {}
        if self.args.trace:
            import eventlog
            import layers as L

            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            spark.stop()
            spark = self.session(eventlog.event_log_conf(log_dir))
            trec, tpasses, extra = self.traced(spark)
            spark.stop()
            # an untraced loop after the traced one, to bracket it in time
            after = Recorder()
            spark = self.session()
            self.wl.prepare(spark, self.input_dir)
            self.wl.warm_up(spark, after, passes=1)
            later = self.closed_loop(spark, after, seconds=0)
            log(f"{len(later)} untraced passes after it: " + " ".join(f"{p.wall_s:.2f}" for p in later))
            all_passes += tpasses + later
            recs.append(after)
            stop_jvm()
            jobs = eventlog.read_jobs(eventlog.find_log(log_dir))
            layers = L.per_layer(
                self.wl, recs, trec, jobs, self.cores, extra,
                start_s=start_s, gen_s=gen_s, warm_s=warm_s,
            )
            recs.append(trec)
        else:
            stop_jvm()
        from workloads import Verdict

        v = Verdict()
        for p in all_passes:
            self.wl.check(p, v)
        log(f"checked {len(all_passes)} passes: {v.wrong} wrong of {v.attempted}")
        return {
            "e2e": e2e, "layers": layers, "verdict": v,
            "failed": sum(r.failed for r in recs),
            "attempted": sum(len(r.calls()) for r in recs),
        }

    def traced(self, spark):
        """The same loop in a session with the event log on, with spans
        around the package functions the workload reaches."""
        import layers as L
        from recorder import Recorder

        self.wl.prepare(spark, self.input_dir)
        rec = Recorder(spark.sparkContext)
        with L.instrument(rec):
            # the JVM is warm; one pass starts the new context's Python workers
            self.wl.warm_up(spark, rec, passes=1)
            passes = self.closed_loop(spark, rec, self.args.seconds / 2)
            extra = self.wl.trace_layers(spark, passes)
        log(f"{len(passes)} traced passes measured: " + " ".join(f"{p.wall_s:.2f}" for p in passes))
        return rec, passes, extra


def emit(spec: dict, res: dict, trace: bool) -> None:
    """Print every metric with its unit and sample count, then the JSON line."""
    v = res["verdict"]
    failed = res["failed"]
    attempted = max(res["attempted"], 1)
    keep_f1 = min(v.keep_f1) if v.keep_f1 else None
    print(f"{'metric':<44} {'value':>14}  unit     samples")
    metrics = {}
    if trace:
        for m in spec["per_layer"]:
            val = float(res["layers"].get(m["name"], 0.0))
            metrics[m["name"]] = {"value": val, "unit": m["unit"]}
            print(f"{m['name']:<44} {val:>14.6g}  {m['unit']:<8} traced")
    else:
        for m in spec["end_to_end"]:
            val, n = res["e2e"][m["name"]]
            metrics[m["name"]] = {"value": float(val), "unit": m["unit"]}
            print(f"{m['name']:<44} {val:>14.6g}  {m['unit']:<8} n={n}")
        # shown but not bounded: fewer than ten of a run's calls lie beyond it
        val, n = res["e2e"]["call_p90_s"]
        print(f"{'call_p90_s':<44} {val:>14.6g}  {'s':<8} n={n}, not bounded")
    # correctness gates rather than bounded metrics: at HEAD they read 0 and 1.0
    print(f"{'wrong_results':<44} {v.wrong:>14d}  count    of {v.attempted} checked")
    print(f"{'failed_ops_ratio':<44} {failed / attempted:>14.6g}  ratio    of {attempted} calls")
    if keep_f1 is not None:
        print(f"{'keep_f1':<44} {keep_f1:>14.6g}  ratio    min over passes")
    correct = v.wrong == 0 and failed == 0 and (keep_f1 is None or keep_f1 >= 0.99)
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    }))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: package {PKG!r} not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run = Run(args)
    try:
        res = run.run()
    finally:
        stop_jvm()
        shutil.rmtree(run.work, ignore_errors=True)
    emit(spec, res, bool(args.trace))
    return 0


if __name__ == "__main__":
    sys.exit(main())
