"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

Run it from the repository root. It starts its own Spark session
(``local[nproc]``), builds the workload's input from ``--seed``, warms the
JVM up until consecutive passes settle, then times passes for
``--seconds`` and reports medians. ``--trace 1`` runs the same workload
with spans around each call into a layer and reports the per-layer
metrics instead. Every pass checks its output; the last stdout line is
``{"correct", "attempted", "failed", "metrics"}``. Scratch files live
under ``.perfbench/`` in the repository root. README.md describes the
workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

from tracing import (Py4JCounter, Tracer, exec_totals, host_busy_s, plan_node_counts, process_tree,
                     tree_cpu_s, tree_peak_rss_mb)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SCRATCH = os.path.join(WORK, "run")  # removed at the end of every run

SHUFFLE_PARTITIONS = 16
SETUP_REPEATS = 3  # input set-ups per run; setup_s takes their median
WARMUP_MIN, WARMUP_MAX, SETTLE = 4, 7, 0.10
MIN_PASSES = 3
NOISY_CORES = 0.25  # a pass is disturbed when others took more CPU than this
WRITER_BUCKETS = 16


def session(work: str):
    """The benchmark's own Spark profile: local[nproc], fixed shuffle
    partitions, 8g driver, scratch space inside the checkout, no UI or
    progress bar, single-threaded BLAS."""
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ[var] = "1"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{len(os.sched_getaffinity(0))}]")
        .appName("kamae_spark-perfbench")
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.shuffle.compress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.local.dir", tmp)
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms8g -Xmn1g -XX:-UseDynamicNumberOfCompilerThreads")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # write every task update to the status store, so that the
        # traced run's execution counters are exact
        .config("spark.ui.liveUpdate.period", "0")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop Spark and wait until the JVM and its workers have exited."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    pids = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


class Checks:
    def __init__(self):
        self.attempted = self.failed = 0

    def add(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok


def timed(fn) -> tuple[float, object]:
    t0 = time.perf_counter()
    r = fn()
    return time.perf_counter() - t0, r


class Pass:
    """One checked pass with its wall time, this process tree's CPU time
    without JIT compilation, and the CPU that other processes and the
    hypervisor took meanwhile."""

    def __init__(self, w, checks: Checks):
        (cpu0, jit0), busy0 = tree_cpu_s(), host_busy_s()
        self.wall, ok = timed(w.run_pass)
        (cpu1, jit1), busy1 = tree_cpu_s(), host_busy_s()
        self.cpu = (cpu1 - cpu0) - (jit1 - jit0)
        self.other_cores = max(busy1 - busy0 - (cpu1 - cpu0), 0.0) / self.wall
        checks.add(ok)

    @property
    def clean(self) -> bool:
        return self.other_cores <= NOISY_CORES


def passes(w, checks: Checks, seconds: float, at_least: int) -> list[Pass]:
    """Run passes for ``seconds`` and at least ``at_least`` of them. While
    fewer than ``at_least`` ran clean, go on for up to twice ``seconds``."""
    done: list[Pass] = []
    t0 = time.perf_counter()
    while True:
        done.append(Pass(w, checks))
        elapsed = time.perf_counter() - t0
        clean = sum(p.clean for p in done)
        if len(done) >= at_least and elapsed >= seconds and (clean >= at_least or elapsed >= 2 * seconds):
            return done


def steady_wall(done: list[Pass], at_least: int) -> float:
    """Median wall time of the clean passes; if too few ran clean, of the
    ``at_least`` least disturbed ones."""
    clean = [p for p in done if p.clean]
    if len(clean) < at_least:
        clean = sorted(done, key=lambda p: p.other_cores)[:at_least]
    return median([p.wall for p in clean])


def settled(walls: list[float]) -> bool:
    """The last two pass-to-pass changes are both within SETTLE."""
    return len(walls) >= 3 and all(
        abs(b - a) <= SETTLE * a for a, b in zip(walls[-3:], walls[-2:]))


def warm_up(w, checks: Checks) -> list[float]:
    """Pass until the JVM has settled: at least WARMUP_MIN passes, then
    until ``settled``, at most WARMUP_MAX passes."""
    walls = []
    while len(walls) < WARMUP_MAX:
        walls.append(Pass(w, checks).wall)
        if len(walls) >= WARMUP_MIN and settled(walls):
            break
    return walls


def layer_probes(w, checks: Checks) -> None:
    """Force each operator family, the indexer and the writer alone on the
    workload's cached input."""
    from workloads import (asof_stage, listagg_stage, noop, sessionize_stage, window_stages,
                           write_and_resume)

    from kamae_spark.core.pipeline import PipelineModel
    from kamae_spark.operators.indexers import StringIndexEstimator

    tr = w.tracer
    for name, stages in (
        ("windows.exec", window_stages()),
        ("sessionize.exec", [sessionize_stage()]),
        ("listagg.exec", [listagg_stage()]),
        ("asof.exec", [asof_stage(w.annotations())]),
    ):
        with tr.span(name):
            noop(PipelineModel(stages).transform(w.t))
    with tr.span("indexers.fit") as s:
        model = StringIndexEstimator(input_col=w.vocab_col, output_col="vocab_idx").fit(w.t)
        s["labels_kept"] = len(model.labels)
    with tr.span("indexers.transform"):
        noop(model.transform(w.t))
    checks.add(write_and_resume(w.spark, w.t, os.path.join(SCRATCH, "probe_out"), tr, w.turns,
                                WRITER_BUCKETS))


def plan_shape(w) -> dict[str, float]:
    """Plan time of a fresh DataFrame, then the node counts of its final
    (post-AQE) physical plan."""
    fresh = w.model.transform(w.t)
    qe = fresh._jdf.queryExecution()
    plan_s, plan = timed(qe.executedPlan)
    plan.execute().count()
    counts = plan_node_counts(plan)
    return {"plan.plan_s": plan_s, **{f"plan.{k}_nodes": v for k, v in counts.items()}}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def fmt(xs) -> str:
    return "[" + ", ".join(f"{x:.2f}" for x in xs) + "]"


def median(xs) -> float:
    return statistics.median(xs)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    # the program is imported before anything else: without it the run
    # fails here, before printing any result
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    # on SIGTERM, unwind through the finally below and stop Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    shutil.rmtree(SCRATCH, ignore_errors=True)
    spark = session(SCRATCH)
    try:
        session_s = time.perf_counter() - t_start
        tracer = Tracer()
        w = WORKLOADS[args.workload](spark, args.seed, tracer)
        checks = Checks()
        gens = []
        for i in range(SETUP_REPEATS):
            if i:
                w.drop_input()
            gens.append(timed(w.make_input)[0])
        warm = warm_up(w, checks)
        # what a batch user pays before the first result: session start,
        # the input set-up (median of SETUP_REPEATS) and the cold first pass
        setup_s = session_s + median(gens) + warm[0]
        log(f"session {session_s:.2f} s, inputs {fmt(gens)} s, warm-up {fmt(warm)} s")

        if not args.trace:
            done = passes(w, checks, args.seconds, MIN_PASSES)
            log("timed " + ", ".join(f"{p.wall:.2f} s ({p.other_cores:.2f} other cores)" for p in done))
            final, oks = timed(w.final_checks)
            log(f"final checks {final:.2f} s")
            for ok in oks:
                checks.add(ok)
            metrics = {
                "wall_s": (steady_wall(done, MIN_PASSES), "s"),
                "setup_s": (setup_s, "s"),
                "cpu_s": (median([p.cpu for p in done]), "s"),
                "peak_rss_mb": (tree_peak_rss_mb(), "MB"),
            }
        else:
            plain = passes(w, checks, args.seconds / 2, 2)
            tracer.counter = Py4JCounter(spark)
            tracer.enabled = True
            e0 = exec_totals(spark)
            traced = []
            for _ in range(len(plain)):
                with tracer.span("pass"):
                    traced.append(Pass(w, checks))
            e1 = exec_totals(spark)
            layer_probes(w, checks)
            for ok in w.final_checks():
                checks.add(ok)
            per_pass = {k: (e1[k] - e0[k]) / len(traced) for k in e0}
            metrics = traced_metrics(w, tracer, gens, per_pass,
                                     steady_wall(traced, 2) - steady_wall(plain, 2))
            tracer.dump(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"))
    finally:
        stop(spark)
        shutil.rmtree(SCRATCH, ignore_errors=True)

    print(json.dumps({
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def traced_metrics(w, tracer, gens, per_pass: dict, overhead_s: float) -> dict:
    d = tracer.durations
    v = tracer.values
    out = {
        "pipeline.compile_s": (median(d("pipeline.compile")), "s"),
        "pipeline.fit_s": (median(d("pipeline.fit")), "s"),
        "pipeline.py4j_calls": (median(v("pipeline.compile", "py4j_calls")), "count"),
        "pipeline.stages": (v("pipeline.compile", "stages")[0], "count"),
    }
    out.update({k: (x, "s" if k.endswith("_s") else "count") for k, x in plan_shape(w).items()})
    for k in ("tasks", "failed_tasks", "gc_s", "shuffle_write_mb", "spill_mb"):
        unit = "s" if k.endswith("_s") else "MB" if k.endswith("_mb") else "count"
        out[f"exec.{k}"] = (per_pass[k], unit)
    for k in ("windows", "sessionize", "listagg", "asof"):
        out[f"{k}.exec_s"] = (median(d(f"{k}.exec")), "s")
    out["indexers.fit_s"] = (median(d("indexers.fit")), "s")
    out["indexers.labels_kept"] = (v("indexers.fit", "labels_kept")[0], "count")
    out["indexers.transform_s"] = (median(d("indexers.transform")), "s")
    out["synth.gen_s"] = (median(gens), "s")
    out["synth.turns"] = (w.turns, "count")
    out["io.write_s"] = (median(d("io.write")), "s")
    out["io.bytes_written_mb"] = (median(v("io.write", "bytes_written_mb")), "MB")
    out["io.files_written"] = (median(v("io.write", "files_written")), "count")
    out["io.buckets_written"] = (median(v("io.write", "buckets_written")), "count")
    out["io.resume_s"] = (median(d("io.resume")), "s")
    out["io.resume_buckets_written"] = (max(v("io.resume", "buckets_written")), "count")
    out["io.completed_buckets_s"] = (median(d("io.completed_buckets")), "s")
    out["trace.overhead_s"] = (overhead_s, "s")
    return out


if __name__ == "__main__":
    sys.exit(main())
