"""Layered extraction benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload on ``local[<cores>]`` from this one Python process, as a
closed loop with one client: passes run back to back for ``--seconds``
seconds. Inputs are generated from ``--seed``; outputs are checked outside
the timed window. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics of a separate traced run with
``--trace 1``. Workloads, metrics and their meaning: ``perfbench/NOTES.md``.

Everything the run writes stays under ``.perfbench/`` in the repository
root; the span log of a traced run is kept there, the rest is removed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SETUP_REPEATS = 3
# untimed passes after the first: pass times keep falling for about ten
# seconds after the Python workers start (JIT, kernel memos on the shared
# vocabulary), so a run timed from the first pass on measured its own warm-up
WARM_SECONDS = 10


def per_layer_units() -> dict:
    """Per-layer metric -> unit, as ``BENCHMARK.json`` lists them. A traced
    run reports every one, 0 where the workload does not exercise the
    layer (NOTES.md has the mapping)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate_writes(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python workers
    into ``work`` (set before the JVM starts, which inherits it)."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the launcher's too: temp files in work, no hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        (f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
         os.environ.get("JAVA_TOOL_OPTIONS", ""))).strip()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def spark_conf(work: str) -> dict:
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def reap_descendants(tree) -> None:
    """Kill and wait for any process this run started that is still alive
    (the JVM normally takes its Python workers down with it)."""
    deadline = time.time() + 10
    while time.time() < deadline + 5:
        left = [p for p in tree.pids() if p != tree.root]
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0]
    q = statistics.quantiles(values, n=4)
    return q[0], q[2]


def run(args, work: str, tree) -> dict:
    from perfbench import probes
    from perfbench.trace import NULL_TRACER, Tracer
    from perfbench.workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    wl_cls = WORKLOADS[args.workload]

    t0 = time.perf_counter()
    from htep_spark.sources.io import get_spark

    spark = get_spark(f"perfbench-{args.workload}", cores=cores,
                      shuffle_partitions=cores, extra_conf=spark_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        wl = wl_cls(spark, work, args.seed, cores, args.seconds)
        synth, setup = [], []
        for k in range(SETUP_REPEATS):
            in_dir = os.path.join(work, f"inputs-{k}")
            a = time.perf_counter()
            wl.generate()
            b = time.perf_counter()
            wl.materialise(in_dir)
            setup.append(time.perf_counter() - a)
            synth.append(b - a)
            if k:
                shutil.rmtree(os.path.join(work, f"inputs-{k - 1}"))
        wl.use_inputs(in_dir)

        phases = {"session": session_s, "setup": time.perf_counter() - t0 - session_s}
        a = time.perf_counter()
        wl.add_inputs()
        phases["window inputs"] = time.perf_counter() - a
        a = time.perf_counter()
        wl.warm_up()
        b = time.perf_counter()
        while time.perf_counter() - b < WARM_SECONDS:
            wl.run_pass(NULL_TRACER, traced=False)
        wl.warming = False
        phases["warm-up"] = time.perf_counter() - a

        walls = []
        probe0 = probes.fixed_work_ms()
        cpu0, gc0, host0 = tree.cpu_s(), probes.jvm_gc_s(spark), probes.host_cpu_ticks()
        start = time.perf_counter()
        while True:
            walls.append(wl.run_pass(NULL_TRACER, traced=False))
            if time.perf_counter() - start >= args.seconds:
                break
        window = time.perf_counter() - start
        cpu, gc = tree.cpu_s() - cpu0, probes.jvm_gc_s(spark) - gc0
        steal, ticks = (b - a for a, b in zip(host0, probes.host_cpu_ticks()))
        probe1 = probes.fixed_work_ms()
        peak_rss = tree.peak_rss

        phases["window"] = window
        a = time.perf_counter()
        attempted, failed, problems = wl.gate()
        phases["gate"] = time.perf_counter() - a
        wall = statistics.median(walls)
        q1, q3 = quartiles(walls)
        print(f"perfbench {args.workload} seed={args.seed}: {len(walls)} passes "
              f"({getattr(wl, 'reused', 0)} on re-read inputs), "
              f"wall_s median {wall:.4f} (q1 {q1:.4f}, q3 {q3:.4f}), "
              f"host steal {steal / max(1, ticks):.1%}, fixed-work loop "
              f"{probe0:.1f}/{probe1:.1f} ms before/after", flush=True)
        print("perfbench phases: " + ", ".join(f"{k} {v:.1f}s" for k, v in phases.items())
              + "; passes " + " ".join(f"{w:.3f}" for w in walls), file=sys.stderr)
        for p in problems[:20]:
            print(f"perfbench gate: {p}", file=sys.stderr)

        if not args.trace:
            metrics = {
                "setup_s": (session_s + statistics.median(setup), "s"),
                "wall_s": (wall, "s"),
                "rows_per_s": (wl.rows / wall, "1/s"),
                "core_s_per_krow": (cpu / (wl.rows * len(walls) / 1000.0), "s"),
            }
        else:
            metrics = traced_run(args, wl, cores, Tracer(), wall)
            metrics["sources.synth_s"] = (statistics.median(synth), "s")
            metrics["jvm.gc_s"] = (gc, "s")
            metrics["jvm.core_utilization"] = (cpu / (window * cores), "share")
            metrics["jvm.peak_rss_mb"] = (peak_rss / 2**20, "MiB")
    finally:
        stop_spark(spark)
    return {
        "correct": not problems and not failed,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def traced_run(args, wl, cores, tracer, untraced_wall) -> dict:
    """Separate traced passes: spans around every layer call, plan
    metrics of the executed plans, the kernel stage table."""
    from perfbench import probes

    walls = []
    start = time.perf_counter()
    while True:
        tracer.pass_id = len(walls)
        with tracer.span("pass"):
            walls.append(wl.run_pass(tracer, traced=True))
        if time.perf_counter() - start >= args.seconds / 2:
            break
    tracer.pass_id = None
    traced_wall = statistics.median(walls)

    listed = per_layer_units()
    units = {**listed, **wl.extra_units}
    out = dict.fromkeys(listed, 0.0)
    out.update(wl.layer_metrics(tracer))
    warm_texts, texts = wl.kernel_texts()
    if texts:
        with tracer.span("reference.stage_table"):
            table = probes.stage_table(warm_texts, texts)
        out.update({f"reference.{s}_cpu_us": v for s, v in table.items()})
    if wl.kernel_stages:
        kernel_core_s = wl.rows * sum(table[s] for s in wl.kernel_stages) * 1e-6
        out["extract.outside_kernel_share"] = 1 - kernel_core_s / (untraced_wall * cores)
        out["trace.unattributed_share"] = wl.unattributed_share(
            tracer, traced_wall, kernel_core_s, cores)
    out["trace.overhead_share"] = traced_wall / untraced_wall - 1
    tracer.write(os.path.join(ROOT, ".perfbench", f"spans-{args.workload}-{args.seed}.json"))
    return {k: (v, units[k]) for k, v in out.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "htep_spark")):
        print(f"perfbench: no htep_spark package in {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{args.seed}-{os.getpid()}")
    isolate_writes(work)
    from perfbench.probes import ProcTree

    try:
        with ProcTree(sample_rss=bool(args.trace)) as tree:
            try:
                result = run(args, work, tree)
            finally:
                reap_descendants(tree)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
