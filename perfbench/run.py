"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload clips_window --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates (or reuses) the seeded inputs, sets
up a Spark session several times (``setup_s`` is the median), warms the JVM
with an untimed run of the workload's streaming query, runs the measured
query, checks its output with the workload's oracle and prints one JSON line
as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` the process first repeats the untraced measurement, then
measures again with Spark's event log and a progress listener on and prints
the per-layer metrics. Exit code 0 when every oracle passes, 1 when one
fails, 2 when the repository or its dependencies are missing. Everything the
run writes stays under ``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 3
JVM_HEAP = "2g"


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


_T0 = time.time()


def log(msg: str) -> None:
    print(f"[perfbench +{time.time() - _T0:.1f}s] {msg}", file=sys.stderr, flush=True)


def rebind_udfs() -> None:
    """Drop the JVM handles that the package's module-level UDFs cached in
    an earlier SparkContext of this process; otherwise their tasks keep
    reporting to that context's closed accumulator server."""
    from pyspark.sql.udf import UserDefinedFunction

    for name, mod in list(sys.modules.items()):
        if name.startswith("dataflows_spark.") and mod is not None:
            for obj in vars(mod).values():
                udf = getattr(obj, "_unwrapped", None)
                if isinstance(udf, UserDefinedFunction):
                    udf._judf_placeholder = None


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — a JVM that ignores shutdown is killed
                proc.kill()
                proc.wait()


def session_conf(run_dir: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        # keep every progress event of a run (the default keeps 100)
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    if trace:
        ev = os.path.join(run_dir, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + ev,
                # zstd (the default codec) needs a module this host lacks
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def setup(wl, inputs, cores: int, run_root: str, trace: bool, spark=None):
    """Session start + warm-up + a fresh run dir, timed. Stops ``spark``
    first (untimed) when given."""
    from dataflows_spark import build_session
    from perfbench.procmon import ProcessTree
    from perfbench.workloads import Ctx

    if spark is not None:
        spark.stop()
    t0 = time.perf_counter()
    run_dir = os.path.join(run_root, f"r{time.time_ns()}")
    os.makedirs(run_dir)
    spark = build_session(
        app_name=f"perfbench-{wl.name}",
        master=f"local[{cores}]",
        cores=cores,
        extra_conf=session_conf(run_dir, trace),
    )
    rebind_udfs()
    wl.warm(Ctx(spark, run_dir, inputs, ProcessTree(), trace=False))
    return spark, run_dir, time.perf_counter() - t0


def end_to_end(res, setup_times: list[float]) -> dict:
    from perfbench.stats import median, percentile

    lat = res.latencies_ms or [float("nan")]
    m = {
        "clips_per_s": (res.clips / res.wall_s, "1/s"),
        "rows_per_s": (res.rows / res.wall_s, "1/s"),
        "result_latency_p50_ms": (median(lat), "ms"),
        "result_latency_p95_ms": (percentile(lat, 95), "ms"),
        "cpu_s_per_1k_rows": (1000.0 * res.cpu_s / max(1, res.rows_cpu), "s"),
        "setup_s": (median(setup_times), "s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def summary_lines(name: str, res, metrics: dict, failed: list[str]) -> list[str]:
    from perfbench.stats import median, tail_percentile

    lines = [f"{name}: " + ", ".join(f"{k}={v['value']:.4g} {v['unit']}" for k, v in metrics.items())]
    lines.append(f"peak RSS of the process tree {res.peak_rss / 2**20:.0f} MB (reported, not gated: see per-layer exec.peak_rss_mb)")
    tail = tail_percentile(res.latencies_ms)
    lines.append(
        f"latency samples={len(res.latencies_ms)} files of {res.attempted} ops; "
        f"highest percentile with >=10 beyond: {tail and f'p{tail[0]:g}={tail[1]:.1f} ms'}"
    )
    if res.feeder_lateness_ms:
        lines.append(
            f"feeder lateness ms: median={median(res.feeder_lateness_ms):.2f} "
            f"max={max(res.feeder_lateness_ms):.2f} over {len(res.feeder_lateness_ms)} files"
        )
    trig = [p["durationMs"].get("triggerExecution", 0) for p in res.progress if p.get("numInputRows")]
    add = [p["durationMs"].get("addBatch", 0) for p in res.progress if p.get("numInputRows")]
    if trig:
        lines.append(
            f"throughput window: {len(trig)} batches, wall {res.wall_s:.2f} s, "
            f"median trigger {median(trig):.0f} ms, median addBatch {median(add):.0f} ms"
        )
    live = [(p.get("numInputRows"), p["durationMs"].get("triggerExecution"), p["durationMs"].get("addBatch"))
            for p in res.extra.get("live_progress", [])]
    if live:
        lines.append(f"live batches (rows, trigger ms, addBatch ms): {live}")
    lines.append(f"failed_frac={len(failed) / max(1, res.attempted):.4f} ({len(failed)}/{res.attempted}) {failed[:5]}")
    return lines


def result_path(args: argparse.Namespace) -> str:
    return os.path.join(WORK, "results", f"{args.workload}-s{args.seed}-t{args.seconds}.json")


def untraced_baseline(args: argparse.Namespace) -> dict | None:
    """The untraced result of the same workload, seed and size: the one an
    earlier untraced run in this checkout saved, else a fresh run in a child
    process. Either way it comes from its own fresh JVM, like the traced
    measurement it is compared with."""
    import subprocess

    path = result_path(args)
    if not os.path.exists(path):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", "0"]
        subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL, timeout=170)
    try:
        with open(path) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "dataflows_spark")):
        log(f"no dataflows_spark package under {ROOT}; run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import dataflows_spark  # noqa: F401
        from perfbench import gen, trace
        from perfbench.procmon import ProcessTree
        from perfbench.stats import median
        from perfbench.streams import ProgressListener
        from perfbench.workloads import WORKLOADS, Ctx
    except ImportError as exc:
        log(f"cannot import the system under test: {exc}")
        return 2
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    wl = WORKLOADS[args.workload](args.seconds)
    if wl.pinned_one_core:
        os.sched_setaffinity(0, {min(os.sched_getaffinity(0))})
    cores = wl.cores(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = JVM_HEAP
    run_root = os.path.join(WORK, "runs", f"{wl.name}-{os.getpid()}")
    # keep every scratch file of Spark and its Python workers in the checkout
    os.environ["TMPDIR"] = os.path.join(run_root, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_root, "spark-local")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    cache = os.path.join(WORK, "inputs")
    inputs = gen.InputSet(cache, wl.input_name(args.seed))
    if not inputs.ready():
        t = time.perf_counter()
        inputs.build(wl.input_maker(args.seed))
        log(f"generated {os.path.basename(inputs.dir)} in {time.perf_counter() - t:.1f} s (not in setup_s)")
    os.utime(inputs.dir)
    gen.evict(cache, wl.input_name(args.seed).split("-s")[0] + "-", os.path.basename(inputs.dir))

    baseline = untraced_baseline(args) if args.trace else None
    spark = None
    try:
        setups = []
        for _ in range(1 if args.trace else SETUPS):
            spark, run_dir, dt = setup(wl, inputs, cores, run_root, bool(args.trace), spark)
            setups.append(dt)
        log("setup_s samples: " + ", ".join(f"{s:.3f}" for s in setups))
        listener = None
        if args.trace:
            listener = ProgressListener()
            spark.streams.addListener(listener)
        ctx = Ctx(spark, run_dir, inputs, ProcessTree(), trace=bool(args.trace), listener=listener)
        t_warm = time.perf_counter()
        wl.warm_query(ctx)
        log(f"untimed warm-up query {time.perf_counter() - t_warm:.1f} s")
        res = wl.measure(ctx)
        t_check = time.perf_counter()
        failed = sorted(set(res.uncommitted) | set(wl.check(ctx, res)))
        log(f"oracle {time.perf_counter() - t_check:.1f} s; live phase: " + ", ".join(
            f"{k}={res.extra[k]:.2f}" for k in ("idle_wait_s", "feed_s", "drain_s") if k in res.extra))
        metrics = end_to_end(res, setups)
        for line in summary_lines(wl.name, res, metrics, failed):
            log(line)
        if args.trace:
            prefix = trace.prefix_times(spark, wl.prefixes(spark, inputs))
            spark.streams.removeListener(listener)
            stop_spark(spark)
            spark = None
            if baseline is None or not baseline["correct"]:
                failed.append("untraced baseline run")
            base = baseline["metrics"] if baseline else metrics
            metrics, lines = trace.layer_metrics(wl, res, run_dir, cores, prefix, base, metrics)
            for line in lines:
                log(line)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_root, ignore_errors=True)

    correct = not failed
    line = json.dumps({"correct": correct, "attempted": res.attempted, "failed": len(failed), "metrics": metrics})
    if not args.trace:
        os.makedirs(os.path.dirname(result_path(args)), exist_ok=True)
        with open(result_path(args) + ".tmp", "w") as fh:
            fh.write(line)
        os.replace(result_path(args) + ".tmp", result_path(args))
    print(line)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
