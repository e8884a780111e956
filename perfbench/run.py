"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 20 --trace 0

Run from the repository root. Generates the workload's inputs from the seed,
sets up a ``local[<cores>]`` session with ``session.get_spark`` defaults, warms
up, times operations for ``--seconds`` and checks every output. Prints the
metrics by name and unit, the output digest and the host probe, then one JSON
line: ``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics of BENCHMARK.json (``--trace 0``) or its per-layer metrics
(``--trace 1``, which adds a traced operation after the timed ones).
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170.0


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``; give
    the Python workers the package on PYTHONPATH."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR on next use
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
        + os.environ.get("JAVA_TOOL_OPTIONS", "")
    ).strip()


def _stop_processes(spark, pids: list[int]) -> None:
    """Stop the session and its JVM, then wait for every process it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    _reap(pids, timeout=30)


def _reap(pids: list[int], timeout: float) -> None:
    end = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < end:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _watchdog() -> None:
    """Past the deadline: kill every descendant and exit non-zero, unprinted."""
    from tracing import descendants

    print(f"perfbench: deadline of {DEADLINE_S:.0f} s passed, aborting", file=sys.stderr)
    pids = descendants(os.getpid())
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    _reap(pids, timeout=10)
    os._exit(3)


def main() -> int:
    args = _args()
    # fails here (non-zero, nothing printed) when the package is not beside perfbench/
    sys.path[:0] = [ROOT, HERE]
    import tracing as tr
    from extractors_metadata_spark.session import get_spark
    from extractors_metadata_spark.synth import plot_rings
    from workloads import WORKLOADS, run_batch, run_incremental

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    w = WORKLOADS[args.workload]
    timer = threading.Timer(DEADLINE_S - (time.perf_counter() - T0), _watchdog)
    timer.daemon = True
    timer.start()

    probe_start = tr.cold_page_gbps()
    rss = tr.RssSampler().start()
    spark = None
    try:
        spark = get_spark(f"perfbench-{w.name}")
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - T0
        plots = plot_rings()
        clock = lambda: time.perf_counter() - T0  # noqa: E731
        run_workload = run_batch if w.kind == "batch" else run_incremental
        res = run_workload(spark, w, work, args.seed, args.seconds, bool(args.trace), plots, clock)
    finally:
        peak_mb = rss.stop()
        if spark is not None:
            _stop_processes(spark, tr.descendants(os.getpid()))
        timer.cancel()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there
    if res.tracer is not None:
        res.tracer.dump(os.path.join(ROOT, ".bench_out", f"spans-{w.name}-{args.seed}.json"))
    probe_end = tr.cold_page_gbps()

    failed_ratio = res.failed / max(res.attempted, 1)
    setup_s = res.e2e.get("setup_s", (0.0, "s"))[0]
    layers = dict(res.layers)
    layers.update({
        "session.start_s": (start_s, "s"),
        "session.warmup_s": (setup_s - start_s, "s"),
        "session.peak_rss_mb": (peak_mb, "MB"),
        "session.cold_page_gbps": (probe_start, "GB/s"),
        "session.cold_page_gbps_end": (probe_end, "GB/s"),
        "failed_ratio": (failed_ratio, "1"),
    })
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = layers if args.trace else res.e2e
    metrics = {m["name"]: {"value": float(got.get(m["name"], (0.0,))[0]), "unit": m["unit"]}
               for m in wanted}

    print(f"workload {w.name} seed {args.seed} trace {args.trace}: {w.why}")
    for name, (value, unit) in sorted(res.e2e.items()):
        print(f"  {name} = {value:.4f} {unit}")
    print(f"  failed_ratio = {failed_ratio:.4f} 1 ({res.failed}/{res.attempted} operations)")
    if args.trace:
        for name, (value, unit) in sorted(layers.items()):
            if name != "failed_ratio":
                print(f"  {name} = {value:.4f} {unit}")
    print(f"  host cold_page_gbps before {probe_start:.3f} after {probe_end:.3f}")
    print(f"digest {w.name} seed {args.seed}: {res.digest}")
    for e in res.errors:
        print(f"  FAILED: {e}")
    print(json.dumps({
        "correct": res.failed == 0 and res.attempted > 0,
        "attempted": max(res.attempted, 1),
        "failed": res.failed if res.attempted else 1,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
