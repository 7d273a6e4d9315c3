"""Benchmark entry point.

    python3 perfbench/run.py --workload bulk_ingest --seed 1 --seconds 20 --trace 0

Run from the repository root. Inputs are generated from ``--seed``; the
engine is driven for ``--seconds`` through its public functions; every
output is checked. The last line of stdout is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. The lines before it are a readable report. Scratch files go
to ``.perfbench_work/`` under the current directory and are removed at
exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until every process this
    one started has exited."""
    from pyspark import SparkContext

    import measure

    try:
        spark.stop()
    except Exception as e:  # the gateway may already be gone; stop the JVM anyway
        print(f"perfbench: session stop failed: {e!r}", file=sys.stderr)
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 20
    while measure.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in measure.descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    for pid in measure.descendants(os.getpid()):
        try:
            os.waitpid(pid, 0)
        except OSError:
            pass


def _report(workload: str, seed: int, res, spans, mem, heap_end_mb: float, metrics: dict,
            load: list, probe_ms: float) -> None:
    from measure import median, tail

    lat = res.latencies
    pct, tail_s, n = tail(lat)
    setup = [(name, t1 - t0) for name, t0, t1 in spans.spans
             if name.startswith(("session.", "setup.", "manifest_store.replace", "vector_index.build"))]
    lines = [
        f"workload {workload}  seed {seed}  nproc {os.cpu_count()}  "
        f"loadavg start {load[0]:.2f} end {load[1]:.2f}  host probe {probe_ms:.1f} ms",
        "inputs  " + "  ".join(f"{k} {res.notes[k]}" for k in ("docs", "bytes", "chunks")),
        "setup   " + "  ".join(f"{name} {d:.2f}s" for name, d in setup),
        f"operations {len(lat)}  throughput {sum(res.items) / sum(lat):.3f} {res.unit}/s  "
        f"attempted {res.attempted}  failed {res.failed}  "
        f"error_rate {res.failed / max(res.attempted, 1):.4f}",
        f"latency p50 {1000 * median(lat):.1f} ms"
        + (f"  p{pct} {1000 * tail_s:.1f} ms over {n} samples" if pct
           else f"  (no tail: {n} samples, fewer than 20)"),
        f"peak pss: jvm {mem.peak_jvm_kb / 1024:.0f} MB  python workers "
        f"{mem.peak_py_kb / 1024:.0f} MB  together {mem.peak_kb / 1024:.0f} MB",
        f"driver heap after a full gc: end of set-up {res.heap_setup_mb:.1f} MB  "
        f"after the first ingest or query cycle {res.heap_mb:.1f} MB  "
        f"end of run {heap_end_mb:.1f} MB",
    ]
    if res.kinds:
        lines.append("latency p50 by kind  " + "  ".join(
            f"{k} {1000 * median([t for t, kk in zip(lat, res.kinds) if kk == k]):.1f} ms "
            f"({res.kinds.count(k)})" for k in sorted(set(res.kinds))))
    else:
        lines.append("latencies  " + " ".join(f"{t:.2f}s" for t in lat))
    if "recall_at_10" in res.notes:
        lines.append(f"search_recall_at_10 {res.notes['recall_at_10']:.4f}")
    for name, m in metrics.items():
        lines.append(f"  {name:48s} {m['value']:.6g} {m['unit']}")
    print("\n".join(lines), flush=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(os.getcwd(), "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        _fail("run from the repository root (BENCHMARK.json not found)")
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path.insert(0, os.getcwd())
    try:
        import dataingestion_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        _fail(f"the engine is not importable from {os.getcwd()}: {e}")

    import measure
    import workloads

    if args.workload not in workloads.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    run, fold = workloads.WORKLOADS[args.workload]

    work = os.path.join(os.getcwd(), ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers inherit these: the engine and this directory on the
    # path, scratch files inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [os.getcwd(), HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable

    # a terminated run still stops the JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    load = [os.getloadavg()[0]]
    mem = measure.MemorySampler().start()
    spans = measure.Spans(enabled=bool(args.trace))
    spark = None
    try:
        with spans.span("session.start"):
            spark = workloads.start_session(work, bool(args.trace))
        spans.sc = spark.sparkContext
        res = run(spark, spans, work, args.seed, args.seconds, T_START)
        heap_end_mb = measure.heap_after_gc_mb(spark)
        _stop_spark(spark)
        spark = None
        peak_pss_mb = mem.stop()
        load.append(os.getloadavg()[0])
        lat = res.latencies
        if not lat:
            _fail("no operation completed")
        if args.trace:
            log = measure.EventLog(os.path.join(work, "eventlog"))
            fold(res, spans, log)
            res.layers["session.start_s"] = spans.durations("session.start")[0]
            res.layers["trace.p50_ms"] = 1000 * measure.median(lat)
            res.layers["driver.heap_growth_mb_per_op"] = (heap_end_mb - res.heap_setup_mb) / len(lat)
            # layers a workload never calls report 0: they did no work
            values = {m["name"]: res.layers.get(m["name"], 0.0) for m in spec["per_layer"]}
            wanted = spec["per_layer"]
        else:
            values = {
                "setup_s": res.setup_s,
                "throughput_per_s": sum(res.items) / sum(lat),
                "p50_ms": 1000 * measure.median(lat),
                "peak_pss_mb": peak_pss_mb,
                "heap_after_gc_mb": res.heap_mb,
            }
            wanted = spec["end_to_end"]
        metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                   for m in wanted}
        _report(args.workload, args.seed, res, spans, mem, heap_end_mb, metrics, load,
                measure.host_probe_ms())
        print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                          "failed": res.failed, "metrics": metrics}), flush=True)
    finally:
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
