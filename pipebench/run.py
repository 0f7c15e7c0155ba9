"""Benchmark entry point.

    python3 pipebench/run.py --workload ratings_stream --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the engine. Generates the workload's
inputs from ``--seed``, sets up a Spark session at ``local[<cores>]``,
measures for ``--seconds`` seconds, checks the outputs, and prints one
JSON object as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (spans written to ``.pipebench/traces/``).
Exits 1 when a correctness check fails (the JSON is still printed) and
2, without a result, when the checkout does not hold the engine.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import uuid

ROOT = os.getcwd()
WORKLOADS = ("ratings_stream", "catalog_cdc")
RUN_LIMIT_S = 170


def _overrun(*_):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def _stop_jvm() -> None:
    """Stop the SparkContext and the py4j gateway JVM, and wait for it:
    the JVM exits when its stdin closes."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
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
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "data_pipeline_kafka_ek_spark", "__init__.py")):
        print(f"error: no engine package under {ROOT}; run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from pipebench import harness, metrics
    from pipebench.trace import NULL, Tracer, span_cost_us

    run_id = f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    ctx = harness.Context(
        root=ROOT,
        tmp=os.path.join(ROOT, ".pipebench", f"tmp-{run_id}"),
        seed=args.seed,
        seconds=args.seconds,
        tracer=Tracer(run_id) if args.trace else NULL,
        traced=bool(args.trace),
        cpus=len(os.sched_getaffinity(0)),
    )
    os.makedirs(ctx.tmp, exist_ok=True)
    # a terminated or overrunning run still stops its JVM and removes its
    # temp root; a run must end within 180 s
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    signal.signal(signal.SIGALRM, _overrun)
    signal.alarm(RUN_LIMIT_S)
    harness.configure_env(ctx)
    try:
        if args.workload == "ratings_stream":
            from pipebench import ratings as wl
        else:
            from pipebench import batch as wl
        wl.run(ctx)
    finally:
        signal.alarm(0)
        _stop_jvm()
        harness.cleanup(ctx)

    if args.trace:
        t = ctx.tracer
        for layer, s in t.self_seconds_by_layer().items():
            if layer in metrics.LAYERS:
                ctx.put(f"layer.{layer}.self_s", s, "s")
        ctx.put("trace.spans", len(t.spans), "count")
        ctx.put("trace.span_cost_us", span_cost_us(), "us")
        ctx.put("trace.main_p50_ms", ctx.metrics["main_p50_ms"][0], "ms")
        out_dir = os.path.join(ROOT, ".pipebench", "traces")
        os.makedirs(out_dir, exist_ok=True)
        t.write(os.path.join(out_dir, f"{run_id}.jsonl"))
        wanted = metrics.PER_LAYER
    else:
        wanted = metrics.END_TO_END
    out = {}
    for name, unit in wanted.items():
        value, got_unit = ctx.metrics.get(name, (0.0, unit))
        if got_unit != unit:
            raise AssertionError(f"{name}: unit {got_unit} != {unit}")
        out[name] = {"value": value, "unit": unit}
    correct = ctx.failed == 0
    for note in ctx.notes:
        print(f"# {note}", file=sys.stderr)
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, ctx.attempted),
        "failed": ctx.failed,
        "metrics": out,
    }))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    t0 = time.time()
    rc = main()
    print(f"# wall {time.time() - t0:.1f}s", file=sys.stderr)
    sys.exit(rc)
