"""Benchmark entry point: one workload in one fresh Spark process.

    python3 perfbench/run.py --workload spatial_join --seed 1 --seconds 15 --trace 0

Runs from any working directory. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 they are the
per-layer ones, and the spans with their Spark counters are written to
perfbench/_work/traces/. Workloads, sizes and metrics: README.md.
"""

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness as H  # noqa: E402
import workloads as W  # noqa: E402


def end_to_end(ctx, setup):
    return {
        "setup_s": (setup[0], "s"),
        "pass_s": (H.median(ctx.pass_walls), "s"),
    }


def per_layer(ctx, setup, peak_bytes, spans, probes, probe_spans, e2e):
    ops = [s for s in spans if s["kind"] == "op"]  # the timed ops, not the warm-up
    timed = [s for op in ops for s in H.subtree(spans, op)]
    actions = [s for s in timed if s["kind"] == "action"]
    out = {
        "process.peak_rss_mb": (peak_bytes / 2**20, "MB"),
        "session.start_s": (setup[1], "s"),
        "session.warm_s": (setup[2], "s"),
        "driver.build_s": (sum(s["end"] - s["start"] for s in timed if s["kind"] == "build"), "s"),
    }
    for name, v in H.spark_totals(spans, ops).items():
        out[name] = (v, "s" if name.endswith("_s") else "bytes" if name.endswith("bytes") else "count")
    for k in ("analysis", "optimization", "planning"):
        out[f"spark.catalyst.{k}_s"] = (sum(s.get(f"catalyst_{k}_s", 0.0) for s in actions), "s")
    out["spark.cached_rdds"] = (ctx.cached_rdds[-1] if ctx.cached_rdds else 0, "count")
    for name, v in probes.items():
        unit = "1/s" if name.endswith("_per_s") else "s" if name.endswith("_s") else "ratio"
        out[name] = (v, unit)
    out["lineage.jobs"] = (H.spark_totals(spans, probe_spans)["spark.jobs"], "count")
    for name, (v, unit) in e2e.items():
        out[f"traced.{name}"] = (v, unit)
    return out


def measure(args, tracer, work):
    """The cold set-up (JVM launch included), the timed region, the
    checks and (traced) the layer probes, in one Spark process that is
    stopped before returning. `setup` is (total, start, warm) seconds."""
    spark = None
    try:
        with H.PeakRss() as rss:
            t0 = time.perf_counter()
            spark, start_s, warm_s = H.start_session(tracer)
            setup = (time.perf_counter() - t0, start_s, warm_s)
            ctx = W.Ctx(spark, args.seed, args.seconds, tracer, work, args.workload)
            check = W.WORKLOADS[args.workload](ctx)
            peak_bytes = rss.peak_bytes
        check()
        probes, probe_spans = W.layer_probes(ctx) if tracer.enabled else ({}, [])
    finally:
        if spark is not None:
            spark.stop()
        H.stop_jvm()
    return ctx, setup, peak_bytes, probes, probe_spans


def write_trace(work_root, args, tracer, ctx, setup, metrics):
    os.makedirs(os.path.join(work_root, "traces"), exist_ok=True)
    path = os.path.join(work_root, "traces", f"{args.workload}-seed{args.seed}-{tracer.run_id}.json")
    with open(path, "w") as f:
        json.dump(
            {
                "run_id": tracer.run_id,
                "workload": args.workload,
                "seed": args.seed,
                "setup_s": setup,
                "cached_rdds_per_op": [[op["name"], n] for op, n in zip(ctx.ops, ctx.cached_rdds)],
                "metrics": {k: v for k, (v, _) in metrics.items()},
                "spans": tracer.spans,
            },
            f,
            indent=1,
        )
    return path


def run(args) -> int:
    sys.path.insert(0, H.ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import cadastre_pg_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {H.ROOT}: {e}", file=sys.stderr)
        return 2

    trace = bool(args.trace)
    work_root = os.path.join(HERE, "_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    H.prepare_env(work, trace)
    tracer = H.Tracer(trace)
    try:
        ctx, setup, peak_bytes, probes, probe_spans = measure(args, tracer, work)
        e2e = end_to_end(ctx, setup)
        metrics, trace_path = e2e, None
        if trace:
            H.attribute_events(H.read_event_logs(os.path.join(work, "events")), tracer.spans)
            metrics = per_layer(ctx, setup, peak_bytes, tracer.spans, probes, probe_spans, e2e)
            trace_path = write_trace(work_root, args, tracer, ctx, setup, metrics)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = max(ctx.attempted, 1)
    failed = min(len(ctx.failures), attempted)
    print(
        f"perfbench {args.workload} seed={args.seed} warm-up passes={ctx.warmups} "
        f"timed passes={ctx.passes} ops={len(ctx.ops)} "
        f"failed_frac={failed / attempted:.4f} ({failed}/{attempted})"
    )
    print("  timed pass walls (s): " + " ".join(f"{w:.3f}" for w in ctx.pass_walls))
    for name, reason in ctx.failures:
        print(f"  FAILED {name}: {reason}")
    for name, (v, unit) in {**e2e, "peak_rss_mb": (peak_bytes / 2**20, "MB"), **ctx.notes}.items():
        print(f"  {name} = {v:.6g} {unit}")
    if trace_path:
        print(f"  trace: {os.path.relpath(trace_path, H.ROOT)}")
    print(
        json.dumps(
            {
                "correct": not ctx.failures,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(p.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
