"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload {ingest,maintain} \\
        --seed N --seconds S --trace {0,1} [--scale F]

Run from the repository root. With ``--trace 0`` the result holds the
end-to-end metrics; with ``--trace 1`` the per-layer metrics of a run with
spans and the Spark event log on (see perfbench/README.md). Each run also
writes ``.perfbench/results/<workload>-seed<N>-trace<0|1>.json`` with the
raw samples, host contention and, when traced, every span. Exit code 0
means every timed call succeeded and returned the right answer.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import harness, host  # noqa: E402
from perfbench.ops import Ctx  # noqa: E402

WORKLOADS = ("ingest", "maintain")

# name -> unit; every workload reports all of them (perfbench/README.md)
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "tokens_per_s": "tok/s",
    "lookup_p50_s": "s",
    "scan_tokens_per_s": "tok/s",
    "kdi_scan_tokens_per_s": "tok/s",
    "write_bytes_per_user_byte": "B/B",
    "ok_op_frac": "frac",
    "peak_rss_mb": "MB",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=8)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale", type=float, default=1.0,
        help="multiplies the data sizes; below 1 only for smoke tests",
    )
    return p.parse_args(argv)


def _workload(name: str):
    import importlib

    return importlib.import_module(f"perfbench.workloads.{name}")


def _overhead(run, traced_metrics: dict) -> dict:
    """Traced minus untraced, per end-to-end metric, against the untraced
    run of the same workload and seed when one has been made."""
    p = os.path.join(run.results_dir, f"{run.workload}-seed{run.seed}-trace0.json")
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        untraced = json.load(f)["metrics"]
    return {k: traced_metrics[k] - untraced[k] for k in END_TO_END if k in untraced}


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import kafka_delta_ingest_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        harness.log(f"cannot import the engine ({e}); run from the repository root")
        return 2

    wl = _workload(args.workload)
    run = harness.Run(args.workload, args.seed, bool(args.trace))
    result, error, report, jobs, stages = None, None, [], {}, {}
    cpu0 = cpu1 = None
    with host.PeakRss() as rss:
        try:
            from perfbench import spans

            spark = run.start()
            from kafka_delta_ingest_spark.sources.table_batch import register

            register(spark)  # spark.read.format("kdi-table")
            ctx = Ctx(spark=spark, run=run, tracer=spans.NullTracer(), seed=args.seed,
                      seconds=args.seconds, scale=args.scale)
            restore = None
            if run.traced:
                ctx.tracer = spans.Tracer(spark.sparkContext)
                restore = spans.install_wrappers(ctx.tracer, ctx.dlq_roots)
            try:
                cpu0 = host.cpu_snapshot()
                result = wl.run(ctx)
                cpu1 = host.cpu_snapshot()
            finally:
                if restore is not None:
                    restore()
        except Exception:  # noqa: BLE001 — report, then exit non-zero
            error = traceback.format_exc()
            harness.log(error)
        finally:
            run.stop()
    if result is not None and run.traced:
        from perfbench import eventlog, layers

        jobs, stages = eventlog.parse(eventlog.read_events(run.event_dir))
        report = layers.span_report(ctx.tracer.spans, jobs, stages)
    run.cleanup()

    ops = result["ops"] if result else None
    attempted = max(1, ops.attempted if ops else 1)
    failed = attempted if ops is None else ops.failed
    correct = error is None and failed == 0
    for msg in ops.errors if ops else []:
        harness.log(f"FAILED {msg}")

    e2e = {}
    if result is not None:
        e2e = dict(result["metrics"])
        e2e["ok_op_frac"] = (attempted - failed) / attempted
        e2e["peak_rss_mb"] = rss.peak_bytes / 2**20
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "scale": args.scale, "trace": args.trace, "correct": correct,
        "attempted": attempted, "failed": failed,
        "cores": run.cores, "driver_heap_mb": harness.driver_heap_mb(),
        "session_s": run.session_s, "host": host.cpu_delta(cpu0, cpu1),
        "metrics": e2e,
    }
    if result is not None:
        record.update(samples=result["samples"], info=result["info"])
    if run.traced and result is not None:
        from perfbench import layers

        metrics = layers.per_layer(report, jobs, stages, result["layer"])
        record.update(per_layer=metrics, spans=report, overhead=_overhead(run, e2e))
        units = layers.PER_LAYER
    else:
        metrics, units = e2e, END_TO_END
    run.write_result(f"{args.workload}-seed{args.seed}-trace{args.trace}.json", record)
    harness.log(f"host contention: {record['host']}")
    if run.traced and record.get("overhead"):
        harness.log(f"tracing overhead (traced - untraced): {record['overhead']}")

    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items() if k in metrics},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
