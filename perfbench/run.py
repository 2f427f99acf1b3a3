#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload stream_drain --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. It generates its inputs from
``--seed``, starts Spark on ``local[<usable cores>]``, sets the workload
up (untimed, reported as ``setup_s``), runs the workload's closed loop
for ``--seconds``, checks every output outside the timers, and prints a
readable report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run also records spans, reads Spark's event log and
reports the per-layer ones (WORKLOADS.md maps each to the end-to-end
metric it should move). All state lives under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.catalog import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("bench", "smoke"), default="bench",
                   help="input sizes; 'smoke' is the self-test's")
    p.add_argument("--plant-wrong-answer", action="store_true",
                   help="self-test: expect one answer wrong, so checks must fail")
    return p.parse_args(argv)


def _module(name: str):
    if name == "stream_drain":
        from perfbench import stream_drain as mod
    else:
        from perfbench import store_mix as mod
    return mod


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "kinesis_iterator_spark", "__init__.py")):
        print(f"perfbench: no kinesis_iterator_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, args.workload)
    shutil.rmtree(work, ignore_errors=True)

    from perfbench import engine, tracing
    from perfbench.common import Run

    pinned = engine.pin_environment(work)
    cpus = int(pinned["SPARK_GRAFT_CPUS"])
    log_dir = os.path.join(work, "eventlog")
    extra = tracing.event_log_conf(log_dir) if args.trace else {}
    mod = _module(args.workload)

    t0 = time.perf_counter()
    spark, session_s = engine.start_session(work, cpus, extra)
    app_id = spark.sparkContext.applicationId
    run = Run(
        spark=spark, work=work, seed=args.seed, seconds=args.seconds,
        scale=args.scale, tracer=tracing.Tracer(spark, bool(args.trace)),
        plant=args.plant_wrong_answer,
    )
    try:
        state = mod.setup(run)
        setup_s = time.perf_counter() - t0
        with run.phase("loop"):
            out = mod.loop(run, state)
        named, generic = mod.metrics(run, out)
        rss = engine.peak_rss_mb(spark)
        baseline: dict[str, float] = {}
        if args.trace:
            mod.spans(run, out)
            if hasattr(mod, "baseline_local1"):
                # Stopping the session also completes its event log.
                spark, _ = engine.restart_session(spark, work, 1)
                run.spark = spark
                with run.phase("local[1] baseline"):
                    baseline = mod.baseline_local1(run, state)
    finally:
        engine.stop_session(spark)

    layer: dict[str, float] = {}
    overhead = ""
    if args.trace:
        jobs = tracing.read_event_log(log_dir, app_id)
        windows = mod.timed_windows(out)
        tot = tracing.window_totals(jobs, windows)
        layer.update({
            "spark.jobs": tot["jobs"],
            "spark.stages": tot["stages"],
            "spark.tasks": tot["tasks"],
            "spark.executor_cpu_s": tot["cpu_s"],
            "spark.gc_s": tot["gc_s"],
            "spark.shuffle_read_bytes": tot["shuffle_read"],
            "spark.shuffle_write_bytes": tot["shuffle_write"],
            "spark.input_records": tot["input_records"],
            "spark.driver_only_ratio": tracing.driver_only_ratio(jobs, windows),
        })
        layer.update(mod.layer_metrics(run, out, jobs))
        layer.update(baseline)
        spans_path = os.path.join(work, "spans.json")
        run.tracer.dump(spans_path)
        overhead, layer["trace.overhead_pct"] = _overhead(base, args.workload, generic)
        overhead += f"\n  spans: {len(run.tracer.spans)} written to {spans_path}"

    e2e = {"setup_s": setup_s, "peak_rss_mb": rss, **generic}
    if not args.trace:
        with open(os.path.join(base, f"untraced-{args.workload}.json"), "w") as fh:
            json.dump(e2e, fh)

    # Readable report: every metric under the workload's own name.
    ledger = run.ledger
    print(f"workload {args.workload} seed {args.seed} scale {args.scale} "
          f"local[{cpus}] trace {args.trace}")
    print("pinned env: " + " ".join(f"{k}={v}" for k, v in pinned.items()))
    print(f"  setup_s {setup_s:.3f} s (session start {session_s:.3f} s)")
    print("  phases: " + ", ".join(f"{k} {v:.1f} s" for k, v in run.phases.items()))
    print(f"  error_rate {ledger.error_rate:.4f} ({ledger.failed}/{ledger.attempted} ops failed)")
    print(f"  peak_rss_mb {rss:.1f} MB")
    for k, v in named.items():
        note = f" (p{v[2]['percentile']} of {v[2]['samples']} samples)" if len(v) > 2 else ""
        print(f"  {k} {v[0]:.4f} {v[1]}{note}")
    if overhead:
        print(overhead)
    for k in sorted(layer):
        print(f"  [layer] {k} {layer[k]:.4f} {PER_LAYER.get(k, '')}")
    for prob in ledger.problems:
        print(f"  FAILED {prob}")

    if args.trace:
        values = {k: layer.get(k, 0.0) for k in PER_LAYER}
        units = PER_LAYER
    else:
        values, units = e2e, END_TO_END
    result = {
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {
            k: {"value": float(values[k]), "unit": units[k]} for k in units
        },
    }
    print(json.dumps(result), flush=True)
    return 0


def _overhead(base: str, workload: str, traced: dict) -> tuple[str, float]:
    """Traced minus untraced end-to-end numbers, against the last untraced
    run of this workload in the same checkout."""
    path = os.path.join(base, f"untraced-{workload}.json")
    if not os.path.exists(path):
        return "  tracing overhead: no untraced run in this checkout yet", 0.0
    with open(path) as fh:
        plain = json.load(fh)
    lines = ["  tracing overhead (traced - untraced):"]
    for k, v in traced.items():
        if k in plain:
            lines.append(f"    {k} {v - plain[k]:+.4f}")
    p50 = plain.get("primary_p50_ms") or 0.0
    pct = 100.0 * (traced["primary_p50_ms"] - p50) / p50 if p50 else 0.0
    return "\n".join(lines), pct


if __name__ == "__main__":
    sys.exit(main())
