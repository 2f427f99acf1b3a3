#!/usr/bin/env python3
"""Self-test of the benchmark itself. From the root of a checkout:

    python3 perfbench/selftest.py

1. Smoke: every workload at the ``smoke`` scale, untraced and traced.
   The last stdout line must be the result object with every end-to-end
   (untraced) or per-layer (traced) metric, by name and unit, and no
   failed op.
2. Planted failure: with one expected answer deliberately wrong, every
   workload must report failed ops (``error_rate`` above 0).
3. Counter agreement: for one call window, the statusTracker job-id
   delta and the event-log job count (two independent counters) must
   agree.

Exits 0 when every check passes. Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.catalog import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402

EXERCISED = {  # per-layer metrics each workload must report as non-zero
    "stream_drain": ("source.fetch_ms", "iterator.polls", "sequence.store_calls",
                     "sink.write_ms", "datasource.add_batch_ms",
                     "baseline.local1_records_per_s", "spark.jobs"),
    "store_mix": ("admit.text_jobs", "admit.embedding_jobs", "maint.jobs",
                  "storage.generations", "serve.bm25_jobs", "serve.pq_jobs",
                  "batch.q1_pricing_summary_jobs", "spark.jobs"),
}


def _run(workload: str, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--scale", "smoke", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _expect_metrics(res: dict, want: dict[str, str], what: str) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, what
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want, f"{what}: metric names/units differ: {set(got) ^ set(want)}"
    assert res["attempted"] >= 1, what


def smoke() -> None:
    for w in WORKLOADS:
        res = _run(w, "--trace", "0")
        _expect_metrics(res, END_TO_END, f"{w} untraced")
        assert res["correct"] and res["failed"] == 0, f"{w}: {res}"
        for k, v in res["metrics"].items():
            assert v["value"] > 0, f"{w}: end-to-end metric {k} is {v['value']}"
        res = _run(w, "--trace", "1")
        _expect_metrics(res, PER_LAYER, f"{w} traced")
        assert res["correct"] and res["failed"] == 0, f"{w} traced: {res}"
        for k in EXERCISED[w]:
            assert res["metrics"][k]["value"] > 0, f"{w}: layer metric {k} is 0"
        print(f"ok  smoke {w}")


def planted() -> None:
    for w in WORKLOADS:
        res = _run(w, "--trace", "0", "--plant-wrong-answer")
        assert res["failed"] > 0 and not res["correct"], f"{w}: planted failure not caught"
        print(f"ok  planted wrong answer caught on {w} "
              f"(error_rate {res['failed'] / res['attempted']:.3f})")


def counters() -> None:
    from perfbench import engine, fixtures, tracing

    work = os.path.join(ROOT, ".perfbench_work", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    engine.pin_environment(work)
    log_dir = os.path.join(work, "eventlog")
    spark, _ = engine.start_session(work, engine.usable_cores(), tracing.event_log_conf(log_dir))
    app_id = spark.sparkContext.applicationId
    try:
        from kinesis_iterator_spark.queries import QUERIES, load_all

        sf_dir = fixtures.generate(os.path.join(work, "fixture"), 7, fixtures.SIZES["smoke"])
        load_all()
        tracer = tracing.Tracer(spark, enabled=True)
        with tracer.span("window") as sp:
            QUERIES["q3_shipping_priority"](spark, sf_dir).collect()
    finally:
        engine.stop_session(spark)
    logged = len(tracing.jobs_in(tracing.read_event_log(log_dir, app_id), sp.start, sp.end))
    assert sp.jobs > 0 and sp.jobs == logged, (
        f"statusTracker saw {sp.jobs} jobs, the event log {logged}"
    )
    print(f"ok  counters agree: {sp.jobs} jobs in the window")


def main() -> int:
    counters()
    smoke()
    planted()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
