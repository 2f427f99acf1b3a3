"""``stream_drain``: drain a seeded events backlog, three times per pass.

First with the reference-parity consumer (``streaming.iterator`` over
``streaming.source``, checkpointing through ``streaming.sequence``'s
``JsonFileSaver`` into ``streaming.sink``'s ``ParquetEpochSink``), then
twice with the ``sim_kinesis`` Structured Streaming source (bounded admission
``limit=1000``, ``available_now``, an epoch-keyed ``foreachBatch``
sink). Both use the reference's 1,000-record page (kinesis.go:182) over
8 shards. The source replays a static fixture, so this measures
catch-up (backlog drain) rate, one closed-loop client.

A trigger runs from the Iterator's fetch call to that trigger's last
checkpoint write; the plug points (source, saver, sink) are thin
subclasses that only timestamp the library's own calls.
"""

from __future__ import annotations

import json
import os
import threading
import time

import pyarrow.parquet as pq

from kinesis_iterator_spark.streaming import datasource
from kinesis_iterator_spark.streaming.iterator import Iterator
from kinesis_iterator_spark.streaming.option import Option
from kinesis_iterator_spark.streaming.records import SEQ_PAD
from kinesis_iterator_spark.streaming.sequence import JsonFileSaver
from kinesis_iterator_spark.streaming.sink import ParquetEpochSink
from kinesis_iterator_spark.streaming.source import SimulatedShardedSource

from . import fixtures, stats
from .common import Run, dir_bytes
from .tracing import jobs_in, totals

PAGE = 1000  # GetRecords page, kinesis.go:182
N_SHARDS = 8
STREAM = "events"
STRUCTURED_DRAINS = 2  # per pass


class _Marks:
    """Plug-point timestamps, in call order: (kind, start, end, info)."""

    def __init__(self) -> None:
        self.items: list[tuple[str, float, float, object]] = []


class TimedSource(SimulatedShardedSource):
    def __init__(self, marks: _Marks, *a, **kw) -> None:
        super().__init__(*a, **kw)
        self._marks = marks

    def get_records_all(self, cursors, limit=PAGE):
        t0 = time.time()
        res = super().get_records_all(cursors, limit)
        self._marks.items.append(("fetch", t0, time.time(), sum(res.counts.values())))
        return res


class TimedSaver(JsonFileSaver):
    def __init__(self, marks: _Marks, path: str) -> None:
        super().__init__(path)
        self._marks = marks

    def set(self, stream, shard, sequence):
        t0 = time.time()
        ok = False
        try:
            super().set(stream, shard, sequence)
            ok = True
        finally:
            self._marks.items.append(("store", t0, time.time(), ok))


class TimedSink(ParquetEpochSink):
    def __init__(self, marks: _Marks, root: str) -> None:
        super().__init__(root)
        self._marks = marks

    def __call__(self, batch, epoch):
        t0 = time.time()
        super().__call__(batch, epoch)
        self._marks.items.append(("sink", t0, time.time(), epoch))


def _triggers(marks: _Marks) -> list[dict]:
    """Group plug-point marks into triggers: a fetch and the sink write
    and checkpoint stores that follow it."""
    out: list[dict] = []
    for kind, t0, t1, info in marks.items:
        if kind == "fetch":
            out.append({"fetch": (t0, t1), "rows": info, "sink": None, "stores": []})
        elif out and kind == "sink":
            out[-1]["sink"] = (t0, t1)
        elif out and kind == "store":
            out[-1]["stores"].append((t0, t1, info))
    for tr in out:
        tr["end"] = tr["stores"][-1][1] if tr["stores"] else tr["fetch"][1]
    return out


def expected_stream(sf_dir: str) -> dict[str, list[str]]:
    """Per-shard sequence numbers of the fixture, in order."""
    t = pq.read_table(os.path.join(sf_dir, "events.parquet"), columns=["event_id", "user_id"])
    eid = t.column("event_id").to_pylist()
    uid = t.column("user_id").to_pylist()
    shards: dict[str, list[str]] = {}
    for e, u in sorted(zip(eid, uid)):
        shards.setdefault(f"shardId-{u % N_SHARDS:012d}", []).append(f"{e:0{SEQ_PAD}d}")
    return shards


def check_iterator(d: str, it: Iterator, n: int, expected: dict, plant: bool) -> list[str]:
    """The sink holds exactly the fixture's sequence numbers, in per-shard
    order; each checkpoint is its shard's last sequence; the DLQ is empty."""
    bad: list[str] = []
    total = sum(len(v) for v in expected.values()) + (1 if plant else 0)
    if n != total:
        bad.append(f"delivered {n} records, expected {total}")
    seen: dict[str, list[str]] = {}
    for key in sorted(os.listdir(f"{d}/sink")):
        if not key.startswith("batch="):
            continue
        t = pq.read_table(f"{d}/sink/{key}", columns=["sequenceNumber", "shardId"])
        per: dict[str, list[str]] = {}
        for seq, shard in zip(t.column("sequenceNumber").to_pylist(), t.column("shardId").to_pylist()):
            per.setdefault(shard, []).append(seq)
        for shard, seqs in per.items():
            if seqs != sorted(seqs):
                bad.append(f"{key}/{shard} out of order")
            seen.setdefault(shard, []).extend(sorted(seqs))
    for shard, want in expected.items():
        if seen.get(shard) != want:
            got = seen.get(shard, [])
            bad.append(f"{shard}: sink has {len(got)} records ({len(set(got))} distinct), expected {len(want)} in order")
    with open(f"{d}/checkpoint.json") as fh:
        ck = json.load(fh)
    for shard, want in expected.items():
        if ck.get(f"{STREAM}\x00{shard}") != want[-1]:
            bad.append(f"{shard}: checkpoint {ck.get(f'{STREAM}{chr(0)}{shard}')} != {want[-1]}")
    if it.dlq:
        bad.append(f"DLQ holds {len(it.dlq)} records")
    return bad


def iterator_drain(run: Run, sf_dir: str, expected: dict, timed: list) -> None:
    d = run.fresh_dir("iterator")
    marks = _Marks()
    src = TimedSource(marks, run.spark, sf_dir, stream_name=STREAM, n_shards=N_SHARDS)
    it = (
        Iterator(src)
        .set_saver(TimedSaver(marks, f"{d}/checkpoint.json"))
        .foreach_batch(TimedSink(marks, f"{d}/sink"))
        .set_fetch_limit(PAGE)
    )
    t0 = time.time()

    def drain():
        n = it.run_until_drained()
        timed.append({"start": t0, "end": time.time(), "n": n, "marks": marks, "dir": d})
        return n

    run.ledger.op(
        "iterator drain", drain,
        lambda n: check_iterator(d, it, n, expected, run.plant),
    )


def structured_drain(run: Run, sf_dir: str, n_expected: int, timed: list) -> None:
    d = run.fresh_dir("structured")
    rows_by_epoch: dict[int, int] = {}

    def sink(batch, epoch):
        rows_by_epoch[epoch] = batch.count()  # keyed by epoch: a replay overwrites

    def drain():
        df = Option().with_sf_dir(sf_dir).with_shards(N_SHARDS).read_stream(
            run.spark, limit=PAGE, available_now=True
        )
        t0 = time.time()
        q = (
            df.writeStream.trigger(processingTime="0 seconds")
            .option("checkpointLocation", f"{d}/checkpoint")
            .foreachBatch(sink)
            .start()
        )
        ok = datasource.await_drained(q, sf_dir, N_SHARDS, timeout=120)
        t1 = time.time()
        n = sum(rows_by_epoch.values())
        timed.append({"start": t0, "end": t1, "n": n, "progress": q.recentProgress, "dir": d})
        return ok, n

    def check(res):
        ok, n = res
        want = n_expected + (1 if run.plant else 0)
        bad = [] if ok else ["await_drained returned False"]
        if n != want:
            bad.append(f"epoch-keyed rows sum to {n}, expected {want}")
        return bad

    run.ledger.op("structured drain", drain, check)


def one_pass(run: Run, sf_dir: str, expected: dict, n: int, it_log: list, st_log: list) -> None:
    """One Iterator drain, then ``STRUCTURED_DRAINS`` sim_kinesis drains:
    a sim_kinesis drain runs about half as long as an Iterator drain, so
    two give its metrics as many seconds of samples."""
    iterator_drain(run, sf_dir, expected, it_log)
    for _ in range(STRUCTURED_DRAINS):
        structured_drain(run, sf_dir, n, st_log)


def setup(run: Run) -> dict:
    """Generate the stream, then warm both drain paths on a small stream
    of their own (the first cold drain costs several times a warm one)."""
    sizes = fixtures.SIZES[run.scale]
    with run.phase("fixture"):
        sf_dir = fixtures.generate(os.path.join(run.work, "fixture"), run.seed, sizes)
        warm_dir = fixtures.generate(
            os.path.join(run.work, "fixture-warm"), run.seed + 1, fixtures.SIZES["smoke"]
        )
    warm_expected = expected_stream(warm_dir)
    # The two warm-up drains are independent: overlap them on driver
    # threads (setup only; the timed loop is one client).
    warm = threading.Thread(
        target=structured_drain,
        args=(run, warm_dir, sum(map(len, warm_expected.values())), []),
    )
    with run.phase("warm-up"):
        warm.start()
        iterator_drain(run, warm_dir, warm_expected, [])
        warm.join()
    expected = expected_stream(sf_dir)
    return {"sf_dir": sf_dir, "expected": expected, "n": sum(map(len, expected.values()))}


def loop(run: Run, state: dict) -> dict:
    """Closed loop: drain passes until ``run.seconds`` have elapsed."""
    it_log: list = []
    st_log: list = []
    t0 = time.perf_counter()
    while not it_log or time.perf_counter() - t0 < run.seconds:
        one_pass(run, state["sf_dir"], state["expected"], state["n"], it_log, st_log)
        if not it_log:  # the first drain raised: no point looping on
            break
    return {"iterator": it_log, "structured": st_log}


def _processed(log: list) -> tuple[int, float]:
    """(rows, seconds) the engine reports processing across the drains'
    micro-batches: ``numInputRows`` over ``durationMs.triggerExecution``,
    the aggregate of Structured Streaming's ``processedRowsPerSecond``.
    Query start and stop fall outside it."""
    prog = _progress_rows(log)
    return (
        sum(p["numInputRows"] for p in prog),
        sum(p["durationMs"]["triggerExecution"] for p in prog) / 1000.0,
    )


def _progress_rows(log: list) -> list[dict]:
    return [p for d in log for p in d["progress"] if p.get("numInputRows", 0) > 0]


def metrics(run: Run, out: dict) -> tuple[dict, dict]:
    """(every metric by this workload's own name, for the report; the
    end-to-end metrics by their catalog names)."""
    it_log, st_log = out["iterator"], out["structured"]
    trig = [tr for d in it_log for tr in _triggers(d["marks"]) if tr["rows"]]
    trig_ms = [(tr["end"] - tr["fetch"][0]) * 1000 for tr in trig]
    it_n = sum(d["n"] for d in it_log)
    it_s = sum(d["end"] - d["start"] for d in it_log)
    mb_ms = [float(p["durationMs"]["triggerExecution"]) for p in _progress_rows(st_log)]
    st_n, st_s = _processed(st_log)
    t_tail, t_p, t_n = stats.tail(trig_ms)
    m_tail, m_p, m_n = stats.tail(mb_ms)
    last = [d["dir"] for d in (it_log[-1:] + st_log[-1:])]
    named = {
        "records_per_s": (it_n / it_s if it_s else 0.0, "1/s"),
        "trigger_p50_ms": (stats.median(trig_ms), "ms"),
        "trigger_tail_ms": (t_tail, "ms", {"percentile": t_p, "samples": t_n}),
        "structured_records_per_s": (st_n / st_s if st_s else 0.0, "1/s"),
        "microbatch_p50_ms": (stats.median(mb_ms), "ms"),
        "microbatch_tail_ms": (m_tail, "ms", {"percentile": m_p, "samples": m_n}),
        "disk_bytes": (float(sum(dir_bytes(p) for p in last)), "bytes"),
    }
    generic = {
        "primary_per_s": named["records_per_s"][0],
        "primary_p50_ms": named["trigger_p50_ms"][0],
        "secondary_per_s": named["structured_records_per_s"][0],
        "secondary_p50_ms": named["microbatch_p50_ms"][0],
        "disk_bytes": named["disk_bytes"][0],
    }
    return named, generic


def spans(run: Run, out: dict) -> None:
    """Rebuild the trigger and micro-batch span trees from the plug-point
    marks and the streaming progress reports."""
    tr = run.tracer
    for k, d in enumerate(out["iterator"]):
        top = tr.add("stream.iterator_drain", d["start"], d["end"], None, f"iterator-{k}")
        for i, t in enumerate(_triggers(d["marks"])):
            req = f"iterator-{k}-trigger-{i}"
            trig = tr.add("iterator.trigger", t["fetch"][0], t["end"], top, req)
            tr.add("source.fetch", *t["fetch"], trig, req)
            if t["stores"]:
                dlv = tr.add("iterator.deliver", t["fetch"][1], t["stores"][0][0], trig, req)
                if t["sink"]:
                    tr.add("sink.write", *t["sink"], dlv, req)
                for s0, s1, _ in t["stores"]:
                    tr.add("sequence.store", s0, s1, trig, req)
    for k, d in enumerate(out["structured"]):
        top = tr.add("stream.structured_drain", d["start"], d["end"], None, f"structured-{k}")
        for i, p in enumerate(d["progress"]):
            start = _iso_epoch(p["timestamp"])
            dur = p["durationMs"].get("triggerExecution", 0) / 1000.0
            tr.add("datasource.microbatch", start, start + dur, top, f"structured-{k}-batch-{i}")


def _iso_epoch(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def layer_metrics(run: Run, out: dict, jobs: list) -> dict[str, float]:
    """Per-layer numbers of the streaming modules (traced runs)."""
    it_log, st_log = out["iterator"], out["structured"]
    trigs = [t for d in it_log for t in _triggers(d["marks"])]
    full = [t for t in trigs if t["rows"]]
    fetch_ms = [(t["fetch"][1] - t["fetch"][0]) * 1000 for t in trigs]
    fetch_jobs = [len(jobs_in(jobs, *t["fetch"])) for t in trigs]
    scanned = [totals(jobs_in(jobs, *t["fetch"]))["input_records"] for t in trigs]
    trig_jobs = [len(jobs_in(jobs, t["fetch"][0], t["end"])) for t in trigs]
    deliver = [(t["stores"][0][0] - t["fetch"][1]) * 1000 for t in full]
    sink_ms = [(t["sink"][1] - t["sink"][0]) * 1000 for t in full if t["sink"]]
    stores = [s for t in trigs for s in t["stores"]]
    store_ms = [(t["stores"][-1][1] - t["stores"][0][0]) * 1000 for t in full]
    files = [
        sum(1 for _, _, fs in os.walk(f"{d['dir']}/sink") for f in fs if f.endswith(".parquet"))
        for d in it_log
    ]
    prog = _progress_rows(st_log)

    def dur(key: str) -> float:
        return stats.median([float(p["durationMs"].get(key, 0)) for p in prog])

    return {
        "source.fetch_ms": stats.median(fetch_ms),
        "source.fetch_jobs": stats.median(fetch_jobs),
        "source.rows_scanned": stats.median(scanned),
        "source.fetch_yield": (
            sum(t["rows"] for t in trigs) / sum(scanned) if sum(scanned) else 0.0
        ),
        "iterator.deliver_ms": stats.median(deliver),
        "iterator.jobs_per_trigger": stats.median(trig_jobs),
        "iterator.polls": float(len(trigs)),
        "iterator.empty_polls": float(len(trigs) - len(full)),
        "sequence.store_ms": stats.median(store_ms),
        "sequence.store_calls": float(len(stores)),
        "sequence.store_failures": float(sum(1 for s in stores if not s[2])),
        "sink.write_ms": stats.median(sink_ms),
        "sink.files": stats.median(files),
        "datasource.latest_offset_ms": dur("latestOffset"),
        "datasource.get_batch_ms": dur("getBatch"),
        "datasource.query_planning_ms": dur("queryPlanning"),
        "datasource.add_batch_ms": dur("addBatch"),
        "datasource.wal_commit_ms": dur("walCommit"),
        "datasource.commit_offsets_ms": dur("commitOffsets"),
        "datasource.rows_per_batch": stats.median([float(p["numInputRows"]) for p in prog]),
    }


def timed_windows(out: dict) -> list[tuple[float, float]]:
    return [(d["start"], d["end"]) for d in out["iterator"] + out["structured"]]


def baseline_local1(run: Run, state: dict) -> dict[str, float]:
    """One single-core pass (traced runs only): the single-threaded
    baseline, one drain of each kind. It runs in the already warm JVM,
    after the traced loop."""
    it_log: list = []
    st_log: list = []
    iterator_drain(run, state["sf_dir"], state["expected"], it_log)
    structured_drain(run, state["sf_dir"], state["n"], st_log)
    it_s = sum(d["end"] - d["start"] for d in it_log)
    st_n, st_s = _processed(st_log)
    return {
        "baseline.local1_records_per_s": sum(d["n"] for d in it_log) / it_s if it_s else 0.0,
        "baseline.local1_structured_records_per_s": st_n / st_s if st_s else 0.0,
    }
