"""``store_mix``: admit batches into a growing store, then serve from it.

One closed-loop client over the LLM-pipeline writers and the stored
indexes they maintain:

- setup (untimed): bootstrap ``CorpusWriter(bm25_index=True)`` and
  ``EmbeddingWriter(pq_layer=True, pq_residual=True)`` from the even-id half
  of the seeded documents and embeddings; run every registry query once and
  match it against its DuckDB oracle; compute the scan-form twin of
  every index-served request in the pool, then run the served form once
  (its first run compiles its plans) and match it against the twin;
- timed rounds: one text admit of the next 125-document slice of odd ids (the
  write path of ``pipeline``, ``incremental`` and the BM25, dedup and
  drift layers' *extend*), then passes over the request pool (the read
  path) until the passes have run ``--seconds``: ``bm25`` and ``pq``
  top-k at generation 1, an aggregate over the latest corpus snapshot,
  and the registry batch queries over the fixture tables, each pass in
  its own seeded order;
- traced runs only, after the loop: one embedding admit and one
  maintenance cycle through the writers' public ``prune_snapshots``,
  ``vacuum`` and ``compact``, for their per-layer numbers.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from kinesis_iterator_spark import incremental
from kinesis_iterator_spark.pipeline import CorpusWriter, EmbeddingWriter
from kinesis_iterator_spark.queries import ORACLE, QUERIES, load_all, release_persists
from kinesis_iterator_spark.queries.quantization import ivfpq_topk, read_ivfpq_books
from kinesis_iterator_spark.queries.retrieval import bm25_topk
from kinesis_iterator_spark.queries.similarity import read_ann_codebook
from kinesis_iterator_spark.tables import load_table

from . import catalog, fixtures, oracle, stats
from .common import Run, dir_bytes
from .tracing import jobs_in, totals

REGISTRY = catalog.QUERIES
SLICE = {"bench": 125, "smoke": 20}
BM25_TOPK, PQ_TOPK, PQ_SHORTLIST, PQ_NPROBE = 10, 5, 40, 2


def _split(n: int, size: int) -> tuple[list[int], list[list[int]]]:
    """Even ids bootstrap; odd ids, in order, form the admitted slices.
    The split is fixed so every seed gives each slice the same duplicate
    structure (``fixtures._documents``); the seed varies the contents."""
    odd = list(range(1, n, 2))
    return list(range(0, n, 2)), [odd[i : i + size] for i in range(0, len(odd), size)]


def _parallel(*fns) -> list:
    """Run independent steps on driver threads; their results, in order."""
    out: list = [None] * len(fns)

    def go(i: int) -> None:
        out[i] = fns[i]()

    threads = [threading.Thread(target=go, args=(i,)) for i in range(len(fns))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return out


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


@contextmanager
def _no_span(name):
    yield None


class Store:
    """The two writers over one state dir, plus the generation ledger."""

    def __init__(self, run: Run, sf_dir: str) -> None:
        d = run.fresh_dir("store")
        self.dirs = {
            "corpus": f"{d}/corpus",
            "index": f"{d}/index",
            "store": f"{d}/store",
            "ann": f"{d}/ann",
        }
        spark = run.spark
        self.text = CorpusWriter(spark, self.dirs["corpus"], self.dirs["index"], bm25_index=True)
        self.emb = EmbeddingWriter(
            spark, self.dirs["store"], self.dirs["ann"], pq_layer=True, pq_residual=True
        )
        self.doc = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
        self.vec = load_table(spark, sf_dir, "embeddings")
        self.snapshot = {"text": 0, "embedding": 0}
        self.admitted = {"text": 0, "embedding": 0}

    def admit(self, run: Run, kind: str, ids: list[int], log: list | None) -> None:
        """One admit op, checked: the snapshot advances by one and no more
        rows are admitted than offered. Without a ``log`` (setup, on a
        thread) nothing is traced or released: ``release_persists`` would
        free what the concurrent setup work still reads."""
        writer, frame, key = (
            (self.text, self.doc, "doc_id") if kind == "text" else (self.emb, self.vec, "vec_id")
        )
        batch = frame.filter(F.col(key).isin(ids))
        t = {}
        # Setup runs the bootstraps on threads; only the one-client timed
        # loop (which passes a log) is traced.
        span = run.tracer.span if log is not None else _no_span

        def go():
            t["start"] = time.time()
            with span(f"admit.{kind}"):
                out = writer.admit(batch)
            t["end"] = time.time()
            return out

        def check(st):
            bad = []
            want = self.snapshot[kind] + 1
            if st.get("snapshot") != want:
                bad.append(f"snapshot {st.get('snapshot')} after {self.snapshot[kind]}")
            if not 0 <= st.get("n_admitted", -1) <= st.get("n_input", len(ids)):
                bad.append(f"n_admitted {st.get('n_admitted')} vs n_input {st.get('n_input')}")
            self.snapshot[kind] = st.get("snapshot", want)
            self.admitted[kind] += st.get("n_admitted", 0)
            return bad

        out = run.ledger.op(f"{kind} admit", go, check)
        if log is not None:
            release_persists()
            if out is not None:
                log.append({"kind": kind, "rows": len(ids), **t})


# -- requests ----------------------------------------------------------------


def _snapshot_twin(store: Store, g: int) -> list[tuple]:
    """The same aggregate straight from the manifest's files (pyarrow)."""
    agg: dict[str, list[int]] = {}
    for f in incremental.snapshot_files(store.dirs["corpus"], g):
        t = pq.read_table(f, columns=["lang", "text"])
        for lang, text in zip(t.column("lang").to_pylist(), t.column("text").to_pylist()):
            a = agg.setdefault(lang, [0, 0])
            a[0] += 1
            a[1] += len(text)
    return sorted((k, v[0], v[1]) for k, v in agg.items())


def _bm25(store: Store, terms: list[str], g: int) -> list[tuple]:
    return _rows(store.text.bm25_topk(terms, topk=BM25_TOPK, as_of=g))


def _bm25_twin(store: Store, terms: list[str], g: int) -> list[tuple]:
    corpus = store.text.corpus(as_of=g).select("doc_id", "text")
    return _rows(bm25_topk(corpus, terms, topk=BM25_TOPK))


def _pq(store: Store, vec: list[float], g: int) -> list[tuple]:
    return _rows(
        store.emb.pq_topk(vec, topk=PQ_TOPK, shortlist=PQ_SHORTLIST, nprobe=PQ_NPROBE, as_of=g)
    )


def _pq_twin(store: Store, vec: list[float], g: int) -> list[tuple]:
    """Residual IVFADC over a plain as-of scan of the code layer."""
    ann = store.dirs["ann"]
    codes = incremental.snapshot_read(store.emb.spark, f"{ann}/ivfpq_codes", g)
    return _rows(
        ivfpq_topk(
            store.emb.spark, store.emb.store(as_of=g), codes, vec,
            read_ivfpq_books(ann), read_ann_codebook(ann),
            topk=PQ_TOPK, shortlist=PQ_SHORTLIST, nprobe=PQ_NPROBE,
        )
    )


def _snapshot_agg(df) -> list[tuple]:
    return sorted(_rows(
        df.groupBy("lang").agg(F.count("*").alias("n"), F.sum(F.length("text")).alias("chars"))
    ))


def _twin_then_served(run: Run, kind: str, twin, served):
    """A request's scan-form twin, then one untimed run of its served
    form, checked against the twin. Returns the twin's answer."""
    want = run.ledger.op(f"{kind} twin", twin)
    run.ledger.op(
        f"{kind} warm-up", served,
        lambda got: [] if got == want else ["served answer differs from its scan-form twin"],
    )
    return want


def _registry(run: Run, sf_dir: str, name: str):
    return QUERIES[name](run.spark, sf_dir).toPandas()


def setup(run: Run) -> dict:
    sizes = fixtures.SIZES[run.scale]
    with run.phase("fixture"):
        sf_dir = fixtures.generate(os.path.join(run.work, "fixture"), run.seed, sizes)
    rng = np.random.default_rng(run.seed)
    boot_d, slices_d = _split(sizes.documents, SLICE[run.scale])
    boot_v, slices_v = _split(sizes.embeddings, SLICE[run.scale])
    store = Store(run, sf_dir)
    load_all()

    # The index-served pool, seeded.
    terms = [str(w) for w in rng.choice(fixtures.VOCAB, 2, replace=False)]
    vec_id = int(rng.choice(boot_v))
    emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).to_pydict()
    vec = [float(x) for x in emb["embedding"][emb["vec_id"].index(vec_id)]]
    pool = [("bm25", terms, 1), ("pq", vec, 1), ("snapshot", None, "latest"), *((n, None, 0) for n in REGISTRY)]

    # Independent setup steps overlap on driver threads (setup only; the
    # timed loop is one client): the bootstraps with DuckDB's oracle
    # answers and the registry's first runs, then the scan-form twins
    # with the served forms' first runs.
    def oracle_then_registry():
        want = oracle.duckdb_answers(sf_dir, {n: ORACLE[n] for n in REGISTRY})
        got = {n: run.ledger.op(f"{n} setup", lambda n=n: _registry(run, sf_dir, n)) for n in REGISTRY}
        return want, got

    def snapshot_then_pq():
        _twin_then_served(
            run, "snapshot", lambda: _snapshot_twin(store, 1),
            lambda: _snapshot_agg(store.text.corpus(as_of=1)),
        )
        return _twin_then_served(run, "pq", lambda: _pq_twin(store, vec, 1), lambda: _pq(store, vec, 1))

    with run.phase("bootstrap+registry"):
        _, _, (want, answers) = _parallel(
            lambda: store.admit(run, "text", boot_d, None),
            lambda: store.admit(run, "embedding", boot_v, None),
            oracle_then_registry,
        )
        release_persists()
    with run.phase("twins"):
        bm25_twin, pq_twin = _parallel(
            lambda: _twin_then_served(
                run, "bm25", lambda: _bm25_twin(store, terms, 1), lambda: _bm25(store, terms, 1)
            ),
            snapshot_then_pq,
        )
        release_persists()
    expected: dict[tuple, object] = {("bm25", 1): bm25_twin, ("pq", 1): pq_twin}
    for n, df in answers.items():
        expected[(n, 0)] = want[n]
        run.ledger.op(
            f"{n} oracle", lambda df=df: df,
            lambda df, n=n: [] if df is not None and oracle.canonical(df) == want[n]
            else ["Spark answer differs from its DuckDB oracle"],
        )
    return {
        "sf_dir": sf_dir, "store": store, "slices": slices_d, "probe_ids": slices_v[0],
        "pool": pool, "expected": expected, "rng": rng,
    }


def _request(run: Run, st: dict, req: tuple, log: list) -> None:
    store, expected = st["store"], st["expected"]
    kind, arg, g = req
    if g == "latest":
        g = store.snapshot["text"]
    key = (kind, g)
    if kind == "snapshot" and key not in expected:
        expected[key] = _snapshot_twin(store, g)
    plant = run.plant and kind == "snapshot"
    rec = {"kind": kind}

    def go():
        rec["start"] = time.time()
        with run.tracer.span(f"request.{kind}"):
            if kind == "bm25":
                out = _bm25(store, arg, g)
            elif kind == "pq":
                out = _pq(store, arg, g)
            elif kind == "snapshot":
                with run.tracer.span("storage.snapshot_read"):
                    df = store.text.corpus(as_of=g)
                rec["read_end"] = time.time()
                out = _snapshot_agg(df)
            else:
                out = _registry(run, st["sf_dir"], kind)
        rec["end"] = time.time()
        release_persists()
        return out

    def check(out):
        got = oracle.canonical(out) if kind in REGISTRY else out
        want = expected.get(key)
        if plant:
            want = list(want) + [("planted", 0, 0)]
        return [] if got == want else [f"as_of={g} answer differs from its setup/twin answer"]

    if run.ledger.op(f"{kind} request", go, check) is not None:
        log.append(rec)


def _maintenance(run: Run, store: Store, log: dict) -> None:
    """One cycle on generations the writers still serve: both prune
    their manifests below the latest generation; the corpus writer also
    vacuums there and compacts. (The embedding writer's vacuum and
    compact run the same `incremental` rewrites; they are left out to
    keep a run short.)"""
    steps = [
        ("text", "prune", lambda: store.text.prune_snapshots(store.snapshot["text"])),
        ("embedding", "prune", lambda: store.emb.prune_snapshots(store.snapshot["embedding"])),
        ("text", "vacuum", lambda: store.text.vacuum(store.snapshot["text"])),
        ("text", "compact", store.text.compact),
    ]
    for kind, step, fn in steps:
        t0 = time.time()
        ok = run.ledger.op(f"{kind} {step}", fn)
        release_persists()
        if ok is not None:
            log.setdefault(step, []).append((t0, time.time()))


def _final_check(store: Store) -> list[str]:
    """The latest generation of the corpus and of the store holds exactly
    what the admits reported, once each (read with pyarrow from the
    manifests' files)."""
    bad = []
    for name, key, kind in (("corpus", "doc_id", "text"), ("store", "vec_id", "embedding")):
        d = store.dirs[name]
        files = incremental.snapshot_files(d, incremental.snapshot_gens(d))
        ids = [i for f in files for i in pq.read_table(f, columns=[key]).column(key).to_pylist()]
        if len(ids) != store.admitted[kind]:
            bad.append(f"{name} holds {len(ids)} rows, admits reported {store.admitted[kind]}")
        if len(set(ids)) != len(ids):
            bad.append(f"{name} holds duplicate {key}s")
    return bad


def loop(run: Run, st: dict) -> dict:
    store, rng = st["store"], st["rng"]
    admits: list = []
    requests: list = []
    t0 = time.perf_counter()
    for text_ids in st["slices"]:
        if admits and time.perf_counter() - t0 >= run.seconds:
            break
        store.admit(run, "text", text_ids, admits)
        t1 = time.perf_counter()
        while True:
            for i in rng.permutation(len(st["pool"])):
                _request(run, st, st["pool"][i], requests)
            if time.perf_counter() - t1 >= run.seconds:
                break
    out = {
        "admits": admits, "requests": requests, "probes": [], "maint": {},
        "bytes": {k: dir_bytes(d) for k, d in store.dirs.items()},
        "store": store,
    }
    if run.tracer.enabled:
        # Layer probes, traced runs only and outside the timed loop (a run
        # of every workload has to stay short): one embedding admit, then
        # one maintenance cycle.
        store.admit(run, "embedding", st["probe_ids"], out["probes"])
        with run.phase("maintenance"):
            _maintenance(run, store, out["maint"])
        out["bytes"] = {k: dir_bytes(d) for k, d in store.dirs.items()}
    out["bm25_bytes"] = dir_bytes(os.path.join(store.dirs["index"], "bm25"))
    run.ledger.op("final store state", lambda: None, lambda _: _final_check(store))
    return out


def metrics(run: Run, out: dict) -> tuple[dict, dict]:
    """(every metric by this workload's own name, for the report; the
    end-to-end metrics by their catalog names)."""
    admits, reqs = out["admits"], out["requests"]
    adm_s = [a["end"] - a["start"] for a in admits]
    q_ms = [(r["end"] - r["start"]) * 1000 for r in reqs]
    q_tail, q_p, q_n = stats.tail(q_ms)
    store_bytes = float(sum(out["bytes"].values()))
    named = {
        "ingest_rows_per_s": (sum(a["rows"] for a in admits) / sum(adm_s) if adm_s else 0.0, "1/s"),
        "text_admit_p50_s": (stats.p50(adm_s), "s"),
        "store_bytes": (store_bytes, "bytes"),
        "queries_per_s": (len(q_ms) * 1000 / sum(q_ms) if q_ms else 0.0, "1/s"),
        "query_p50_ms": (stats.p50(q_ms), "ms"),
        "query_tail_ms": (q_tail, "ms", {"percentile": q_p, "samples": q_n}),
    }
    generic = {
        "primary_per_s": named["ingest_rows_per_s"][0],
        "primary_p50_ms": named["text_admit_p50_s"][0] * 1000,
        "secondary_per_s": named["queries_per_s"][0],
        "secondary_p50_ms": named["query_p50_ms"][0],
        "disk_bytes": store_bytes,
    }
    return named, generic


def spans(run: Run, out: dict) -> None:
    """Maintenance steps become spans (admits and requests were traced
    as they ran)."""
    for step, windows in out["maint"].items():
        for s, e in windows:
            run.tracer.add(f"maint.{step}", s, e, None)


def timed_windows(out: dict) -> list[tuple[float, float]]:
    return [(r["start"], r["end"]) for r in out["admits"] + out["requests"]]


def layer_metrics(run: Run, out: dict, jobs: list) -> dict[str, float]:
    admits, reqs, store = out["admits"], out["requests"], out["store"]

    def ms(rs):
        return stats.median([(r["end"] - r["start"]) * 1000 for r in rs])

    def njobs(rs):
        return stats.median([len(jobs_in(jobs, r["start"], r["end"])) for r in rs])

    by = {}
    for r in reqs:
        by.setdefault(r["kind"], []).append(r)
    adm = {"text": admits, "embedding": out["probes"]}
    adm_tot = [totals(jobs_in(jobs, a["start"], a["end"])) for a in admits + out["probes"]]
    maint = out["maint"]
    maint_jobs = sum(len(jobs_in(jobs, s, e)) for ws in maint.values() for s, e in ws)

    # The manifest read, as a direct public call (traced runs only).
    g = store.snapshot["text"]
    files_ms = []
    for _ in range(5):
        t0 = time.perf_counter()
        incremental.snapshot_files(store.dirs["corpus"], g)
        files_ms.append((time.perf_counter() - t0) * 1000)
    snap = by.get("snapshot", [])
    data_files = sum(
        1 for d in store.dirs.values() for _, _, fs in os.walk(d) for f in fs if f.endswith(".parquet")
    )
    out_m = {
        "admit.text_ms": ms(adm["text"]),
        "admit.text_jobs": njobs(adm["text"]),
        "admit.embedding_ms": ms(adm["embedding"]),
        "admit.embedding_jobs": njobs(adm["embedding"]),
        "admit.stages": stats.median([t["stages"] for t in adm_tot]),
        "admit.tasks": stats.median([t["tasks"] for t in adm_tot]),
        "admit.cpu_s": stats.median([t["cpu_s"] for t in adm_tot]),
        "admit.shuffle_bytes": stats.median([t["shuffle_read"] + t["shuffle_write"] for t in adm_tot]),
        "maint.compact_ms": sum((e - s) * 1000 for s, e in maint.get("compact", [])),
        "maint.prune_ms": sum((e - s) * 1000 for s, e in maint.get("prune", [])),
        "maint.vacuum_ms": sum((e - s) * 1000 for s, e in maint.get("vacuum", [])),
        "maint.jobs": float(maint_jobs),
        "storage.snapshot_files_ms": stats.median(files_ms),
        "storage.snapshot_read_ms": stats.median(
            [(r["read_end"] - r["start"]) * 1000 for r in snap]
        ),
        "storage.data_files": float(data_files),
        "storage.generations": float(store.text.snapshots()),
        **{f"storage.layer_bytes.{k}": float(v) for k, v in out["bytes"].items()},
        "storage.layer_bytes.bm25": float(out["bm25_bytes"]),
        "serve.bm25_ms": ms(by.get("bm25", [])),
        "serve.bm25_jobs": njobs(by.get("bm25", [])),
        "serve.pq_ms": ms(by.get("pq", [])),
        "serve.pq_jobs": njobs(by.get("pq", [])),
        "serve.snapshot_ms": ms(snap),
        "serve.lsh_ms": ms(by.get("similarity_lsh_topk", [])),
    }
    for name in REGISTRY:
        out_m[f"batch.{name}_ms"] = ms(by.get(name, []))
        out_m[f"batch.{name}_jobs"] = njobs(by.get(name, []))
    return out_m
