"""Product quantization for ANN search (Jégou, Douze, Schmid 2011,
"Product Quantization for Nearest Neighbor Search" — the IVFADC
layout FAISS ships as `IndexIVFPQ`). At 100 TB the raw vectors
(64 × f32 = 256 B each) cannot ride candidate shuffles or executor
caches; PQ stores an 8-byte code per vector (m subspace centroids
ids packed into one int64) and answers queries with asymmetric
distance computation (ADC): one tiny per-query lookup table of exact
query·centroid products, summed per candidate by table lookups — no
vector payload is touched until the final exact re-rank of a bounded
shortlist.

Reference parity note: the reference (`kinesis.go`) has no vector
surface at all — this extends the driver-mandated similarity-search
group (SURVEY §2.C) along its published scale path.

House fixed-point discipline (see `clustering`): components quantize
to int64 at 1e-6 the moment they leave float space; training, code
assignment, and ADC tables are all EXACT integer arithmetic —
order-independent, so bit-identical between Spark, numpy kernels, and
DuckDB. The shortlist score (approximate cosine) is derived from
exact integers by correctly-rounded IEEE double ops only (convert,
multiply, sqrt, divide — each deterministic and identical across
engines), and the final re-rank uses the similarity module's
sequential-fold cosine, the oracle-equal exact path.

Training: per-subspace Lloyd's k-means, all m subspaces advanced in
ONE Spark job per iteration (the kernel emits ≤ m·ks·dsub slim integer
rows per partition; the update is a codebook-sized driver loop).
Pinned bit-identical to running the oracle-pinned
`clustering.kmeans_embeddings(init="min_id")` on each sliced frame —
the trainer IS m fused copies of that iteration.

100 TB posture: training scans the corpus iters+1 times with
codebook-sized collects (the `kmeans_embeddings` posture, ×1 not ×m
jobs); encoding is one Arrow pass emitting 16-byte (vec_id, code)
rows; a query's ADC pass reads ONLY the stored code column (8 B/vec)
with the m·ks lookup table folded into the scan as a codegen
expression — no join, no shuffle; the exact re-rank touches
``shortlist`` vector payloads. The scale lever is (m, ks): FAISS-scale
indexes use m=8..64, ks=256.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .clustering import FIX, _dists_int, _quantize, _round_div
from . import managed_persist, query
from ..tables import load_table

# Fixture-scale defaults: 8 subspaces of 8 dims, 16 centroids each —
# an 8-byte code per vector (slots fit 8 bits each by construction).
PQ_M = 8
PQ_KS = 16
_SLOT_BITS = 8

# Format-pinned schemas of the stored code layers, passed to the hot
# SERVING reads to skip Spark's distributed footer-inference job (one
# per spark.read.parquet call — r17, same class as the BM25/ANN index
# reads). Build/compact paths keep inferring. Pinned in
# tests/test_layer_schemas.py.
_PQ_CODES_SCHEMA = "vec_id bigint, pq_code bigint"
_IVFPQ_CODES_SCHEMA = "vec_id bigint, cell bigint, pq_code bigint"
_IVF_ASSIGN_SCHEMA = "vec_id bigint, cell bigint, rk bigint"


class PQResult(NamedTuple):
    m: int
    dsub: int
    # Per subspace: (surviving slot ids ascending, (len, dsub) int64
    # fixed-point centroids). Slot ids are the kmeans cluster ids of
    # the sliced-frame training run (dense 0..ks-1 unless a cluster
    # emptied; always < 256 — the packed-code contract).
    books: list[tuple[list[int], np.ndarray]]


def _cell_fix(crows) -> tuple[np.ndarray, np.ndarray]:
    """The coarse codebook as DRIVER-side int64 fixed-point rows:
    (cells ascending, (n_cells, d) int64). c_fix = rint(c · FIX) is
    computed ONCE here in numpy and injected as literals into both the
    Spark kernels and the DuckDB oracles, so no cross-engine rounding
    question ever arises — the integers ARE the shared parameter (for a
    trained codebook they recover the trainer's exact int64 centroids:
    the stored doubles are one correctly-rounded k/10⁶ division away)."""
    rows = sorted(crows, key=lambda r: r["cell"])
    cells = np.array([int(r["cell"]) for r in rows], dtype=np.int64)
    CF = np.rint(
        np.array([r["centroid"] for r in rows], dtype=np.float64) * FIX
    ).astype(np.int64)
    return cells, CF


def _residualize(pdf, X: np.ndarray, cells: np.ndarray, CF: np.ndarray):
    """Subtract each row's assigned coarse centroid (exact int64) —
    the residual the IVFPQ books quantize. Unknown cells fail loudly:
    a silent zero-residual would encode the raw vector against residual
    books and mis-rank every query that probes its cell."""
    idx = np.searchsorted(cells, pdf["cell"].to_numpy(np.int64))
    bad = (idx >= len(cells)) | (cells[np.clip(idx, 0, len(cells) - 1)] != pdf["cell"].to_numpy(np.int64))
    if bad.any():
        raise ValueError(
            f"rows assigned to cells absent from the coarse codebook: "
            f"{sorted(set(pdf['cell'].to_numpy()[bad].tolist()))[:5]}"
        )
    return X - CF[idx]


def pq_train(
    spark: SparkSession,
    emb: DataFrame,
    m: int = PQ_M,
    ks: int = PQ_KS,
    iters: int = 2,
    _cellctx: tuple[np.ndarray, np.ndarray] | None = None,
) -> PQResult:
    """Train per-subspace codebooks over an (vec_id, embedding) frame —
    bit-identical to `clustering.kmeans_embeddings(k=ks, iters=iters,
    init="min_id")` run on each of the m sliced sub-vector frames
    (pinned), but every iteration advances ALL subspaces in one job.

    Init mirrors min_id: the ks smallest-vec_id vectors, sliced —
    the same rows for every subspace, collected once.

    ``_cellctx`` (internal — use :func:`ivfpq_train`): a `_cell_fix`
    codebook; the input then carries a ``cell`` column and training
    runs over the exact int64 RESIDUALS x_fix − c_fix(cell)."""
    if ks < 1 or ks > (1 << _SLOT_BITS):
        raise ValueError(f"ks must be in [1, {1 << _SLOT_BITS}], got {ks}")
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    cols = ["vec_id", "embedding"] + (["cell"] if _cellctx else [])
    n_part = spark.sparkContext.defaultParallelism
    src = managed_persist(emb.select(*cols).repartition(n_part))
    init_rows = emb.select(*cols).orderBy("vec_id").limit(ks).collect()
    E0 = _quantize(
        np.array([r["embedding"] for r in init_rows], dtype=np.float32)
    )
    if _cellctx is not None:
        import pandas as pd

        E0 = _residualize(
            pd.DataFrame({"cell": [r["cell"] for r in init_rows]}),
            E0,
            *_cellctx,
        )
    d = E0.shape[1]
    if d % m:
        raise ValueError(f"dim {d} is not divisible by m={m}")
    dsub = d // m
    books: list[tuple[list[int], np.ndarray]] = [
        (list(range(E0.shape[0])), E0[:, s * dsub : (s + 1) * dsub].copy())
        for s in range(m)
    ]

    for _ in range(iters):
        parts = src.mapInPandas(
            _pq_partial_sums_fn(books, dsub, _cellctx),
            "sub long, cl long, dim long, s long, cnt long",
        )
        rows = (
            parts.groupBy("sub", "cl", "dim")
            .agg(F.sum("s").alias("s"), F.sum("cnt").alias("cnt"))
            .collect()
        )
        by_sub: dict[int, dict[int, list]] = {}
        for r in rows:
            by_sub.setdefault(r["sub"], {}).setdefault(r["cl"], []).append(r)
        new_books = []
        for s in range(m):
            by_cl = by_sub.get(s, {})
            cls = sorted(by_cl)  # empty clusters vanish, per subspace
            C = np.empty((len(cls), dsub), dtype=np.int64)
            for j, cl in enumerate(cls):
                for r in by_cl[cl]:
                    C[j, r["dim"]] = _round_div(int(r["s"]), int(r["cnt"]))
            new_books.append((cls, C))
        books = new_books
    return PQResult(m, dsub, books)


def _pq_partial_sums_fn(books, dsub: int, cellctx=None):
    """Per-partition per-(subspace, cluster) integer component sums —
    m fused copies of `clustering._partial_sums_fn` over the sliced
    sub-vectors, one output row set per subspace. With ``cellctx`` the
    sums run over the exact int64 residuals (the IVFPQ trainer)."""

    def partial_sums(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = _quantize(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float32)
            )
            if cellctx is not None:
                X = _residualize(pdf, X, *cellctx)
            out = {"sub": [], "cl": [], "dim": [], "s": [], "cnt": []}
            for s, (cls, C) in enumerate(books):
                Xs = X[:, s * dsub : (s + 1) * dsub]
                idx = np.argmin(_dists_int(Xs, C), axis=1)  # first min =
                # smallest cluster id (cls ascending) — the kmeans
                # tie-break.
                for j in range(len(cls)):
                    mask = idx == j
                    n = int(mask.sum())
                    if not n:
                        continue
                    ssum = Xs[mask].sum(axis=0)  # exact int64
                    out["sub"] += [s] * dsub
                    out["cl"] += [int(cls[j])] * dsub
                    out["dim"] += list(range(dsub))
                    out["s"] += [int(v) for v in ssum]
                    out["cnt"] += [n] * dsub
            yield pd.DataFrame(
                {k: np.array(v, dtype=np.int64) for k, v in out.items()}
            )

    return partial_sums


def pq_codes(
    emb: DataFrame,
    pq: PQResult,
    _cellctx: tuple[np.ndarray, np.ndarray] | None = None,
) -> DataFrame:
    """Encode vectors against a trained codebook: (vec_id, pq_code)
    with the m per-subspace SLOT indexes (position in the subspace's
    ascending id list — the ADC tables index by slot) packed 8 bits
    each into one int64, subspace 0 in the low byte. One Arrow pass,
    16-byte output rows.

    ``_cellctx`` (internal — use :func:`ivfpq_codes`): residual
    encoding; output is (vec_id, cell, pq_code)."""
    m, dsub, books = pq.m, pq.dsub, pq.books
    for s, (cls, _) in enumerate(books):
        if len(cls) > (1 << _SLOT_BITS):
            raise ValueError(
                f"subspace {s} has {len(cls)} centroids — packed codes "
                f"carry {_SLOT_BITS} bits per subspace"
            )

    def encode(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = _quantize(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float32)
            )
            if _cellctx is not None:
                X = _residualize(pdf, X, *_cellctx)
            code = np.zeros(len(pdf), dtype=np.int64)
            for s in range(m):
                Xs = X[:, s * dsub : (s + 1) * dsub]
                slot = np.argmin(_dists_int(Xs, books[s][1]), axis=1)
                code |= slot.astype(np.int64) << (_SLOT_BITS * s)
            out = {"vec_id": pdf["vec_id"].to_numpy(np.int64)}
            if _cellctx is not None:
                out["cell"] = pdf["cell"].to_numpy(np.int64)
            out["pq_code"] = code
            yield pd.DataFrame(out)

    if _cellctx is not None:
        return emb.select("vec_id", "cell", "embedding").mapInPandas(
            encode, "vec_id long, cell long, pq_code long"
        )
    return emb.select("vec_id", "embedding").mapInPandas(
        encode, "vec_id long, pq_code long"
    )


def adc_tables(query: list[float], pq: PQResult) -> tuple[list, list, int]:
    """The per-query ADC lookup tables, exact int64: ``T[s][slot]`` =
    query_sub · centroid (fixed-point dot), ``N[s][slot]`` = |centroid|²
    (for the reconstruction norm), plus |query_fix|². Bounds: products
    ≤ (2·10⁶)²·dsub ≈ 3·10¹³ per entry, m-entry sums < 2⁵³ — exact in
    int64 AND in the double conversions the shortlist score makes."""
    q = _quantize(np.asarray(query, dtype=np.float32)[None, :])[0]
    if q.shape[0] != pq.m * pq.dsub:
        raise ValueError(
            f"query dim {q.shape[0]} != trained dim {pq.m * pq.dsub}"
        )
    T, N = [], []
    for s, (_, C) in enumerate(pq.books):
        qs = q[s * pq.dsub : (s + 1) * pq.dsub]
        T.append([int(v) for v in (C * qs).sum(axis=1)])
        N.append([int(v) for v in (C * C).sum(axis=1)])
    return T, N, int((q * q).sum())


def _adc_expr(tables: list, col: str) -> str:
    """One codegen SQL expression summing m array-literal lookups on
    the packed code column — built as a single F.expr string (plan-
    construction discipline: no per-literal py4j calls)."""
    terms = []
    for s, tab in enumerate(tables):
        # L-suffix every literal: a small-valued table would otherwise
        # type the array INT and the m-term sum could overflow int32
        # under ANSI mode.
        arr = ",".join(f"{v}L" for v in tab)
        idx = f"CAST(shiftright({col}, {_SLOT_BITS * s}) & 255 AS INT) + 1"
        terms.append(f"element_at(array({arr}), {idx})")
    return " + ".join(terms)


def pq_adc_scores(
    codes: DataFrame, query: list[float], pq: PQResult
) -> DataFrame:
    """Per-vector ADC scores from the stored codes ONLY (the 8 B/vec
    scan — no vector payload, no join): exact int64 approximate dot
    (``adc_dot``) and reconstruction norm (``adc_norm2``), plus the
    approximate cosine ``adc_cos`` = adc_dot / sqrt(|q|²·|x̂|²) —
    correctly-rounded IEEE ops on exactly-representable ints, so the
    float is deterministic and cross-engine identical. Zero-norm
    reconstructions (or a zero query) score NULL, ranking last."""
    T, N, qn2 = adc_tables(query, pq)
    dot = _adc_expr(T, "pq_code")
    nrm = _adc_expr(N, "pq_code")
    return codes.select(
        "vec_id",
        F.expr(f"CAST(({dot}) AS BIGINT)").alias("adc_dot"),
        F.expr(f"CAST(({nrm}) AS BIGINT)").alias("adc_norm2"),
    ).withColumn(
        "adc_cos",
        F.expr(
            "CASE WHEN adc_norm2 > 0 AND CAST("
            f"{qn2} AS BIGINT) > 0 THEN CAST(adc_dot AS DOUBLE) / "
            f"sqrt(CAST({qn2} AS DOUBLE) * CAST(adc_norm2 AS DOUBLE)) "
            "END"
        ),
    )


# -- corpus-proportional query defaults (VERDICT r11 #2) -----------------
#
# RECALL.md finding #4 measured the failure of FIXED query knobs: with
# shortlist frozen at 64, PQ-ADC recall@10 fell 0.80 → 0.51 at a mere 4×
# corpus growth (and IVFPQ@nprobe=4 0.61 → 0.35) — a 64-deep shortlist
# is 13% of a 500-vector corpus but 3% of 2000. The published FAISS
# operating rule fixes shortlist/nprobe as a FRACTION of corpus/cells,
# so that is the DEFAULT now: a caller who omits the knob gets
# shortlist = max(floor, ⌈n / SHORTLIST_DEN⌉) and
# nprobe = max(floor, ⌈n_cells · NPROBE_NUM / NPROBE_DEN⌉), with n from
# parquet footers on the stored-index paths (zero Spark jobs) and an
# explicit value always overriding (cost-sensitive serving pins its own
# budget). The fractions are the measured sf0.01 operating point
# (shortlist 64/500 ≈ 1/8 → recall 0.80; nprobe 4/10 cells → 0.61), so
# the defaults hold recall roughly FLAT across corpus growth instead of
# decaying — re-measured per scale in RECALL.md's proportional rows.

SHORTLIST_FLOOR = 64
SHORTLIST_DEN = 8
NPROBE_FLOOR = 2
NPROBE_NUM, NPROBE_DEN = 2, 5


def proportional_shortlist(n: int, topk: int = 1) -> int:
    """The corpus-proportional default shortlist: ⌈n / SHORTLIST_DEN⌉,
    floored at SHORTLIST_FLOOR and at ``topk`` (the re-rank must be at
    least as deep as the cut it feeds)."""
    return max(SHORTLIST_FLOOR, -(-int(n) // SHORTLIST_DEN), int(topk))


def proportional_nprobe(n_cells: int) -> int:
    """The cell-proportional default probe width:
    ⌈n_cells · NPROBE_NUM / NPROBE_DEN⌉ floored at NPROBE_FLOOR."""
    return max(
        NPROBE_FLOOR, -(-(NPROBE_NUM * int(n_cells)) // NPROBE_DEN)
    )


def pq_adc_topk(
    spark: SparkSession,
    emb: DataFrame,
    codes: DataFrame,
    query: list[float],
    pq: PQResult,
    topk: int = 5,
    shortlist: int | None = None,
    corpus_n: int | None = None,
) -> DataFrame:
    """ADC-shortlisted exact top-k: rank ALL codes by (adc_cos DESC,
    vec_id) — an 8 B/vec scan with the lookup tables folded into the
    scan expression — take the ``shortlist`` best, gather ONLY their
    vector payloads (one id equi-join), re-rank by EXACT cosine (the
    similarity module's sequential left fold ≡ DuckDB list_reduce) and
    return (vec_id, cosine) rows, ``topk`` best by (cosine DESC,
    vec_id). With ``shortlist`` ≥ corpus size this equals brute-force
    exact top-k (pinned); smaller shortlists trade recall for the
    payload-gather bound — the published PQ contract.

    ``shortlist=None`` (the default) scales with the corpus —
    `proportional_shortlist` over ``corpus_n`` (pass it from parquet
    footers / the table catalog: zero jobs — the stored-index wrappers
    do) or, when neither is given, a one-row count over ``codes`` (one
    cheap 8 B/vec aggregate — frame-level exploratory use)."""
    if shortlist is None:
        n = corpus_n if corpus_n is not None else codes.count()
        shortlist = proportional_shortlist(n, topk)
    if topk > shortlist:
        raise ValueError(f"topk {topk} > shortlist {shortlist}")
    return _shortlist_rerank(
        emb, pq_adc_scores(codes, query, pq), query, topk, shortlist
    )


def _shortlist_rerank(
    emb: DataFrame,
    adc_scored: DataFrame,
    query: list[float],
    topk: int,
    shortlist: int,
) -> DataFrame:
    """The shared PQ tail: take the ``shortlist`` best ADC rows, gather
    ONLY their vector payloads (one id equi-join), re-rank by EXACT
    cosine (the similarity module's sequential left fold ≡ DuckDB
    list_reduce) and return the ``topk`` best by (cosine DESC, vec_id)."""
    from .similarity import _fold_dot_rows

    cand = (
        adc_scored.filter(F.col("adc_cos").isNotNull())
        .orderBy(F.col("adc_cos").desc(), "vec_id")
        .limit(shortlist)
        .select("vec_id")
    )
    qv = np.asarray(query, dtype=np.float32)

    def rerank(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            # float32 → float64 is exact — the folds then match the
            # oracle's per-element CAST(x AS DOUBLE) fold bit-for-bit.
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            Q = np.repeat(qv.astype(np.float64)[None, :], len(pdf), axis=0)
            dots = _fold_dot_rows(Q, X)
            q64 = qv.astype(np.float64)[None, :]
            qn = float(_fold_dot_rows(q64, q64)[0])
            xn = _fold_dot_rows(X, X)
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = dots / np.sqrt(qn * xn)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(np.int64), "cosine": cos}
            )

    scored = (
        emb.select("vec_id", "embedding")
        .join(cand, "vec_id")
        .mapInPandas(rerank, "vec_id long, cosine double")
    )
    return (
        scored.filter(~F.isnan("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(topk)
    )


# -- stored PQ layer on an ANN index ------------------------------------
#
# The writer-family stored-layer discipline (BM25 postings / paragraph
# digests): every mutation is bracketed by an `pq.inprogress` marker —
# readers and extenders refuse loudly while it exists (a half-written
# layer would silently mis-rank), a full rebuild from the store heals.
# Codebooks are FROZEN between rebuilds (the train-once contract):
# extension encodes new vectors against the stored books, read
# driver-side via pyarrow (ints in parquet — bit-exact, zero jobs).


def _pq_marker(index_dir: str) -> str:
    return f"{index_dir}/pq.inprogress"


def pq_layer_exists(index_dir: str) -> bool:
    import os

    return os.path.isdir(f"{index_dir}/pq_codebooks")


def pq_layer_interrupted(index_dir: str) -> bool:
    import os

    return os.path.exists(_pq_marker(index_dir))


def _check_pq_layer(index_dir: str) -> None:
    from ..incremental import _recover_staged

    _recover_staged(index_dir, ("pq_codes",), discard_stage=False)
    if not pq_layer_exists(index_dir):
        raise ValueError(
            f"ANN index at {index_dir} has no PQ layer — build it with "
            "write_pq_layer (or EmbeddingWriter(pq_layer=True).reconcile())."
        )
    if pq_layer_interrupted(index_dir):
        raise ValueError(
            f"PQ layer at {index_dir} has an unfinished write "
            "(pq.inprogress marker present): codes and codebooks may "
            "mix trainings. Rebuild via write_pq_layer / reconcile."
        )


def write_pq_layer(
    spark: SparkSession,
    index_dir: str,
    emb: DataFrame,
    m: int = PQ_M,
    ks: int = PQ_KS,
    iters: int = 2,
    opq: bool = False,
) -> PQResult:
    """(Re)build the stored PQ layer for the vectors in ``emb``:
    ``{index_dir}/pq_codebooks/`` — (sub, slot, centroid array<long>),
    the exact int64 fixed-point books; ``{index_dir}/pq_codes/`` —
    (vec_id, pq_code). Marker-bracketed overwrite; one training pass
    per iteration + one encode pass.

    ``opq=True`` trains through :func:`opq_train` (identity vs the
    variance-balanced permutation, exact-integer argmin) and persists
    the winning permutation as a ``pq_perm/`` sidecar (pos, dim — tiny,
    driver-read like the books); codes are then encodings of the
    PERMUTED vectors and every read path applies the stored perm
    (`read_pq_perm`). An identity winner writes NO sidecar — the layout
    stays byte-compatible with the raw-PQ form. (The residual layer
    does not compose with OPQ here: a pre-rotation changes the coarse
    cell geometry the stored inverted file anchors.)"""
    import os

    from . import release_persists

    os.makedirs(index_dir, exist_ok=True)
    with open(_pq_marker(index_dir), "w") as fh:
        fh.write("")
    try:
        if opq:
            perm, pq, _ = opq_train(spark, emb, m=m, ks=ks, iters=iters)
            enc_emb = permute_embedding(emb, perm)
            if perm != list(range(len(perm))):
                spark.createDataFrame(
                    list(enumerate(perm)), "pos long, dim long"
                ).write.mode("overwrite").parquet(f"{index_dir}/pq_perm")
            elif os.path.isdir(f"{index_dir}/pq_perm"):
                import shutil

                shutil.rmtree(f"{index_dir}/pq_perm")
        else:
            pq = pq_train(spark, emb, m=m, ks=ks, iters=iters)
            enc_emb = emb
            if os.path.isdir(f"{index_dir}/pq_perm"):
                import shutil

                shutil.rmtree(f"{index_dir}/pq_perm")
        rows = [
            (s, int(slot), [int(v) for v in pq.books[s][1][j]])
            for s in range(pq.m)
            for j, slot in enumerate(pq.books[s][0])
        ]
        spark.createDataFrame(
            rows, "sub long, slot long, centroid array<long>"
        ).write.mode("overwrite").parquet(f"{index_dir}/pq_codebooks")
        pq_codes(enc_emb, pq).write.mode("overwrite").parquet(
            f"{index_dir}/pq_codes"
        )
    finally:
        # The trainer's managed persist only helps its own iteration
        # jobs + this encode pass — releasing is always safe (a
        # released persist recomputes, unlike a checkpoint).
        release_persists()
    os.remove(_pq_marker(index_dir))
    return pq


def read_pq_books(index_dir: str) -> PQResult:
    """The stored codebooks as a :class:`PQResult`, read DRIVER-side
    via pyarrow (int64 parquet — bit-exact, zero Spark jobs; the books
    are m·ks rows — always driver-sized)."""
    _check_pq_layer(index_dir)
    return _read_books_dir(f"{index_dir}/pq_codebooks")


def read_pq_perm(index_dir: str) -> list[int] | None:
    """The stored OPQ permutation (``pq_perm/`` sidecar; pos → dim),
    driver-side pyarrow read — or None for a raw-PQ layout (identity).
    d rows — always driver-sized."""
    import os

    import pyarrow.parquet as pq_

    if not os.path.isdir(f"{index_dir}/pq_perm"):
        return None
    tbl = pq_.read_table(f"{index_dir}/pq_perm")
    pairs = sorted(
        zip(tbl.column("pos").to_pylist(), tbl.column("dim").to_pylist())
    )
    return [int(d) for _, d in pairs]


def _read_books_dir(books_dir: str) -> PQResult:
    import pyarrow.parquet as pq_

    tbl = pq_.read_table(books_dir)
    by_sub: dict[int, list] = {}
    for s, slot, cent in zip(
        tbl.column("sub").to_pylist(),
        tbl.column("slot").to_pylist(),
        tbl.column("centroid").to_pylist(),
    ):
        by_sub.setdefault(s, []).append((slot, cent))
    m = max(by_sub) + 1
    books = []
    for s in range(m):
        entries = sorted(by_sub[s])
        books.append(
            (
                [slot for slot, _ in entries],
                np.array([c for _, c in entries], dtype=np.int64),
            )
        )
    return PQResult(m, books[0][1].shape[1], books)


def extend_pq_layer(
    spark: SparkSession,
    index_dir: str,
    new_emb: DataFrame,
    books: PQResult | None = None,
) -> None:
    """Append NEW vectors' codes, encoded against the FROZEN stored
    books (``books``: the caller's driver-side cache of
    `read_pq_books`, sparing the sidecar read per admit). The books
    sidecar is never touched — the train-once contract; rebuild via
    `write_pq_layer` when the corpus has drifted (the ANN codebook's
    drift accounting covers both layers)."""
    import os

    if books is None:
        books = read_pq_books(index_dir)
    else:
        _check_pq_layer(index_dir)
    perm = read_pq_perm(index_dir)
    if perm is not None:
        # An OPQ layer: new codes must live in the SAME rotated space
        # as the stored ones (the perm is frozen with the books).
        new_emb = permute_embedding(new_emb, perm)
    with open(_pq_marker(index_dir), "w") as fh:
        fh.write("")
    pq_codes(new_emb, books).write.mode("append").parquet(
        f"{index_dir}/pq_codes"
    )
    os.remove(_pq_marker(index_dir))


# -- stored residual (IVFPQ) layer ---------------------------------------
#
# The residual twin of the PQ layer, same discipline: marker-bracketed
# writes, frozen books between rebuilds, driver-side pyarrow book reads,
# staged-swap compaction. Lives beside it under the ANN index dir
# (``ivfpq_codebooks/`` + ``ivfpq_codes/``) — residuals NEED the index
# (the stored inverted file is the cell source of truth), so the layout
# is anchored there by construction.


def _ivfpq_marker(index_dir: str) -> str:
    return f"{index_dir}/ivfpq.inprogress"


def ivfpq_layer_exists(index_dir: str) -> bool:
    import os

    return os.path.isdir(f"{index_dir}/ivfpq_codebooks")


def ivfpq_layer_interrupted(index_dir: str) -> bool:
    import os

    return os.path.exists(_ivfpq_marker(index_dir))


def _check_ivfpq_layer(index_dir: str) -> None:
    from ..incremental import _recover_staged

    _recover_staged(index_dir, ("ivfpq_codes",), discard_stage=False)
    if not ivfpq_layer_exists(index_dir):
        raise ValueError(
            f"ANN index at {index_dir} has no residual-PQ layer — build "
            "it with write_ivfpq_layer (or "
            "EmbeddingWriter(pq_layer=True, pq_residual=True).reconcile())."
        )
    if ivfpq_layer_interrupted(index_dir):
        raise ValueError(
            f"residual-PQ layer at {index_dir} has an unfinished write "
            "(ivfpq.inprogress marker present): codes and codebooks may "
            "mix trainings. Rebuild via write_ivfpq_layer / reconcile."
        )


def _with_cells(spark: SparkSession, index_dir: str, emb: DataFrame) -> DataFrame:
    """(vec_id, embedding, cell): the vectors joined with the stored
    inverted file's rk == 1 rows — the ONLY legitimate cell source for
    residuals (recomputing assignment could disagree with the file and
    silently reconstruct against the wrong centroid)."""
    assign = (
        spark.read.parquet(f"{index_dir}/ivf_assignment")
        .filter(F.col("rk") == 1)
        .select("vec_id", "cell")
    )
    return emb.select("vec_id", "embedding").join(assign, "vec_id")


def write_ivfpq_layer(
    spark: SparkSession,
    index_dir: str,
    emb: DataFrame,
    m: int = PQ_M,
    ks: int = PQ_KS,
    iters: int = 2,
) -> PQResult:
    """(Re)build the stored residual-PQ layer for the vectors in
    ``emb`` against the index's FROZEN coarse codebook and inverted
    file: ``ivfpq_codebooks/`` (residual books) + ``ivfpq_codes/``
    (vec_id, cell, pq_code). Marker-bracketed overwrite."""
    import os

    from . import release_persists
    from .similarity import read_ann_codebook

    crows = read_ann_codebook(index_dir)
    ec = _with_cells(spark, index_dir, emb)
    os.makedirs(index_dir, exist_ok=True)
    with open(_ivfpq_marker(index_dir), "w") as fh:
        fh.write("")
    try:
        pq = ivfpq_train(spark, ec, crows, m=m, ks=ks, iters=iters)
        rows = [
            (s, int(slot), [int(v) for v in pq.books[s][1][j]])
            for s in range(pq.m)
            for j, slot in enumerate(pq.books[s][0])
        ]
        spark.createDataFrame(
            rows, "sub long, slot long, centroid array<long>"
        ).write.mode("overwrite").parquet(f"{index_dir}/ivfpq_codebooks")
        ivfpq_codes(ec, crows, pq).write.mode("overwrite").parquet(
            f"{index_dir}/ivfpq_codes"
        )
    finally:
        release_persists()
    os.remove(_ivfpq_marker(index_dir))
    return pq


def read_ivfpq_books(index_dir: str) -> PQResult:
    """The stored residual books as a :class:`PQResult` — the
    `read_pq_books` pyarrow read over the residual sidecar."""
    _check_ivfpq_layer(index_dir)
    return _read_books_dir(f"{index_dir}/ivfpq_codebooks")


def extend_ivfpq_layer(
    spark: SparkSession,
    index_dir: str,
    new_emb: DataFrame,
    books: PQResult | None = None,
) -> None:
    """Append NEW vectors' residual codes against the FROZEN stored
    books. Ordering contract: runs AFTER `extend_ann_index` has
    appended the batch's inverted-file rows (the cell join below reads
    them); the writer sequences it so."""
    import os

    from .similarity import read_ann_codebook

    if books is None:
        books = read_ivfpq_books(index_dir)
    else:
        _check_ivfpq_layer(index_dir)
    crows = read_ann_codebook(index_dir)
    ec = _with_cells(spark, index_dir, new_emb)
    with open(_ivfpq_marker(index_dir), "w") as fh:
        fh.write("")
    ivfpq_codes(ec, crows, books).write.mode("append").parquet(
        f"{index_dir}/ivfpq_codes"
    )
    os.remove(_ivfpq_marker(index_dir))


def ivfpq_topk_from_index(
    spark: SparkSession,
    index_dir: str,
    emb: DataFrame,
    query: list[float],
    topk: int = 5,
    shortlist: int | None = None,
    nprobe: int | None = None,
    books: PQResult | None = None,
    as_of: int | None = None,
) -> DataFrame:
    """`ivfpq_topk` served from the stored layer — the full residual
    IVFADC read path: driver-side probe over the centroid sidecar,
    cell-pruned scan of ``ivfpq_codes/``, residual ADC, shortlist,
    exact re-rank against the ``emb`` store.

    Omitted knobs default corpus-proportionally — n from the stored
    code layer's parquet footers (zero Spark jobs), cells from the
    codebook sidecar (VERDICT r11 #2).

    ``as_of`` (VERDICT r12 #1): serve the code layer exactly as it
    stood after recorded admission ``as_of`` (per-admit manifest file
    selection; the proportional shortlist sizes from the as-of
    footers). Pair with the writer's ``store(as_of=...)`` as ``emb``
    so the exact re-rank gathers the same-era payloads. Books and
    coarse codebook are constant within a servable range — a retrain
    collapses history and older pins fail loudly."""
    from ..incremental import (
        _dir_rows,
        _files_rows,
        snapshot_files,
        snapshot_read,
    )
    from .similarity import read_ann_codebook

    if books is None:
        books = read_ivfpq_books(index_dir)
    else:
        _check_ivfpq_layer(index_dir)
    crows = read_ann_codebook(index_dir)
    codes = (
        spark.read.schema(_IVFPQ_CODES_SCHEMA).parquet(
            f"{index_dir}/ivfpq_codes"
        )
        if as_of is None
        else snapshot_read(
            spark,
            f"{index_dir}/ivfpq_codes",
            as_of,
            schema=_IVFPQ_CODES_SCHEMA,
        )
    )
    if shortlist is None:
        shortlist = proportional_shortlist(
            _dir_rows(f"{index_dir}/ivfpq_codes")
            if as_of is None
            else _files_rows(
                snapshot_files(f"{index_dir}/ivfpq_codes", as_of)
            ),
            topk,
        )
    return ivfpq_topk(
        spark,
        emb,
        codes,
        query,
        books,
        crows,
        topk=topk,
        shortlist=shortlist,
        nprobe=nprobe,
    )


def compact_pq_codes(
    spark: SparkSession,
    index_dir: str,
    fence: tuple[str, str, int] | None = None,
) -> None:
    """Coalesce the per-admit code appends into vec_id-ranged files —
    codes are 8 B/vec, so a year of small admits is pure file-count
    overhead on the ADC scan. Content identical (same rows); books are
    untouched (the train-once contract). Staged-swap crash discipline:
    the stage is fully written, then committed with `_swap_staged`'s
    rename pair; `_check_pq_layer` self-heals an interrupted swap."""
    from ..incremental import _swap_staged, collapse_snapshots, snapshot_gens

    _check_pq_layer(index_dir)
    spark.read.parquet(f"{index_dir}/pq_codes").repartitionByRange(
        spark.sparkContext.defaultParallelism, "vec_id"
    ).sortWithinPartitions("vec_id").write.mode("overwrite").parquet(
        f"{index_dir}/pq_codes.compact"
    )
    # Generation-pinned layer: collapse the manifest into the stage so
    # files + manifest commit together (VERDICT r13 contract).
    gens = snapshot_gens(f"{index_dir}/pq_codes")
    if gens:
        collapse_snapshots(f"{index_dir}/pq_codes.compact", gens)
    _swap_staged(index_dir, "pq_codes", fence=fence)


def compact_ivfpq_codes(
    spark: SparkSession,
    index_dir: str,
    fence: tuple[str, str, int] | None = None,
) -> None:
    """`compact_pq_codes` for the residual layer — clustered by
    (cell, vec_id), so a probe's cell-pruned scan skips other cells'
    FILES by parquet min/max stats (the layout the per-cell ADC scans
    are designed for)."""
    from ..incremental import _swap_staged, collapse_snapshots, snapshot_gens

    _check_ivfpq_layer(index_dir)
    spark.read.parquet(f"{index_dir}/ivfpq_codes").repartitionByRange(
        spark.sparkContext.defaultParallelism, "cell", "vec_id"
    ).sortWithinPartitions("cell", "vec_id").write.mode("overwrite").parquet(
        f"{index_dir}/ivfpq_codes.compact"
    )
    gens = snapshot_gens(f"{index_dir}/ivfpq_codes")
    if gens:
        collapse_snapshots(f"{index_dir}/ivfpq_codes.compact", gens)
    _swap_staged(index_dir, "ivfpq_codes", fence=fence)


def pq_topk_from_index(
    spark: SparkSession,
    index_dir: str,
    emb: DataFrame,
    query: list[float],
    topk: int = 5,
    shortlist: int | None = None,
    books: PQResult | None = None,
    as_of: int | None = None,
) -> DataFrame:
    """`pq_adc_topk` served from the stored layer: codes come from the
    ``pq_codes/`` parquet (the 8 B/vec production scan), books from the
    sidecar (or the caller's cache); ``emb`` is the vector store the
    exact re-rank gathers shortlist payloads from — pinned equal to
    the recompute form over the same store. ``shortlist=None`` scales
    with the stored corpus (parquet footers, zero jobs — VERDICT
    r11 #2). ``as_of`` pins the code layer to an admission-snapshot
    generation (see `ivfpq_topk_from_index`)."""
    from ..incremental import (
        _dir_rows,
        _files_rows,
        snapshot_files,
        snapshot_read,
    )

    if books is None:
        books = read_pq_books(index_dir)
    else:
        _check_pq_layer(index_dir)
    if shortlist is None:
        shortlist = proportional_shortlist(
            _dir_rows(f"{index_dir}/pq_codes")
            if as_of is None
            else _files_rows(
                snapshot_files(f"{index_dir}/pq_codes", as_of)
            ),
            topk,
        )
    codes = (
        spark.read.schema(_PQ_CODES_SCHEMA).parquet(
            f"{index_dir}/pq_codes"
        )
        if as_of is None
        else snapshot_read(
            spark, f"{index_dir}/pq_codes", as_of, schema=_PQ_CODES_SCHEMA
        )
    )
    perm = read_pq_perm(index_dir)
    if perm is not None:
        # OPQ layer: serve in the rotated space (codes were encoded
        # there; a permutation preserves the exact-cosine ranking up to
        # IEEE fold order, tie-broken by vec_id either way).
        emb = permute_embedding(emb, perm)
        query = [query[i] for i in perm]
    return pq_adc_topk(
        spark, emb, codes, query, books, topk=topk, shortlist=shortlist
    )


def _rank_cells(crows: list, query: list[float], nprobe: int) -> list[int]:
    """The ``nprobe`` coarse cells nearest the query by cosine — ranked
    DRIVER-side over ≤ n_cells codebook rows with the house sequential
    float64 fold, so the ranking is deterministic and identical to the
    oracle's list_reduce fold over the same stored centroids. Zero-norm
    centroids (or a zero query) never rank."""
    q = np.asarray(query, dtype=np.float32).astype(np.float64)

    def fold(a, b):
        acc = a[0] * b[0]
        for i in range(1, a.shape[0]):
            acc = acc + a[i] * b[i]
        return acc

    qn = fold(q, q)
    ranked = []
    for r in crows:
        c = np.asarray(r["centroid"], dtype=np.float64)
        denom = np.sqrt(qn * fold(c, c))
        if denom > 0:
            ranked.append((-(fold(q, c) / denom), r["cell"]))
    ranked.sort()
    return [cell for _, cell in ranked[:nprobe]]


def pq_ivf_topk_from_index(
    spark: SparkSession,
    index_dir: str,
    emb: DataFrame,
    query: list[float],
    topk: int = 5,
    shortlist: int | None = None,
    nprobe: int | None = None,
    books: PQResult | None = None,
    as_of: int | None = None,
) -> DataFrame:
    """The full IVFADC read path (FAISS `IndexIVFPQ`): probe the
    ``nprobe`` stored IVF cells nearest the query (driver-side over
    the codebook sidecar — zero jobs), restrict the ADC scan to the
    probed cells' members via the stored inverted file (a broadcast
    semi-join on the slim ``rk == 1`` assignment rows), then the
    shortlist + exact re-rank of `pq_adc_topk`. At 100 TB this is the
    point of the composition: the ADC scan touches ~nprobe/n_cells of
    the codes and the re-rank a bounded shortlist — no stage ever
    reads the full vector payload. Omitted knobs default
    corpus-proportionally from footers/sidecar (VERDICT r11 #2).
    ``as_of`` pins BOTH the code layer and the inverted file to an
    admission-snapshot generation (see `ivfpq_topk_from_index`)."""
    from ..incremental import (
        _dir_rows,
        _files_rows,
        snapshot_files,
        snapshot_read,
    )
    from .similarity import read_ann_codebook

    if books is None:
        books = read_pq_books(index_dir)
    else:
        _check_pq_layer(index_dir)
    crows = read_ann_codebook(index_dir)
    if nprobe is None:
        nprobe = proportional_nprobe(len(crows))
    if shortlist is None:
        shortlist = proportional_shortlist(
            _dir_rows(f"{index_dir}/pq_codes")
            if as_of is None
            else _files_rows(
                snapshot_files(f"{index_dir}/pq_codes", as_of)
            ),
            topk,
        )
    # IVF probing stays RAW-space: the inverted file was built from the
    # unrotated store, so the probe ranks cells with the unrotated query.
    cells = _rank_cells(crows, query, nprobe)
    inv = (
        spark.read.schema(_IVF_ASSIGN_SCHEMA).parquet(
            f"{index_dir}/ivf_assignment"
        )
        if as_of is None
        else snapshot_read(
            spark,
            f"{index_dir}/ivf_assignment",
            as_of,
            schema=_IVF_ASSIGN_SCHEMA,
        )
    )
    members = (
        inv.filter((F.col("rk") == 1) & F.col("cell").isin(cells))
        .select("vec_id")
    )
    base_codes = (
        spark.read.schema(_PQ_CODES_SCHEMA).parquet(
            f"{index_dir}/pq_codes"
        )
        if as_of is None
        else snapshot_read(
            spark, f"{index_dir}/pq_codes", as_of, schema=_PQ_CODES_SCHEMA
        )
    )
    codes = base_codes.join(members, "vec_id", "leftsemi")
    perm = read_pq_perm(index_dir)
    if perm is not None:
        # OPQ layer: stored codes/books live in the permuted space — the
        # ADC tables and the re-rank gather must too (the
        # `pq_topk_from_index` rule; serving unrotated here would
        # silently mis-rank the shortlist).
        emb = permute_embedding(emb, perm)
        query = [query[i] for i in perm]
    return pq_adc_topk(
        spark, emb, codes, query, books, topk=topk, shortlist=shortlist
    )


# -- residual PQ (the true IVFPQ encoding) -------------------------------
#
# FAISS `IndexIVFPQ` does not quantize raw vectors: it quantizes the
# RESIDUAL x − c(cell(x)) from the coarse IVF centroid, which carries
# far less variance per subspace than x itself — the same code budget
# reconstructs x̂ = c + r̂ much closer to x, so ADC ranks better at the
# same m/ks. Everything stays in the house exact-integer discipline:
# c_fix = rint(c·FIX) is computed once driver-side (`_cell_fix`) and
# injected into kernels AND oracles as literals, residuals are exact
# int64 subtractions, and the per-query reconstruction algebra
#
#   q·x̂  = q·c + Σ_s q_s·r̂_s
#   |x̂|² = |c|² + Σ_s (2·c_s·r̂_s + |r̂_s|²)
#
# splits into per-cell int64 constants (q·c, |c|²) plus lookup tables —
# the cell-independent T[s][slot] = q_s·r̂_s and the per-cell
# N2[c][s][slot] = 2·c_s·r̂_s + |r̂_s|², all ≲ 10¹⁵ < 2⁵³ (exact in
# int64 and in the double conversions the cosine makes). The consistency
# contract: the ``cell`` column MUST be the stored inverted file's
# rk == 1 assignment (train, encode, and query all join it), so the
# residual's centroid is always the one the IVF probe finds.


def ivfpq_train(
    spark: SparkSession,
    emb_cells: DataFrame,
    crows: list,
    m: int = PQ_M,
    ks: int = PQ_KS,
    iters: int = 2,
) -> PQResult:
    """Train per-subspace books over RESIDUALS: ``emb_cells`` is
    (vec_id, embedding, cell) — the store joined with the inverted
    file's rk == 1 rows — and ``crows`` the coarse codebook
    (`similarity.read_ann_codebook` rows). Same one-job-per-iteration
    shape as `pq_train`; init is the ks smallest-vec_id RESIDUALS."""
    return pq_train(
        spark, emb_cells, m=m, ks=ks, iters=iters, _cellctx=_cell_fix(crows)
    )


def ivfpq_codes(emb_cells: DataFrame, crows: list, pq: PQResult) -> DataFrame:
    """Residual-encode (vec_id, embedding, cell) rows against trained
    residual books: (vec_id, cell, pq_code) — the code scan needs the
    cell to pick the reconstruction constants, so it rides the row."""
    return pq_codes(emb_cells, pq, _cellctx=_cell_fix(crows))


def ivfpq_adc_tables(
    query: list[float], pq: PQResult, crows: list
) -> tuple[list, dict, dict, dict, int]:
    """The per-query residual-ADC parameters, exact int64: the
    cell-independent dot tables ``T[s][slot] = q_s·r̂_s``, per-cell
    norm tables ``N2[cell][s][slot] = 2·c_s·r̂_s + |r̂_s|²``, per-cell
    constants ``qc[cell] = q·c_fix`` and ``cn2[cell] = |c_fix|²``, and
    |q_fix|²."""
    q = _quantize(np.asarray(query, dtype=np.float32)[None, :])[0]
    if q.shape[0] != pq.m * pq.dsub:
        raise ValueError(
            f"query dim {q.shape[0]} != trained dim {pq.m * pq.dsub}"
        )
    cells, CF = _cell_fix(crows)
    T = []
    R2 = []
    for s, (_, C) in enumerate(pq.books):
        qs = q[s * pq.dsub : (s + 1) * pq.dsub]
        T.append([int(v) for v in (C * qs).sum(axis=1)])
        R2.append([int(v) for v in (C * C).sum(axis=1)])
    qc, cn2, N2 = {}, {}, {}
    for j, cell in enumerate(cells):
        cf = CF[j]
        qc[int(cell)] = int((q * cf).sum())
        cn2[int(cell)] = int((cf * cf).sum())
        n2_c = []
        for s, (_, C) in enumerate(pq.books):
            cs = cf[s * pq.dsub : (s + 1) * pq.dsub]
            cr = (C * cs).sum(axis=1)
            n2_c.append(
                [int(2 * cr[t] + R2[s][t]) for t in range(C.shape[0])]
            )
        N2[int(cell)] = n2_c
    return T, N2, qc, cn2, int((q * q).sum())


def ivfpq_adc_scores(
    codes: DataFrame,
    query: list[float],
    pq: PQResult,
    crows: list,
    cells: list[int] | None = None,
) -> DataFrame:
    """Residual ADC from the stored (vec_id, cell, pq_code) rows only —
    same zero-join 16 B/vec scan as `pq_adc_scores`. The per-cell
    reconstruction constants/tables make this ONE cell-pruned scan PER
    cell in ``cells`` (default: every codebook cell), unioned: a single
    Project carrying every cell's m·ks norm tables in one CASE measured
    past Janino's method limit at nprobe ≥ ~8 (whole-stage codegen fell
    back to interpreted — the giant-unrolled-expression landmine), while
    each per-cell branch is exactly the raw-PQ expression size, which
    compiles. The branches' disjoint cell filters read disjoint code
    rows (after the clustering compaction, disjoint FILES), so total
    scan volume is unchanged and the union stays one job."""
    from functools import reduce

    T, N2, qc, cn2, qn2 = ivfpq_adc_tables(query, pq, crows)
    use = sorted(qc) if cells is None else sorted(set(int(c) for c in cells))
    unknown = [c for c in use if c not in qc]
    if unknown:
        raise ValueError(f"cells absent from the coarse codebook: {unknown}")
    dot_t = _adc_expr(T, "pq_code")

    def cell_scan(c: int) -> DataFrame:
        return codes.filter(F.col("cell") == c).select(
            "vec_id",
            "cell",
            F.expr(
                f"CAST(({qc[c]}L + ({dot_t})) AS BIGINT)"
            ).alias("adc_dot"),
            F.expr(
                f"CAST(({cn2[c]}L + ({_adc_expr(N2[c], 'pq_code')})) "
                "AS BIGINT)"
            ).alias("adc_norm2"),
        )

    scanned = reduce(DataFrame.unionByName, (cell_scan(c) for c in use))
    return scanned.withColumn(
        "adc_cos",
        F.expr(
            "CASE WHEN adc_norm2 > 0 AND CAST("
            f"{qn2} AS BIGINT) > 0 THEN CAST(adc_dot AS DOUBLE) / "
            f"sqrt(CAST({qn2} AS DOUBLE) * CAST(adc_norm2 AS DOUBLE)) "
            "END"
        ),
    )


def ivfpq_topk(
    spark: SparkSession,
    emb: DataFrame,
    codes: DataFrame,
    query: list[float],
    pq: PQResult,
    crows: list,
    topk: int = 5,
    shortlist: int | None = None,
    nprobe: int | None = None,
    corpus_n: int | None = None,
) -> DataFrame:
    """The residual IVFADC query: probe the ``nprobe`` nearest coarse
    cells (driver-side fold over ≤ n_cells rows), scan ONLY the probed
    cells' codes (the cell column prunes — after `compact_pq_codes`-
    style clustering, at the file level too), residual-ADC shortlist,
    exact re-rank. (vec_id, cosine) rows, ``topk`` best.

    Omitted knobs default corpus-proportionally (`proportional_shortlist`
    over ``corpus_n``-or-count, `proportional_nprobe` over the coarse
    codebook size) — the RECALL.md rule."""
    if nprobe is None:
        nprobe = proportional_nprobe(len(crows))
    if shortlist is None:
        n = corpus_n if corpus_n is not None else codes.count()
        shortlist = proportional_shortlist(n, topk)
    if topk > shortlist:
        raise ValueError(f"topk {topk} > shortlist {shortlist}")
    cells = _rank_cells(crows, query, nprobe)
    scored = ivfpq_adc_scores(
        codes.filter(F.col("cell").isin(cells)), query, pq, crows, cells=cells
    )
    return _shortlist_rerank(emb, scored, query, topk, shortlist)


# -- DuckDB oracle ------------------------------------------------------


def _dot_sql(a: str, b: str) -> str:
    """The house left-fold dot (`similarity._DOT_SQL`) over two list
    expressions — bit-identical to `_fold_dot_rows`."""
    from .similarity import _DOT_SQL

    return _DOT_SQL.format(a=a, b=b)


def pq_oracle_sqls(
    pq: PQResult,
    query: list[float],
    topk: int = 5,
    shortlist: int = 64,
    nprobe: int | None = None,
) -> dict[str, str]:
    """Full-derivation DuckDB SQL over the ``embeddings`` view for the
    ENCODE → ADC → shortlist → exact-re-rank chain, given a trained
    codebook (training itself is pinned ≡ m sliced runs of the
    oracle-pinned `clustering.kmeans_embeddings`; the centroids enter
    here as exact int literals). Returns {"codes": ..., "scores": ...,
    "topk": ...} with column names matching the Spark surfaces.
    With ``nprobe`` set, also {"ivf_topk": ...} — the IVFADC chain,
    which additionally expects ``centroids`` and ``ivf_assignment``
    views over the stored index's parquet (probe-cell ranking and the
    inverted-file restriction run fully in SQL)."""
    q = _quantize(np.asarray(query, dtype=np.float32)[None, :])[0]
    cent_rows = []
    for s, (_, C) in enumerate(pq.books):
        for slot in range(C.shape[0]):
            vals = ",".join(str(int(v)) for v in C[slot])
            cent_rows.append(f"({s}, {slot}, [{vals}]::BIGINT[])")
    T, N, qn2 = adc_tables(query, pq)
    qvals = ",".join(str(int(v)) for v in q)
    dsub, m = pq.dsub, pq.m
    base = f"""
    WITH cent(sub, slot, c) AS (VALUES {", ".join(cent_rows)}),
    qfix(qv) AS (SELECT [{qvals}]::BIGINT[]),
    efix AS (
      SELECT vec_id,
             [CAST(FLOOR(CAST(x AS DOUBLE) * {FIX}) AS BIGINT)
              FOR x IN embedding] AS v
      FROM embeddings
    ),
    sub AS (
      SELECT vec_id, s.sub,
             v[s.sub * {dsub} + 1 : (s.sub + 1) * {dsub}] AS vs
      FROM efix, (SELECT unnest(range({m})) AS sub) s
    ),
    dist AS (
      SELECT vec_id, sub.sub, slot,
             list_sum([ (vs[i] - c[i]) * (vs[i] - c[i])
                        FOR i IN range(1, {dsub + 1}) ]) AS d2
      FROM sub JOIN cent ON sub.sub = cent.sub
    ),
    slot_of AS (
      SELECT vec_id, sub, slot FROM (
        SELECT vec_id, sub, slot,
               row_number() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d2, slot) AS rn
        FROM dist
      ) WHERE rn = 1
    ),
    code AS (
      -- integer shifts, never POWER(): a packed code exceeds 2^53 and
      -- a double-mediated sum silently rounds the low byte
      SELECT vec_id,
             CAST(SUM(slot << ({_SLOT_BITS} * sub)) AS BIGINT) AS pq_code
      FROM slot_of GROUP BY vec_id
    )"""
    codes_sql = base + "\n    SELECT vec_id, pq_code FROM code"
    # ADC from the packed code via the SAME lookup tables (exact ints).
    t_rows = []
    for s in range(m):
        for slot in range(len(T[s])):
            t_rows.append(f"({s}, {slot}, {T[s][slot]}, {N[s][slot]})")
    adc = f""",
    adc_t(sub, slot, t, n2) AS (VALUES {", ".join(t_rows)}),
    unpack AS (
      SELECT vec_id,
             CAST((pq_code >> ({_SLOT_BITS} * s.sub)) & 255 AS BIGINT)
               AS slot, s.sub
      FROM code, (SELECT unnest(range({m})) AS sub) s
    ),
    scores AS (
      SELECT vec_id, CAST(SUM(t) AS BIGINT) AS adc_dot,
             CAST(SUM(n2) AS BIGINT) AS adc_norm2
      FROM unpack JOIN adc_t USING (sub, slot) GROUP BY vec_id
    ),
    scored AS (
      SELECT vec_id, adc_dot, adc_norm2,
             CASE WHEN adc_norm2 > 0 AND {qn2} > 0 THEN
               CAST(adc_dot AS DOUBLE) /
               sqrt(CAST({qn2} AS DOUBLE) * CAST(adc_norm2 AS DOUBLE))
             END AS adc_cos
      FROM scores
    )"""
    scores_sql = (
        base + adc
        + "\n    SELECT vec_id, adc_dot, adc_norm2, adc_cos FROM scored"
    )
    # VARCHAR → DOUBLE → FLOAT: bare decimal literals parse as DECIMAL
    # in DuckDB and DECIMAL→FLOAT scales the integer in float
    # arithmetic (NOT correctly rounded — the known cross-engine cast
    # landmine); strtod then double→float32 recovers the exact input
    # floats.
    qlist = ",".join(
        f"'{float(x)!r}'" for x in np.asarray(query, np.float32)
    )
    topk_sql = (
        base
        + adc
        + f""",
    cand AS (
      SELECT vec_id FROM scored WHERE adc_cos IS NOT NULL
      ORDER BY adc_cos DESC, vec_id LIMIT {shortlist}
    ),
    qv(q) AS (SELECT ([{qlist}]::VARCHAR[])::DOUBLE[]::FLOAT[]),
    exact AS (
      SELECT e.vec_id,
             {_dot_sql("q", "e.embedding")} /
             sqrt({_dot_sql("q", "q")} *
                  {_dot_sql("e.embedding", "e.embedding")}) AS cosine
      FROM embeddings e JOIN cand USING (vec_id), qv
    )
    SELECT vec_id, cosine FROM exact WHERE NOT isnan(cosine)
    ORDER BY cosine DESC, vec_id LIMIT {topk}"""
    )
    out = {"codes": codes_sql, "scores": scores_sql, "topk": topk_sql}
    if nprobe is not None:
        # The IVFADC chain: probe-cell ranking over the stored
        # `centroids` view (the same sequential float64 fold the
        # driver runs), inverted-file restriction over the stored
        # `ivf_assignment` view, then the ADC shortlist + exact
        # re-rank over the restricted candidate set.
        out["ivf_topk"] = (
            base
            + adc
            + f""",
    qv(q) AS (SELECT ([{qlist}]::VARCHAR[])::DOUBLE[]::FLOAT[]),
    cellrank AS (
      SELECT cell,
             CASE WHEN sqrt({_dot_sql("q", "q")} *
                       {_dot_sql("c.centroid", "c.centroid")}) > 0 THEN
               {_dot_sql("q", "c.centroid")} /
               sqrt({_dot_sql("q", "q")} *
                    {_dot_sql("c.centroid", "c.centroid")})
             END AS ccos
      FROM centroids c, qv
    ),
    probe AS (
      SELECT cell FROM cellrank WHERE ccos IS NOT NULL
      ORDER BY ccos DESC, cell LIMIT {nprobe}
    ),
    members AS (
      SELECT vec_id FROM ivf_assignment
      WHERE rk = 1 AND cell IN (SELECT cell FROM probe)
    ),
    cand AS (
      SELECT vec_id FROM scored JOIN members USING (vec_id)
      WHERE adc_cos IS NOT NULL
      ORDER BY adc_cos DESC, vec_id LIMIT {shortlist}
    ),
    exact AS (
      SELECT e.vec_id,
             {_dot_sql("q", "e.embedding")} /
             sqrt({_dot_sql("q", "q")} *
                  {_dot_sql("e.embedding", "e.embedding")}) AS cosine
      FROM embeddings e JOIN cand USING (vec_id), qv
    )
    SELECT vec_id, cosine FROM exact WHERE NOT isnan(cosine)
    ORDER BY cosine DESC, vec_id LIMIT {topk}"""
        )
    return out


def ivfpq_oracle_sqls(
    pq: PQResult,
    crows: list,
    query: list[float],
    topk: int = 5,
    shortlist: int = 64,
    nprobe: int = 2,
) -> dict[str, str]:
    """Full-derivation DuckDB SQL for the RESIDUAL chain, given trained
    residual books (training pinned separately via
    :func:`ivfpq_train_oracle_sql`). Expects the ``embeddings`` view
    plus an ``ivf_assignment`` view over the stored inverted file (the
    cell source of truth). The coarse codebook enters twice, exactly as
    on the Spark side: as the `_cell_fix` int64 literals (residual
    subtraction + reconstruction constants) and as the stored doubles
    (probe ranking — VARCHAR-mediated so strtod recovers the exact
    floats). Returns {"codes", "scores", "topk"}; "topk" derives probe
    ranking, inverted-file restriction, residual ADC, shortlist, and
    the exact fold re-rank all in SQL."""
    d = pq.m * pq.dsub
    dsub, m = pq.dsub, pq.m
    cells, CF = _cell_fix(crows)
    cfix_rows = ", ".join(
        f"({int(c)}, [{','.join(str(int(v)) for v in CF[j])}]::BIGINT[])"
        for j, c in enumerate(cells)
    )
    cent_rows = []
    for s, (_, C) in enumerate(pq.books):
        for slot in range(C.shape[0]):
            vals = ",".join(str(int(v)) for v in C[slot])
            cent_rows.append(f"({s}, {slot}, [{vals}]::BIGINT[])")
    T, N2, qc, cn2, qn2 = ivfpq_adc_tables(query, pq, crows)
    base = f"""
    WITH cfix(cell, cf) AS (VALUES {cfix_rows}),
    cent(sub, slot, c) AS (VALUES {", ".join(cent_rows)}),
    assign AS (SELECT vec_id, cell FROM ivf_assignment WHERE rk = 1),
    efix AS (
      SELECT vec_id,
             [CAST(FLOOR(CAST(x AS DOUBLE) * {FIX}) AS BIGINT)
              FOR x IN embedding] AS v0
      FROM embeddings
    ),
    res AS (
      SELECT e.vec_id, a.cell,
             [e.v0[i] - f.cf[i] FOR i IN range(1, {d + 1})] AS v
      FROM efix e JOIN assign a USING (vec_id) JOIN cfix f USING (cell)
    ),
    sub AS (
      SELECT vec_id, s.sub,
             v[s.sub * {dsub} + 1 : (s.sub + 1) * {dsub}] AS vs
      FROM res, (SELECT unnest(range({m})) AS sub) s
    ),
    dist AS (
      SELECT vec_id, sub.sub, slot,
             list_sum([ (vs[i] - c[i]) * (vs[i] - c[i])
                        FOR i IN range(1, {dsub + 1}) ]) AS d2
      FROM sub JOIN cent ON sub.sub = cent.sub
    ),
    slot_of AS (
      SELECT vec_id, sub, slot FROM (
        SELECT vec_id, sub, slot,
               row_number() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d2, slot) AS rn
        FROM dist
      ) WHERE rn = 1
    ),
    code AS (
      SELECT s.vec_id, r.cell,
             CAST(SUM(slot << ({_SLOT_BITS} * sub)) AS BIGINT) AS pq_code
      FROM slot_of s JOIN res r USING (vec_id)
      GROUP BY s.vec_id, r.cell
    )"""
    codes_sql = base + "\n    SELECT vec_id, cell, pq_code FROM code"
    t_rows = ", ".join(
        f"({s}, {slot}, {T[s][slot]})"
        for s in range(m)
        for slot in range(len(T[s]))
    )
    n_rows = ", ".join(
        f"({int(c)}, {s}, {slot}, {N2[int(c)][s][slot]})"
        for c in cells
        for s in range(m)
        for slot in range(len(N2[int(c)][s]))
    )
    const_rows = ", ".join(
        f"({int(c)}, {qc[int(c)]}, {cn2[int(c)]})" for c in cells
    )
    adc = f""",
    adc_t(sub, slot, t) AS (VALUES {t_rows}),
    adc_n(cell, sub, slot, n2) AS (VALUES {n_rows}),
    cconst(cell, qc, cn2) AS (VALUES {const_rows}),
    unpack AS (
      SELECT vec_id, cell,
             CAST((pq_code >> ({_SLOT_BITS} * s.sub)) & 255 AS BIGINT)
               AS slot, s.sub
      FROM code, (SELECT unnest(range({m})) AS sub) s
    ),
    scores AS (
      SELECT u.vec_id, u.cell,
             CAST(cc.qc + SUM(t.t) AS BIGINT) AS adc_dot,
             CAST(cc.cn2 + SUM(n.n2) AS BIGINT) AS adc_norm2
      FROM unpack u
      JOIN adc_t t USING (sub, slot)
      JOIN adc_n n ON n.cell = u.cell AND n.sub = u.sub AND n.slot = u.slot
      JOIN cconst cc ON cc.cell = u.cell
      GROUP BY u.vec_id, u.cell, cc.qc, cc.cn2
    ),
    scored AS (
      SELECT vec_id, cell, adc_dot, adc_norm2,
             CASE WHEN adc_norm2 > 0 AND {qn2} > 0 THEN
               CAST(adc_dot AS DOUBLE) /
               sqrt(CAST({qn2} AS DOUBLE) * CAST(adc_norm2 AS DOUBLE))
             END AS adc_cos
      FROM scores
    )"""
    scores_sql = (
        base + adc
        + "\n    SELECT vec_id, cell, adc_dot, adc_norm2, adc_cos FROM scored"
    )
    qlist = ",".join(
        f"'{float(x)!r}'" for x in np.asarray(query, np.float32)
    )
    centl_rows = ", ".join(
        "({}, ([{}]::VARCHAR[])::DOUBLE[])".format(
            int(r["cell"]),
            ",".join(f"'{float(v)!r}'" for v in r["centroid"]),
        )
        for r in sorted(crows, key=lambda r: r["cell"])
    )
    topk_sql = (
        base
        + adc
        + f""",
    qv(q) AS (SELECT ([{qlist}]::VARCHAR[])::DOUBLE[]::FLOAT[]),
    centl(cell, centroid) AS (VALUES {centl_rows}),
    cellrank AS (
      SELECT cell,
             CASE WHEN sqrt({_dot_sql("q", "q")} *
                       {_dot_sql("c.centroid", "c.centroid")}) > 0 THEN
               {_dot_sql("q", "c.centroid")} /
               sqrt({_dot_sql("q", "q")} *
                    {_dot_sql("c.centroid", "c.centroid")})
             END AS ccos
      FROM centl c, qv
    ),
    probe AS (
      SELECT cell FROM cellrank WHERE ccos IS NOT NULL
      ORDER BY ccos DESC, cell LIMIT {nprobe}
    ),
    cand AS (
      SELECT vec_id FROM scored
      WHERE cell IN (SELECT cell FROM probe) AND adc_cos IS NOT NULL
      ORDER BY adc_cos DESC, vec_id LIMIT {shortlist}
    ),
    exact AS (
      SELECT e.vec_id,
             {_dot_sql("q", "e.embedding")} /
             sqrt({_dot_sql("q", "q")} *
                  {_dot_sql("e.embedding", "e.embedding")}) AS cosine
      FROM embeddings e JOIN cand USING (vec_id), qv
    )
    SELECT vec_id, cosine FROM exact WHERE NOT isnan(cosine)
    ORDER BY cosine DESC, vec_id LIMIT {topk}"""
    )
    return {"codes": codes_sql, "scores": scores_sql, "topk": topk_sql}


def ivfpq_train_oracle_sql(
    m: int, ks: int, iters: int, crows: list
) -> str:
    """The residual TRAINER as one DuckDB query over ``embeddings`` +
    ``ivf_assignment`` views: per-subspace fixed-point k-means
    (`_pq_registry_oracle`'s iteration CTEs) with the component frame
    residualized against the `_cell_fix` literals — returns
    (sub, cl, sdim, c), the final books keyed by kmeans cluster id.
    Compared bit-for-bit against `ivfpq_train`'s PQResult in tests."""
    d = len(crows[0]["centroid"])
    dsub = d // m
    cells, CF = _cell_fix(crows)
    cfix_rows = ", ".join(
        f"({int(c)}, {dim}, {int(CF[j][dim])})"
        for j, c in enumerate(cells)
        for dim in range(d)
    )
    ctes = [
        f"dims AS (SELECT UNNEST(range({d})) AS dim)",
        f"cfix(cell, dim, c) AS (VALUES {cfix_rows})",
        "assign AS (SELECT vec_id, cell FROM ivf_assignment WHERE rk = 1)",
        "xfix AS (SELECT e.vec_id, d.dim,"
        " CAST(FLOOR(CAST(e.embedding[d.dim + 1] AS DOUBLE) * 1000000)"
        " AS BIGINT) - f.c AS x"
        " FROM embeddings e, dims d"
        " JOIN assign a ON a.vec_id = e.vec_id"
        " JOIN cfix f ON f.cell = a.cell AND f.dim = d.dim)",
        "init AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1"
        " AS cl FROM (SELECT vec_id FROM embeddings ORDER BY vec_id"
        f" LIMIT {ks}))",
        f"subx AS (SELECT vec_id, dim // {dsub} AS sub,"
        f" dim % {dsub} AS sdim, x FROM xfix)",
    ]
    finals = []
    for s in range(m):
        ctes.append(
            f"c0_{s} AS (SELECT i.cl, v.sdim, v.x AS c FROM init i"
            f" JOIN subx v USING (vec_id) WHERE v.sub = {s})"
        )
        for i in range(1, iters + 1):
            ctes.append(
                f"a{i}_{s} AS (SELECT vec_id, cl FROM ("
                f"SELECT v.vec_id, c.cl, ROW_NUMBER() OVER ("
                f"PARTITION BY v.vec_id"
                f" ORDER BY SUM((v.x - c.c) * (v.x - c.c)), c.cl) AS rk"
                f" FROM subx v JOIN c{i - 1}_{s} c ON c.sdim = v.sdim"
                f" WHERE v.sub = {s}"
                f" GROUP BY v.vec_id, c.cl) WHERE rk = 1)"
            )
            ctes.append(
                f"c{i}_{s} AS (SELECT a.cl, v.sdim,"
                f" CASE WHEN SUM(v.x) >= 0"
                f" THEN (2 * SUM(v.x) + COUNT(*)) // (2 * COUNT(*))"
                f" ELSE -((2 * -SUM(v.x) + COUNT(*)) // (2 * COUNT(*)))"
                f" END AS c"
                f" FROM a{i}_{s} a JOIN subx v USING (vec_id)"
                f" WHERE v.sub = {s} GROUP BY a.cl, v.sdim)"
            )
        finals.append(
            f"SELECT {s} AS sub, cl, sdim, CAST(c AS BIGINT) AS c"
            f" FROM c{iters}_{s}"
        )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + "\nUNION ALL\n".join(finals)
        + "\nORDER BY sub, cl, sdim"
    )


# -- driver-gate registry entry -----------------------------------------

# Registry geometry: small enough that the fully-derived training oracle
# stays tractable at the driver's sf0.01 gate, identical to the test
# suite's pins.
_REG_M, _REG_KS, _REG_ITERS = 8, 16, 2
_REG_TOPK, _REG_SHORTLIST, _REG_QID = 10, 64, 7


def _pq_registry_oracle(
    m: int, ks: int, iters: int, topk: int, shortlist: int, qid: int
) -> str:
    """The ENTIRE PQ chain as one self-contained DuckDB query over the
    ``embeddings`` view: per-subspace fixed-point k-means training
    (the `clustering._kmeans_ctes` iteration, instantiated per
    subspace over sliced components), slot numbering, encode, packed
    code, per-query ADC tables derived IN SQL from the trained books
    and the query row (vec_id = ``qid``), shortlist, exact
    sequential-fold re-rank. No data-dependent literal enters the
    string — the oracle is scale-factor-agnostic, as the driver's gate
    requires."""
    dsub = 64 // m
    ctes = [
        "dims AS (SELECT UNNEST(range(64)) AS dim)",
        "xfix AS (SELECT vec_id, dim, CAST(FLOOR(CAST(embedding[dim + 1]"
        " AS DOUBLE) * 1000000) AS BIGINT) AS x FROM embeddings, dims)",
        "init AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1"
        " AS cl FROM (SELECT vec_id FROM embeddings ORDER BY vec_id"
        f" LIMIT {ks}))",
        f"subx AS (SELECT vec_id, dim // {dsub} AS sub,"
        f" dim % {dsub} AS sdim, x FROM xfix)",
    ]
    for s in range(m):
        ctes.append(
            f"c0_{s} AS (SELECT i.cl, v.sdim, v.x AS c FROM init i"
            f" JOIN subx v USING (vec_id) WHERE v.sub = {s})"
        )
        for i in range(1, iters + 1):
            ctes.append(
                f"a{i}_{s} AS (SELECT vec_id, cl FROM ("
                f"SELECT v.vec_id, c.cl, ROW_NUMBER() OVER ("
                f"PARTITION BY v.vec_id"
                f" ORDER BY SUM((v.x - c.c) * (v.x - c.c)), c.cl) AS rk"
                f" FROM subx v JOIN c{i - 1}_{s} c ON c.sdim = v.sdim"
                f" WHERE v.sub = {s}"
                f" GROUP BY v.vec_id, c.cl) WHERE rk = 1)"
            )
            ctes.append(
                f"c{i}_{s} AS (SELECT a.cl, v.sdim,"
                f" CASE WHEN SUM(v.x) >= 0"
                f" THEN (2 * SUM(v.x) + COUNT(*)) // (2 * COUNT(*))"
                f" ELSE -((2 * -SUM(v.x) + COUNT(*)) // (2 * COUNT(*)))"
                f" END AS c"
                f" FROM a{i}_{s} a JOIN subx v USING (vec_id)"
                f" WHERE v.sub = {s} GROUP BY a.cl, v.sdim)"
            )
        ctes.append(
            f"slots_{s} AS (SELECT cl, ROW_NUMBER() OVER (ORDER BY cl) - 1"
            f" AS slot FROM (SELECT DISTINCT cl FROM c{iters}_{s}))"
        )
        ctes.append(
            f"bk_{s} AS (SELECT {s} AS sub, sl.slot, c.sdim,"
            f" CAST(c.c AS BIGINT) AS c"
            f" FROM c{iters}_{s} c JOIN slots_{s} sl USING (cl))"
        )
    union = " UNION ALL ".join(f"SELECT * FROM bk_{s}" for s in range(m))
    ctes.append(f"pqcent AS ({union})")
    ctes.append(
        "sdist AS (SELECT v.vec_id, p.sub, p.slot,"
        " SUM((v.x - p.c) * (v.x - p.c)) AS d2"
        " FROM subx v JOIN pqcent p ON p.sub = v.sub AND p.sdim = v.sdim"
        " GROUP BY v.vec_id, p.sub, p.slot)"
    )
    ctes.append(
        "slot_of AS (SELECT vec_id, sub, slot FROM ("
        "SELECT vec_id, sub, slot, ROW_NUMBER() OVER ("
        "PARTITION BY vec_id, sub ORDER BY d2, slot) AS rk FROM sdist)"
        " WHERE rk = 1)"
    )
    ctes.append(
        "code AS (SELECT vec_id,"
        " CAST(SUM(slot << (8 * sub)) AS BIGINT) AS pq_code"
        " FROM slot_of GROUP BY vec_id)"
    )
    ctes.append(f"qfix AS (SELECT dim, x FROM xfix WHERE vec_id = {qid})")
    ctes.append("qn AS (SELECT SUM(x * x) AS qn2 FROM qfix)")
    ctes.append(
        "tt AS (SELECT p.sub, p.slot, SUM(q.x * p.c) AS t,"
        " SUM(p.c * p.c) AS n2 FROM pqcent p"
        f" JOIN qfix q ON q.dim = p.sub * {dsub} + p.sdim"
        " GROUP BY p.sub, p.slot)"
    )
    ctes.append(
        "unpack AS (SELECT vec_id, s.sub,"
        " CAST((pq_code >> (8 * s.sub)) & 255 AS BIGINT) AS slot"
        f" FROM code, (SELECT UNNEST(range({m})) AS sub) s)"
    )
    ctes.append(
        "sc AS (SELECT vec_id, CAST(SUM(t) AS BIGINT) AS adc_dot,"
        " CAST(SUM(n2) AS BIGINT) AS adc_norm2"
        " FROM unpack JOIN tt USING (sub, slot) GROUP BY vec_id)"
    )
    ctes.append(
        "scored AS (SELECT vec_id, CASE WHEN adc_norm2 > 0 AND q.qn2 > 0"
        " THEN CAST(adc_dot AS DOUBLE) / sqrt(CAST(q.qn2 AS DOUBLE)"
        " * CAST(adc_norm2 AS DOUBLE)) END AS adc_cos FROM sc, qn q)"
    )
    ctes.append(
        "cand AS (SELECT vec_id FROM scored WHERE adc_cos IS NOT NULL"
        f" ORDER BY adc_cos DESC, vec_id LIMIT {shortlist})"
    )
    ctes.append(
        f"qrow AS (SELECT embedding AS q FROM embeddings"
        f" WHERE vec_id = {qid})"
    )
    ctes.append(
        "exact AS (SELECT e.vec_id, "
        + _dot_sql("q", "e.embedding")
        + " / sqrt("
        + _dot_sql("q", "q")
        + " * "
        + _dot_sql("e.embedding", "e.embedding")
        + ") AS cosine FROM embeddings e JOIN cand USING (vec_id), qrow)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT vec_id, cosine FROM exact WHERE NOT isnan(cosine)"
        + f" ORDER BY cosine DESC, vec_id LIMIT {topk}"
    )


# Residual-leg geometry: a second, smaller chain (coarse k-means → true
# IndexIVFPQ residual books) so the merged entry's DuckDB derivation of
# BOTH chains stays tractable at the driver's sf0.01 gate.
_REG_KC, _REG_CIT = 4, 2
_REG_M2, _REG_KS2, _REG_IT2 = 4, 8, 2
_REG_NPROBE, _REG_SHORT2, _REG_QID2 = 2, 48, 11


def _ivfpq_registry_oracle(
    kc: int,
    citers: int,
    m: int,
    ks: int,
    iters: int,
    topk: int,
    shortlist: int,
    nprobe: int,
    qid: int,
) -> str:
    """The ENTIRE residual-IVFPQ chain as ONE literal-free DuckDB query
    over the ``embeddings`` view — unlike :func:`ivfpq_oracle_sqls`
    (which takes a trained coarse codebook as literals), every stage is
    derived IN SQL, as the driver's scale-factor-agnostic gate requires:
    coarse fixed-point k-means (`clustering._kmeans_ctes` — the same
    chain `kmeans_embeddings` is pinned against), final assignment =
    inverted file, residual subtraction against the INTEGER centroids
    (`codebook_rows` → `_cell_fix` round-trips to exactly these ints —
    pinned in tests/test_ivfpq.py), per-subspace residual k-means, slot
    numbering, packed codes, the per-query residual-ADC algebra
    (cell-independent dot tables + per-cell norm tables/constants,
    exact int64), coarse probe ranking over the float centroids
    c/10⁶ (ONE correctly-rounded division — the exact doubles
    `codebook_rows` hands `_rank_cells`), shortlist, exact fold
    re-rank."""
    from .clustering import _kmeans_ctes

    dsub = 64 // m
    ctes = _kmeans_ctes(kc, citers, 64)
    fa, fc = f"a{citers + 1}", f"cent{citers}"
    ctes.append(f"cfa AS MATERIALIZED (SELECT vec_id, cl AS cell FROM {fa})")
    ctes.append(f"cfix AS MATERIALIZED (SELECT cl AS cell, dim, c FROM {fc})")
    ctes.append(
        "rfix AS (SELECT x.vec_id, x.dim, x.x - f.c AS x"
        " FROM xfix x JOIN cfa a USING (vec_id)"
        " JOIN cfix f ON f.cell = a.cell AND f.dim = x.dim)"
    )
    ctes.append(
        "rinit AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1"
        " AS cl FROM (SELECT vec_id FROM embeddings ORDER BY vec_id"
        f" LIMIT {ks}))"
    )
    ctes.append(
        f"rsub AS MATERIALIZED (SELECT vec_id, dim // {dsub} AS sub,"
        f" dim % {dsub} AS sdim, x FROM rfix)"
    )
    for s in range(m):
        ctes.append(
            f"rc0_{s} AS (SELECT i.cl, v.sdim, v.x AS c FROM rinit i"
            f" JOIN rsub v USING (vec_id) WHERE v.sub = {s})"
        )
        for i in range(1, iters + 1):
            ctes.append(
                f"ra{i}_{s} AS (SELECT vec_id, cl FROM ("
                f"SELECT v.vec_id, c.cl, ROW_NUMBER() OVER ("
                f"PARTITION BY v.vec_id"
                f" ORDER BY SUM((v.x - c.c) * (v.x - c.c)), c.cl) AS rk"
                f" FROM rsub v JOIN rc{i - 1}_{s} c ON c.sdim = v.sdim"
                f" WHERE v.sub = {s}"
                f" GROUP BY v.vec_id, c.cl) WHERE rk = 1)"
            )
            ctes.append(
                f"rc{i}_{s} AS (SELECT a.cl, v.sdim,"
                f" CASE WHEN SUM(v.x) >= 0"
                f" THEN (2 * SUM(v.x) + COUNT(*)) // (2 * COUNT(*))"
                f" ELSE -((2 * -SUM(v.x) + COUNT(*)) // (2 * COUNT(*)))"
                f" END AS c"
                f" FROM ra{i}_{s} a JOIN rsub v USING (vec_id)"
                f" WHERE v.sub = {s} GROUP BY a.cl, v.sdim)"
            )
        ctes.append(
            f"rslots_{s} AS (SELECT cl, ROW_NUMBER() OVER (ORDER BY cl) - 1"
            f" AS slot FROM (SELECT DISTINCT cl FROM rc{iters}_{s}))"
        )
        ctes.append(
            f"rbk_{s} AS (SELECT {s} AS sub, sl.slot, c.sdim,"
            f" CAST(c.c AS BIGINT) AS c"
            f" FROM rc{iters}_{s} c JOIN rslots_{s} sl USING (cl))"
        )
    union = " UNION ALL ".join(f"SELECT * FROM rbk_{s}" for s in range(m))
    ctes.append(f"rcent AS MATERIALIZED ({union})")
    ctes.append(
        "rdist AS (SELECT v.vec_id, p.sub, p.slot,"
        " SUM((v.x - p.c) * (v.x - p.c)) AS d2"
        " FROM rsub v JOIN rcent p ON p.sub = v.sub AND p.sdim = v.sdim"
        " GROUP BY v.vec_id, p.sub, p.slot)"
    )
    ctes.append(
        "rslot_of AS (SELECT vec_id, sub, slot FROM ("
        "SELECT vec_id, sub, slot, ROW_NUMBER() OVER ("
        "PARTITION BY vec_id, sub ORDER BY d2, slot) AS rk FROM rdist)"
        " WHERE rk = 1)"
    )
    ctes.append(
        "rcode AS (SELECT s.vec_id, a.cell,"
        f" CAST(SUM(slot << ({_SLOT_BITS} * sub)) AS BIGINT) AS pq_code"
        " FROM rslot_of s JOIN cfa a USING (vec_id)"
        " GROUP BY s.vec_id, a.cell)"
    )
    ctes.append(f"qfix AS (SELECT dim, x FROM xfix WHERE vec_id = {qid})")
    ctes.append("qn AS (SELECT SUM(x * x) AS qn2 FROM qfix)")
    ctes.append(
        "tt AS (SELECT p.sub, p.slot, SUM(q.x * p.c) AS t FROM rcent p"
        f" JOIN qfix q ON q.dim = p.sub * {dsub} + p.sdim"
        " GROUP BY p.sub, p.slot)"
    )
    ctes.append(
        "ntab AS (SELECT f.cell, p.sub, p.slot,"
        " SUM(2 * f.c * p.c + p.c * p.c) AS n2"
        f" FROM rcent p JOIN cfix f ON f.dim = p.sub * {dsub} + p.sdim"
        " GROUP BY f.cell, p.sub, p.slot)"
    )
    ctes.append(
        "cconst AS (SELECT f.cell, SUM(q.x * f.c) AS qc,"
        " SUM(f.c * f.c) AS cn2 FROM cfix f JOIN qfix q USING (dim)"
        " GROUP BY f.cell)"
    )
    ctes.append(
        "unpack AS (SELECT vec_id, cell,"
        f" CAST((pq_code >> ({_SLOT_BITS} * s.sub)) & 255 AS BIGINT)"
        f" AS slot, s.sub FROM rcode,"
        f" (SELECT UNNEST(range({m})) AS sub) s)"
    )
    ctes.append(
        "sc AS (SELECT u.vec_id, u.cell,"
        " CAST(cc.qc + SUM(t.t) AS BIGINT) AS adc_dot,"
        " CAST(cc.cn2 + SUM(n.n2) AS BIGINT) AS adc_norm2"
        " FROM unpack u JOIN tt t USING (sub, slot)"
        " JOIN ntab n ON n.cell = u.cell AND n.sub = u.sub"
        " AND n.slot = u.slot"
        " JOIN cconst cc ON cc.cell = u.cell"
        " GROUP BY u.vec_id, u.cell, cc.qc, cc.cn2)"
    )
    ctes.append(
        "scored AS (SELECT vec_id, cell, CASE WHEN adc_norm2 > 0"
        " AND q.qn2 > 0 THEN CAST(adc_dot AS DOUBLE)"
        " / sqrt(CAST(q.qn2 AS DOUBLE) * CAST(adc_norm2 AS DOUBLE))"
        " END AS adc_cos FROM sc, qn q)"
    )
    ctes.append(
        "centd AS (SELECT cl AS cell,"
        " list(CAST(c AS DOUBLE) / 1000000 ORDER BY dim) AS centroid"
        f" FROM {fc} GROUP BY cl)"
    )
    ctes.append(
        f"qrow AS (SELECT embedding AS q FROM embeddings"
        f" WHERE vec_id = {qid})"
    )
    ctes.append(
        "cellrank AS (SELECT cell, CASE WHEN sqrt("
        + _dot_sql("q", "q")
        + " * "
        + _dot_sql("c.centroid", "c.centroid")
        + ") > 0 THEN "
        + _dot_sql("q", "c.centroid")
        + " / sqrt("
        + _dot_sql("q", "q")
        + " * "
        + _dot_sql("c.centroid", "c.centroid")
        + ") END AS ccos FROM centd c, qrow)"
    )
    ctes.append(
        "probe AS (SELECT cell FROM cellrank WHERE ccos IS NOT NULL"
        f" ORDER BY ccos DESC, cell LIMIT {nprobe})"
    )
    ctes.append(
        "cand AS (SELECT vec_id FROM scored"
        " WHERE cell IN (SELECT cell FROM probe)"
        " AND adc_cos IS NOT NULL"
        f" ORDER BY adc_cos DESC, vec_id LIMIT {shortlist})"
    )
    ctes.append(
        "exact AS (SELECT e.vec_id, "
        + _dot_sql("q", "e.embedding")
        + " / sqrt("
        + _dot_sql("q", "q")
        + " * "
        + _dot_sql("e.embedding", "e.embedding")
        + ") AS cosine FROM embeddings e JOIN cand USING (vec_id), qrow)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT vec_id, cosine FROM exact WHERE NOT isnan(cosine)"
        + f" ORDER BY cosine DESC, vec_id LIMIT {topk}"
    )


def _adc_registry_leg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw-PQ/ADC chain (the r10 ``pq_adc_topk`` entry, leg-intact):
    train the per-subspace codebooks (fixed-point — deterministic),
    encode the corpus to packed codes, ADC-shortlist for the query
    vector (the corpus row ``vec_id = 7``), exact re-rank. Every stage
    up to the shortlist is exact integer arithmetic and the re-rank is
    the sequential-fold cosine, so the result is bit-comparable to the
    oracle's full SQL derivation of the same chain — not merely
    close."""
    emb = load_table(spark, sf_dir, "embeddings")
    pq = pq_train(spark, emb, m=_REG_M, ks=_REG_KS, iters=_REG_ITERS)
    q = list(
        emb.filter(F.col("vec_id") == _REG_QID)
        .select("embedding")
        .collect()[0]["embedding"]
    )
    return pq_adc_topk(
        spark,
        emb,
        pq_codes(emb, pq),
        q,
        pq,
        topk=_REG_TOPK,
        shortlist=_REG_SHORTLIST,
    )


def _ivfpq_registry_leg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The residual-IVFPQ chain (the true FAISS `IndexIVFPQ`, the
    headline 100 TB ANN design) composed end-to-end from trained parts:
    coarse fixed-point k-means (`kmeans_embeddings` — oracle-pinned) →
    `codebook_rows` → residual books (`ivfpq_train`) → residual codes →
    probe + cell-pruned residual-ADC + shortlist + exact re-rank
    (`ivfpq_topk`). Deterministic throughout, bit-comparable to the
    literal-free `_ivfpq_registry_oracle` derivation."""
    from .clustering import codebook_rows, kmeans_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    res = kmeans_embeddings(spark, emb, k=_REG_KC, iters=_REG_CIT)
    crows = codebook_rows(res)
    ec = emb.join(
        res.assignment.withColumnRenamed("cluster", "cell"), "vec_id"
    )
    pq = ivfpq_train(
        spark, ec, crows, m=_REG_M2, ks=_REG_KS2, iters=_REG_IT2
    )
    q = list(
        emb.filter(F.col("vec_id") == _REG_QID2)
        .select("embedding")
        .collect()[0]["embedding"]
    )
    return ivfpq_topk(
        spark,
        emb,
        ivfpq_codes(ec, crows, pq),
        q,
        pq,
        crows,
        topk=_REG_TOPK,
        shortlist=_REG_SHORT2,
        nprobe=_REG_NPROBE,
    )


@query(
    "pq_suite",
    oracle=(
        "SELECT 'adc' AS part, vec_id, cosine FROM (\n"
        + _pq_registry_oracle(
            _REG_M, _REG_KS, _REG_ITERS, _REG_TOPK, _REG_SHORTLIST, _REG_QID
        )
        + "\n)\nUNION ALL\nSELECT 'ivfpq' AS part, vec_id, cosine FROM (\n"
        + _ivfpq_registry_oracle(
            _REG_KC,
            _REG_CIT,
            _REG_M2,
            _REG_KS2,
            _REG_IT2,
            _REG_TOPK,
            _REG_SHORT2,
            _REG_NPROBE,
            _REG_QID2,
        )
        + "\n)"
    ),
)
def pq_suite_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both PQ read paths under the driver's gate in one entry (merged
    per VERDICT r10 #3 to bring the RESIDUAL path — the true
    `IndexIVFPQ`, previously pytest-only — under the 50-entry gate):
    part='adc' is the r10 ``pq_adc_topk`` leg unchanged; part='ivfpq'
    is the full coarse-train → residual-train → encode → probe → ADC →
    re-rank chain. Union-tagged by ``part`` over the shared
    (vec_id, cosine) schema — the `analytic_suite` discipline. Each
    leg's oracle derives its ENTIRE chain (training included) in SQL
    with no data-dependent literal, so the entry stays
    scale-factor-agnostic."""
    adc = _adc_registry_leg(spark, sf_dir).select(
        F.lit("adc").alias("part"), "vec_id", "cosine"
    )
    ivf = _ivfpq_registry_leg(spark, sf_dir).select(
        F.lit("ivfpq").alias("part"), "vec_id", "cosine"
    )
    return adc.unionByName(ivf)


# -- OPQ-style subspace rotation (VERDICT r10 #8 stretch) -----------------
#
# Optimized Product Quantization (Ge, He, Ke, Sun 2014) improves PQ by
# applying an orthogonal transform R before quantization, chosen so the
# m subspaces carry independent, BALANCED variance. The general R needs
# an SVD per iteration — float-order-dependent and cross-engine
# unfriendly. The deterministic member of the family that composes
# exactly with the house fixed-point discipline is the DIMENSION
# PERMUTATION (a permutation matrix IS orthogonal): balance per-
# subspace variance by greedy longest-processing-time assignment of
# dimensions. Training selects the better of {identity, balanced
# permutation} by EXACT integer reconstruction error over the corpus,
# so the published contract — never worse than unrotated at the same
# (m, ks, iters) budget — holds by construction, not by hope.


def opq_dim_permutation(spark: SparkSession, emb: DataFrame, m: int = PQ_M) -> list[int]:
    """The variance-balancing permutation: one exact-integer job
    (per-dimension Σx, Σx², n over the fixed-point components), then a
    driver-side greedy LPT assignment — dims sorted by variance
    numerator n·Σx² − (Σx)² DESC (Python ints — the numerator exceeds
    int64 at corpus scale), each assigned to the least-loaded subspace
    with free slots (ties: smaller subspace id). Returns ``perm`` with
    ``perm[new_pos] = old_dim``; subspace s owns new positions
    [s·dsub, (s+1)·dsub), its dims in ascending original order.
    Deterministic and partitioning-invariant (exact integer sums)."""
    d = len(emb.select("embedding").first()["embedding"])
    if d % m:
        raise ValueError(f"dim {d} is not divisible by m={m}")
    dsub = d // m

    def moments(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = _quantize(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float32)
            )
            # Per-batch int64 partials are safe: x² ≤ 1.6·10¹³ and
            # Arrow batches are ≲ 10⁴ rows → Σ ≲ 10¹⁷ < 2⁶³; the
            # n·Σx² product that CAN overflow happens driver-side in
            # Python ints below.
            yield pd.DataFrame(
                {
                    "dim": np.arange(X.shape[1], dtype=np.int64),
                    "s1": X.sum(axis=0),
                    "s2": (X * X).sum(axis=0),
                    "n": np.full(X.shape[1], len(pdf), dtype=np.int64),
                }
            )

    rows = (
        emb.select("embedding")
        .mapInPandas(moments, "dim long, s1 long, s2 long, n long")
        .groupBy("dim")
        .agg(
            F.sum("s1").alias("s1"),
            F.sum("s2").alias("s2"),
            F.sum("n").alias("n"),
        )
        .collect()
    )
    # Variance numerator in PYTHON ints (n·Σx² overflows int64 at scale).
    var = {
        int(r["dim"]): int(r["n"]) * int(r["s2"]) - int(r["s1"]) ** 2
        for r in rows
    }
    order = sorted(var, key=lambda dim: (-var[dim], dim))
    loads = [0] * m
    slots = [dsub] * m
    assigned: list[list[int]] = [[] for _ in range(m)]
    for dim in order:
        s = min(
            (s for s in range(m) if slots[s] > 0),
            key=lambda s: (loads[s], s),
        )
        assigned[s].append(dim)
        loads[s] += var[dim]
        slots[s] -= 1
    perm: list[int] = []
    for s in range(m):
        perm.extend(sorted(assigned[s]))
    return perm


def permute_embedding(emb: DataFrame, perm: list[int]) -> DataFrame:
    """The input frame with the ``embedding`` array reordered by
    ``perm`` — one Arrow pass, element reorder only (float32 values
    bit-unchanged). Identity permutations short-circuit to the input
    (zero cost — the opq_train selection's common case)."""
    if perm == list(range(len(perm))):
        return emb
    idx = list(perm)
    cols = emb.columns
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in emb.schema.fields
    )

    def reorder(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy())[:, idx]
            out = pdf.copy()
            out["embedding"] = list(X)
            yield out[cols]

    return emb.mapInPandas(reorder, schema)


def pq_reconstruction_err(emb: DataFrame, pq: PQResult) -> int:
    """Σ over the corpus of Σ_s min_slot |x_s − c_slot|² — the exact
    integer PQ objective (the `kmeans_sse` analogue), one Arrow job.
    Per-row partials ≲ 1.3·10¹⁴; per-batch int64 partials are summed
    as Python ints driver-side."""
    books, dsub, m = pq.books, pq.dsub, pq.m

    def err_part(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = _quantize(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float32)
            )
            tot = 0
            for s in range(m):
                Xs = X[:, s * dsub : (s + 1) * dsub]
                tot += int(
                    _dists_int(Xs, books[s][1]).min(axis=1).sum()
                )
            yield pd.DataFrame({"err": np.array([tot], dtype=np.int64)})

    rows = (
        emb.select("embedding")
        .mapInPandas(err_part, "err long")
        .collect()
    )
    return sum(int(r["err"]) for r in rows)


def opq_train(
    spark: SparkSession,
    emb: DataFrame,
    m: int = PQ_M,
    ks: int = PQ_KS,
    iters: int = 2,
) -> tuple[list[int], PQResult, int]:
    """Train OPQ-permuted books: candidate permutations are {identity,
    variance-balanced}; both book sets train at the same (m, ks, iters)
    budget and the winner is the EXACT integer reconstruction error
    (ties → identity, the cheaper serve path). Returns (perm, books,
    err). Downstream composition is the raw-PQ surface over
    `permute_embedding(emb, perm)` with the query permuted driver-side
    — `opq_adc_topk` wraps it."""
    ident = list(range(len(emb.select("embedding").first()["embedding"])))
    cand = [ident]
    bal = opq_dim_permutation(spark, emb, m)
    if bal != ident:
        cand.append(bal)
    best: tuple[int, int, list[int], PQResult] | None = None
    for i, perm in enumerate(cand):
        pemb = permute_embedding(emb, perm)
        pq = pq_train(spark, pemb, m=m, ks=ks, iters=iters)
        err = pq_reconstruction_err(pemb, pq)
        if best is None or err < best[0]:
            best = (err, i, perm, pq)
    assert best is not None
    return best[2], best[3], best[0]


def opq_adc_topk(
    spark: SparkSession,
    emb: DataFrame,
    query: list[float],
    perm: list[int],
    pq: PQResult,
    codes: DataFrame | None = None,
    topk: int = 5,
    shortlist: int | None = None,
) -> DataFrame:
    """`pq_adc_topk` in the rotated space: codes (encoded from the
    permuted corpus — pass precomputed ones for the stored-layer path)
    are ADC-scanned against the permuted query's tables; the exact
    re-rank gathers permuted payloads (a permutation preserves the
    cosine exactly up to fold order — the result is deterministic
    either way, tie-broken by vec_id)."""
    pemb = permute_embedding(emb, perm)
    if codes is None:
        codes = pq_codes(pemb, pq)
    q = [query[i] for i in perm]
    return pq_adc_topk(
        spark, pemb, codes, q, pq, topk=topk, shortlist=shortlist
    )
