"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the exactness baseline.  The query set is
  small and BROADCAST; the corpus streams through one scan — at 100 TB
  this is a single pass, no shuffle of the corpus side, and the per-query
  top-k heap is a TakeOrdered-by-group (window + filter)
- IVF-bucketed top-k: the scale path — a REAL coarse quantizer (k-means
  fitted by ``fit_ivf``) assigns every vector to its nearest centroid
  cell; each query probes only its ``nprobe`` closest cells, shrinking
  the scan by ~n_cells/nprobe.  At nprobe=n_cells this provably
  degenerates to brute force (tests pin that).

The k-means fit is INTEGER-QUANTIZED so it is bit-for-bit reproducible
across engines (the DuckDB oracle re-derives identical centroids):
embeddings quantize to floor(x*1e6) longs, distances are exact integer
sums of squares, centroid updates floor the (exact) integer mean, ties
break on the smallest centroid id, and init is the first ``n_cells``
vectors by id.  No RNG, no float accumulation order anywhere in the fit.

Cosine math is written as the same explicit formula in Spark and in the
DuckDB oracle (dot/(sqrt(n2a)*sqrt(n2b)) over double-cast elements), and
rounded to 6 dp so fold-order ULP noise can't flip the hash or the
ranking tiebreak (vec_id).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..operators.materialize import materialize as _mat

from .dedup import ordered_pair_structs


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a: Column, b: Column) -> Column:
    na, nb = dot(a, a), dot(b, b)
    return dot(a, b) / (F.sqrt(na) * F.sqrt(nb))


def np_cosine(once: bool = False) -> Column:
    """Arrow-batched row-wise cosine — the vectorized twin of
    ``cosine()`` for hot scoring paths (Spark's higher-order functions
    evaluate interpreted, ~50x numpy on dense arithmetic).  Vectors ship
    as raw float32 (half the Arrow bytes) and widen to double inside
    numpy — float->double is exact, so the math matches the Column
    expression up to summation fold order; every caller rounds to 6 dp,
    which absorbs that last-ULP noise (same contract as the oracle).

    ``once=True`` marks the UDF nondeterministic, which stops the
    optimizer pushing a later ``filter(cos >= t)`` beneath the
    projection and thereby evaluating the Python stage TWICE (observed
    as back-to-back ArrowEvalPython nodes in the srp/near-dup verify
    plans).  The function is pure, so results are unchanged; use it on
    every cos-then-threshold path."""

    @F.pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        ma = np.vstack([np.asarray(x, dtype=np.float64) for x in a])
        mb = np.vstack([np.asarray(x, dtype=np.float64) for x in b])
        dots = (ma * mb).sum(axis=1)
        return pd.Series(
            dots / (np.sqrt((ma * ma).sum(axis=1)) * np.sqrt((mb * mb).sum(axis=1)))
        )

    return _cos.asNondeterministic() if once else _cos


def brute_force_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for each query id (excluded from its own
    result).  Queries are broadcast; corpus side never shuffles until the
    per-query top-k reduction.  Scoring is the vectorized ``np_cosine``
    — one Arrow batch per corpus split, no interpreted per-element
    arithmetic in the hot path."""
    base = emb.select(F.col(id_col), F.col(vec_col).alias("v"))
    queries = base.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        base.join(F.broadcast(queries), F.col(id_col) != F.col("query_id"))
        .withColumn("cos", F.round(np_cosine()(F.col("qv"), F.col("v")), 6))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "cos", "rank")
    )


def quantize(v: Column) -> Column:
    """floor(x * 1e6) per element: the exact-integer domain every engine
    agrees on (float -> double widening is exact; floor of a double is
    deterministic)."""
    return F.transform(v, lambda x: F.floor(x.cast("double") * 1000000).cast("long"))


def _sqdist(a: Column | str, b: Column | str) -> Column:
    """Exact integer squared L2 distance between quantized vectors.
    |q| <= ~1e6 per dim -> diff^2 <= 4e12, x 64 dims ~ 2.6e14: fits long."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _np_quantize(v: pd.Series) -> np.ndarray:
    """floor(x*1e6) int64 matrix for a batch of vectors — numpy twin of
    ``quantize()`` (np.floor is toward -inf, same as F.floor; float->
    double widening exact), so results are bit-identical."""
    return np.vstack(
        [np.floor(np.asarray(x, dtype=np.float64) * 1_000_000).astype(np.int64) for x in v]
    )


def _np_cells(Q: np.ndarray, cids: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Nearest-centroid cell per row of Q; EXACT distances, ties to the
    smallest cid (cids ascending + argmin-takes-first).

    r13 rewrite: the r12 broadcast tensor ((Q[:,None,:]-C)**2) allocated
    batch x k x dim int64 — 21 GB per 10k-row batch at the k=4096 clamp
    — invisible at the fixture's k=8, catastrophic at derived k.  The
    norm expansion |q|^2 - 2 q.c + |c|^2 runs on BLAS float64 and stays
    INTEGER-EXACT: quantized components are ~1e6-scale, so every
    partial product (<= ~1e12), dot sum (<= ~6.4e13 over 64 dims), and
    distance (<= ~5e14) is an integer below 2^53 — each float64 op on
    exactly-representable integers with representable results is exact,
    in any summation order, so the argmin matches the int64 tensor
    bit-for-bit.  Guard: if components could push a squared distance
    past 2^53 (|x| > ~11 pre-quantization), fall back to the exact
    int64 path, chunked so the temp stays bounded."""
    n, d = Q.shape
    out = np.empty(n, dtype=np.int64)
    max_abs = max(
        int(np.abs(Q).max(initial=0)), int(np.abs(C).max(initial=0))
    )
    exact_float = d * (2 * max_abs) ** 2 <= 2**53
    Cf = C.astype(np.float64)
    cn = (Cf * Cf).sum(axis=1)
    for i in range(0, n, 2048):
        q = Q[i : i + 2048]
        if exact_float:
            qf = q.astype(np.float64)
            d2 = (qf * qf).sum(axis=1)[:, None] - 2.0 * (qf @ Cf.T) + cn[None, :]
        else:  # exact int64, centroid-chunked to bound the temp
            d2 = np.empty((len(q), len(C)), dtype=np.int64)
            for j in range(0, len(C), 64):
                diff = q[:, None, :] - C[None, j : j + 64, :]
                d2[:, j : j + 64] = (diff * diff).sum(axis=2)
        out[i : i + 2048] = cids[np.argmin(d2, axis=1)]
    return out


def _assign_np(
    emb: DataFrame, cent_rows: list[tuple[int, list[int]]], id_col: str, vec_col: str
) -> DataFrame:
    """Vectorized nearest-centroid assignment: centroids ride into the
    Arrow-batched UDF as a numpy closure (tiny, bounded), so assignment
    is ONE codegen'd projection + numpy — no crossJoin, no interpreted
    higher-order arithmetic.  Semantics identical to the lexicographic
    min over (exact integer distance, cid)."""
    cids = np.array([cid for cid, _ in cent_rows], dtype=np.int64)
    C = np.array([list(c) for _, c in cent_rows], dtype=np.int64)

    @F.pandas_udf("long")
    def _cell(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int64")
        return pd.Series(_np_cells(_np_quantize(v), cids, C))

    # NOT asNondeterministic (measured r15): sim_ivf_topk's executed plan
    # stacks two ArrowEvalPython[_cell] nodes (pushed isnotnull filter +
    # projection — the classic UDF-duplication shape), but marking the
    # UDF non-deterministic to forbid the copy measured consistently
    # SLOWER (topk 0.69 -> 0.81 s, recall 1.02 -> 1.11, semantic
    # 2.25 -> 2.55 at sf0.1): it also blocks filter pushdown around the
    # projection, which costs more than the duplicated numpy eval saves.
    return emb.select(F.col(id_col).alias("_id"), _cell(F.col(vec_col)).alias("cell"))


#: Driver-fit budget (r15): rows match the documented sampled-fit clamp
#: (64 vectors/cell at the 4096-cell cap, SCALING.md §10.2); the cells
#: bound keeps the collect under ~256 MB of int64 even for wide
#: embeddings, far inside spark.driver.maxResultSize.
DRIVER_FIT_MAX_ROWS = 262_144
DRIVER_FIT_MAX_CELLS = 1 << 25


def _collect_fit_frame(
    fit_emb: DataFrame, id_col: str, vec_col: str
) -> tuple[np.ndarray, np.ndarray] | None:
    """Collect a bounded fit frame to the driver as (ids, quantized
    vectors), or ``None`` to keep the distributed path.

    The driver path iterates in numpy with the same exactness-pinned
    kernels (``_np_quantize``/``_np_cells``), so centroids are
    bit-identical.  It falls back when ids are not integral, the frame
    is empty or holds more than ``DRIVER_FIT_MAX_ROWS`` rows or
    ``DRIVER_FIT_MAX_CELLS`` values, or a row has a NULL id or vector
    or ragged dims."""
    try:
        id_type = fit_emb.schema[id_col].dataType.typeName()
    except Exception:
        return None
    if id_type not in ("byte", "short", "integer", "long"):
        return None
    n = fit_emb.count()
    if n == 0 or n > DRIVER_FIT_MAX_ROWS:
        return None
    d_row = fit_emb.select(F.size(F.col(vec_col)).alias("d")).first()
    d = None if d_row is None else d_row["d"]
    if not d or d <= 0 or n * d > DRIVER_FIT_MAX_CELLS:
        return None
    rows = fit_emb.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    ).collect()
    if any(r._id is None or r._v is None for r in rows):
        return None
    ids = np.array([r._id for r in rows], dtype=np.int64)
    try:
        Q = _np_quantize(pd.Series([list(r._v) for r in rows]))
    except ValueError:  # ragged dims: let the distributed path report it
        return None
    return ids, Q


def _driver_lloyd(
    ids: np.ndarray, Q: np.ndarray, n_cells: int, iters: int
) -> list[tuple[int, list[int]]]:
    """Lloyd on a driver-collected fit frame — bit-identical to the
    distributed loop in ``fit_ivf``: rank-order init (smallest ids),
    the shared ``_np_cells`` assignment kernel, exact int64 per-cell
    sums, and the same floored long/long double division for the mean
    (int64 -> float64 conversion and IEEE divide match Spark's
    Cast + Divide + FLOOR exactly); empty cells drop out."""
    order = np.argsort(ids, kind="stable")
    C = Q[order[:n_cells]].copy()
    cids = np.arange(len(C), dtype=np.int64)
    for _ in range(iters):
        cells = _np_cells(Q, cids, C)
        o = np.argsort(cells, kind="stable")
        cs = cells[o]
        uniq, starts = np.unique(cs, return_index=True)
        sums = np.add.reduceat(Q[o], starts, axis=0).astype(np.int64, copy=False)
        counts = np.diff(np.append(starts, len(cs)))
        C = np.floor(
            sums.astype(np.float64) / counts[:, None].astype(np.float64)
        ).astype(np.int64)
        cids = uniq.astype(np.int64)
    return [(int(c), [int(x) for x in row]) for c, row in zip(cids, C)]


def fit_ivf(
    emb: DataFrame,
    n_cells: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_stride: int = 1,
    fit_offset: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """Fit the IVF coarse quantizer: ``iters`` Lloyd iterations over the
    quantized embeddings, init = the ``n_cells`` smallest-id vectors
    (RANK order, so ids need not be contiguous; cid = rank-1).

    Returns ``(cells, centroids)``: cells = (id_col, cell) for every
    vector; centroids = (cid, c: array<long>) after the final update.
    All arithmetic is exact-integer (sums) or a single floored double
    division (the mean), so any engine replays to identical centroids.

    ``fit_stride`` > 1 (r13) fits the centroids on the DETERMINISTIC
    modulo sample ``(id - fit_offset) % fit_stride == 0`` instead of
    the full corpus — the FINAL assignment still covers every vector,
    so only the Lloyd window shrinks (iters x sample x k instead of
    iters x n x k).  The sample is a pure function of row ids, so any
    engine replays it; callers pass ``fit_offset`` = the corpus MIN id
    so the sample is non-empty by construction.  The sampled fit frame
    is bounded (~n/stride rows; callers derive stride so this is
    ~constant), so it is localCheckpointed once and the init + every
    iteration read it instead of rescanning the corpus.  Ids must be
    integral when ``fit_stride`` > 1.

    Scale shape (MLlib-style): centroids live on the DRIVER between
    iterations — they are tiny (n_cells x dim longs) and
    cardinality-BOUNDED, so the per-iteration collect is safe at any
    corpus size.  Each Lloyd iteration is ONE fused pass over the fit
    frame (mapInPandas: numpy assignment + per-batch partial sums,
    k*dim rows out per batch) followed by a k*dim-row final aggregation
    — no corpus crossJoin, no posexplode shuffle of corpus*dim rows, no
    interpreted per-element arithmetic, and no lazily recursive plan
    that replays prior iterations per action (the round-2/3 perf
    regression).  Init is a distributed TakeOrdered top-k, not a global
    sort.  Empty cells drop out (standard Lloyd)."""
    spark = emb.sparkSession
    fit_emb = emb
    if fit_stride > 1:
        # the modulo sample is only engine-replayable over integer ids: a
        # float/decimal id column would make Spark's modulo diverge from
        # the oracle's integer-modulo fitbase, failing parity far from
        # the cause — reject it at the source (ADVICE r13)
        id_type = emb.schema[id_col].dataType.typeName()
        if id_type not in ("byte", "short", "integer", "long"):
            raise TypeError(
                f"fit_stride > 1 requires an integral {id_col!r} column "
                f"(got {id_type}): the deterministic modulo fit sample is "
                "defined on integer ids only"
            )
        fit_emb = emb.filter(
            (F.col(id_col) - F.lit(fit_offset)) % F.lit(fit_stride) == 0
        ).transform(_mat)

    def _cent_df(rows: list[tuple[int, list[int]]]) -> DataFrame:
        return spark.createDataFrame(rows, "cid long, c array<long>")

    # r15: when the fit frame is inside the driver budget (it is by
    # construction under the derived ``fit_stride``, and for any small
    # corpus), run the whole Lloyd loop driver-side — one bounded
    # collect replaces the init job plus one mapInPandas+shuffle+collect
    # action PER ITERATION, and centroids are bit-identical (same
    # kernels; pinned in tests/test_driver_fit.py).  Oversized frames,
    # non-integral ids or NULLs keep the distributed loop below.
    frame = _collect_fit_frame(fit_emb, id_col, vec_col)
    if frame is not None:
        cent_rows = _driver_lloyd(frame[0], frame[1], n_cells, iters)
        cells = _assign_np(emb, cent_rows, id_col, vec_col).select(
            F.col("_id").alias(id_col), "cell"
        )
        return cells, _cent_df(cent_rows)

    init = (
        fit_emb.select(
            F.col(id_col).alias("_id"), quantize(F.col(vec_col)).alias("q")
        )
        .orderBy("_id")
        .limit(n_cells)
        .collect()
    )

    # graceful degradation (faiss-like, and what the SQL oracle's
    # rank-limited seed CTE already does): a corpus smaller than n_cells
    # seeds one cell per vector; an EMPTY corpus yields empty cells and
    # centroids so downstream searches return empty instead of crashing
    # on a day/partition with no data
    if not init:
        empty = spark.createDataFrame([], f"{id_col} long, cell long")
        return empty, _cent_df([])

    cent_rows = [(cid, list(r.q)) for cid, r in enumerate(init)]
    vec_only = fit_emb.select(F.col(vec_col))
    for _ in range(iters):
        cids = np.array([cid for cid, _ in cent_rows], dtype=np.int64)
        C = np.array([list(c) for _, c in cent_rows], dtype=np.int64)

        def _partials(batches):
            # vectorized per-cell partial sums (r13): sort-by-cell +
            # reduceat emits ONE frame per batch — the r12 per-cell
            # yield loop built up to k mini-DataFrames per batch, which
            # is Python-loop-bound once k grows past the fixture's 8
            # (derived k reaches 4096; measured 18.5 s -> ~2 s for the
            # 316-cell fit at 100k vectors)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                Q = _np_quantize(pdf[vec_col])
                cells = _np_cells(Q, cids, C)
                order = np.argsort(cells, kind="stable")
                cs = cells[order]
                uniq, starts = np.unique(cs, return_index=True)
                sums = np.add.reduceat(Q[order], starts, axis=0).astype(
                    np.int64, copy=False
                )
                counts = np.diff(np.append(starts, len(cs)))
                d = Q.shape[1]
                yield pd.DataFrame(
                    {
                        "cell": np.repeat(uniq, d),
                        "pos": np.tile(np.arange(d, dtype=np.int64), len(uniq)),
                        "s": sums.ravel(),
                        "n": np.repeat(counts, d).astype(np.int64),
                    }
                )

        updated = (
            vec_only.mapInPandas(_partials, "cell long, pos long, s long, n long")
            .groupBy("cell", "pos")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            # exact integer mean, floored: long/long division is double in
            # Spark and DuckDB alike, operands are exact -> identical
            .withColumn("cv", F.floor(F.col("s") / F.col("n")).cast("long"))
            .collect()
        )
        by_cell: dict[int, dict[int, int]] = {}
        for r in updated:
            by_cell.setdefault(int(r.cell), {})[int(r.pos)] = int(r.cv)
        cent_rows = [
            (cell, [d[p] for p in sorted(d)]) for cell, d in sorted(by_cell.items())
        ]
    cells = _assign_np(emb, cent_rows, id_col, vec_col).select(
        F.col("_id").alias(id_col), "cell"
    )
    return cells, _cent_df(cent_rows)


#: IVF deployment-rule clamp: centroid tables stay driver-held and
#: broadcast (n_cells x dims longs; 4096 x 64 ~ 2 MB), and the sampled
#: Lloyd fit budget is 64 vectors/cell, so the fit frame is bounded at
#: ~262k vectors at any corpus size.
IVF_CELLS_MIN = 8
IVF_CELLS_MAX = 4096


def ivf_n_cells(n_rows: int) -> int:
    """The published IVF sizing rule (FAISS guideline nlist ~ sqrt(n)),
    clamped to the driver-held centroid budget: n_cells =
    clamp(isqrt(n), 8, 4096).  Pure integer arithmetic so any engine
    (or oracle SQL) replays it.

    Deployment story (SCALING.md "IVF nlist crossover"): the registry's
    ``sim_ivf_topk`` fixture keeps nlist=8 because at probe scale
    (2k-20k vectors) the sqrt-rule's extra fit cost exceeds its scan
    savings — measured and rejected in r12.  The crossover is a FIT
    AMORTIZATION question: with the r13 sampled fit
    (``fit_stride`` ~ n / (64 * n_cells)) the fit is bounded, the
    per-query probe scan is ~n * nprobe / n_cells, and the sqrt rule
    wins as soon as the corpus outgrows the fixture regime — the
    measured crossover table lives in SCALING.md.  At 100 TB: nlist
    clamps at 4096, fit reads ~262k sampled vectors, and each query
    scans nprobe/4096 of the corpus."""
    return min(IVF_CELLS_MAX, max(IVF_CELLS_MIN, math.isqrt(max(0, n_rows))))


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str | None = None,
    n_cells: int = 8,
    iters: int = 2,
    nprobe: int = 2,
    fit_stride: int = 1,
    fit_offset: int = 0,
) -> DataFrame:
    """IVF ANN: fit the coarse quantizer (or reuse a precomputed
    ``cell_col``), then search only each query's ``nprobe`` closest
    cells.  The scan shrinks by ~n_cells/nprobe; recall is bounded by
    the quantizer and rises with nprobe — at nprobe=n_cells the probe
    set covers every cell and the result equals brute force.

    ``n_cells``/``nprobe`` are the deployment dials (rule:
    ``ivf_n_cells``); ``fit_stride``/``fit_offset`` bound the Lloyd fit
    on a deterministic modulo sample (see ``fit_ivf``) — pass
    ``fit_offset`` = the corpus min id when sampling."""
    if cell_col is not None:
        # precomputed cells: each query probes its own cell only
        base = emb.select(
            F.col(id_col), F.col(cell_col).alias("cell"), F.col(vec_col).alias("v")
        )
        probes = base.filter(F.col(id_col).isin(query_ids)).select(
            F.col(id_col).alias("query_id"), F.col("cell").alias("pcell")
        )
    else:
        cells, cent = fit_ivf(
            emb, n_cells, iters, id_col, vec_col, fit_stride, fit_offset
        )
        base = (
            emb.join(cells, id_col)
            .select(F.col(id_col), "cell", F.col(vec_col).alias("v"))
        )
        # per-query probe list: the nprobe nearest FINAL centroids
        qbase = emb.filter(F.col(id_col).isin(query_ids)).select(
            F.col(id_col).alias("_id"), quantize(F.col(vec_col)).alias("q")
        )
        qd = qbase.crossJoin(F.broadcast(cent)).select(
            "_id", "cid", _sqdist("q", "c").alias("dist")
        )
        wq = W.partitionBy("_id").orderBy("dist", "cid")
        probes = (
            qd.withColumn("prn", F.row_number().over(wq))
            .filter(F.col("prn") <= nprobe)
            .select(F.col("_id").alias("query_id"), F.col("cid").alias("pcell"))
        )
    queries = (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .join(probes, "query_id")
    )
    scored = (
        base.join(
            F.broadcast(queries),
            (F.col("cell") == F.col("pcell")) & (F.col(id_col) != F.col("query_id")),
        )
        .withColumn("cos", F.round(np_cosine()(F.col("qv"), F.col("v")), 6))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "cos", "rank")
    )


def srp_sign(i: int, j: int) -> int:
    """Deterministic pseudo-random hyperplane component (+1/-1) for bit
    ``i``, dimension ``j`` — pure int64 arithmetic both Spark and any SQL
    oracle replay exactly ((i*1000003 + j*7919) * knuth mod 97 < 48,
    i.e. an ~49.5% +1 rate; products stay < 2^62)."""
    return 1 if ((i * 1_000_003 + j * 7_919) * 2_654_435_761) % 97 < 48 else -1


def srp_signs(n_bits: int, dim: int) -> list[list[int]]:
    return [[srp_sign(i, j) for j in range(dim)] for i in range(n_bits)]


def srp_lsh_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.35,
    n_bits: int = 32,
    n_bands: int = 4,
    dim: int = 64,
    max_bucket_size: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs via signed-random-projection LSH — the
    scale path that needs NO precomputed cells (unlike
    ``embedding_neardup_pairs``' label/IVF cells).

    Signature: bit i = sign of <v, r_i> for ``n_bits`` fixed pseudo-random
    ±1 hyperplanes (random-hyperplane LSH: collision probability is
    1 - angle/pi, so near-duplicates collide in some band w.h.p.).  The
    dot products run over floor(x*1e6)-quantized int64 components, so
    signatures are bit-exact across engines.  Bands of n_bits/n_bands
    bits bucket the corpus; candidate pairs form inside buckets via the
    same bucket-collect-no-self-join shape as MinHash LSH (dedup.py),
    with the same hard cap on pathological buckets; survivors are
    verified by exact cosine >= threshold.

    Band width is the cost/recall dial: w-bit bands give 2^w buckets per
    band, so expected bucket size is n/2^w and verify cost is
    O(n_bands * n^2 / 2^w) — the 8-bit default keeps verify ~16x cheaper
    than 4-bit bands for the same band count, while identical vectors
    still collide in every band and high-cosine near-dups collide w.h.p.
    One corpus scan, one bucket shuffle, never O(n^2)."""
    width = n_bits // n_bands
    signs = srp_signs(n_bits, dim)

    # The signature is a dense (batch x dim) @ (dim x n_bits) integer
    # matmul — thousands of multiply-adds per row.  Spark's higher-order
    # functions evaluate that interpreted (no codegen), so this one stage
    # uses the sanctioned vectorized slow path: an Arrow-batched Pandas
    # UDF doing the matmul in numpy int64 (exact — |q| <= ~1e6, x64 dims
    # stays far under 2^63).  floor() semantics match F.floor (toward
    # -inf), so signatures stay bit-identical to the SQL oracle's.
    s_mat = np.array(signs, dtype=np.int64).T  # (dim, n_bits)
    weights = (np.int64(1) << np.arange(n_bits, dtype=np.int64))

    @F.pandas_udf("long")
    def _sig(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int64")
        m = np.vstack(
            [np.floor(np.asarray(x, dtype=np.float64) * 1_000_000).astype(np.int64) for x in v]
        )
        bits = (m @ s_mat >= 0).astype(np.int64)
        return pd.Series(bits @ weights)

    sig = _sig(F.col(vec_col))
    band_structs = [
        F.struct(
            F.lit(b).alias("band_no"),
            F.shiftright(F.col("sig"), b * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("band_val"),
        )
        for b in range(n_bands)
    ]
    base = emb.filter(F.size(F.col(vec_col)) == dim)
    bands = (
        base.select(F.col(id_col), sig.alias("sig"))
        .select(id_col, F.explode(F.array(*band_structs)).alias("band"))
        .select(id_col, "band.band_no", "band.band_val")
    )
    # Buckets collect IDS ONLY — a pair colliding in several bands would
    # otherwise pay its (expensive) verification once per band.  Pairs are
    # deduplicated as bare (id_a, id_b) longs BEFORE any vector touches
    # the wire; vectors join back in just for the one verify pass.
    members = (
        bands.groupBy("band_no", "band_val")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= F.lit(max_bucket_size)))
    )
    pair_structs = ordered_pair_structs(
        F.col("ids"),
        lambda m, m2: F.struct(m.alias("id_a"), m2.alias("id_b")),
    )
    candidates = (
        members.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )

    # vectorized verify: row-wise cosine in numpy over Arrow batches
    # (np_cosine — same round-6 ULP contract as everywhere else)
    va = base.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = base.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        candidates.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos", F.round(np_cosine(once=True)(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


#: sub-cell split engages when the largest coarse cell exceeds this many
#: rows; sized so the driver fixtures (max label cell 59 at sf0.01, 218
#: at sf0.1) stay UNSPLIT (b=0 -> plan and results byte-identical to the
#: pre-split operator) while a densified corpus derives enough bits to
#: hold expected sub-cell population ~constant
NEARDUP_SUBCELL_TARGET = 256
#: sign bits available for splitting (uses the leading dims; 2^16
#: sub-cells per coarse cell is far past any realistic densification)
_NEARDUP_SUBCELL_BITS_MAX = 16


def subcell_bits(max_cell_rows: int, target: int = NEARDUP_SUBCELL_TARGET) -> int:
    """Derived sub-cell vocabulary size: the number of SRP sign bits
    needed so the largest coarse cell splits to ~``target`` rows,
    assuming balanced signs — b = |{i in [0,16) : mx > target * 2^i}|,
    i.e. max(0, ceil(log2(mx/target))) in exact INTEGER arithmetic (no
    cross-engine float log2).  The DuckDB oracles replay the identical
    expression over range(16)."""
    return sum(
        1
        for i in range(_NEARDUP_SUBCELL_BITS_MAX)
        if max_cell_rows > (target << i)
    )


def sign_bits_col(vec_col: str, n_bits: int) -> Column:
    """First ``n_bits`` sign bits of the vector as a '01' string —
    SRP-LSH with axis-aligned hyperplanes, exactly portable to any
    engine (sign of a stored float has no rounding modes).  A NULL
    vector (or NULL/missing element) yields '0' bits in BOTH engines:
    Spark's otherwise() and SQL's CASE both take the else-branch on a
    NULL condition.  F.get (0-based), NOT element_at: under the ANSI
    default a vector shorter than ``n_bits`` dims would make
    element_at THROW where DuckDB's list index returns NULL; get is
    NULL out of bounds in both modes."""
    return F.concat(
        *[
            F.when(F.get(F.col(vec_col), i) >= 0, F.lit("1")).otherwise(
                F.lit("0")
            )
            for i in range(n_bits)
        ]
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    max_cell_size: int = 10_000,
    subcell_target: int | None = None,
    assume_capped: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, candidate-bounded to the
    same coarse cell (the embedding analog of LSH-bucketed text dedup).

    ``max_cell_size`` caps the in-cell candidate set (deterministically,
    by id order) so one pathological mega-cell cannot go quadratic at
    scale — the same guard the MinHash bucket path has.  Capped cells
    trade recall for a hard cost bound; sized so normal cells never hit
    it.

    ``subcell_target`` (r12, SCALING.md §10): the cap bounds the
    ADVERSARIAL case but leaves pair expansion quadratic BELOW it — a
    corpus that densifies 10x into a fixed cell vocabulary pays ~100x
    pairs (the decade probe's measured 25.6x wall).  With a target set,
    the partition vocabulary scales WITH the corpus: one grouped count
    finds the largest cell, ``subcell_bits`` derives b sign bits
    (SRP-LSH, axis-aligned), and candidates must share (cell, first-b
    sign bits) — expected sub-cell population stays ~``subcell_target``
    at any density, so pairs grow ~linearly in corpus size.  b is a
    deterministic pure-integer function of the count, so the DuckDB
    oracle replays the derivation inside SQL and parity holds at EVERY
    scale, not just the b=0 fixture point.  Standard LSH recall trade:
    a true pair disagreeing on a chosen sign bit is missed (probability
    (theta/pi) per bit); below the target nothing splits and the
    operator is exhaustive-within-cell, exactly as before.  Count-gated
    like the skew guards: the detector aggregate runs at plan-BUILD
    time (same frozen-route contract, README Design positions).

    r16 (guide §2.4): the adversarial cap's rank window is SKIPPED when
    it provably cannot bind — ``assume_capped=True`` (the caller just
    applied the identical cap, semantic_dedup's case) or the detector's
    max cell count <= ``max_cell_size`` (every post-split (cell, sc)
    group is a subset of a label cell, so the bound transfers).  The
    cap filter is a no-op exactly then, but the plan it compiled was
    not: both join sides re-ran a per-cell rank window + its exchange
    (2 Window sorts in the executed plan).
    Results are identical by construction (pinned in
    tests/test_densifier_scaling.py::test_cap_window_skipped_when_
    provably_slack); a corpus whose largest cell exceeds the cap keeps
    the rank window exactly as before."""
    group_cols = [cell_col]
    mx = None
    if subcell_target is not None:
        mx_row = emb.groupBy(cell_col).count().agg(F.max("count")).first()
        mx = mx_row[0] or 0
        b = subcell_bits(mx, subcell_target)
        if b > 0:
            emb = emb.withColumn("_sc", sign_bits_col(vec_col, b))
            group_cols = [cell_col, "_sc"]
    if assume_capped or (mx is not None and mx <= max_cell_size):
        capped = emb
    else:
        w_cell = W.partitionBy(*group_cols).orderBy(F.col(id_col).asc())
        capped = (
            emb.withColumn("_cn", F.row_number().over(w_cell))
            .filter(F.col("_cn") <= max_cell_size)
        )
    base = capped.select(
        F.col(id_col), *[F.col(c) for c in group_cols], F.col(vec_col).alias("v")
    )
    a = base.select(
        F.col(id_col).alias("id_a"),
        F.col(cell_col).alias("cell"),
        *[F.col(c) for c in group_cols[1:]],
        F.col("v").alias("va"),
    )
    b_side = base.select(
        F.col(id_col).alias("id_b"),
        F.col(cell_col).alias("cell"),
        *[F.col(c) for c in group_cols[1:]],
        F.col("v").alias("vb"),
    )
    join_cols = ["cell", *group_cols[1:]]
    return (
        a.join(b_side, join_cols)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(np_cosine(once=True)(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cell", "cos")
    )


def label_purity(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Embedding-space label coherence (the clustering-evaluation step
    of an embedding pipeline): per-label centroid, nearest-centroid
    assignment by cosine, per-label purity = fraction of members whose
    nearest centroid is their own label.

    Determinism contract: centroid components are per-dim means ROUNDED
    TO 6 DP — double sums are partition-order dependent, so rounding is
    what makes the centroids engine-identical before any distance is
    computed; assignment cosines are rounded the same way with ties to
    the smaller label (same 6-dp contract as every similarity oracle
    here).

    Scale shape: centroids are |labels| x dims — broadcast; scoring is
    one corpus scan x |labels| Arrow-batched rows; the argmax groups by
    the vector id (corpus x |labels| lightweight rows, one shuffle) and
    the purity rollup is a tiny per-label aggregate."""
    dims = emb.select(
        F.col(label_col), F.posexplode(F.col(vec_col)).alias("pos", "v")
    )
    cent = (
        dims.groupBy(label_col, "pos")
        .agg(F.round(F.avg("v"), 6).alias("c"))
        .groupBy(label_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            F.col(label_col).alias("clabel"),
            F.transform("pc", lambda s: s["c"]).alias("cv"),
        )
    )
    scored = emb.crossJoin(F.broadcast(cent)).select(
        id_col,
        label_col,
        "clabel",
        F.round(np_cosine()(F.col(vec_col), F.col("cv")), 6).alias("cos"),
    )
    # clabel inherits label's NULLs; asc_nulls_last matches DuckDB's
    # ASC default so cosine ties pick the same centroid in both engines
    w = W.partitionBy(id_col).orderBy(
        F.col("cos").desc(), F.col("clabel").asc_nulls_last()
    )
    assigned = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(id_col, label_col, F.col("clabel").alias("assigned"))
    )
    return (
        assigned.groupBy(label_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("assigned") == F.col(label_col)).cast("long")).alias(
                "n_correct"
            ),
        )
        .select(
            label_col,
            "n",
            "n_correct",
            F.round(F.col("n_correct") / F.col("n"), 6).alias("purity"),
        )
    )


#: SemDeDup derived-k parameters: k = clamp(ceil(n / TARGET), MIN, MAX).
#: TARGET sized so the driver fixtures keep k=8 (sf0.01 n=500 -> ceil=2
#: -> clamped to 8; sf0.1 n=2000 -> exactly 8) while a densified corpus
#: grows k ~ n, holding expected cell population ~constant — the r12 fix
#: for the decade probe's 12.2x super-linear reading (SCALING.md §10).
#: MAX bounds the driver-held centroid table (4096 x dims longs).
SEMANTIC_CELL_TARGET = 250
SEMANTIC_CELLS_MIN = 8
SEMANTIC_CELLS_MAX = 4096

#: SemDeDup fit-sample budget: the Lloyd fit runs on ~FIT_PER_CELL
#: vectors per derived cell (r13) instead of the full corpus, cutting
#: the fit window from iters*n*k to iters*(64k)*k — with the 4096 cell
#: clamp the fit frame is bounded at ~262k vectors at ANY corpus size,
#: retiring the "Lloyd is n*k until the clamp" residual (r12 verdict).
#: The final assignment still covers every vector (one n*k pass).
SEMANTIC_FIT_PER_CELL = 64


def semantic_fit_stride(n_rows: int, n_cells: int) -> int:
    """Derived modulo stride for the SemDeDup fit sample: fit on ids
    with ``(id - min_id) % stride == 0`` — expected sample ~= 64 * k
    vectors.  Exact integer arithmetic from the same corpus count that
    derives k, so the DuckDB oracle replays it in SQL."""
    return max(1, n_rows // (SEMANTIC_FIT_PER_CELL * n_cells))


def semantic_n_cells(n_rows: int) -> int:
    """Derived k for ``semantic_dedup``: exact integer ceil(n/TARGET),
    clamped — a deterministic pure function of the corpus count, so the
    DuckDB oracle replays it in SQL ((COUNT(*)+249)//250) and parity
    holds at every scale."""
    return min(
        SEMANTIC_CELLS_MAX,
        max(
            SEMANTIC_CELLS_MIN,
            (n_rows + SEMANTIC_CELL_TARGET - 1) // SEMANTIC_CELL_TARGET,
        ),
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.35,
    n_cells: int | None = None,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int = 10_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    corpus embeddings with the fitted k-means coarse quantizer, then
    prune every vector that has a same-cluster neighbor above the
    cosine threshold with a smaller id — the kept set is exactly the
    ids with no smaller-id near-neighbor, deterministic in any engine.

    Composition, not new machinery: fit_ivf supplies the clusters
    (integer-exact Lloyd, centroids driver-held and broadcast) and
    embedding_neardup_pairs supplies the capped within-cluster pair
    scan, so the scale properties are inherited — no corpus self-join
    outside a cell, hard cap per cell, Arrow-batched cosine.

    Returns one row per vector: (id, cell, keep, kept_by) where
    kept_by is the smallest-id neighbor that shadows a pruned vector
    (NULL for kept ones).

    ``n_cells=None`` (default, r12) derives k from one corpus count via
    ``semantic_n_cells`` — the cell vocabulary grows WITH the corpus so
    within-cell pair expansion stays ~linear as it densifies (the fixed
    k=8 read 12.2x at the 10x decade, SCALING.md §10).  The count is
    deterministic, so the SQL oracle replays the derivation; the count
    job runs at plan-BUILD time (the same frozen-route contract as the
    skew guards, README Design positions).  r13: the same job also
    derives a modulo FIT SAMPLE (``semantic_fit_stride`` — ~64 vectors
    per cell, offset at the corpus min id so it is non-empty), so the
    Lloyd fit is bounded at ~262k vectors at any corpus size instead
    of n*k until the clamp; only the single final assignment pass
    touches every vector.  Explicit ``n_cells`` keeps the full-corpus
    fit (back-compat; callers sizing k themselves can sample via
    ``fit_ivf`` directly).  Ids must be integral for the derived-k
    route."""
    fit_stride, fit_offset = 1, 0
    if n_cells is None:
        stats = emb.agg(
            F.count(F.lit(1)).alias("n"), F.min(id_col).alias("mn")
        ).first()
        n_cells = semantic_n_cells(stats.n)
        fit_stride = semantic_fit_stride(stats.n, n_cells)
        fit_offset = stats.mn if stats.mn is not None else 0
    cells, _ = fit_ivf(
        emb, n_cells, iters, id_col, vec_col, fit_stride, fit_offset
    )
    withc = emb.join(cells, id_col).select(id_col, "cell", vec_col)
    # apply the cell cap to the OUTPUT set too, not just the pair scan:
    # vectors beyond the cap were never compared to anything, so leaving
    # them in as keep=true would silently claim they were deduped (and
    # diverge from an oracle that replays the capped set)
    w_cell = W.partitionBy("cell").orderBy(F.col(id_col).asc())
    # NOT materialized (measured r15): the executed plan shows the
    # scan -> _cell UDF -> cap window chain twice (pair scan + final
    # keep join), but a localCheckpoint here measured 2x SLOWER at the
    # 10x decade corpus (8.6 -> 17.8 s median) — the vector-bearing
    # frame pays RDD serialization while the un-checkpointed shape's
    # duplicate subtree is largely satisfied by runtime exchange reuse.
    withc = (
        withc.withColumn("_cn", F.row_number().over(w_cell))
        .filter(F.col("_cn") <= max_cell_size)
        .drop("_cn")
    )
    pairs = embedding_neardup_pairs(
        withc,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        cell_col="cell",
        max_cell_size=max_cell_size,
        # withc is already capped to max_cell_size per cell just above,
        # so the operator's own rank window could never bind — skip it
        # (r16; the inner window ran TWICE, once per pair-join side)
        assume_capped=True,
    )
    kept_by = pairs.groupBy(F.col("id_b").alias(id_col)).agg(
        F.min("id_a").alias("kept_by")
    )
    return (
        withc.select(id_col, "cell")
        .join(kept_by, id_col, "left")
        .withColumn("keep", F.col("kept_by").isNull())
        .select(id_col, "cell", "keep", "kept_by")
    )
