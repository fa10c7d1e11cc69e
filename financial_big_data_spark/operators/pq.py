"""Product quantization (PQ) for embedding compression + IVF-PQ ANN.

Jégou/Douze/Schmid, "Product Quantization for Nearest Neighbor Search"
(IEEE TPAMI 2011): split each d-dim vector into ``m`` subvectors, learn a
2^nbits-centroid codebook per subspace, store each vector as ``m`` small
codes. At 100 TB of float32 embeddings this is THE memory lever — a
768-dim vector (3 KB) becomes m=8 bytes of codes plus one shared
codebook, so the candidate scan reads ~400× less data — and scoring
against a query needs only a per-query lookup table (ADC, asymmetric
distance computation): approx_ip(q, x) = Σ_j LUT[j][code_j(x)].

Spark-first shape (everything JVM-side, no Python UDFs):

- **train**: one distributed MLlib KMeans per subspace over a column
  SLICE of the corpus (m small fits); codebooks land in a tiny
  (m · 2^nbits)-row DataFrame — broadcastable, never a literal
  expression tree (a 8×256×96 literal would explode the plan the same
  way inline IVF centroids did; see similarity.ivf_topk's history).
- **encode**: posexplode the m slices → broadcast-join the codebook →
  min_by(code, (sqdist, code)) per (row, subspace) → collect the m codes
  back into an ordered array. The only shuffle is the m-rows-per-id
  regroup on the uniform id key.
- **ADC scan**: per-query LUTs are built relationally (Q · m · 2^nbits
  bounded rows) and carried as an array<array<double>> column; the
  per-candidate score is ``aggregate(zip_with(codes, lut, element_at))``
  — whole-stage-codegen arithmetic over an 8-byte code array instead of
  a 3 KB float array.
- **refine**: ADC ranks are approximate (quantization error), so the
  top ``refine_factor·k`` ADC candidates get ONE exact cosine rescore
  against their true vectors before the final top-k — the standard
  recall-recovery step; the exact pass touches k·refine_factor rows per
  query, not the corpus.

Both raw-vector PQ and residual encoding (``residual=True``: PQ over
``x - cell_centroid``, the classic accuracy notch) are implemented; the
inner-product formulation keeps residual lookup tables cell-independent,
so the relational shape is identical — see ``ivf_pq_topk``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .similarity import _as_double, cosine, dot


def _subslices(vec: F.Column, m: int, dsub: int) -> F.Column:
    """array of the m contiguous subvector slices (1-indexed F.slice)."""
    return F.array(*[F.slice(vec, j * dsub + 1, dsub) for j in range(m)])


def _sqdist(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 4,
    nbits: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Learn per-subspace codebooks; returns a (subspace, code, ctr)
    DataFrame with m · 2^nbits rows.

    Each subspace trains a distributed MLlib KMeans over that slice of
    the corpus — m independent fits over a cached slice frame. Codebook
    size is bounded metadata (the k-means centers), not corpus data.
    """
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dim = corpus.select(F.size(_as_double(F.col(vec_col))).alias("d")).first()["d"]
    if dim % m != 0:
        raise ValueError(f"vector dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    k = 2**nbits
    vecs = corpus.select(_as_double(F.col(vec_col)).alias("_v")).cache()

    def _fit(j: int):
        sl = vecs.select(
            array_to_vector(F.slice(F.col("_v"), j * dsub + 1, dsub)).alias("_fv")
        )
        km = KMeans(k=k, seed=seed + j, featuresCol="_fv").fit(sl)
        return [(j, c, np.asarray(ctr).tolist()) for c, ctr in enumerate(km.clusterCenters())]

    # the m subspace fits are independent Spark jobs — run them
    # concurrently (same pattern as the MLP selection grid); the FAIR-ish
    # local scheduler overlaps their stages instead of serializing m
    # cluster round-trips
    from concurrent.futures import ThreadPoolExecutor

    try:
        with ThreadPoolExecutor(max_workers=min(m, 8)) as ex:
            rows = [r for batch in ex.map(_fit, range(m)) for r in batch]
    finally:
        vecs.unpersist()
    return corpus.sparkSession.createDataFrame(
        rows, "subspace int, code int, ctr array<double>"
    )


def _sqdist_np(S, C, Sn=None):
    """Pairwise squared distances via the BLAS expansion
    ‖s‖² + ‖c‖² − 2·s·c (one dgemm) instead of materializing the
    (n, k, dsub) broadcast temp — the old form allocated a 33 MB temp and
    ran interpreted ufunc reductions per Lloyd iteration, 40+ s of the
    57 s ann_ivfpq_opq build (optimization r13, cProfile-measured;
    guide §1.2 "per-task work"). Distances can differ from the direct
    form in the last float bits (near-ties may flip argmin), which is why
    the LEARNED rotation is pinned by property tests (orthonormality,
    error reduction, recall lift) rather than exact floats; the
    oracle-checked OPQ query (emb_opq_adc) uses a closed-form pinned
    rotation and never enters this code."""
    import numpy as np

    Sn = (S * S).sum(1) if Sn is None else Sn
    d2 = Sn[:, None] + (C * C).sum(1)[None, :] - 2.0 * (S @ C.T)
    return np.maximum(d2, 0.0)


def _lloyd_np(S, k: int, n_iter: int = 10, init=None):
    """Small deterministic numpy Lloyd over driver-held rows, with two
    callers. OPQ's alternation needs m × n_iter tiny k-means fits over ≤ a
    few thousand sample rows; ``ml.clustering.kmeans_clusters`` clusters
    an input under its row cap on the driver, passing k-means++ centers
    as ``init`` (k rows). Without ``init`` the seeds are evenly-spaced
    rows of the (already hash-ordered) sample. Empty clusters keep their
    previous center. Driver-side by design: a distributed fit per call
    would be all job floor. Assignment + center update are fully
    vectorized (one dgemm + one bincount per iteration) — the per-cluster
    boolean-mask mean loop was 184k interpreted numpy calls per
    opq_train (optimization r13). The mean update changed numerics too:
    ``np.add.at`` sums divided by the bincount accumulate in a different
    order than the old ``S[mask].mean(0)``, so centers can differ in the
    last float bits, on top of the argmin near-ties of ``_sqdist_np``;
    property tests, not exact floats, pin this path."""
    import numpy as np

    if init is not None:
        C = np.array(init, dtype=float)
    else:
        n = S.shape[0]
        idx = np.linspace(0, n - 1, num=min(k, n), dtype=int)
        C = S[idx].copy()
        if len(C) < k:  # degenerate tiny sample: pad by repeating rows
            C = np.vstack([C, C[: k - len(C)]])
    Sn = (S * S).sum(1)  # constant across iterations
    for _ in range(n_iter):
        a = _sqdist_np(S, C, Sn).argmin(1)
        sums = np.zeros_like(C)
        np.add.at(sums, a, S)
        cnt = np.bincount(a, minlength=k)
        nz = cnt > 0
        C[nz] = sums[nz] / cnt[nz, None]
    return C


def opq_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    nbits: int = 8,
    n_iter: int = 8,
    sample_cap: int = 2048,
    kmeans_iter: int = 10,
):
    """Optimized Product Quantization rotation (Ge, He, Ke & Sun, CVPR
    2013 — the non-parametric alternation): learn an orthonormal d×d
    rotation R minimizing ‖XR − quantize(XR)‖² by alternating
    per-subspace k-means (quantize the rotated sample) with the
    orthogonal-Procrustes solve R = UVᵀ of SVD(Xᵀ·X̂). Rotating before
    splitting decorrelates the subspaces and balances their variances —
    the failure mode of plain PQ on correlated dimensions.

    The sample is a deterministic layout-invariant bottom-k by md5(id)
    (bounded driver metadata — the same law every other driver-held
    sample in this repo uses); the alternation is pure numpy on that
    sample. Returns ``(R, err_history)``: R as a list of d rows, and the
    per-iteration mean squared quantization error (err_history[0] is the
    UNROTATED error, so the history doubles as the evidence the rotation
    earned its keep).

    At 100 TB: training reads one bounded sample; applying R is a
    map-only d² multiply-add per row (whole-stage codegen), and since R
    is orthonormal it preserves inner products exactly — ADC scores on
    rotated codes approximate the SAME cosine the unrotated path does.
    """
    import numpy as np

    from .sketches import bottomk_rows

    rows = bottomk_rows(
        corpus.select(id_col, vec_col), sample_cap, [id_col], keep=[vec_col]
    ).collect()
    X = np.array([[float(x) for x in r[vec_col]] for r in rows])
    n, d = X.shape
    if d % m != 0:
        raise ValueError(f"vector dim {d} not divisible by m={m} subspaces")
    dsub, k = d // m, 2**nbits

    def quantize(Y):
        Yhat = np.empty_like(Y)
        err = 0.0
        for j in range(m):
            S = Y[:, j * dsub : (j + 1) * dsub]
            C = _lloyd_np(S, k, n_iter=kmeans_iter)
            Yhat[:, j * dsub : (j + 1) * dsub] = C[_sqdist_np(S, C).argmin(1)]
            err += float(((S - Yhat[:, j * dsub : (j + 1) * dsub]) ** 2).sum())
        return Yhat, err / n

    R = np.eye(d)
    history = []
    for t in range(n_iter + 1):
        Y = X @ R
        Yhat, err = quantize(Y)
        history.append(err)
        if t == n_iter:
            break
        U, _, Vt = np.linalg.svd(X.T @ Yhat)
        R = U @ Vt
    return [[float(v) for v in row] for row in R], history


def rotate_vectors(
    df: DataFrame, R: list, vec_col: str = "embedding"
) -> DataFrame:
    """Map-only ``v ↦ vR`` (row-vector convention): the rotation rides in
    as a one-row broadcast (never a d² literal expression tree) and each
    output component is one JVM-side dot — zero shuffles, zero UDFs."""
    spark = df.sparkSession
    # columns of R, so out[j] = dot(Rcols[j], v)
    d = len(R)
    rcols = [[float(R[i][j]) for i in range(d)] for j in range(d)]
    rt_df = spark.createDataFrame([(rcols,)], "_rt array<array<double>>")
    others = [c for c in df.columns if c != vec_col]
    return df.crossJoin(F.broadcast(rt_df)).select(
        *others,
        F.transform(
            F.col("_rt"), lambda row: dot(row, _as_double(F.col(vec_col)))
        ).alias(vec_col),
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantize: (id, codes array<int>) with codes[j] = nearest centroid
    of subspace j. Ties break on the smaller code — deterministic under
    any layout. Broadcast codebook join; one regroup shuffle on id."""
    mrow = codebooks.agg(
        F.countDistinct("subspace").alias("m"), F.max(F.size("ctr")).alias("dsub")
    ).first()
    m, dsub = mrow["m"], mrow["dsub"]
    sub = corpus.select(
        F.col(id_col),
        F.posexplode(_subslices(_as_double(F.col(vec_col)), m, dsub)).alias(
            "subspace", "_sv"
        ),
    )
    scored = sub.join(F.broadcast(codebooks), "subspace").select(
        id_col,
        "subspace",
        "code",
        _sqdist(F.col("_sv"), F.col("ctr")).alias("_d"),
    )
    best = scored.groupBy(id_col, "subspace").agg(
        F.min_by("code", F.struct(F.col("_d"), F.col("code"))).alias("code")
    )
    return best.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("subspace", "code"))),
            lambda s: s["code"],
        ).alias("codes")
    )


def adc_luts(
    queries: DataFrame,
    codebooks: DataFrame,
    query_id: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-query inner-product lookup tables: (query_id, _qv, lut) where
    lut[j][c] = dot(q_subvec_j, codebook[j][c]). Built relationally over
    Q · m · 2^nbits bounded rows — never a literal plan constant."""
    mrow = codebooks.agg(
        F.countDistinct("subspace").alias("m"), F.max(F.size("ctr")).alias("dsub")
    ).first()
    m, dsub = mrow["m"], mrow["dsub"]
    qsub = queries.select(
        F.col(query_id),
        _as_double(F.col(vec_col)).alias("_qv"),
        F.posexplode(_subslices(_as_double(F.col(vec_col)), m, dsub)).alias(
            "subspace", "_sv"
        ),
    )
    vals = qsub.join(F.broadcast(codebooks), "subspace").select(
        query_id,
        "_qv",
        "subspace",
        "code",
        dot(F.col("_sv"), F.col("ctr")).alias("_ip"),
    )
    per_sub = vals.groupBy(query_id, "subspace").agg(
        F.first("_qv").alias("_qv"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("code", "_ip"))), lambda s: s["_ip"]
        ).alias("_row"),
    )
    return per_sub.groupBy(query_id).agg(
        F.first("_qv").alias("_qv"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("subspace", "_row"))),
            lambda s: s["_row"],
        ).alias("lut"),
    )


def adc_score(codes: F.Column, lut: F.Column) -> F.Column:
    """Σ_j lut[j][codes[j]] — the ADC gather as pure codegen arithmetic."""
    return F.aggregate(
        F.zip_with(codes, lut, lambda c, row: F.element_at(row, c + 1)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _normalized(df: DataFrame, idc: str, vec_col: str) -> DataFrame:
    """(id, _nv): L2-normalized vectors (unit vectors: IP == cosine)."""
    v = _as_double(F.col(vec_col))
    n = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    return df.select(
        F.col(idc), F.transform(v, lambda x: x / n).alias("_nv")
    ).where(n > 0)


def _coarse_cells(c_norm: DataFrame, n_cells: int, seed: int, id_col: str):
    """Seeded coarse KMeans over the normalized corpus: returns
    (assigned (id, _nv, _cell), centers (_cell, _ctr))."""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    cfit = c_norm.withColumn("_fv", array_to_vector("_nv"))
    km = KMeans(
        k=n_cells, seed=seed, featuresCol="_fv", predictionCol="_cell"
    ).fit(cfit)
    assigned = km.transform(cfit).select(id_col, "_nv", "_cell")
    centers = c_norm.sparkSession.createDataFrame(
        [(i, np.asarray(c).tolist()) for i, c in enumerate(km.clusterCenters())],
        "_cell int, _ctr array<double>",
    )
    return assigned, centers


def _to_encode(
    c_norm: DataFrame,
    assigned: DataFrame,
    centers: DataFrame,
    residual: bool,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The vectors PQ codebooks train on and encode: the normalized
    corpus, or (residual) each vector minus its assigned cell centroid."""
    if residual:
        return assigned.join(F.broadcast(centers), "_cell").select(
            id_col,
            F.zip_with("_nv", "_ctr", lambda x, y: x - y).alias(vec_col),
        )
    return c_norm.select(id_col, F.col("_nv").alias(vec_col))


def opq_rotation(
    corpus: DataFrame,
    n_cells: int = 16,
    m: int = 4,
    nbits: int = 4,
    seed: int = 42,
    residual: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iter: int = 8,
    sample_cap: int = 2048,
):
    """Train ``ivf_pq_topk``'s OPQ rotation ONCE for a corpus (VERDICT r7
    #7). Reuses the search path's exact construction — same normalization,
    same seeded coarse KMeans, same residual law, same bottom-k-md5 sample
    — so passing the returned R as ``ivf_pq_topk(..., rotation=R)``
    reproduces ``opq=True`` bit-for-bit while repeated searches against
    the same corpus skip the alternation (it was ~half the opq bench
    row's wall time). Returns ``(R, err_history)`` like ``opq_train``."""
    c_norm = _normalized(corpus, id_col, vec_col).cache()
    try:
        assigned, centers = _coarse_cells(c_norm, n_cells, seed, id_col)
        enc = _to_encode(c_norm, assigned, centers, residual, id_col, vec_col)
        return opq_train(
            enc,
            vec_col=vec_col,
            id_col=id_col,
            m=m,
            nbits=nbits,
            n_iter=n_iter,
            sample_cap=sample_cap,
        )
    finally:
        c_norm.unpersist()


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 4,
    nbits: int = 4,
    k: int = 10,
    refine_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    seed: int = 42,
    residual: bool = False,
    exclude_self: bool = True,
    opq: bool = False,
    rotation: list | None = None,
) -> DataFrame:
    """IVF-PQ approximate cosine top-k: IVF cells prune candidates, PQ
    codes make the candidate scan read bytes instead of vectors, exact
    cosine refines the top refine_factor·k per query.

    Vectors are L2-normalized up front so inner product == cosine — PQ
    codebooks train on the normalized corpus and the ADC estimate
    directly approximates cosine similarity.

    ``residual=True`` is the classic IVF-PQ accuracy notch (Jégou et al.
    §IV): codebooks quantize ``x − cell_centroid`` instead of ``x`` —
    residuals have far smaller spread than raw vectors, so the same
    nbits buys much finer resolution. Inner-product scoring keeps the
    lookup tables CELL-INDEPENDENT (ip(q,x) ≈ ip(q, centroid_cell) +
    Σ_j LUT[j][code_j]): the per-cell term is one scalar the probe
    ranking already computes, not a per-(query, cell) LUT — so the
    relational shape is unchanged (an L2 formulation would need LUTs
    keyed on (query, cell)).

    ``opq=True`` trains an OPQ rotation (``opq_train``) on the
    to-be-encoded vectors and applies it before codebook training,
    encoding AND the query-side lookup tables. R is orthonormal, so
    ip(Rq, Rx) == ip(q, x) exactly — the ADC estimate approximates the
    same cosine, only with subspaces decorrelated/variance-balanced
    under the rotation (recall up at the same code bytes on correlated
    embeddings; a no-op by construction on isotropic ones). The exact
    refine still reads the UNROTATED vectors.

    ``rotation``: a precomputed OPQ rotation (``opq_train``'s R) to apply
    instead of retraining — repeated queries against the same corpus pay
    the alternation once (VERDICT r7 #7: retraining was ~half the opq
    bench row). Passing it implies the OPQ path; train with the same
    ``residual`` setting the search uses (the rotation is fit to the
    to-be-encoded vectors)."""
    c_norm = _normalized(corpus, id_col, vec_col).cache()
    q_norm = _normalized(queries, query_id, vec_col).cache()

    # --- coarse quantizer (IVF cells) on normalized vectors
    assigned, centers = _coarse_cells(c_norm, n_cells, seed, id_col)

    # --- PQ codebooks + codes (raw normalized vectors, or residuals
    # against the assigned cell centroid)
    to_encode = _to_encode(c_norm, assigned, centers, residual, id_col, vec_col)
    rot = rotation
    if opq and rot is None:
        rot, _hist = opq_train(
            to_encode, vec_col=vec_col, id_col=id_col, m=m, nbits=nbits
        )
    if rot is not None:
        to_encode = rotate_vectors(to_encode, rot, vec_col=vec_col)
    to_encode = to_encode.cache()
    books = pq_train(to_encode, vec_col=vec_col, m=m, nbits=nbits, seed=seed)
    codes = pq_encode(to_encode, books, id_col=id_col, vec_col=vec_col)
    to_encode.unpersist()
    packed = assigned.join(codes, id_col).select(id_col, "_cell", "codes")

    # --- probe cells per query (broadcast centroid ranking, ties on
    # cell); the q·centroid inner product rides along — it is the
    # cell-level term of the residual ADC score
    qw = Window.partitionBy(query_id).orderBy("_d", "_cell")
    probes = (
        q_norm.join(F.broadcast(centers))
        .select(
            query_id,
            "_cell",
            _sqdist(F.col("_nv"), F.col("_ctr")).alias("_d"),
            dot(F.col("_nv"), F.col("_ctr")).alias("_qc_ip"),
        )
        .withColumn("_r", F.row_number().over(qw))
        .where(F.col("_r") <= n_probe)
        .select(query_id, "_cell", "_qc_ip")
    )

    # --- ADC scan over probed cells (codes only — no vectors read here);
    # under OPQ the query side rotates identically (ip preserved exactly)
    q_for_lut = q_norm.select(query_id, F.col("_nv").alias(vec_col))
    if rot is not None:
        q_for_lut = rotate_vectors(q_for_lut, rot, vec_col=vec_col)
    luts = adc_luts(
        q_for_lut,
        books,
        query_id=query_id,
        vec_col=vec_col,
    ).select(query_id, "lut")
    base_ip = F.col("_qc_ip") if residual else F.lit(0.0)
    # exclude_self assumes queries share the corpus id space (probes
    # drawn from the corpus); pass False when the id spaces are
    # disjoint, else a corpus vector whose id merely collides with a
    # query id would be silently dropped from that query's results
    cands = packed.join(probes, "_cell")
    if exclude_self:
        cands = cands.where(F.col(id_col) != F.col(query_id))
    cands = (
        cands.join(luts, query_id)
        .select(
            query_id,
            id_col,
            (base_ip + adc_score(F.col("codes"), F.col("lut"))).alias("_adc"),
        )
    )
    rw = Window.partitionBy(query_id).orderBy(F.desc("_adc"), F.col(id_col))
    shortlist = (
        cands.withColumn("_r", F.row_number().over(rw))
        .where(F.col("_r") <= k * refine_factor)
        .select(query_id, id_col)
    )

    # --- exact refine: one cosine pass over ≤ refine_factor·k rows/query
    exact = (
        shortlist.join(c_norm.select(id_col, F.col("_nv").alias("_cv")), id_col)
        .join(q_norm, query_id)
        .select(
            query_id, id_col, cosine(F.col("_nv"), F.col("_cv")).alias("cosine_sim")
        )
    )
    fw = Window.partitionBy(query_id).orderBy(F.desc("cosine_sim"), F.col(id_col))
    out = (
        exact.withColumn("rank", F.row_number().over(fw))
        .where(F.col("rank") <= k)
        .select(query_id, id_col, "cosine_sim", "rank")
    )
    return out
