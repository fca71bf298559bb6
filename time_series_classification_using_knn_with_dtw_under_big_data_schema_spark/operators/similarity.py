"""Similarity search over embedding columns (engine extension;
BASELINE.json north-star). Generalizes the KNN core (operators/knn.py) from
time series to embedding vectors.

- ``ann_brute_topk``: exact cosine top-k — crossJoin + codegen'd fold +
  WindowGroupLimit top-k. The baseline and oracle target.
- ``ann_lsh_topk``: random-hyperplane LSH bucketing (deterministic,
  hash-derived planes) -> candidate join -> exact rerank. The scale path:
  shuffles (bucket, id) pairs instead of the full cross product; recall<1
  by construction, measured against brute force in tests.
- ``ann_ivf_topk``: inverted-file (IVF) partitioned search — assign every
  corpus vector to its nearest of ``n_lists`` centroids (the index build:
  ONE shuffle, which at scale you'd persist as a list_id-partitioned table),
  probe the ``n_probe`` closest lists per query, exact rerank inside probed
  lists. Default centroids are deterministic seeds (lowest-id corpus
  vectors); pass ``centroids=operators.cluster.kmeans_centroids(...)`` for
  density-following lists — the fixed-point-exact refit keeps even the
  k-means iterates oracle-checkable (q93 composes and hash-checks the
  whole pipeline; measured recall lift 0.44 -> 0.54 over seeds at sf0.01).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.distance import cosine_distance, dot, sq_euclidean
from ..functions.text import HASH_P
from .pairscan import check_budgets
from .topk import check_k, topk_per_key


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _cos_fn(scoring: str):
    """Cosine-distance column fn: 'kernel' = Arrow-batched numpy
    (bit-identical to the fold — functions/distance.py::
    cosine_distance_kernel; use when the pair volume is large), 'expr' =
    the declarative fold (the oracle's literal mirror)."""
    if scoring == "kernel":
        from ..functions.distance import cosine_distance_kernel

        return cosine_distance_kernel()
    if scoring == "expr":
        return cosine_distance
    raise ValueError(f"unknown scoring {scoring!r}")


def _ann_scan(
    q: DataFrame,
    c: DataFrame,
    *,
    strategy: str,
    scorer,
    wire,
    k: int,
    exclude_self: bool,
    max_broadcast_bytes: int,
    block_bytes: int,
) -> DataFrame:
    """strategy='kernel' / 'reverse' / 'chunked' through the pair-scan
    router (operators/pairscan.py). Inputs: q = (query_id, _qv), c =
    (neighbor_id, _cv) vector columns; output (query_id, neighbor_id,
    rank, _d).

    ``scorer(qids, Q, cids, C, k, exclude_self) -> pandas.DataFrame
    (query_id, neighbor_id, rank, _d)`` is the family's scoring core,
    shared verbatim by every route (queries are always the A operand),
    so results are bit-identical across strategies by construction. The
    corpus matrix is packed as ``wire``-dtype numpy, and the byte gate
    sizes the kernel's broadcast at that itemsize. If even the grid's
    traffic is too much, the answer is an index (IVF/PQ/LSH in this
    module), not a bigger brute force.
    """
    from . import pairscan

    def pack(ids, feats, _):
        return (
            np.asarray(ids, dtype=np.int64),
            np.stack([np.asarray(f, dtype=wire) for f in feats]),
        )

    def score(pdf, corpus):
        return scorer(
            pdf["query_id"].to_numpy(dtype=np.int64),
            [np.asarray(f, dtype=np.float64) for f in pdf["_qv"]],
            *corpus, k, exclude_self,
        )

    q_cols, c_cols = ["query_id", "_qv"], ["neighbor_id", "_cv"]
    r = pairscan.route(
        strategy, (c, c_cols), budget=max_broadcast_bytes, q=(q, q_cols),
        itemsize=np.dtype(wire).itemsize,
    )
    if r.name != "kernel" and np.dtype(wire) != np.float64:
        # the reverse and grid routes ship double vectors
        q = q.select("query_id", _as_double(F.col("_qv")).alias("_qv"))
        c = c.select("neighbor_id", _as_double(F.col("_cv")).alias("_cv"))
    return pairscan.scan(
        r, (q, q_cols), (c, c_cols),
        kind="ann_quantized" if scorer is _quantized_cos_block_scorer else "ann_brute",
        pack=pack, score=score,
        reduce=lambda scored: pairscan.rerank(scored, "query_id", "_d", ["neighbor_id"], k),
        schema="query_id long, neighbor_id long, rank int, _d double",
        dist="_d", budget=max_broadcast_bytes, block_bytes=block_bytes,
    )


def _ann_emit(qids, cids, k, exclude_self, block_dist):
    """Shared tail of the ANN scoring cores: score query blocks of ~1,024
    pairs (or one row) with ``block_dist(r0, r1) -> (r1 - r0, n_corpus)``
    distances — so no (n_query x n_corpus) matrix is ever materialized —
    and emit each block's top-k through ``pairscan.first_k`` ((distance,
    id) ascending, NaN last; self pairs dropped under ``exclude_self``).
    Returns the (query_id, neighbor_id, rank, _d) frame."""
    from .pairscan import first_k

    qids = np.asarray(qids, dtype=np.int64)
    n_c = len(cids)
    step = max(1, 1024 // max(1, n_c))
    parts = []
    for r0 in range(0, len(qids), step):
        D = block_dist(r0, r0 + step)
        rows = np.repeat(np.arange(r0, r0 + len(D)), n_c)
        ids = np.tile(cids, len(D))
        r, i, d, _, rank = first_k(
            D.reshape(-1), rows, ids, None, k, ids != qids[rows] if exclude_self else None,
        )
        parts.append((r, i, d, rank))
    rows, ids, dist, rank = (
        map(np.concatenate, zip(*parts)) if parts
        else (np.empty(0, np.int64),) * 2 + (np.empty(0), np.empty(0, np.int64))
    )
    return pd.DataFrame({
        "query_id": qids[rows], "neighbor_id": ids, "rank": rank.astype(np.int32), "_d": dist,
    })


def _brute_cos_block_scorer(qids, Q, cids, C, k, exclude_self):
    """THE cosine scoring core — a query block against a corpus matrix,
    with the SQL left-fold's EXACT arithmetic (dim-ascending
    accumulation), shared by every pair-scan route (kernel, reverse and
    chunked): bit-identity across strategies is enforced by construction,
    not by hand-synced loops."""
    Q = np.asarray(Q, dtype=np.float64)
    dim = C.shape[1]
    cn = np.zeros(len(cids))
    for d in range(dim):
        cn += C[:, d] * C[:, d]
    cn = np.sqrt(cn)

    def block_dist(r0, r1):
        Qb = Q[r0:r1]
        dot = np.zeros((len(Qb), len(cids)))
        qn = np.zeros(len(Qb))
        for d in range(dim):
            dot += Qb[:, d : d + 1] * C[:, d]
            qn += Qb[:, d] * Qb[:, d]
        return 1.0 - dot / (np.sqrt(qn)[:, None] * cn)

    return _ann_emit(qids, cids, k, exclude_self, block_dist)


def _quantized_cos_block_scorer(qids, Q, cids, C, k, exclude_self):
    """Int8-quantized twin of _brute_cos_block_scorer: all accumulations
    exact int64 (the values arrive as integer-valued doubles <= 127 —
    exactly representable, so the int64 round-trip is lossless), final
    distance the same two correctly-rounded IEEE ops as every other
    strategy; a zero vector on either side is at distance 1. Shared by
    every pair-scan route (kernel, reverse and chunked)."""
    Qi = np.asarray(Q).astype(np.int64)
    Ci = C.astype(np.int64)
    bn = (Ci * Ci).sum(axis=1)
    bsq = np.sqrt(bn.astype(np.float64))

    def block_dist(r0, r1):
        Ab = Qi[r0:r1]
        qn = (Ab * Ab).sum(axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            dist = 1.0 - (Ab @ Ci.T).astype(np.float64) / (
                np.sqrt(qn.astype(np.float64))[:, None] * bsq
            )
        dist[:, bn == 0] = 1.0
        dist[qn == 0] = 1.0
        return dist

    return _ann_emit(qids, cids, k, exclude_self, block_dist)


def ann_brute_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    strategy: str = "declarative",
    max_broadcast_bytes: int = 512 << 20,
    block_bytes: int = 64 << 20,
) -> DataFrame:
    """Exact top-k cosine neighbors. Output: (query_id, neighbor_id, rank,
    cos_dist rounded to 6dp).

    strategy='declarative': crossJoin + codegen'd fold + WindowGroupLimit —
    the pure-Catalyst expression of the plan (and the oracle's mirror).
    strategy='kernel': corpus matrix as a numpy broadcast variable, one
    vectorized scoring pass per query row in mapInPandas, only top-k rows
    emitted (no pair materialization, no window shuffle). Dot products and
    norms accumulate dim-ascending — elementwise the exact IEEE op order of
    the SQL left-fold — and rounding stays JVM-side, so distances are
    bit-identical to the declarative path (same DuckDB oracle applies;
    test_pipeline_ops::test_ann_kernel_matches_declarative).

    The kernel collect is guarded by ``max_broadcast_bytes``: a corpus whose
    estimated matrix (rows x dim x 8B) exceeds it never touches the driver —
    the call falls back to strategy='reverse' (r9: broadcast the QUERY
    matrix, stream the corpus in place with zero vector exchange — the
    embedding serve regime) when the query estimate fits comfortably
    (budget // 8), else to strategy='chunked' (r5): the block nested-loop
    grid (``operators/pairscan.py``) tiles the cross product into
    ``block_bytes`` corpus blocks, scores each block with the kernel's exact
    numpy arithmetic in one grouped-map cell, and reranks the per-block top-k
    when the corpus is split into several blocks — at most one corpus
    shuffle (none for a one-cell grid), no pair materialization, no
    broadcast variable, bit-identical results. strategy='declarative' (crossJoin + fold +
    window) remains the oracle's literal mirror and an explicit option.
    """
    check_k(k)
    q = queries.select(F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("_qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("_cv"))
    if strategy in ("kernel", "reverse", "chunked"):
        check_budgets(max_broadcast_bytes=max_broadcast_bytes, block_bytes=block_bytes)
        top = _ann_scan(
            q, c, strategy=strategy, scorer=_brute_cos_block_scorer,
            wire=np.float64, k=k, exclude_self=exclude_self,
            max_broadcast_bytes=max_broadcast_bytes, block_bytes=block_bytes,
        )
        return top.select(
            "query_id", "neighbor_id", "rank", F.round("_d", 6).alias("cos_dist")
        )
    pairs = q.crossJoin(F.broadcast(c))
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    pairs = pairs.withColumn("_d", cosine_distance(F.col("_qv"), F.col("_cv")))
    top = topk_per_key(pairs, "query_id", [F.asc("_d"), F.asc("neighbor_id")], k)
    return top.select(
        "query_id", "neighbor_id", "rank", F.round("_d", 6).alias("cos_dist")
    )


def ann_ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    n_probe: int = 4,
    exclude_self: bool = True,
    centroids: DataFrame | None = None,
    scoring: str = "kernel",
) -> DataFrame:
    """Approximate top-k cosine neighbors via IVF (inverted-file) search.

    ``scoring``: 'kernel' (default) runs the N x n_lists assignment folds
    and the candidate rerank through the Arrow-batched cosine kernel
    (bit-identical to the fold; the assignment volume dominates the index
    build); 'expr' keeps the pure-declarative plan (the oracle's mirror).

    Plan shape (the point, at scale):
    - centroid table is tiny -> broadcast into BOTH assignment cross joins;
      per-row argmin is a map-side partial ``min_by`` (struct total-order
      tie-break on (dist, list_id)), so the only corpus-wide shuffle is the
      groupBy that materializes the (neighbor_id, list_id, vec) index — the
      IVF "build" step you'd persist partitioned by list_id.
    - query probes (n_queries x n_probe small rows + vector) broadcast into
      the candidate join, so the search phase never reshuffles the corpus.
    - rerank touches only candidates in probed lists: cost ~ corpus/n_lists
      * n_probe per query vs the brute-force full scan.

    ``centroids``: optional (list_id, vector) DataFrame to override the
    deterministic lowest-id seeds (e.g. a k-means fit).
    """
    check_k(k)
    q = queries.select(F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("_qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("_cv"))
    if centroids is None:
        cent = (
            c.orderBy("neighbor_id")
            .limit(n_lists)
            .select(F.col("neighbor_id").alias("list_id"), F.col("_cv").alias("_lv"))
        )
    else:
        cent = centroids.select("list_id", _as_double(F.col("vector")).alias("_lv"))

    dist_fn = _cos_fn(scoring)
    # index build: nearest centroid per corpus vector
    asn = (
        c.crossJoin(F.broadcast(cent))
        .withColumn("_d", dist_fn(F.col("_cv"), F.col("_lv")))
        .groupBy("neighbor_id")
        .agg(F.min_by(F.struct("list_id", "_cv"), F.struct("_d", "list_id")).alias("_m"))
        .select("neighbor_id", F.col("_m.list_id").alias("list_id"), F.col("_m._cv").alias("_cv"))
    )

    # probe: n_probe closest lists per query (carry the query vector through
    # so the candidate join needs no second pass over the queries side)
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("_d", dist_fn(F.col("_qv"), F.col("_lv")))
    )
    probes = topk_per_key(probes, "query_id", [F.asc("_d"), F.asc("list_id")], n_probe)
    probes = probes.select("query_id", "list_id", "_qv")

    cand = asn.join(F.broadcast(probes), "list_id")
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    cand = cand.withColumn("_d", dist_fn(F.col("_qv"), F.col("_cv")))
    top = topk_per_key(cand, "query_id", [F.asc("_d"), F.asc("neighbor_id")], k)
    return top.select(
        "query_id", "neighbor_id", "rank", F.round("_d", 6).alias("cos_dist")
    )


def random_project(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dim: int = 8,
    dim: int = 64,
    plane_offset: int = 7001,
) -> DataFrame:
    """Random-projection dimensionality reduction (Johnson–Lindenstrauss):
    each output component j is the left-fold dot of the input vector with a
    deterministic hash-derived coefficient vector — the same portable plane
    spec the hyperplane LSH uses, so the projection is reproducible on any
    engine (exact SQL oracle) with no RNG state to ship.

    Output: (id_col, p0..p{out_dim-1}) — wide scalar columns, each rounded
    to 6dp. Zero shuffle: a pure per-row projection, pipelined into the
    scan. Use it to cut ANN/cluster costs ~dim/out_dim before a downstream
    brute/IVF pass (distances distort by the JL bound, ~sqrt(ln N / out_dim)).

    ``plane_offset`` namespaces the coefficient planes away from the LSH
    tables (which use plane ids 0..tables*131+planes).
    """
    v = _as_double(F.col(vec_col))
    return df.select(
        F.col(id_col),
        *[
            F.round(dot(v, _coeffs_expr(plane_offset + j, dim)), 6).alias(f"p{j}")
            for j in range(out_dim)
        ],
    )


def _hyperplane(plane: int, dim: int) -> float:
    """Deterministic pseudo-random plane coefficient in [-0.5, 0.5) derived
    from (plane, dim) — portable integer arithmetic, no RNG state."""
    v = (1103515245 * (plane * 1009 + dim) + 12345) % HASH_P
    return v / HASH_P - 0.5


def _coeffs_expr(plane: int, dim: int) -> Column:
    """The _hyperplane coefficient vector as ONE sequence expression instead
    of `dim` literal nodes — identical values (same integer arithmetic the
    DuckDB oracle runs), but the logical plan stays small: 2048 literals per
    bucketing stage was dominating driver-side plan compilation."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: (
            (F.lit(1103515245).cast("long") * (F.lit(plane * 1009) + d) + F.lit(12345))
            % F.lit(HASH_P)
        ).cast("double")
        / F.lit(float(HASH_P))
        - F.lit(0.5),
    )


def lsh_bucket(vec: Column, *, planes: int = 8, dim: int = 64, table: int = 0) -> Column:
    """Sign-bit bucket id of a vector under ``planes`` fixed hyperplanes."""
    bucket = F.lit(0).cast("long")
    for p in range(planes):
        proj = dot(vec, _coeffs_expr(table * 131 + p, dim))
        bucket = bucket + F.when(proj > 0, F.lit(2**p).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


def make_lsh_buckets_udf(planes: int, tables: int, dim: int, probes: int = 0):
    """All ``tables`` bucket ids per vector in ONE Arrow-batched call.

    Expression-based bucketing evaluates tables*planes*dim nested-lambda
    steps per row (interpreted, not codegen'd) — the dominant ANN-LSH cost.
    This kernel accumulates the projections dim-by-dim in ASCENDING order
    (``proj += V[:, d] * C[:, d]``), elementwise the exact IEEE op sequence
    of the SQL left-fold dot — so bucket ids (sign bits) are bit-identical to
    lsh_bucket()/the DuckDB oracle, batch-vectorized.

    ``probes`` > 0 appends, per table, the ``probes`` neighboring buckets
    obtained by flipping the lowest-|margin| hyperplane bits one at a time
    (classic multi-probe LSH: a point near a hyperplane is the likely
    reason a true neighbor landed one bucket over). Output stays a flat
    array<long> of length tables*(1+probes), ordered [table0 exact,
    table0 probe1, ..., table1 exact, ...] — position // (1+probes)
    recovers the table. Probing multiplies candidate-generation fan-out,
    never the number of hash tables, so the corpus side can stay
    single-bucket (no storage growth) while queries cast a wider net.
    """
    probes = min(probes, planes)
    C = np.array(
        [
            [_hyperplane(t * 131 + p, d) for d in range(dim)]
            for t in range(tables)
            for p in range(planes)
        ]
    )  # (tables*planes, dim)
    weights = (2 ** np.arange(planes)).astype(np.int64)

    @F.pandas_udf("array<long>")
    def buckets(v: pd.Series) -> pd.Series:
        V = np.stack([np.asarray(x, dtype=np.float64) for x in v.to_numpy()])
        proj = np.zeros((V.shape[0], C.shape[0]))
        for d in range(dim):
            proj += V[:, d : d + 1] * C[None, :, d][0]
        proj = proj.reshape(V.shape[0], tables, planes)
        bits = proj > 0
        exact = (bits * weights).sum(axis=2)  # (N, tables) int64
        if not probes:
            return pd.Series(list(exact))
        # flip order = ascending |margin|: argsort per (row, table)
        order = np.argsort(np.abs(proj), axis=2, kind="stable")
        out = np.empty((V.shape[0], tables, 1 + probes), dtype=np.int64)
        out[:, :, 0] = exact
        for j in range(probes):
            out[:, :, 1 + j] = exact ^ weights[order[:, :, j]]
        return pd.Series(list(out.reshape(V.shape[0], -1)))

    return buckets.asNondeterministic()


def ann_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 4,
    tables: int = 8,
    dim: int = 64,
    exclude_self: bool = True,
    probes: int = 0,
    scoring: str = "kernel",
) -> DataFrame:
    """Approximate top-k cosine neighbors via multi-table hyperplane LSH.

    ``scoring``: 'kernel' (default) reranks candidates through the
    Arrow-batched cosine kernel (bit-identical to the fold; candidate
    volume is tables x bucket-size per query, the dominant cost); 'expr'
    keeps the declarative fold (the oracle's mirror).

    Candidates = pairs sharing a bucket in ANY of ``tables`` hash tables;
    exact cosine rerank on candidates. Same output schema as brute force.

    ``probes``: multi-probe LSH — each QUERY additionally probes that many
    neighboring buckets per table (lowest-|margin| bit flips), lifting
    recall on weakly clustered data without more tables, more corpus
    storage, or any new shuffle (the candidate join shape is unchanged;
    only the query-side explode fans out (1+probes)x, and the query side
    is the small side).
    """
    check_k(k)
    q = queries.select(F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("_qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("_cv"))
    bucket_udf = make_lsh_buckets_udf(planes, tables, dim)
    probe_udf = (
        make_lsh_buckets_udf(planes, tables, dim, probes=probes) if probes else bucket_udf
    )
    fan = 1 + min(probes, planes) if probes else 1

    def buckets(df, vc, idc, udf=bucket_udf, fan=1):
        b = (
            df.withColumn("_bk", udf(F.col(vc)))
            .select(idc, F.posexplode("_bk").alias("_pos", "bucket"))
        )
        table = (F.col("_pos") / fan).cast("int") if fan > 1 else F.col("_pos")
        return b.select(idc, table.alias("table"), "bucket")

    qb = buckets(q, "_qv", "query_id", udf=probe_udf, fan=fan)
    cb = buckets(c, "_cv", "neighbor_id")
    # distinct on IDS only — deduping on the vectors themselves would shuffle
    # 64-float arrays as keys (SURVEY.md §4 hazard 2); vectors re-join after
    cand = qb.join(cb, ["table", "bucket"]).select("query_id", "neighbor_id").distinct()
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    cand = cand.join(q, "query_id").join(c, "neighbor_id")
    cand = cand.withColumn("_d", _cos_fn(scoring)(F.col("_qv"), F.col("_cv")))
    top = topk_per_key(cand, "query_id", [F.asc("_d"), F.asc("neighbor_id")], k)
    return top.select(
        "query_id", "neighbor_id", "rank", F.round("_d", 6).alias("cos_dist")
    )


def quantize_embeddings(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column.

    Per vector: scale = max|x| / 127 (order-free exact reduction), each
    component q_i = round(x_i / scale) in [-127, 127]. Output:
    (id_col, qvec array<int>, scale double). On the wire / on disk the
    components are one byte each (cast to tinyint at the sink) — an 8x cut
    of the dominant shuffle/storage payload in every embedding pipeline,
    which at 100 TB is the difference between a network-bound and a
    compute-bound ANN stage. All arithmetic (abs-max, divide, round) is
    deterministic IEEE double math, so quantized vectors are bit-identical
    cross-engine and a DuckDB oracle hash-checks them.

    Zero vectors: scale 0 -> quantized to all-zero (guarded division).
    """
    v = _as_double(F.col(vec_col))
    amax = F.array_max(F.transform(v, F.abs))
    scale = (amax / F.lit(127.0)).alias("scale")
    q = F.when(
        amax > 0,
        F.transform(v, lambda x: F.round(x * F.lit(127.0) / amax).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.select(F.col(id_col), q.alias("qvec"), scale)


def ann_quantized_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    strategy: str = "kernel",
    max_broadcast_bytes: int = 512 << 20,
    block_bytes: int = 64 << 20,
) -> DataFrame:
    """Exact-over-quantized cosine top-k: quantize both sides to int8, then
    rank by the INTEGER dot product / integer norms — every accumulation is
    exact int64 arithmetic (order-independent, overflow-free: 64 dims x
    127^2 << 2^63), so the ranking is fully deterministic and
    oracle-checkable while moving 8x fewer bytes through the cross join
    than the float pipeline. Recall vs float cosine is bounded by the
    quantization error (~1/254 per component); measured in tests.

    strategy='kernel' (default): quantization stays a Spark SQL expression
    (per-row, bit-exact), and only the candidate scoring runs as a numpy
    int64 matmul over the broadcast quantized corpus — no pair
    materialization, no interpreted per-element fold over N*M pairs (the
    declarative fold measured ~10x slower than even the FLOAT brute path).
    Because every accumulated quantity is an exact small integer and the
    final distance is two correctly-rounded IEEE ops, kernel and
    declarative results are bit-identical (test-pinned) — the same DuckDB
    oracle covers both. Corpus-too-big falls back to strategy='chunked'
    (r5): the block nested-loop scorer with the same exact int64
    arithmetic — one corpus shuffle, no broadcast variable, bit-identical.
    strategy='declarative': crossJoin + integer fold — the oracle's mirror.

    Output: (query_id, neighbor_id, rank, q_cos_dist) — q_cos_dist is the
    cosine distance in the quantized space, rounded to 6dp.
    """
    check_k(k)
    qq = quantize_embeddings(queries, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("query_id"), F.col("qvec").alias("_qa")
    )
    qc = quantize_embeddings(corpus, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("qvec").alias("_qb")
    )
    if strategy in ("kernel", "reverse", "chunked"):
        check_budgets(max_broadcast_bytes=max_broadcast_bytes, block_bytes=block_bytes)
        # the kernel broadcasts the int8 codes as int16 (2 B per element,
        # the size its gate estimates); the scorer widens to int64
        top = _ann_scan(
            qq.select("query_id", F.col("_qa").alias("_qv")),
            qc.select("neighbor_id", F.col("_qb").alias("_cv")),
            strategy=strategy, scorer=_quantized_cos_block_scorer,
            wire=np.int16, k=k, exclude_self=exclude_self,
            max_broadcast_bytes=max_broadcast_bytes, block_bytes=block_bytes,
        )
        return top.select(
            "query_id", "neighbor_id", "rank", F.round("_d", 6).alias("q_cos_dist")
        )

    def idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    cand = qq.crossJoin(F.broadcast(qc))
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    na = idot(F.col("_qa"), F.col("_qa"))
    nb = idot(F.col("_qb"), F.col("_qb"))
    d = F.when(
        (na > 0) & (nb > 0),
        F.lit(1.0)
        - idot(F.col("_qa"), F.col("_qb")).cast("double")
        / (F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))),
    ).otherwise(F.lit(1.0))
    cand = cand.withColumn("_d", d)
    top = topk_per_key(cand, "query_id", [F.asc("_d"), F.asc("neighbor_id")], k)
    return top.select(
        "query_id", "neighbor_id", "rank", F.round("_d", 6).alias("q_cos_dist")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric-distance (ADC) search — the
# FAISS-style IVF-PQ compression leg of the ANN stack (r4)
# ---------------------------------------------------------------------------


def pq_train(
    corpus: DataFrame,
    *,
    n_subspaces: int = 8,
    n_codes: int = 16,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train a product-quantization codebook (Jegou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): split each vector into
    ``n_subspaces`` contiguous subvectors and run an independent k-means
    (``n_codes`` centroids) per subspace. Fully deterministic — seeds are
    the subvectors of the ``n_codes`` vectors with the smallest portable
    affine id hash (a deterministic spread sample; code = hash rank),
    the refit is the fixed-point int64-micro mean (cluster.py's trick), and
    every argmin tie-breaks on (distance, code) — so a SQL oracle replays
    training exactly.

    Output: (subspace, code, centroid array<double>) — n_subspaces *
    n_codes rows (minus clusters that attracted no members, exactly like
    Lloyd's algorithm). ALL subspaces train in ONE plan: the subvector
    fan-out is an explode over the scan, each Lloyd pass is one
    broadcast-join + map-side-partial min_by, each refit one
    (subspace, code, dim)-keyed partial aggregate — 100 TB cost is
    O(iters) corpus passes, never per-subspace jobs.
    """
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    # the ADC map key downstream is packed as subspace*256 + code; more than
    # 256 codes would silently collide keys across subspaces (ADVICE r4)
    if not 1 <= n_codes <= 256:
        raise ValueError(f"n_codes must be in [1, 256], got {n_codes}")
    d = dim // n_subspaces
    scale = 1_000_000
    c = corpus.select(F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v"))
    sub = c.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("subspace"),
                        F.slice("_v", m * d + 1, d).alias("_sv"),
                    )
                    for m in range(n_subspaces)
                ]
            )
        ).alias("_s"),
    ).select("_id", F.col("_s.subspace").alias("subspace"), F.col("_s._sv").alias("_sv"))

    # SPREAD seeds: per subspace, the n_codes smallest by the portable
    # affine id hash (code = hash rank - 1) — a deterministic uniform-ish
    # sample that stays diverse when ids correlate with content, selected
    # with a rank window WindowGroupLimit bounds MAP-SIDE (<= n_codes rows
    # per partition ship; an ntile would need the full per-subspace sort)
    from .cluster import _spread_hash

    w = Window.partitionBy("subspace").orderBy("_h", "_id")
    cent = (
        sub.withColumn("_h", _spread_hash(F.col("_id")))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_codes)
        .select("subspace", (F.col("_rn") - 1).alias("code"), F.col("_sv").alias("_cv"))
    )

    def assign(cent_df):
        return (
            sub.join(F.broadcast(cent_df), "subspace")
            .withColumn("_d", sq_euclidean(F.col("_sv"), F.col("_cv")))
            .groupBy("_id", "subspace")
            .agg(F.min_by(F.struct("code", "_sv"), F.struct("_d", "code")).alias("_m"))
            .select("_id", "subspace", F.col("_m.code").alias("code"), F.col("_m._sv").alias("_sv"))
        )

    for _ in range(max(iters - 1, 0)):
        asn = assign(cent)
        e = asn.select(
            "subspace", "code", F.posexplode("_sv").alias("dim", "_x")
        ).select(
            "subspace", "code", "dim",
            F.round(F.col("_x") * scale).cast("long").alias("_f"),
        )
        cent = (
            e.groupBy("subspace", "code", "dim")
            .agg(F.count(F.lit(1)).alias("_n"), F.sum("_f").alias("_s"))
            .select(
                "subspace", "code", "dim",
                (F.col("_s").cast("double") / (F.col("_n") * F.lit(scale)).cast("double")).alias("_c"),
            )
            .groupBy("subspace", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "_c"))), lambda s: s["_c"]
                ).alias("_cv")
            )
        )
    return cent.select("subspace", "code", F.col("_cv").alias("centroid"))


def _pq_subvectors(df: DataFrame, n_subspaces: int, d: int, id_col: str, vec_col: str) -> DataFrame:
    c = df.select(F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v"))
    return c.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(m).alias("subspace"), F.slice("_v", m * d + 1, d).alias("_sv"))
                    for m in range(n_subspaces)
                ]
            )
        ).alias("_s"),
    ).select("_id", F.col("_s.subspace").alias("subspace"), F.col("_s._sv").alias("_sv"))


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    *,
    n_subspaces: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors against a trained codebook: per subspace the nearest
    centroid's code ((distance, code) tie order). Output: (id_col, codes
    array<int>, subspace-ascending) — dim * 8 bytes of float64 become
    n_subspaces small ints (the whole point: the candidate join at scale
    moves CODES, not vectors)."""
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    d = dim // n_subspaces
    sub = _pq_subvectors(df, n_subspaces, d, id_col, vec_col)
    cb = codebook.select("subspace", "code", F.col("centroid").alias("_cv"))
    best = (
        sub.join(F.broadcast(cb), "subspace")
        .withColumn("_d", sq_euclidean(F.col("_sv"), F.col("_cv")))
        .groupBy("_id", "subspace")
        .agg(F.min_by(F.col("code"), F.struct("_d", "code")).alias("code"))
    )
    return best.groupBy("_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("subspace", "code"))),
            lambda s: s["code"],
        ).alias("codes")
    ).select(F.col("_id").alias(id_col), "codes")


def ann_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    n_subspaces: int = 8,
    n_codes: int = 16,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    codebook: DataFrame | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """Approximate top-k by PQ asymmetric distance (ADC): corpus vectors are
    quantized to ``n_subspaces`` codes; each query precomputes its
    (subspace, code) -> squared-subdistance table ONCE, and every candidate
    scores as a sum of ``n_subspaces`` table lookups over its codes — the
    FAISS IVF-PQ scoring kernel as a pure Catalyst plan.

    Plan shape (the 100 TB story): codebook is tiny (n_subspaces * n_codes
    rows, broadcast everywhere); the distance tables are
    n_queries * n_subspaces * n_codes rows folded into ONE map column per
    query and broadcast into the candidate cross join, which therefore
    moves only (neighbor_id, codes) — 8 ints per corpus row instead of the
    full vector (64 doubles): ~32x less candidate-join traffic than brute
    float. The fold over subspaces is ascending-m left addition (exact
    IEEE order, mirrored by the oracle's ordered list_reduce).

    ``rerank``: the production recipe — take the top-``rerank`` ADC
    candidates per query (cheap, code-space), then score exactly (squared
    euclidean on the FULL vectors) only those and re-rank. The exact pass
    touches rerank << corpus vectors per query, so the compressed
    candidate join still dominates the byte movement while recall is set
    by the shortlist, not the quantizer (measured in tests). Output then
    carries ``l2_dist`` (exact squared euclidean) instead of adc_dist.

    Output: (query_id, neighbor_id, rank, adc_dist rounded to 6dp) —
    adc_dist approximates SQUARED euclidean distance; ranking quality is
    bounded by quantization error (recall measured in tests vs brute).
    """
    check_k(k)
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    if not 1 <= n_codes <= 256:
        raise ValueError(f"n_codes must be in [1, 256], got {n_codes}")
    d = dim // n_subspaces
    if codebook is None:
        codebook = pq_train(
            corpus, n_subspaces=n_subspaces, n_codes=n_codes, iters=iters,
            dim=dim, id_col=id_col, vec_col=vec_col,
        )
    cb = codebook.select("subspace", "code", F.col("centroid").alias("_cv"))
    codes = pq_encode(
        corpus, codebook, n_subspaces=n_subspaces, dim=dim,
        id_col=id_col, vec_col=vec_col,
    ).select(F.col(id_col).alias("neighbor_id"), "codes")
    qsub = _pq_subvectors(queries, n_subspaces, d, id_col, vec_col)
    # per-query ADC table as ONE map column: key = subspace * 256 + code
    dt = (
        qsub.join(F.broadcast(cb), "subspace")
        .withColumn("_d", sq_euclidean(F.col("_sv"), F.col("_cv")))
        .groupBy("_id")
        .agg(
            F.map_from_entries(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (F.col("subspace") * 256 + F.col("code")).alias("key"),
                            F.col("_d").alias("value"),
                        )
                    )
                )
            ).alias("_dt")
        )
        .select(F.col("_id").alias("query_id"), "_dt")
    )
    pairs = codes.crossJoin(F.broadcast(dt))
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    score = F.aggregate(
        F.sequence(F.lit(0), F.lit(n_subspaces - 1)),
        F.lit(0.0),
        lambda acc, m: acc
        + F.element_at(F.col("_dt"), m * 256 + F.element_at(F.col("codes"), m + 1)),
    )
    pairs = pairs.withColumn("_d", score)
    if rerank is None:
        top = topk_per_key(pairs, "query_id", [F.asc("_d"), F.asc("neighbor_id")], k)
        return top.select(
            "query_id", "neighbor_id", "rank", F.round("_d", 6).alias("adc_dist")
        )
    C = max(rerank, k)
    cands = topk_per_key(
        pairs, "query_id", [F.asc("_d"), F.asc("neighbor_id")], C
    ).select("query_id", "neighbor_id")
    qv = queries.select(F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("_qv"))
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("_cv"))
    exact = (
        cands.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("_e", sq_euclidean(F.col("_qv"), F.col("_cv")))
    )
    top = topk_per_key(exact, "query_id", [F.asc("_e"), F.asc("neighbor_id")], k)
    return top.select(
        "query_id", "neighbor_id", "rank", F.round("_e", 6).alias("l2_dist")
    )


def ann_ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    n_subspaces: int = 8,
    n_codes: int = 16,
    iters: int = 2,
    dim: int = 64,
    rerank: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Residual IVF-PQ — the full FAISS production index as one Catalyst
    plan: coarse k-means cells partition the corpus (candidate generation,
    q93's machinery), PQ codebooks train on the RESIDUALS r = v - cell
    centroid (Jegou et al. 2011 §IV: residual energy is far below vector
    energy, so the same code budget quantizes much finer), queries probe
    ``n_probe`` cells with a PER-CELL ADC table over their own residual,
    candidates score as ordered table-lookup folds over their codes, and
    the top-``rerank`` shortlist re-ranks by exact squared euclidean.

    100 TB shape: both trainings are bounded state (n_lists coarse
    centroids; n_subspaces * n_codes residual codebook — broadcast
    everywhere); the corpus-side index is (cell, codes) = ~9 small ints
    per vector; the search never touches unprobed cells and moves only
    codes until the ``rerank``-bounded exact pass. Fully deterministic
    (strided seeds, fixed-point refits, total-order tie-breaks), so the
    ENTIRE index build + search replays in the DuckDB oracle (q116).

    Tuning (measured, 19,968 vectors / 64 true clusters / ids sorted by
    cluster — the adversarial id-content correlation): ``rerank`` is the
    dominant recall lever, extra Lloyd ``iters`` are NOT (recall±5:
    rerank 64 -> 0.65, 128 -> 0.85, 256 -> 0.99 at n_lists=64 n_probe=8;
    iters 2 -> 3 moved recall -0.02 for 2x train cost; n_lists 64 -> 128
    at rerank=128 gave 0.91). Production recipe: n_lists near the
    expected cluster count (or ~N/300), n_probe 8, rerank >= 50*k — the
    exact pass then touches ~1% of the corpus, which is the point of the
    index.

    Output: (query_id, neighbor_id, rank, l2_dist rounded to 6dp).
    """
    check_k(k)
    index = ivfpq_build(
        corpus,
        n_lists=n_lists,
        n_subspaces=n_subspaces,
        n_codes=n_codes,
        iters=iters,
        dim=dim,
        id_col=id_col,
        vec_col=vec_col,
    )
    return ivfpq_search(
        queries,
        index,
        corpus,
        k=k,
        n_probe=n_probe,
        n_subspaces=n_subspaces,
        dim=dim,
        rerank=rerank,
        id_col=id_col,
        vec_col=vec_col,
        exclude_self=exclude_self,
    )


def ivfpq_build(
    corpus: DataFrame,
    *,
    n_lists: int = 16,
    n_subspaces: int = 8,
    n_codes: int = 16,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict[str, DataFrame]:
    """Train the residual IVF-PQ index ONCE and hand back its three
    tables, each a plain DataFrame that round-trips through parquet —
    the production index-reuse shape (``ann_ivfpq_topk`` retrains per
    call; real workloads build once and serve many query batches):

    - ``centroids``: (cell, vector)          — n_lists rows
    - ``codebook``:  (subspace, code, centroid) — n_subspaces*n_codes rows
    - ``codes``:     (id_col, cell, codes)   — one ~9-small-int row per
      corpus vector (the only corpus-sized table; partition/bucket it by
      cell on write so a probe reads only its cells)
    - ``params``:    1 row (n_lists, n_subspaces, n_codes, dim) — the build
      geometry, so ``ivfpq_search`` can reject a mismatched search call
      (easy after a parquet round-trip) instead of silently mis-scoring

    Feed the dict (or the same tables re-read from storage) to
    ``ivfpq_search``. Search results are identical to ``ann_ivfpq_topk``
    with the same parameters (test-pinned, including through a parquet
    round-trip).
    """
    from .cluster import kmeans_centroids

    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    if not 1 <= n_codes <= 256:
        raise ValueError(f"n_codes must be in [1, 256], got {n_codes}")
    c = corpus.select(F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v"))
    # seed='spread' (hash-ranked top-k): on a content-clustered corpus the
    # default lowest-id seeds collapse into one region — measured IVF-PQ
    # recall 0.27 -> 0.66/0.82 (rerank 64/128) at 20k vectors, 64 clusters
    coarse = kmeans_centroids(
        corpus, k=n_lists, iters=iters, id_col=id_col, vec_col=vec_col,
        seed="spread",
    ).select(F.col("cluster").alias("cell"), F.col("vector").alias("_cellv"))

    # corpus: nearest cell + residual
    casn = (
        c.crossJoin(F.broadcast(coarse))
        .withColumn("_d", sq_euclidean(F.col("_v"), F.col("_cellv")))
        .groupBy("_id")
        .agg(
            F.min_by(F.struct("cell", "_cellv", "_v"), F.struct("_d", "cell")).alias("_m")
        )
        .select(
            "_id",
            F.col("_m.cell").alias("cell"),
            F.zip_with(F.col("_m._v"), F.col("_m._cellv"), lambda a, b: a - b).alias("_r"),
        )
    )
    resid = casn.select(F.col("_id").alias(id_col), F.col("_r").alias(vec_col))
    codebook = pq_train(
        resid, n_subspaces=n_subspaces, n_codes=n_codes, iters=iters,
        dim=dim, id_col=id_col, vec_col=vec_col,
    )
    codes = pq_encode(
        resid, codebook, n_subspaces=n_subspaces, dim=dim,
        id_col=id_col, vec_col=vec_col,
    ).join(casn.select(F.col("_id").alias(id_col), "cell"), id_col)
    params = corpus.sparkSession.createDataFrame(
        [(n_lists, n_subspaces, n_codes, dim)],
        "n_lists int, n_subspaces int, n_codes int, dim int",
    )
    return {
        "centroids": coarse.select("cell", F.col("_cellv").alias("vector")),
        "codebook": codebook,
        "codes": codes.select(id_col, "cell", "codes"),
        "params": params,
    }


def ivfpq_search(
    queries: DataFrame,
    index: "dict[str, DataFrame]",
    corpus: DataFrame,
    *,
    k: int = 5,
    n_probe: int = 4,
    n_subspaces: int = 8,
    dim: int = 64,
    rerank: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Serve a query batch against a prebuilt ``ivfpq_build`` index (the
    tables may come straight from the build or re-read from parquet).
    ``corpus`` supplies the full vectors for the exact ``rerank`` pass
    only — probing and ADC scoring touch nothing but the index tables.
    Identical results to ``ann_ivfpq_topk`` by construction (shared
    implementation; test-pinned through a parquet round-trip).

    Geometry safety (ADVICE r4): a search call whose n_subspaces/dim
    disagree with the prebuilt index would read past the codes array —
    element_at past the end yields NULL ADC sums that sort FIRST under asc,
    i.e. silently wrong neighbors. When the index carries its ``params``
    table (every ``ivfpq_build`` since r5) the mismatch raises here,
    eagerly and for free (the table is one literal/tiny-parquet row);
    indexes without params are still guarded data-plane — the scoring
    expression raises on any codes row whose length != n_subspaces."""
    check_k(k)
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    if "params" in index:
        p = index["params"].first()
        if p["n_subspaces"] != n_subspaces or p["dim"] != dim:
            raise ValueError(
                f"index was built with n_subspaces={p['n_subspaces']}, "
                f"dim={p['dim']}; search called with n_subspaces="
                f"{n_subspaces}, dim={dim}"
            )
    d = dim // n_subspaces
    c = corpus.select(F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v"))
    q = queries.select(F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v"))
    coarse = index["centroids"].select(
        "cell", _as_double(F.col("vector")).alias("_cellv")
    )
    codebook = index["codebook"]
    codes = index["codes"].select(
        F.col(id_col).alias("neighbor_id"), "cell", "codes"
    )

    # queries: probe n_probe cells, one residual (and one ADC table) per probe
    probes = (
        q.crossJoin(F.broadcast(coarse))
        .withColumn("_d", sq_euclidean(F.col("_v"), F.col("_cellv")))
    )
    probes = topk_per_key(probes, "_id", [F.asc("_d"), F.asc("cell")], n_probe)
    qres = probes.select(
        F.col("_id").alias("query_id"),
        "cell",
        F.zip_with(F.col("_v"), F.col("_cellv"), lambda a, b: a - b).alias("_qr"),
    )
    qsub = qres.select(
        "query_id",
        "cell",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(m).alias("subspace"), F.slice("_qr", m * d + 1, d).alias("_sv"))
                    for m in range(n_subspaces)
                ]
            )
        ).alias("_s"),
    ).select("query_id", "cell", F.col("_s.subspace").alias("subspace"), F.col("_s._sv").alias("_sv"))
    cb = codebook.select("subspace", "code", F.col("centroid").alias("_cv"))
    dt = (
        qsub.join(F.broadcast(cb), "subspace")
        .withColumn("_d", sq_euclidean(F.col("_sv"), F.col("_cv")))
        .groupBy("query_id", "cell")
        .agg(
            F.map_from_entries(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (F.col("subspace") * 256 + F.col("code")).alias("key"),
                            F.col("_d").alias("value"),
                        )
                    )
                )
            ).alias("_dt")
        )
    )

    pairs = codes.join(F.broadcast(dt), "cell")
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    score = F.aggregate(
        F.sequence(F.lit(0), F.lit(n_subspaces - 1)),
        F.lit(0.0),
        lambda acc, m: acc
        + F.element_at(F.col("_dt"), m * 256 + F.element_at(F.col("codes"), m + 1)),
    )
    # data-plane geometry guard for params-less (pre-r5) indexes: a codes
    # row shorter/longer than n_subspaces fails loudly instead of scoring
    # off the end of the array (NULL sums sort first => silent bad results)
    score = F.when(F.size("codes") == n_subspaces, score).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"ivfpq_search: index codes length != n_subspaces={n_subspaces} "
                    "(index built with different geometry?); got length "
                ),
                F.size("codes").cast("string"),
            )
        )
    )
    pairs = pairs.withColumn("_s", score)
    C = max(rerank, k)
    cands = topk_per_key(
        pairs, "query_id", [F.asc("_s"), F.asc("neighbor_id")], C
    ).select("query_id", "neighbor_id")
    qv = q.select(F.col("_id").alias("query_id"), F.col("_v").alias("_qv"))
    cv = c.select(F.col("_id").alias("neighbor_id"), F.col("_v").alias("_cv2"))
    exact = (
        cands.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("_e", sq_euclidean(F.col("_qv"), F.col("_cv2")))
    )
    top = topk_per_key(exact, "query_id", [F.asc("_e"), F.asc("neighbor_id")], k)
    return top.select(
        "query_id", "neighbor_id", "rank", F.round("_e", 6).alias("l2_dist")
    )
