"""Deduplication operators for training-data pipelines (engine extension;
BASELINE.json north-star). All pure DataFrame ops on the portable hashing
spec in functions/text.py, so exact DuckDB oracles exist for each.

Scale design (100 TB):
- exact dedup: one hash-partitioned groupBy on the content key (map-side
  partial aggregation; no content ever collected).
- minhash-LSH: signatures are a linear scan (codegen'd expressions); the
  candidate join shuffles only (band_key -> doc_id) pairs, never documents;
  verification re-joins shingle sets for candidates only. This is the classic
  shingle->minhash->band->bucket-join pipeline.
- pairwise jaccard (quadratic) is for oracles/small inputs only — the LSH
  path IS the scale path; simhash offers hamming-ball near-dup at one 64-bit
  key per doc.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .skew import fan_out
from ..caching import register_cache
from ..plans.eager import agg_row
from ..functions.text import (
    HASH_BASE,
    HASH_P,
    MINHASH_A,
    MINHASH_B,
    char_hash,
    char_shingles,
    tokens,
)


def dedup_exact(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row (min id) per exact content group.

    Output: (id_col, n_dups) for each kept row. Single shuffle keyed on the
    content; at scale, key by char_hash(text)+length instead of raw text to
    shrink the shuffle (collision-checked by the n_dups consumer).
    """
    return (
        df.groupBy(F.col(text_col))
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .select(id_col, "n_dups")
    )


def shingle_sets(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    hash_mode: str = "portable",
) -> DataFrame:
    """(id, shingles array<string>, hashes array<long>) per document.

    ``hashes`` is the shingle-hash SET (distinct values, first-occurrence
    order) in portable mode; in xxhash64 mode it is parallel to ``shingles``.
    All consumers treat it as a set (array_distinct / array_min /
    intersect-union sizes).

    hash_mode='portable': polynomial char fold (DuckDB-oracle-reproducible).
    Computed from ONE ascii-codes array per document (split+ascii once, then
    an n-wide integer fold per position) instead of per-shingle
    substr->split->ascii — identical values to folding each shingle string
    (the spec the DuckDB oracle implements; proven in
    test_pipeline_ops::test_portable_hashes_match_per_shingle_fold), no
    per-shingle string allocation, and the ``shingles`` strings column
    no longer feeds ``hashes``, so Catalyst prunes it wherever callers
    select hashes only (the whole LSH path).
    hash_mode='xxhash64': JVM-native xxhash64 reduced mod P — the production
    default at scale (one native call per shingle instead of a per-char
    lambda fold); same downstream semantics, not oracle-portable.
    """
    sh = char_shingles(F.col(text_col), n)
    out = df.select(F.col(id_col), sh.alias("shingles"))
    if hash_mode == "xxhash64":
        hashes = F.transform(F.col("shingles"), lambda s: F.pmod(F.xxhash64(s), F.lit(HASH_P)))
    elif hash_mode == "portable":
        txt = F.col(text_col)
        codes = F.transform(F.split(txt, ""), F.ascii)
        L = F.length(txt)
        # per-position fold over a codes slice; duplicate positions hash to
        # duplicate values, so distinct(hashes) == hashes of distinct shingles
        per_pos = F.transform(
            F.sequence(F.lit(1), L - (n - 1)),
            lambda i: F.aggregate(
                F.slice(codes, i, n),
                F.lit(0).cast("long"),
                lambda h, c: (h * HASH_BASE + c) % HASH_P,
            ),
        )
        hashes = F.when(L >= n, F.array_distinct(per_pos)).otherwise(
            F.array().cast("array<long>")
        )
        return df.select(F.col(id_col), sh.alias("shingles"), hashes.alias("hashes"))
    else:
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    return out.withColumn("hashes", hashes)


def make_shingle_minhash_udf(n: int = 5, num_hashes: int = 16):
    """Arrow-batched kernel computing (distinct shingle hashes, minhash sig)
    per document — bit-identical to the portable expression spec (pure int64
    arithmetic, every intermediate < 2^63), ~20x less interpreter overhead.

    The expression path evaluates ~(len*n + num_hashes*len) interpreted
    lambda steps per document (the dominant LSH cost at bench scale); here
    the same integers come out of a handful of vectorized numpy passes:
    rolling polynomial hash as n strided mod-mul-adds over the codepoint
    array, minhash as one (n_shingles x num_hashes) broadcast min.
    """
    A = np.asarray(MINHASH_A[:num_hashes], dtype=np.int64)
    B = np.asarray(MINHASH_B[:num_hashes], dtype=np.int64)
    # expression path yields array_min(empty)=NULL per slot for short docs
    empty_sig = [None] * num_hashes

    @F.pandas_udf("struct<hashes: array<long>, sig: array<long>>")
    def kernel(texts: pd.Series) -> pd.DataFrame:
        out_h, out_s = [], []
        for t in texts:
            if t is None or len(t) < n:
                out_h.append(np.empty(0, dtype=np.int64))
                out_s.append(empty_sig)
                continue
            codes = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
            m = len(codes) - n + 1
            h = np.zeros(m, dtype=np.int64)
            for j in range(n):
                h = (h * HASH_BASE + codes[j : j + m]) % HASH_P
            hs = pd.unique(h)  # first-occurrence order, matches array_distinct
            out_h.append(hs)
            out_s.append(((hs[:, None] * A[None, :] + B[None, :]) % HASH_P).min(axis=0))
        return pd.DataFrame({"hashes": out_h, "sig": out_s})

    return kernel


def minhash_signature(hashes: Column, num_hashes: int = 16) -> Column:
    """array<long> minhash signature from a shingle-hash array."""
    def _mh(j: int) -> Column:
        a, b = MINHASH_A[j], MINHASH_B[j]
        # single-param lambda: PySpark feeds (element, index) to 2-param ones
        return F.array_min(
            F.transform(hashes, lambda h: (F.lit(a) * h + F.lit(b)) % HASH_P)
        )

    return F.array(*[_mh(j) for j in range(num_hashes)])


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two distinct-element arrays (int/int division —
    engine-portable). Two EMPTY sets yield NULL (undefined), matching
    DuckDB's 0.0/0.0 — under Spark's ANSI default a bare division would
    error instead (found by the ssjoin empty-doc edge test)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union.cast("double"))


def dedup_pairwise_jaccard(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Exhaustive O(N^2) near-dup pairs with jaccard >= threshold.

    Oracle-grade ground truth; use dedup_minhash_lsh at scale.
    Output: (id_a, id_b, jac) with id_a < id_b.
    """
    sh = shingle_sets(fan_out(df), text_col=text_col, id_col=id_col, n=n)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("_sa"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("_sb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn("jac", jaccard(F.col("_sa"), F.col("_sb")))
        .filter(F.col("jac") >= threshold)
        .select("id_a", "id_b", F.round("jac", 6).alias("jac"))
    )


def dedup_minhash_lsh(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    sig_prefilter: float | None = None,
    hash_mode: str = "portable",
    max_bucket_size: int | None = None,
    cache_result: bool = True,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs, verified by exact jaccard.

    shingle -> minhash signature -> band buckets -> bucket self-join ->
    signature-agreement prefilter -> exact-jaccard verification.
    Output: (id_a, id_b, jac), id_a < id_b.

    Skew defense: a hot bucket (many docs sharing one band key — common on
    corpora with heavy shared vocabulary) floods the candidate set; the
    prefilter compares full signatures (num_hashes ints, ~50x cheaper than
    the shingle-set intersect) and drops candidates whose estimated jaccard
    < ``sig_prefilter`` (default threshold/2, generous against estimator
    variance: P(est < t/2 | true j >= t) ~ 1% at 16 hashes). Verification
    jaccard runs on the distinct HASH arrays (long compares, not strings) —
    identical result up to mod-P shingle collisions (~1e-4/doc), and both
    phases are deterministic, so the DuckDB oracle mirrors them exactly.

    Shuffle shape: ONE cached (id, hashes, sig) corpus table feeds both the
    banding and a single candidates⋈ks_a⋈ks_b verification join — the
    corpus is shuffled once per join side, not once per phase (the
    sig-prefilter and hash-verify phases are fused; prefilter still
    short-circuits the expensive set-intersect per row because the fused
    conjunction evaluates left-to-right in codegen).
    """
    assert num_hashes % bands == 0
    if sig_prefilter is None:
        sig_prefilter = threshold / 2
    rows = num_hashes // bands
    if hash_mode == "kernel":
        # Arrow-batched twin of the portable spec (bit-identical values; see
        # make_shingle_minhash_udf) — one Python boundary, then pure JVM
        kern = make_shingle_minhash_udf(n, num_hashes).asNondeterministic()
        ks = (
            fan_out(df)
            .select(F.col(id_col), kern(F.col(text_col)).alias("_k"))
            .select(id_col, F.col("_k.hashes").alias("hashes"), F.col("_k.sig").alias("sig"))
            .cache()
        )
        register_cache(ks)
    else:
        ks = (
            shingle_sets(fan_out(df), text_col=text_col, id_col=id_col, n=n, hash_mode=hash_mode)
            .select(id_col, F.array_distinct("hashes").alias("hashes"))
            .withColumn("sig", minhash_signature(F.col("hashes"), num_hashes))
            .cache()
        )
        register_cache(ks)
    band_entries = ks.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "-", *[F.element_at("sig", b * rows + r + 1) for r in range(rows)]
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.key")

    if max_bucket_size is not None:
        # hot-bucket cap: a band key shared by B docs yields B^2/2 candidate
        # pairs — on shared-vocabulary corpora one degenerate bucket dominates
        # the whole join (observed: one 313-doc bucket = 49k of 143k
        # candidates at 5k docs). True near-dups collide in nearly every
        # band, so skipping oversized buckets costs ~no recall while bounding
        # the worst case (essential at scale: bucket joins must never go
        # quadratic in corpus size). Deterministic, so oracle-mirrorable.
        sizes = band_entries.groupBy("band", "key").agg(F.count(F.lit(1)).alias("_bn"))
        band_entries = band_entries.join(
            sizes.filter(F.col("_bn") <= max_bucket_size).select("band", "key"),
            ["band", "key"],
        )
    left = band_entries.select(F.col(id_col).alias("id_a"), "band", "key")
    right = band_entries.select(F.col(id_col).alias("id_b"), "band", "key")
    candidates = (
        left.join(right, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    ksa = ks.select(
        F.col(id_col).alias("id_a"), F.col("sig").alias("_siga"), F.col("hashes").alias("_sa")
    )
    ksb = ks.select(
        F.col(id_col).alias("id_b"), F.col("sig").alias("_sigb"), F.col("hashes").alias("_sb")
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("_siga"), F.col("_sigb"), lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        ).cast("double")
        / F.lit(float(num_hashes))
    )
    verified = (
        candidates.join(ksa, "id_a")
        .join(ksb, "id_b")
        .withColumn("_est", est)
        .filter(F.col("_est") >= sig_prefilter)
        .withColumn("jac", jaccard(F.col("_sa"), F.col("_sb")))
        .filter(F.col("jac") >= threshold)
        .select("id_a", "id_b", F.round("jac", 6).alias("jac"))
    )
    if cache_result:
        # the pair set is the dedup RESULT — bounded by duplicate density,
        # tiny next to the corpus, and consumed repeatedly downstream
        # (components solve, stats, keep/drop join). Released by
        # cache_scope; pass cache_result=False to stream it once.
        verified = register_cache(verified.cache())
    return verified


def dedup_components(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    max_iterations: int = 20,
    local_threshold: int = 2_000_000,
    checkpoint_interval: int = 5,
) -> DataFrame:
    """Resolve near-dup pairs into keep/drop decisions per document.

    ``pairs`` (id_a, id_b) are undirected near-dup edges (e.g. from
    dedup_minhash_lsh); connected components are labeled by their minimum
    member id and exactly one document per component (the minimum) is kept.
    Output: (id_col, component, keep) for EVERY document — isolated docs are
    their own component.

    Plan: the edge set of a near-dup graph is tiny relative to the corpus
    (it is the DUPLICATED fraction, already bucket-capped upstream), so the
    component solve is hybrid, like Spark's own broadcast-join threshold:

    - ``|edges| <= local_threshold``: collect the edge list (two longs per
      edge — the threshold default bounds this at ~32 MB), run union-find
      on the driver in O(E α(E)), and ship the (vertex → min-id component)
      map back as a join table. One collect, zero iterative jobs.
    - otherwise: Pregel-style min-label propagation — per iteration one
      join (labels into edges) + one groupBy-min (partial agg map-side),
      both keyed on ids, so each round is a bounded pair of shuffles on the
      EDGE set only, never the corpus. Converges in diameter(component)
      rounds; near-dup clusters are shallow (pairwise-similar docs
      interlink), so 3-4 rounds typical. The driver loop only checks a
      scalar convergence count per round. Lineage is truncated with an
      eager localCheckpoint every round; if the session has a RELIABLE
      checkpoint dir configured (``sc.setCheckpointDir``), every
      ``checkpoint_interval``-th round writes a reliable checkpoint
      instead, so a very deep graph on a real cluster survives executor
      loss (localCheckpoint blocks die with their executor).

    In both paths the loop/solve state is restricted to EDGE ENDPOINTS
    (isolated docs — the overwhelming majority of a lightly-duplicated
    corpus — never enter; they are attached by one final left join), so at
    scale the working set is O(near-dup docs), not O(corpus). Both paths
    are deterministic with identical output (component = min member id),
    so the DuckDB oracle (recursive-CTE transitive closure) matches
    exactly.
    """
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().cache()
    register_cache(sym)
    id_type = pairs.schema["id_a"].dataType
    n_edges = sym.count() // 2
    if n_edges <= local_threshold:
        # collect the (cached) symmetric set — both directions is 2x the
        # bytes but zero recompute; union-find is direction-insensitive
        local = [(r[0], r[1]) for r in sym.collect()]
        sym.unpersist()
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        verts = set()
        for a, b in local:
            verts.add(a)
            verts.add(b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        comp_min: dict = {}
        for v in verts:
            r = find(v)
            comp_min[r] = min(comp_min.get(r, v), v)
        label_rows = [(v, comp_min[find(v)]) for v in sorted(verts)]
        labels = pairs.sparkSession.createDataFrame(
            label_rows,
            T.StructType(
                [T.StructField("v", id_type), T.StructField("component", id_type)]
            ),
        )
        return _attach_isolated(docs, labels, id_col)
    # localCheckpoint (eager) instead of cache: truncates lineage each round
    # so the plan stays O(1) across iterations (cached-only loops nest the
    # full prior lineage inside every InMemoryRelation — harmless to run,
    # hostile to debugging and to any non-cached recompute path)
    labels = (
        sym.select(F.col("src").alias("v"))  # sym is symmetric: src covers all endpoints
        .distinct()
        .withColumn("component", F.col("v"))
        .localCheckpoint()
    )
    # convergence probe: labels only ever DECREASE (min-propagation), so the
    # exact integer sum of components strictly decreases until fixpoint —
    # one single-stage scan per round (agg_row) instead of a
    # labels-vs-labels join+count
    prev_sum = agg_row(labels, s=F.sum("component"))["s"]
    reliable_dir = docs.sparkSession.sparkContext.getCheckpointDir()
    for rnd in range(1, max_iterations + 1):
        msgs = (
            sym.join(labels, sym.src == labels.v)
            .groupBy("dst")
            .agg(F.min("component").alias("_nbr_min"))
        )
        labels = labels.join(msgs, labels.v == msgs.dst, "left").select(
            "v",
            F.least(
                F.col("component"), F.coalesce("_nbr_min", F.col("component"))
            ).alias("component"),
        )
        if reliable_dir and checkpoint_interval and rnd % checkpoint_interval == 0:
            labels = labels.checkpoint()
        else:
            labels = labels.localCheckpoint()
        cur_sum = agg_row(labels, s=F.sum("component"))["s"]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    sym.unpersist()
    return _attach_isolated(docs, labels, id_col)


def _attach_isolated(docs: DataFrame, labels: DataFrame, id_col: str) -> DataFrame:
    """(id, component, keep) for every doc: labeled endpoints from ``labels``
    (v, component), isolated docs as their own component. The endpoint label
    table is tiny relative to the corpus — AQE turns this into a broadcast
    join at runtime (not forced: a pathologically duplicate-heavy corpus
    could have a non-broadcastable endpoint set)."""
    comp = F.coalesce("component", F.col(id_col))
    return (
        docs.select(id_col)
        .distinct()
        .join(labels.withColumnRenamed("v", id_col), id_col, "left")
        .select(
            id_col,
            comp.alias("component"),
            (F.col(id_col) == comp).alias("keep"),
        )
    )


def make_simhash_udf(bits: int = 32):
    """Arrow-batched SimHash kernel — bit-identical to the expression spec
    (same char fold mod P, same +/-1 bit votes), entirely doc-local: no
    token explode, NO shuffle at all. Token hashes are memoized per batch
    (Zipfian vocab: a few k unique tokens hash once each).

    Tokenization mirrors ``functions.text.tokens`` exactly: Java's ASCII
    ``\\s`` class, empties dropped. The kernel takes ALREADY-LOWERCASED
    text (the caller lowercases JVM-side with ``F.lower``) so no Python
    case mapping ever runs — Python and Java Unicode lower() diverge on a
    handful of code points, and routing the fold through the JVM makes
    kernel and expression paths identical by construction on any input.
    """
    import re

    ws = re.compile("[ \\t\\n\\x0b\\f\\r]+")
    shifts = np.arange(bits, dtype=np.int64)
    weights = (np.int64(1) << shifts)

    @F.pandas_udf("long")
    def kernel(texts: pd.Series) -> pd.Series:
        memo: dict[str, int] = {}

        def th(tok: str) -> int:
            v = memo.get(tok)
            if v is None:
                v = 0
                for ch in tok:
                    v = (v * HASH_BASE + ord(ch)) % HASH_P
                memo[tok] = v
            return v

        # None for token-less docs: the expression plan's explode emits no
        # row for them, so the kernel path filters these out to match
        out: list[int | None] = []
        for t in texts:
            toks = [w for w in ws.split(t) if w] if t else []
            if not toks:
                out.append(None)
                continue
            hs = np.fromiter((th(w) for w in toks), dtype=np.int64, count=len(toks))
            bitmat = (hs[:, None] >> shifts[None, :]) & 1
            votes = (2 * bitmat - 1).sum(axis=0)
            out.append(int(weights[votes > 0].sum()))
        return pd.Series(out, dtype="Int64")

    return kernel


def simhash(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    mode: str = "expr",
) -> DataFrame:
    """Per-document SimHash (token-hash bit voting). Output: (id, simhash).

    mode='expr': explode->groupBy expression plan (scale-safe: partial
    aggregation of the per-bit vote sums map-side; one shuffle on doc id).
    mode='kernel': Arrow-batched doc-local kernel — same integers, zero
    shuffle (test_pipeline_ops::test_simhash_kernel_matches_expr).
    """
    if mode == "kernel":
        k = make_simhash_udf(bits).asNondeterministic()
        # lowercase JVM-side: the kernel must see the same case fold as the
        # expression plan's tokens() (Python lower() is not that fold)
        return (
            fan_out(df)
            .select(F.col(id_col), k(F.lower(F.col(text_col))).alias("simhash"))
            .filter(F.col("simhash").isNotNull())
        )
    tok = fan_out(df).select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
    h = F.aggregate(
        F.split(F.col("tok"), ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * HASH_BASE + F.ascii(c)) % HASH_P,
    )
    tok = tok.withColumn("_h", h)
    votes = tok.groupBy(id_col).agg(
        *[
            F.sum(
                (F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
            ).alias(f"_b{i}")
            for i in range(bits)
        ]
    )
    sim = None
    for i in range(bits):
        bit = F.when(F.col(f"_b{i}") > 0, F.lit(2**i).cast("long")).otherwise(F.lit(0).cast("long"))
        sim = bit if sim is None else sim + bit
    return votes.select(F.col(id_col), sim.alias("simhash"))


def simhash_near_dups(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance <= max_hamming.

    Pairwise comparison here (oracle-grade); at scale, block on byte chunks
    (pigeonhole: hamming<=k implies an identical chunk among k+1 chunks).
    Output: (id_a, id_b, hamming).
    """
    s = simhash(df, text_col=text_col, id_col=id_col, bits=bits)
    a = s.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("_ha"))
    b = s.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("_hb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    xor = F.col("_ha").bitwiseXOR(F.col("_hb"))
    ham = F.bit_count(xor)
    return (
        pairs.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def dedup_incremental(
    new_batch: DataFrame,
    corpus: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental ingestion dedup: admit only new-batch documents whose
    content fingerprint is absent from the existing corpus AND unique
    within the batch (min-id survivor, as dedup_exact).

    Output: (id_col, fingerprint) of admitted rows. The continuous-ingest
    twin of ``dedup_exact`` — a pipeline appending to a 100 TB corpus never
    re-deduplicates the whole corpus; it anti-joins the day's batch against
    the corpus fingerprint index.

    Scale design: the corpus side reduces to its DISTINCT fingerprint set
    (a long per unique doc — in production a persisted/bucketed index, not
    a rescan); the batch dedup is one shuffle on the fingerprint; the
    anti join shuffles only fingerprints. Raw text never shuffles.
    """
    fp = char_hash(F.col(text_col))
    batch_best = (
        new_batch.select(F.col(id_col), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col))
    )
    corpus_fps = corpus.select(fp.alias("fingerprint")).distinct()
    return batch_best.join(corpus_fps, "fingerprint", "left_anti").select(
        id_col, "fingerprint"
    )


def dedup_embedding(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.65,
    planes: int = 4,
    tables: int = 8,
    dim: int = 64,
    strategy: str = "lsh",
    max_bucket_size: int | None = None,
    verify: str = "kernel",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos_dist) with
    cos_dist <= ``threshold`` and id_a < id_b — the semantic-dedup member of
    the dedup family (exact / jaccard / minhash-LSH / simhash / embedding).

    ``verify``: 'kernel' (default) scores candidates through the
    Arrow-batched cosine kernel (functions/distance.py::
    cosine_distance_kernel — bit-identical to the SQL fold, ~10x faster on
    the millions-of-candidates verification stage, which dominates this
    operator's cost); 'expr' keeps the pure-declarative fold (the oracle's
    literal mirror).

    strategy='lsh' (scale path): candidates = pairs sharing a hyperplane-LSH
    bucket in ANY of ``tables`` tables (same deterministic hash-derived
    planes as ann_lsh_topk), exact cosine verification on candidates only —
    shuffles (table, bucket, id) entries, never the N^2 cross product.
    Feed the pairs to ``dedup_components`` for keep/drop survivor sets.
    strategy='brute': all-pairs verification (oracle-grade, quadratic — the
    recall yardstick, not a scale path).

    ``max_bucket_size`` (skew defense, measured in tests/test_skew_stress):
    a hot bucket — a big cluster of near-identical embeddings hashing
    together — contributes O(bucket^2) candidate pairs. The cap keeps the
    ``max_bucket_size`` LOWEST ids per (table, bucket) for the quadratic
    self-join and additionally emits one STAR candidate (bucket_min_id,
    member) for every truncated member — O(bucket) linear, so a B-doc
    bucket costs C(cap,2) + B candidates instead of B^2/2, and every member
    still verifies against the hub: a genuine near-dup mega-cluster stays
    ONE connected component through dedup_components (pinned in tests;
    plain truncation left truncated members edge-less and shattered the
    cluster into ~90 pieces). Deterministic, so an oracle can mirror it.

    Both engines fold the dot products left-to-right (distance.py ↔ the
    DuckDB list_reduce oracle), so the threshold comparison is bit-portable.
    """
    from ..functions.distance import cosine_distance
    from .similarity import _as_double, make_lsh_buckets_udf

    v = df.select(F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v"))
    va = v.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"))
    vb = v.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"))
    if strategy == "brute":
        cand = va.crossJoin(vb).filter(F.col("id_a") < F.col("id_b"))
    elif strategy == "lsh":
        bucket_udf = make_lsh_buckets_udf(planes, tables, dim)
        entries = (
            fan_out(v)
            .withColumn("_bk", bucket_udf(F.col("_v")))
            .select("_id", F.posexplode("_bk").alias("tbl", "bucket"))
        )
        star = None
        if max_bucket_size is not None:
            w = Window.partitionBy("tbl", "bucket").orderBy(F.asc("_id"))
            ranked = entries.withColumn("_bn", F.row_number().over(w))
            # linear star edges: every truncated member vs the bucket's hub
            # (min id) — keeps mega-clusters connected at O(bucket) cost
            star = (
                ranked.withColumn("_hub", F.min("_id").over(Window.partitionBy("tbl", "bucket")))
                .filter(F.col("_bn") > max_bucket_size)
                .select(F.col("_hub").alias("id_a"), F.col("_id").alias("id_b"))
            )
            entries = ranked.filter(F.col("_bn") <= max_bucket_size).drop("_bn")
        entries = entries.cache()
        register_cache(entries)
        x = entries.select(F.col("_id").alias("id_a"), "tbl", "bucket")
        y = entries.select(F.col("_id").alias("id_b"), "tbl", "bucket")
        # ids only through the bucket self-join + distinct; vectors re-join
        # after (array shuffle keys are the §4 hazard)
        pairs = (
            x.join(y, ["tbl", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        if star is not None:
            pairs = pairs.unionByName(star)
        pairs = pairs.distinct()
        cand = pairs.join(va, "id_a").join(vb, "id_b")
    else:
        raise ValueError(f"unknown strategy {strategy!r}")
    if verify == "kernel":
        from ..functions.distance import cosine_distance_kernel

        dist_fn = cosine_distance_kernel()
    elif verify == "expr":
        dist_fn = cosine_distance
    else:
        raise ValueError(f"unknown verify {verify!r}")
    scored = cand.withColumn("_d", dist_fn(F.col("_va"), F.col("_vb")))
    return (
        scored.filter(F.col("_d") <= threshold)
        .select("id_a", "id_b", F.round("_d", 6).alias("cos_dist"))
    )


def set_similarity_join(
    docs: DataFrame,
    *,
    threshold: float = 0.5,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT-threshold set-similarity self-join via prefix filtering — the
    AllPairs / PPJoin family (Bayardo et al. 2007 "Scaling Up All Pairs
    Similarity Search"; Xiao et al. 2008). Finds every pair with
    ``jaccard(shingles_a, shingles_b) >= threshold`` — the SAME output
    contract as ``dedup_pairwise_jaccard`` (q17's quadratic oracle path)
    and a LOSSLESS complement to ``dedup_minhash_lsh`` (which is
    probabilistic): prefix filtering has a proof, not a recall curve.

    Why it prunes: order every set by a global canonical order (document
    frequency ASC, token ASC — rarest first) and keep only the first
    ``|d| - ceil(t*|d|) + 1`` tokens as the PREFIX. Two sets with
    jaccard >= t must overlap in >= ceil(t*max(|a|,|b|)) tokens, so they
    must share at least one PREFIX token — candidates are exactly the
    pairs sharing a prefix token, plus the standard size filter
    (t*|a| <= |b| <= |a|/t); everything else is pruned with zero loss.
    Survivors get one exact-jaccard verification.

    Output: (id_a, id_b, jac) with id_a < id_b, jac rounded to 6 — equal
    row-for-row to the brute-force quadratic (test-pinned at several
    thresholds, and q106's SQL oracle mirrors the same algorithm).

    Scale shape (100 TB): the quadratic pass is GONE — shuffles are the
    token-frequency groupBy (map-side partial), one per-doc regroup to
    sort, and the candidate self-join keyed on PREFIX tokens only. The
    rare-first canonical order is the skew mitigation: each doc's prefix
    holds its RAREST tokens, so join buckets are small by construction
    (a token of corpus frequency f contributes at most C(f,2) candidate
    pairs, and high-f tokens sort out of most prefixes). Lowering the
    threshold widens prefixes — cost degrades smoothly toward quadratic
    as t -> 0, which is inherent to the exactness guarantee.
    """
    sh = shingle_sets(fan_out(docs), text_col=text_col, id_col=id_col, n=n)
    sh = sh.select(F.col(id_col).alias("_id"), F.col("shingles").alias("_set"))
    toks = sh.select("_id", F.explode("_set").alias("_tok"))
    freq = toks.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    ordered = (
        toks.join(freq, "_tok")
        .groupBy("_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_df", "_tok"))),
                lambda s: s["_tok"],
            ).alias("_sorted")
        )
    )
    sz = F.size("_sorted")
    # prefix length |d| - ceil(t*|d|) + 1. The 1e-9 slack inside the ceil
    # keeps the filter ADMISSIBLE under float rounding: sz*t computed in
    # doubles can land just ABOVE the exact integer (e.g. 100*0.07 ->
    # 7.000000000000001, ceil -> 8), shortening the prefix and silently
    # dropping a true boundary pair — longer prefixes only widen the
    # candidate set, the exact verify still decides membership
    plen = (
        sz
        - F.ceil(sz.cast("double") * F.lit(float(threshold)) - F.lit(1e-9)).cast("int")
        + 1
    )
    pref = ordered.select(
        "_id",
        sz.alias("_sz"),
        F.explode(F.slice("_sorted", 1, plen)).alias("_tok"),
    )
    t = float(threshold)
    cand = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a._tok") == F.col("b._tok"))
            & (F.col("a._id") < F.col("b._id"))
            # size filter: jac >= t forces t*|a| <= |b| <= |a|/t. The 1e-9
            # slack keeps the filter ADMISSIBLE under float rounding of
            # t*|size| at integer boundaries — candidates only widen, the
            # exact verify still decides membership
            & (
                F.col("b._sz").cast("double")
                >= F.col("a._sz").cast("double") * t - F.lit(1e-9)
            )
            & (
                F.col("b._sz").cast("double") * t
                <= F.col("a._sz").cast("double") + F.lit(1e-9)
            ),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    sa = sh.select(F.col("_id").alias("id_a"), F.col("_set").alias("_sa"))
    sb = sh.select(F.col("_id").alias("id_b"), F.col("_set").alias("_sb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jac", jaccard(F.col("_sa"), F.col("_sb")))
        .filter(F.col("jac") >= threshold)
        .select("id_a", "id_b", F.round("jac", 6).alias("jac"))
    )
