"""Distributed byte-pair-encoding tokenizer training + application (engine
extension beyond the reference surface — BASELINE.json north-star:
"token counting (whitespace + a BPE-ish regex)" as a first-class
training-data-pipeline operator; the reference ``Team11-Project.py`` has no
text surface at all, its closest analogue is the split/clean ingest at
Team11-Project.py:64-76 which q07 already covers).

BPE (Sennrich et al. 2016, "Neural Machine Translation of Rare Words with
Subword Units") learns a merge table by repeatedly fusing the most frequent
adjacent symbol pair. The spec here is EXACT and engine-portable, so both
training and encoding carry full DuckDB oracles (q102/q103 — the training
oracle is a recursive CTE with aggregation in the recursive term, the same
family as q70's DTW dynamic program):

- words   = ``tokens(text)`` (whitespace tokenization, lowercased)
- state 0 = each distinct word split into characters, weighted by corpus
  frequency
- step s  = count adjacent symbol pairs over the weighted vocabulary; the
  winning pair maximizes (count, then a ASC, then b ASC as tie-breaks —
  a total order, so every engine picks the same merge); fuse it into one
  symbol everywhere via a greedy LEFT-TO-RIGHT single pass (``aaa`` under
  merge (a,a) -> ``aa a``, like the published reference implementation)
- stop    after ``num_merges`` steps or when no adjacent pair remains.

Scale shape (100 TB): training never iterates over the corpus — one corpus
pass builds the (word, freq) vocabulary (map-side partial count, vocabulary
is ~sqrt of token count by Zipf), and every merge step runs on that
VOCAB-sized table: pair fan-out explode, one map-side-partial groupBy, and
a 1-ROW driver collect (the argmax — bounded by construction; the
collect-audit in plans/audit.py sees exactly one row per step). Encoding is
the same trick: encode the DISTINCT words once (vocab-sized, merge
application is a chain of codegen'd fold expressions — no Python in the
loop), then broadcast-join the encoded vocabulary back onto the corpus
token stream. The only corpus-sized operations in the whole pipeline are
the initial word count and the final per-doc regroup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import char_hash, tokens
from ..plans.eager import agg_row
from .skew import fan_out

__all__ = ["train_bpe", "bpe_encode", "apply_merge"]


def apply_merge(syms: Column, a: str, b: str) -> Column:
    """One greedy left-to-right merge pass: every non-overlapping adjacent
    (a, b) in ``syms`` (array<string>) fuses into ``a || b``.

    A fold whose accumulator is the output array: merge when the last
    emitted symbol is ``a`` and the current one is ``b``. Overlap safety
    falls out of the algebra — after fusing, the last element is ``a||b``
    which can never equal ``a`` again (``b`` is non-empty), so ``aaa``
    under (a,a) correctly yields [aa, a], matching the published BPE
    reference behavior. Pure Catalyst expression: the merge loop stays
    inside whole-stage codegen, no Python crossing.
    """
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Weighted adjacent-pair counts over the (word, freq, syms) vocabulary."""
    return (
        vocab.select(
            "_freq",
            F.explode(
                F.when(
                    F.size("_syms") >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size("_syms") - 1),
                        lambda i: F.struct(
                            F.element_at("_syms", i).alias("a"),
                            F.element_at("_syms", i + 1).alias("b"),
                        ),
                    ),
                ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
            ).alias("_p"),
        )
        .groupBy("_p.a", "_p.b")
        .agg(F.sum("_freq").alias("_c"))
    )


def _train_local(
    freq: dict[str, int], num_merges: int
) -> list[tuple[int, str, str, int]]:
    """Driver-side merge loop over an already-aggregated (word -> freq)
    vocabulary. Bit-identical semantics to the distributed loop (same
    greedy left-to-right pass, same (count DESC, a ASC, b ASC) argmax) —
    pinned by tests/test_bpe_lm_spans.py::test_train_strategies_agree."""
    vocab = {w: list(w) for w in freq}
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, num_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in vocab.items():
            fw = freq[w]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + fw
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, a, b, c))
        for w, syms in vocab.items():
            vocab[w] = _greedy_pass(syms, a, b)
    return merges


def _greedy_pass(syms: list[str], a: str, b: str) -> list[str]:
    """One greedy left-to-right merge pass — the driver-side twin of
    ``apply_merge``'s fold (same overlap algebra: after fusing, the last
    emitted symbol is ``a+b`` which can never equal ``a`` again)."""
    out: list[str] = []
    for s in syms:
        if out and out[-1] == a and s == b:
            out[-1] = a + b
        else:
            out.append(s)
    return out


def _disjoint_prefix(
    cands: list[tuple[str, str, int]], want: int, stop_floor: int
) -> list[tuple[str, str, int]]:
    """The one-scan batching rule (r9, VERDICT r8 #6): from candidates in
    (count DESC, a ASC, b ASC) order with EXACT sequential counts, keep
    the longest prefix that provably equals sequential greedy BPE.

    - candidates batch while SYMBOL-DISJOINT from every earlier batched
      merge's {x, y, xy} (disjointness => their counts are untouched);
    - the batch stops at the first SHARING candidate (count c_s) and
      keeps only the strict prefix with count > max(c_s, ``stop_floor``)
      — candidate 1 is exempt (it is the literal argmax). Soundness: a
      merge x y -> xy can only CREATE pairs containing xy, each new
      pair's count bounded by an original pair adjacent-sharing x or y —
      every such pair ranks at or below the stop bound, so new pairs can
      never reach a batched candidate's strictly-greater count, ties
      included; old pairs only ever lose occurrences. ``stop_floor``
      carries the caller's bound on every pair NOT in ``cands``
      (truncation bound, possibly raised by untracked gains).
    """
    batch: list[tuple[str, str, int]] = []
    touched: set[str] = set()
    stop_c = stop_floor
    for a, b, c in cands:
        if len(batch) >= want:
            break
        if batch and (a in touched or b in touched or (a + b) in touched):
            stop_c = max(stop_c, c)
            break
        batch.append((a, b, c))
        touched.update((a, b, a + b))
    while len(batch) > 1 and batch[-1][2] <= stop_c:
        batch.pop()
    return batch


def _covered_replay(
    pair_table: dict[tuple[str, str], int],
    trunc_c: int,
    sub: list[tuple[list[str], int]] | None,
    want: int,
) -> list[tuple[str, str, int]]:
    """Choose the longest provably-exact merge sequence from ONE scan
    (the r9 covered-replay superstep).

    ``pair_table`` holds exact global weighted counts for every pair
    strictly above the truncation bound ``trunc_c`` (-1 = full table);
    ``sub`` is the byte-capped affected sub-vocabulary (``(syms, freq)``
    rows; None when the guard refused the collect). The driver replays
    sequential greedy BPE exactly:

    - the live argmax comes from ``pair_table`` under the global
      (count DESC, a ASC, b ASC) order (lazy-deletion heap);
    - a pair is COVERED when its table count equals its weighted count
      inside ``sub``: frequencies are positive integers, so equality
      proves every occurrence lives in collected words, and the merge's
      full effect on ALL pair counts is computable from ``sub`` alone
      (created adjacencies always involve the merged symbol, which can
      only appear in words that contained the covered pair);
    - covered argmaxes apply to ``sub`` word-by-word via the same greedy
      left-to-right pass as the engine expression, and the exact deltas
      update table, sub counts and the word index in lockstep. A
      positive delta to a pair MISSING from a truncated table (the
      merged-symbol string can collide with a pre-existing symbol, so
      the pair may be a sub-bound pre-existing one) raises a running
      upper bound ``trunc_c + inc`` that later argmaxes must strictly
      beat — candidate 1 is exempt (at zero applied deltas the collected
      order IS the global order, so bound ties resolve to it);
    - the first UNCOVERED argmax ends the replay: its count is still
      exact, so it seeds a ``_disjoint_prefix`` tail over the live table.

    Returns ``[(a, b, count), ...]`` — sequential merges with their true
    sequential counts (replayed counts from the live table; tail counts
    untouched by disjointness). Merge-for-merge identity with the driver
    loop is pinned by the strategy-agreement, deep-merge and golden-fuzz
    suites.
    """
    import heapq

    heap = [(-c, a, b) for (a, b), c in pair_table.items()]
    heapq.heapify(heap)
    words: list[list] = [[list(syms), int(fw)] for syms, fw in (sub or [])]
    cnt_sub: dict[tuple[str, str], int] = {}
    index: dict[tuple[str, str], set[int]] = {}
    for i, (syms, fw) in enumerate(words):
        for j in range(len(syms) - 1):
            p = (syms[j], syms[j + 1])
            cnt_sub[p] = cnt_sub.get(p, 0) + fw
            index.setdefault(p, set()).add(i)
    batch: list[tuple[str, str, int]] = []
    untracked_inc: dict[tuple[str, str], int] = {}
    untracked_ub = trunc_c
    while len(batch) < want:
        while heap and pair_table.get((heap[0][1], heap[0][2]), 0) != -heap[0][0]:
            heapq.heappop(heap)
        if not heap:
            break
        c, a, b = -heap[0][0], heap[0][1], heap[0][2]
        if c < 1:
            break
        if batch and untracked_ub >= 0 and c <= untracked_ub:
            break  # an uncollected pair could now outrank the live table
        if cnt_sub.get((a, b), 0) != c:
            # exact argmax, but occurrences live outside ``sub`` — close
            # the superstep with the one-scan disjoint-prefix batch
            live = sorted(
                ((x, y, k) for (x, y), k in pair_table.items() if k >= 1),
                key=lambda t: (-t[2], t[0], t[1]),
            )
            batch.extend(
                _disjoint_prefix(live, want - len(batch), max(untracked_ub, -1))
            )
            break
        batch.append((a, b, c))
        for i in sorted(index.get((a, b), ())):
            syms, fw = words[i]
            out = _greedy_pass(syms, a, b)
            deltas: dict[tuple[str, str], int] = {}
            for j in range(len(syms) - 1):
                p = (syms[j], syms[j + 1])
                deltas[p] = deltas.get(p, 0) - fw
            for j in range(len(out) - 1):
                p = (out[j], out[j + 1])
                deltas[p] = deltas.get(p, 0) + fw
            for p, d in deltas.items():
                if d == 0:
                    continue
                nv = cnt_sub.get(p, 0) + d
                if nv:
                    cnt_sub[p] = nv
                else:
                    cnt_sub.pop(p, None)
                if p in pair_table:
                    pair_table[p] += d
                    heapq.heappush(heap, (-pair_table[p], p[0], p[1]))
                elif d > 0:
                    if trunc_c < 0:
                        # full table: an absent pair has global count 0,
                        # so the delta IS its exact count
                        pair_table[p] = d
                        heapq.heappush(heap, (-d, p[0], p[1]))
                    else:
                        inc = untracked_inc.get(p, 0) + d
                        untracked_inc[p] = inc
                        untracked_ub = max(untracked_ub, trunc_c + inc)
            old_pairs = set(zip(syms, syms[1:]))
            new_pairs = set(zip(out, out[1:]))
            for p in old_pairs - new_pairs:
                s = index.get(p)
                if s:
                    s.discard(i)
            for p in new_pairs - old_pairs:
                index.setdefault(p, set()).add(i)
            words[i][0] = out
    return batch


def _encode_words_kernel(words: DataFrame, pairs: list[tuple[str, str]]) -> DataFrame:
    """Arrow-kernel word encoder: (_w) -> (_w, _syms) applying the merge
    list step-by-step per word. Semantics identical to the apply_merge
    fold chain (each merge is one greedy left-to-right pass in LIST
    order) — equivalence with the expr path is test-pinned. Runs over the
    vocab-sized distinct-words table, so the Python crossing is tiny
    relative to the corpus."""

    rank = {p: i for i, p in enumerate(pairs)}
    # rank-priority is equivalent to the sequential fold chain ONLY for
    # WELL-FORMED tables — every pair's parts are single characters or
    # outputs of EARLIER merges (true for any trained table). Then a merge
    # pass can only create adjacencies involving its new symbol, every
    # ranked pair containing that symbol is ranked later, so no
    # lower-rank opportunity appears after its turn and both orders reach
    # the same fixed point (test-pinned, incl. the 120-merge golden
    # sweep). An ill-formed list — e.g. [("ab","c"), ("a","b")], where
    # rank 0 consumes rank 1's OUTPUT — breaks that argument (priority
    # would fuse "abc"; the sequential contract must no-op rank 0), so
    # such lists take the sequential path.
    produced: set[str] = set()
    well_formed = True
    for a, b in pairs:
        if (len(a) > 1 and a not in produced) or (len(b) > 1 and b not in produced):
            well_formed = False
            break
        produced.add(a + b)

    def op(batches):
        import pandas as pd

        def encode_priority(w: str) -> list[str]:
            # the standard published BPE encoder shape: repeatedly fuse
            # ALL occurrences of the present pair with the lowest merge
            # rank, leftmost-greedy per pass — O(passes * len) per word,
            # INDEPENDENT of the merge-table size
            syms = list(w)
            while len(syms) > 1:
                best = None
                for i in range(len(syms) - 1):
                    r = rank.get((syms[i], syms[i + 1]))
                    if r is not None and (best is None or r < best):
                        best = r
                if best is None:
                    break
                a, b = pairs[best]
                nxt: list[str] = []
                for s in syms:
                    if nxt and nxt[-1] == a and s == b:
                        nxt[-1] = a + b
                    else:
                        nxt.append(s)
                syms = nxt
            return syms

        def encode_sequential(w: str) -> list[str]:
            syms = list(w)
            for a, b in pairs:
                # every symbol is a contiguous substring of w, so (a, b)
                # adjacency implies a+b is a substring of w — O(len) skip
                if a + b not in w:
                    continue
                nxt: list[str] = []
                for s in syms:
                    if nxt and nxt[-1] == a and s == b:
                        nxt[-1] = a + b
                    else:
                        nxt.append(s)
                syms = nxt
            return syms

        encode = encode_priority if well_formed else encode_sequential
        for pdf in batches:
            yield pd.DataFrame(
                {"_w": pdf["_w"], "_syms": [encode(w) for w in pdf["_w"]]}
            )

    return words.mapInPandas(op, schema="_w string, _syms array<string>")


def train_bpe(
    docs: DataFrame,
    *,
    num_merges: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    strategy: str = "auto",
    max_driver_vocab_bytes: int = 16 << 20,
) -> list[tuple[int, str, str, int]]:
    """Learn a BPE merge table from a document corpus.

    Returns ``[(step, a, b, weighted_count), ...]`` with step starting at 1;
    may be shorter than ``num_merges`` when the vocabulary runs out of
    adjacent pairs. Deterministic on any engine and any partitioning:
    integer weighted counts (order-independent partial aggregation) and a
    total-order argmax (count DESC, a ASC, b ASC).

    ``strategy``: the corpus-sized word count is always distributed; the
    merge loop itself runs either
    - ``"driver"`` — collect the AGGREGATED vocabulary (never the corpus)
      and loop in-process: one Spark job total. Guarded by
      ``max_driver_vocab_bytes`` against an estimate from the word-count
      table (the knn.py / similarity.py bounded-kernel pattern); or
    - ``"distributed"`` — covered-replay supersteps: per scan, collect
      the symbol-bounded pair-count table plus the byte-capped affected
      sub-vocabulary, replay as many sequential merges as those bounded
      artifacts exactly prove, and apply the proven batch in one
      distributed pass (the path for vocabularies that exceed the driver
      bound — a 100 TB web corpus vocabulary runs here); or
    - ``"auto"`` (default) — driver when the estimate fits, else
      distributed. Both paths are merge-for-merge identical (test-pinned).

    CONCURRENCY caveat (review r6): the distributed loop tunes
    ``spark.sql.shuffle.partitions`` / ``spark.sql.adaptive.enabled`` for
    its micro-queries and restores them in ``finally`` — that protects
    SEQUENTIAL callers only. Queries submitted on the same SparkSession
    from other threads while the loop runs would inherit the reduced
    settings; run concurrent workloads on a separate session
    (``spark.newSession()`` shares the cluster but isolates SQL confs).
    """
    toks = tokens(F.col(text_col))
    words = (
        fan_out(docs)
        .select(F.explode(toks).alias("_w"))
        .groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_freq"))
    ).cache()  # ONE corpus pass: the size estimate, the driver collect and
    # the distributed loop's vocab all read this materialized table
    # (review finding: uncached, the corpus explode+groupBy ran twice)
    if strategy not in ("auto", "driver", "distributed"):
        words.unpersist()
        raise ValueError(f"unknown strategy {strategy!r}")
    # the vocab size estimate serves BOTH the driver-path guard and the
    # distributed loop's parallelism sizing, so it is always computed (it
    # reads the cached word count — no extra corpus pass)
    est = agg_row(words, est=F.sum(F.length("_w")) * 8 + F.count(F.lit(1)) * 64)["est"]
    if est is None:
        words.unpersist()
        return []
    if strategy != "distributed":
        if est <= max_driver_vocab_bytes:
            freq = {r["_w"]: r["_freq"] for r in words.collect()}
            words.unpersist()
            return _train_local(freq, num_merges)
        if strategy == "driver":
            words.unpersist()
            raise ValueError(
                f"vocabulary ~{est} bytes exceeds max_driver_vocab_bytes="
                f"{max_driver_vocab_bytes}; use strategy='distributed'"
            )
    # ONE Spark job per merge step: the step-s argmax scans the (lazily
    # checkpointed, not-yet-materialized) step-(s-1) vocabulary, so the
    # merge application never needs its own eager job. Two per-step
    # constants dominated this loop in r5 (fallback ratio 14.5x, the worst
    # in BENCH_FULL) and both are fixed here:
    #
    # - GROWING LINEAGE: cache() does not truncate the logical plan, so
    #   step s re-analyzed s stacked apply_merge higher-order lambdas
    #   before the cache lookup — measured 0.26s -> 2.4s/step by merge 12.
    #   Each generation is now a LAZY localCheckpoint (the argmax scan
    #   materializes its blocks as a side effect — still one job/step, and
    #   the logical plan every later step sees is a flat LogicalRDD;
    #   superseded generations are dropped by the ContextCleaner when
    #   their last reference dies, the dedup_components pattern).
    # - FIXED 32-WAY MICRO-SHUFFLES: every merge step shuffled a
    #   vocab-sized (often tiny) table across the full default partition
    #   count, paying ~65 empty-task latencies per step. The loop now
    #   sizes its own parallelism from the vocab estimate (one 64 MiB-ish
    #   partition per slice, capped at the session default — a 100 TB web
    #   corpus vocabulary still runs wide), and when that says ONE
    #   partition it also switches AQE off for the loop's micro-queries
    #   (their plan is fixed; per-stage re-optimization was pure overhead).
    #   Session confs are restored in finally.
    spark = docs.sparkSession
    default_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    loop_parts = max(1, min(default_parts, int(est) // (64 << 20) + 1))
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    tune = loop_parts < default_parts
    merges: list[tuple[int, str, str, int]] = []
    try:
        if tune:
            spark.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
            if loop_parts == 1:
                spark.conf.set("spark.sql.adaptive.enabled", "false")
        vocab = (
            words.select("_w", "_freq", F.split("_w", "").alias("_syms"))
            .coalesce(loop_parts)
            .localCheckpoint(eager=False)
        )
        # COVERED-REPLAY supersteps (r9, VERDICT r8 #6): one vocab scan
        # used to buy exactly ONE merge (num_merges jobs; fallback ratio
        # 3.88x vs the driver loop). A superstep now collects TWO bounded
        # artifacts and lets the driver replay sequential greedy BPE
        # exactly for as many steps as the artifacts can prove:
        #
        # - the PAIR-COUNT TABLE, top-``max_pairs`` in the global argmax
        #   order. Distinct pairs are SYMBOL-bounded (<= (alphabet +
        #   merges-so-far)^2, in practice far fewer), not vocab-bounded,
        #   so the table usually collects whole even when the vocabulary
        #   itself is driver-prohibited; when it truncates, the
        #   (max_pairs+1)-th count is the exact bound every unseen pair
        #   sits at or below (and unseen counts only ever decrease);
        # - the AFFECTED SUB-VOCABULARY: words containing any top-P pair,
        #   byte-guarded against ``max_driver_vocab_bytes`` before the
        #   collect (the knn.py bounded-kernel discipline). The filter is
        #   only a word SELECTOR — exactness never depends on it: a merge
        #   replays iff its table count equals its sub count (positive
        #   frequencies make equality a proof that every occurrence was
        #   collected), and then ALL count deltas are computable locally.
        #
        # _covered_replay documents the replay algebra (created-pair
        # tracking, truncated-table upper bounds, the disjoint-prefix
        # tail when coverage breaks). Merge-for-merge identity with the
        # driver loop stays test-pinned (test_train_strategies_agree +
        # deep-merge + golden fuzz). Cost: ~3 bounded jobs per superstep,
        # and a superstep often proves the whole remaining schedule —
        # when it does, the final distributed apply is skipped entirely.
        step = 1
        first_scan = True
        max_pairs = max(num_merges + 1, min(65536, max_driver_vocab_bytes // 256))
        # one refusal by the byte guard ends the collect attempts: the
        # affected sub-vocabulary only shrinks a little per superstep, so
        # re-probing every scan would pay a wasted job each time
        attempt_sub = True
        while step <= num_merges:
            want = num_merges - step + 1
            top = (
                _pair_counts(vocab)
                .orderBy(F.desc("_c"), F.asc("a"), F.asc("b"))
                .limit(max_pairs + 1)
                .collect()
            )
            if first_scan:
                # the first argmax materialized vocab's checkpoint blocks;
                # the corpus-pass word count is no longer needed
                words.unpersist()
                first_scan = False
            if not top:
                break
            trunc_c = -1
            if len(top) > max_pairs:
                trunc_c = int(top[max_pairs]["_c"])
                top = top[:max_pairs]
            pair_table = {(r["a"], r["b"]): int(r["_c"]) for r in top}
            n_pick = min(len(top), max(64, want * 8))
            keys = [r["a"] + "\x00" + r["b"] for r in top[:n_pick]]
            wpairs = F.when(
                F.size("_syms") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("_syms") - 1),
                    lambda i: F.concat(
                        F.element_at("_syms", i),
                        F.lit("\x00"),
                        F.element_at("_syms", i + 1),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
            sub = None
            if attempt_sub:
                aff = vocab.filter(
                    F.arrays_overlap(wpairs, F.array(*[F.lit(k) for k in keys]))
                ).select("_freq", "_syms")
                fits = est <= max_driver_vocab_bytes
                if not fits:
                    # the guard job runs only when the whole-vocab estimate
                    # doesn't already prove the subset fits
                    est_sub = agg_row(
                        aff,
                        e=F.sum(
                            F.length(F.concat_ws("", "_syms"))
                            + F.size("_syms") * 16
                            + F.lit(64)
                        ),
                    )["e"]
                    fits = est_sub is not None and est_sub <= max_driver_vocab_bytes
                if fits:
                    sub = [(r["_syms"], r["_freq"]) for r in aff.collect()]
                else:
                    attempt_sub = False
            batch = _covered_replay(pair_table, trunc_c, sub, want)
            if not batch:
                break
            expr = F.col("_syms")
            for a, b, c in batch:
                merges.append((step, a, b, c))
                step += 1
                expr = apply_merge(expr, a, b)
            if step <= num_merges:
                vocab = vocab.select(
                    "_w", "_freq", expr.alias("_syms")
                ).localCheckpoint(eager=False)
    finally:
        if tune:
            spark.conf.set("spark.sql.shuffle.partitions", str(default_parts))
            spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        words.unpersist()
    return merges


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[int, str, str, int]] | list[tuple[str, str]],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    with_fingerprint: bool = True,
    mode: str = "auto",
    emit: str = "tokens",
) -> DataFrame:
    """Apply a trained merge table to every document.

    Output: one row per input document —
    ``(id_col, n_words, n_bpe_tokens, bpe_fingerprint)`` where
    ``bpe_fingerprint`` is the portable char-fold hash (functions/text.py
    spec) of the space-joined BPE token stream — the compact exact witness
    that two engines produced the same tokenization (the full token arrays
    would be corpus-sized output).

    Plan: the merge chain runs over DISTINCT words only (vocab-sized);
    the encoded vocabulary broadcast-joins back onto the corpus
    (pos-exploded token stream), and one per-doc regroup restores order.
    Token order is made total with the per-doc position, so the flatten
    is deterministic.

    ``mode``: how the per-word merge chain executes —
    - ``"expr"``: one codegen'd fold expression per merge. Exact and
      oracle-mirrorable, but the plan grows linearly with the merge
      count — fine for dozens of merges, impossible for a production
      32k-merge vocabulary.
    - ``"kernel"``: ONE Arrow-batched mapInPandas over the distinct
      words applying all merges in-process (rank-priority dict lookup,
      same greedy left-to-right pass per step) — constant plan size for
      any merge count. Equivalence with "expr" is test-pinned.
    - ``"auto"`` (default): expr up to 24 merges, kernel beyond.
    """
    pairs = [(m[-3], m[-2]) if len(m) == 4 else (m[0], m[1]) for m in merges]
    if mode not in ("auto", "expr", "kernel"):
        raise ValueError(f"unknown mode {mode!r}")
    if mode == "auto":
        mode = "expr" if len(pairs) <= 24 else "kernel"
    toks = tokens(F.col(text_col))
    t = fan_out(docs).select(F.col(id_col).alias("_doc"), toks.alias("_toks"))
    enc = t.select(F.explode("_toks").alias("_w")).distinct()
    if mode == "kernel":
        enc = _encode_words_kernel(enc, pairs)
    else:
        syms = F.split("_w", "")
        enc = enc.select("_w", syms.alias("_syms"))
        for a, b in pairs:
            enc = enc.select("_w", apply_merge(F.col("_syms"), a, b).alias("_syms"))
    seq = t.select("_doc", F.posexplode("_toks").alias("_pos", "_w"))
    joined = seq.join(F.broadcast(enc), "_w")
    grouped = joined.groupBy("_doc").agg(
        F.count(F.lit(1)).alias("_nw"),
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_syms"))),
                lambda s: s["_syms"],
            )
        ).alias("_flat"),
    )
    out = (
        docs.select(F.col(id_col).alias("_doc"))
        .join(grouped, "_doc", "left")
        .select(
            F.col("_doc").alias(id_col),
            F.coalesce(F.col("_nw"), F.lit(0)).cast("int").alias("n_words"),
            F.coalesce(F.size("_flat"), F.lit(0)).cast("int").alias("n_bpe_tokens"),
            F.coalesce(F.col("_flat"), F.array().cast("array<string>")).alias("_flat"),
        )
    )
    if emit == "ids":
        # token -> integer id, the sequence a training pipeline actually
        # consumes. Deterministic id space needing NO vocabulary table:
        # single characters keep their Unicode codepoint; merged tokens
        # get 0x110000 + rank (past the Unicode range, so the two spaces
        # can never collide). Merged symbols are the ONLY multi-char
        # symbols bpe_encode can produce, so the map lookup is total. The
        # map literal is merge-table-sized — fine for graded/typical
        # tables; a 32k-merge production vocabulary should switch to an
        # explode + broadcast-join id assignment (same ids).
        # first-wins on duplicate outputs: two different merges CAN
        # produce the same string (("a","bc") and ("ab","c")); the id of
        # a token is its EARLIEST rank, and Spark's create_map would
        # error on duplicate keys under ANSI
        first: dict[str, int] = {}
        for rank, (a, bch) in enumerate(pairs):
            first.setdefault(a + bch, 0x110000 + rank)
        entries: list = []
        for tok, tid in first.items():
            entries.append(F.lit(tok))
            entries.append(F.lit(tid))
        id_map = F.create_map(*entries) if entries else None
        tok_id = lambda s: F.when(  # noqa: E731
            F.length(s) == 1, F.ascii(s)
        ).otherwise(
            F.element_at(id_map, s) if id_map is not None else F.lit(None)
        )
        ids = F.transform(F.col("_flat"), tok_id)
        return out.select(
            id_col,
            "n_words",
            "n_bpe_tokens",
            F.aggregate(
                ids,
                F.lit(0).cast("long"),
                lambda h, i: (h * 31 + i.cast("long")) % 1_000_000_007,
            ).alias("ids_checksum"),
            ids.alias("bpe_ids"),
        )
    if emit != "tokens":
        raise ValueError(f"unknown emit {emit!r}")
    if not with_fingerprint:
        return out.select(id_col, "n_words", "n_bpe_tokens", F.col("_flat").alias("bpe_tokens"))
    return out.select(
        id_col,
        "n_words",
        "n_bpe_tokens",
        char_hash(F.concat_ws(" ", F.col("_flat"))).alias("bpe_fingerprint"),
    )
