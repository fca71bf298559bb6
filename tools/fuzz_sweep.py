#!/usr/bin/env python3
"""Randomized cross-engine fuzz sweeps (the harness that caught the r3
infeasible-band sentinel leak).

Each sweep generates random instances and compares an engine operator
against an independent reference implementation:

- dtw: batch kernels (numpy or compiled-C route, whichever is active) vs
  the per-pair DP references, exact equality incl. inf rows, across random
  (n, m, bs, band, radius).
- asof: operators.asof_join vs DuckDB ASOF JOIN, both directions, coarse
  timestamp grids forcing heavy ties.
- interval: operators.interval_join (bucketized rewrite) vs the plain
  theta join, across bucket widths.
- components: operators.dedup.dedup_components (driver union-find AND
  distributed Pregel paths) vs a Python union-find on random graphs.
- point: the KNN scoring core (operators/knn.py::_score_block_rows,
  Gram-filtered for the euclidean kinds) vs an all-pairs left fold + first_k,
  bit-for-bit, across random shapes, scales and tie regimes.
- grid: knn_join(strategy='chunked') with the block grid forced to every
  (bq, bc) in {1, 2, 3}^2, for euclidean, manhattan, banded dtw and lcss,
  exclude_zero on and off, vs an all-pairs numpy reference, bit-for-bit.

Usage: python tools/fuzz_sweep.py [dtw|asof|interval|components|jpeg|bpe|
       bm25|classify|sax|shape|edit|lof|conformal|point|grid|all]
       [--trials N] [--seed S]

Exit code 0 = no discrepancies. Slow by design (minutes at the default
trial counts) — the fast seeded subset runs in the test suite
(tests/test_kernel_properties.py::test_dtw_batch_seeded_shape_sweep).
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def sweep_dtw(trials: int, seed: int) -> int:
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions.dtw_kernel import (
        dtw_batch,
        dtw_pair,
        fastdtw_batch,
        fastdtw_pair,
    )

    rng = np.random.default_rng(seed)
    fails = 0
    for trial in range(trials):
        n = int(rng.integers(2, 120))
        m = int(rng.integers(2, 120))
        bs = int(rng.integers(1, 24))
        kind = trial % 3
        if kind == 0:
            A = rng.normal(size=(bs, n))
            B = rng.normal(size=(bs, m))
        elif kind == 1:
            A = np.cumsum(rng.normal(size=(bs, n)), axis=1)
            B = np.cumsum(rng.normal(size=(bs, m)), axis=1)
        else:  # heavy ties
            A = rng.integers(0, 4, size=(bs, n)).astype(float)
            B = rng.integers(0, 4, size=(bs, m)).astype(float)
        if trial % 5 == 4:  # multivariate leg: (length, channels) points
            ch = int(rng.integers(2, 5))
            A = np.stack([A] + [A * 0.5 + rng.normal(size=A.shape) for _ in range(ch - 1)], axis=2)
            B = np.stack([B] + [B * 0.5 + rng.normal(size=B.shape) for _ in range(ch - 1)], axis=2)
        band = [None, 0, 1, 3, 7, 1000][trial % 6]
        got = dtw_batch(A, B, band=band)
        ref = np.array([dtw_pair(a, b, band=band) for a, b in zip(A, B)])
        if A.ndim == 3:
            # multivariate runs the numpy prefix-scan (no C route): the scan
            # reassociates floats, so near-equality, not bit-equality
            with np.errstate(invalid="ignore"):
                ok = np.allclose(got, ref, rtol=1e-9, atol=1e-9, equal_nan=True)
        else:
            ok = np.array_equal(got, ref)
        if not ok:
            fails += 1
            print(f"DTW MISMATCH trial={trial} n={n} m={m} bs={bs} band={band}")
        radius = [1, 1, 2, 3][trial % 4]
        got = fastdtw_batch(A, B, radius=radius)
        ref = np.array([fastdtw_pair(a, b, radius=radius) for a, b in zip(A, B)])
        rel = np.abs(got - ref) / np.maximum(ref, 1e-12)
        # exact on the C route; the numpy scan may flip fp near-ties
        if not (rel < 0.05).all():
            fails += 1
            print(f"FASTDTW MISMATCH trial={trial} n={n} m={m} bs={bs} r={radius}")
    print(f"dtw sweep: {trials} trials, {fails} failures")
    return fails


def _spark():
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.session import get_spark

    return get_spark("fuzz_sweep")


def sweep_asof(trials: int, seed: int) -> int:
    import duckdb
    import pandas as pd

    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import asof_join

    spark = _spark()
    rng = np.random.default_rng(seed)
    fails = 0
    for trial in range(trials):
        direction = "backward" if trial % 2 == 0 else "forward"
        cmp = "<=" if direction == "backward" else ">="
        nl = int(rng.integers(1, 50))
        nr = int(rng.integers(1, 50))
        nk = int(rng.integers(1, 4))
        lt = pd.DataFrame(
            {
                "k": rng.integers(0, nk, nl).astype("int64"),
                "ts": rng.integers(0, 15, nl).astype("int64"),
                "lv": np.arange(nl, dtype="int64"),
            }
        )
        rt = pd.DataFrame(
            {
                "k": rng.integers(0, nk, nr).astype("int64"),
                "ts": rng.integers(0, 15, nr).astype("int64"),
                "rv": np.arange(nr, dtype="int64"),
            }
        )
        rt = rt.groupby(["k", "ts"], as_index=False).agg(rv=("rv", "min"))
        got = (
            asof_join(
                spark.createDataFrame(lt),
                spark.createDataFrame(rt),
                on="k",
                ts="ts",
                direction=direction,
            )
            .toPandas()
            .sort_values("lv")
            .reset_index(drop=True)
        )
        con = duckdb.connect()
        con.register("lt", lt)
        con.register("rt", rt)
        du = (
            con.execute(
                f"""SELECT l.lv, r.ts AS ts_matched, r.rv
                    FROM lt l ASOF LEFT JOIN rt r
                    ON l.k = r.k AND r.ts {cmp} l.ts ORDER BY l.lv"""
            )
            .df()
            .reset_index(drop=True)
        )
        for col in ("ts_matched", "rv"):
            a = got[col].astype("float64").fillna(-1)
            b = du[col].astype("float64").fillna(-1)
            if not a.equals(b):
                fails += 1
                print(f"ASOF MISMATCH trial={trial} dir={direction} col={col}")
                break
    spark.stop()
    print(f"asof sweep: {trials} trials, {fails} failures")
    return fails


def sweep_interval(trials: int, seed: int) -> int:
    import duckdb
    import pandas as pd

    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import interval_join

    spark = _spark()
    rng = np.random.default_rng(seed)
    fails = 0
    for trial in range(trials):
        npnt = int(rng.integers(1, 60))
        niv = int(rng.integers(1, 30))
        pt = pd.DataFrame(
            {
                "k": rng.integers(0, 3, npnt).astype("int64"),
                "ts": rng.integers(0, 40, npnt).astype("int64"),
                "pid": np.arange(npnt, dtype="int64"),
            }
        )
        s = rng.integers(0, 35, niv).astype("int64")
        iv = pd.DataFrame(
            {
                "k": rng.integers(0, 3, niv).astype("int64"),
                "start": s,
                "end": s + rng.integers(0, 15, niv).astype("int64"),
                "iid": np.arange(niv, dtype="int64"),
            }
        )
        con = duckdb.connect()
        con.register("pt", pt)
        con.register("iv", iv)
        du = con.execute(
            "SELECT p.pid, i.iid FROM pt p JOIN iv i ON p.k = i.k"
            " AND p.ts >= i.start AND p.ts <= i.end"
        ).df()
        want = sorted(zip(du["pid"], du["iid"]))
        for bucket in ("auto", 1, 7, 64):
            got = interval_join(
                spark.createDataFrame(pt), spark.createDataFrame(iv), on="k", bucket=bucket
            ).toPandas()
            if sorted(zip(got["pid"], got["iid"])) != want:
                fails += 1
                print(f"INTERVAL MISMATCH trial={trial} bucket={bucket}")
    spark.stop()
    print(f"interval sweep: {trials}x4 trials, {fails} failures")
    return fails


def sweep_components(trials: int, seed: int) -> int:
    import pandas as pd

    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators.dedup import dedup_components

    spark = _spark()
    rng = np.random.default_rng(seed)
    fails = 0
    for trial in range(trials):
        n_nodes = int(rng.integers(2, 120))
        n_edges = int(rng.integers(0, 200))
        ea = rng.integers(0, n_nodes, n_edges).astype("int64")
        eb = rng.integers(0, n_nodes, n_edges).astype("int64")
        pairs = pd.DataFrame({"id_a": np.minimum(ea, eb), "id_b": np.maximum(ea, eb)})
        pairs = pairs[pairs.id_a != pairs.id_b].drop_duplicates()
        if not len(pairs):
            pairs = pd.DataFrame(
                {"id_a": pd.Series([], dtype="int64"), "id_b": pd.Series([], dtype="int64")}
            )
        docs = pd.DataFrame({"doc_id": np.arange(n_nodes, dtype="int64")})
        kw = {"local_threshold": 0} if trial % 2 == 0 else {}  # force Pregel half the time
        out = dedup_components(
            spark.createDataFrame(docs), spark.createDataFrame(pairs), id_col="doc_id", **kw
        ).toPandas()
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs.itertuples(index=False):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        keep_ref = {i for i in range(n_nodes) if find(i) == i}
        keep_got = set(out[out.keep].doc_id) if "keep" in out.columns else set(out.doc_id)
        if keep_got != keep_ref:
            fails += 1
            print(f"COMPONENTS MISMATCH trial={trial} nodes={n_nodes} edges={len(pairs)}")
    spark.stop()
    print(f"components sweep: {trials} trials, {fails} failures")
    return fails


def sweep_jpeg(trials: int, seed: int) -> int:
    """Random quantized-coefficient JPEGs (4:4:4 and 4:2:0 layouts, random
    quant tables, random restart intervals) decoded and compared
    block-for-block against an independent textbook IDCT."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions.jpeg import (
        _ZZ,
        decode_jpeg_gray,
        encode_jpeg_coeffs,
        encode_jpeg_coeffs_420,
    )

    rng = np.random.default_rng(seed)

    def golden(zz, q):
        S = np.zeros((8, 8))
        for i, (r_, c_) in enumerate(_ZZ):
            S[r_, c_] = zz[i] * q[i]
        out = np.zeros((8, 8))
        for x in range(8):
            for y in range(8):
                acc = 0.0
                for u in range(8):
                    for v in range(8):
                        cu = 1 / np.sqrt(2) if u == 0 else 1.0
                        cv = 1 / np.sqrt(2) if v == 0 else 1.0
                        acc += (cu * cv * S[u, v]
                                * np.cos((2 * x + 1) * u * np.pi / 16)
                                * np.cos((2 * y + 1) * v * np.pi / 16))
                out[x, y] = acc / 4
        raw = out + 128
        return raw, np.clip(np.round(raw), 0, 255).astype(np.uint8)

    fails = 0
    for trial in range(trials):
        q = rng.integers(1, 32, size=64).astype(np.int64)
        layout_420 = trial % 2 == 1
        if layout_420:
            by, bx = 2 * int(rng.integers(1, 3)), 2 * int(rng.integers(1, 3))
        else:
            by, bx = int(rng.integers(1, 4)), int(rng.integers(1, 4))
        coeffs = np.zeros((by, bx, 64), dtype=np.int64)
        # sparse AC + dense DC keeps category ranges legal
        coeffs[:, :, 0] = rng.integers(-120, 121, size=(by, bx))
        nz = rng.integers(0, 8)
        for _ in range(nz):
            coeffs[rng.integers(0, by), rng.integers(0, bx),
                   rng.integers(1, 64)] = rng.integers(-40, 41)
        h, w = by * 8, bx * 8
        if layout_420:
            cb = np.zeros((by // 2, bx // 2, 64), dtype=np.int64)
            cr = np.zeros((by // 2, bx // 2, 64), dtype=np.int64)
            cb[:, :, 0] = rng.integers(-50, 51, size=(by // 2, bx // 2))
            cr[:, :, 0] = rng.integers(-50, 51, size=(by // 2, bx // 2))
            data = encode_jpeg_coeffs_420(coeffs, cb, cr, q, h, w)
        elif trial % 3 == 0:
            # progressive (SOF2): random scan script — successive
            # approximation depths and a random spectral-band split
            from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions.jpeg import (
                encode_jpeg_coeffs_progressive,
            )

            split = int(rng.integers(2, 62))
            data = encode_jpeg_coeffs_progressive(
                coeffs, q, h, w,
                al_dc=int(rng.integers(0, 3)),
                ac_bands=((1, split), (split + 1, 63)),
                al_ac=int(rng.integers(0, 3)),
            )
        else:
            ri = int(rng.integers(0, 4))
            data = encode_jpeg_coeffs(coeffs, q, h, w, restart_interval=ri)
        img = decode_jpeg_gray(data)
        for yy in range(by):
            for xx in range(bx):
                raw, exp = golden(coeffs[yy, xx], q)
                got = img[yy * 8 : yy * 8 + 8, xx * 8 : xx * 8 + 8]
                d = np.abs(exp.astype(int) - got.astype(int))
                if d.max() == 0:
                    continue
                # a +-1 disagreement is legal ONLY where the true value is
                # an exact half-integer (e.g. DC*q = 492 -> 61.5): the two
                # float IDCTs land on either side of the boundary — T.81's
                # own accuracy annex tolerates this; anything else fails
                bad = (d > 1) | ((d == 1) & (np.abs(raw - np.floor(raw) - 0.5) > 1e-6))
                if bad.any():
                    fails += 1
                    print(f"JPEG MISMATCH trial={trial} block=({yy},{xx}) 420={layout_420}")
    print(f"jpeg sweep: {trials} trials, {fails} failures")
    return fails


def sweep_bpe(trials: int, seed: int) -> int:
    """Random skewed corpora through distributed training + kernel AND
    expr encoding vs the pure-Python golden implementation."""
    import random

    from pyspark.sql import SparkSession

    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import (
        bpe_encode,
        train_bpe,
    )

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    fails = 0
    for trial in range(trials):
        rng = random.Random(seed * 100003 + trial)
        alphabet = "abcdef"
        words = ["".join(rng.choice(alphabet) for _ in range(rng.randint(1, 8)))
                 for _ in range(rng.randint(4, 14))]
        texts = [" ".join(rng.choice(words) for _ in range(rng.randint(0, 20)))
                 for _ in range(rng.randint(2, 8))]
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        n_merges = rng.randint(1, 8)

        # golden
        from collections import Counter

        freq = Counter(w for t in texts for w in t.lower().split())
        vocab = {w: list(w) for w in freq}
        gm = []
        for step in range(1, n_merges + 1):
            counts = Counter()
            for w, syms in vocab.items():
                for i in range(len(syms) - 1):
                    counts[(syms[i], syms[i + 1])] += freq[w]
            if not counts:
                break
            (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            gm.append((step, a, b, c))
            nv = {}
            for w, syms in vocab.items():
                out = []
                for s in syms:
                    if out and out[-1] == a and s == b:
                        out[-1] = a + b
                    else:
                        out.append(s)
                nv[w] = out
            vocab = nv

        got = train_bpe(docs, num_merges=n_merges)
        ok = got == gm
        # r9: the distributed covered-replay superstep under a random byte
        # cap — tiny caps force the no-sub prefix-batching regime AND a
        # truncated pair table; mid caps exercise partial coverage; the
        # default cap exercises full replay
        cap = rng.choice([64, 512, 2048, 16 << 20])
        got_d = train_bpe(
            docs, num_merges=n_merges, strategy="distributed",
            max_driver_vocab_bytes=cap,
        )
        if got_d != gm:
            ok = False
            print(f"BPE DIST MISMATCH trial={trial} cap={cap}")
        if ok and gm:
            for mode in ("expr", "kernel"):
                enc = {r.doc_id: list(r.bpe_tokens)
                       for r in bpe_encode(docs, gm, mode=mode,
                                           with_fingerprint=False).collect()}
                for i, t in enumerate(texts):
                    exp = [s for w in t.lower().split()
                           for s in vocab.get(w, list(w))]
                    if enc[i] != exp:
                        ok = False
        if not ok:
            fails += 1
            print(f"BPE MISMATCH trial={trial} merges={n_merges}")
    spark.stop()
    print(f"bpe sweep: {trials} trials, {fails} failures")
    return fails


def sweep_classify(trials: int, seed: int) -> int:
    """Random integer feature sets / label mixes (incl. single-class,
    all-zero features, pre-converged data) through the distributed
    averaged/last perceptron vs the numpy golden recurrence, plus the
    serve-side dot check."""
    import random

    import numpy as np
    from pyspark.sql import SparkSession

    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import (
        score_with_weights,
        train_quality_perceptron,
    )

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    fails = 0
    for trial in range(trials):
        rng = random.Random(seed * 9176 + trial)
        nrng = np.random.default_rng(seed * 9176 + trial)
        n = rng.randint(1, 80)
        dim = rng.randint(1, 7)
        epochs = rng.randint(1, 6)
        averaged = rng.random() < 0.5
        kind = rng.choice(["mixed", "one_class", "zero_x"])
        X = nrng.integers(-30, 31, size=(n, dim))
        if kind == "zero_x":
            X[:] = 0
        if kind == "one_class":
            y = np.full(n, rng.choice([-1, 1]), dtype=np.int64)
        else:
            y = np.where(nrng.random(n) < 0.5, 1, -1)
        w = np.zeros(dim, dtype=np.int64)
        acc = np.zeros_like(w)
        for _ in range(epochs):
            mis = (y * (X @ w)) <= 0
            w = w + (y[mis, None] * X[mis]).sum(axis=0)
            acc = acc + w
        want = (acc if averaged else w).tolist()
        df = spark.createDataFrame(
            [(i, [int(v) for v in X[i]], int(y[i])) for i in range(n)],
            "doc_id long, x array<bigint>, y int",
        )
        model = train_quality_perceptron(
            df, epochs=epochs, averaged=averaged
        )
        got = [r.weight for r in model.orderBy("dim").collect()]
        ok = got == want
        if ok:
            wv = np.asarray(want, dtype=np.int64)
            scored = {
                r.doc_id: (r.score, r.kept)
                for r in score_with_weights(df, model).collect()
            }
            for i in range(n):
                s = int(X[i].astype(np.int64) @ wv)
                if scored[i] != (s, s > 0):
                    ok = False
                    break
        if not ok:
            fails += 1
            print(
                f"CLASSIFY MISMATCH trial={trial} n={n} dim={dim} "
                f"epochs={epochs} averaged={averaged} kind={kind}"
            )
    spark.stop()
    print(f"classify sweep: {trials} trials, {fails} failures")
    return fails


def sweep_bm25(trials: int, seed: int) -> int:
    """Random messy corpora (mixed case, whitespace runs, empty docs) and
    random query workloads (in-vocab + unseen terms) through bm25_topk vs
    a from-scratch pure-Python golden of the same contract: rational idf,
    k1=1.2/b=0.75 saturation, micro-unit rounding, (score desc, doc asc)
    rank order."""
    import random
    from collections import Counter

    from pyspark.sql import SparkSession

    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import bm25_topk

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    fails = 0
    for trial in range(trials):
        rng = random.Random(seed * 61417 + trial)
        vocab = ["".join(rng.choice("abcXYZ") for _ in range(rng.randint(1, 5)))
                 for _ in range(rng.randint(3, 12))]
        def messy(words):
            return rng.choice(["", " ", "  "]).join([""] + words + [""]) + \
                rng.choice(["", " ", "\t"])
        texts = [" ".join(rng.choice(vocab) for _ in range(rng.randint(0, 15)))
                 for _ in range(rng.randint(2, 10))]
        texts = [messy(t.split()) if rng.random() < 0.3 else t for t in texts]
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        qtexts = [" ".join(rng.choice(vocab + ["zzz_unseen"])
                           for _ in range(rng.randint(1, 4)))
                  for _ in range(rng.randint(1, 4))]
        qs = spark.createDataFrame(
            [(100 + i, t) for i, t in enumerate(qtexts)],
            "query_id long, query_text string",
        )
        k = rng.randint(1, 6)
        got = sorted(
            (r.query_id, r.rank, r.doc_id, r.score)
            for r in bm25_topk(docs, qs, k=k).collect()
        )

        # golden
        toks = {i: t.lower().split() for i, t in enumerate(texts)}
        N = len(texts)
        dl = {i: len(t) for i, t in toks.items()}
        avgdl = sum(dl.values()) / N
        tfs = {i: Counter(t) for i, t in toks.items()}
        dfc = Counter(t for c in tfs.values() for t in c)
        k1, b = 1.2, 0.75
        exp = []
        for qid, qt in zip(range(100, 100 + len(qtexts)), qtexts):
            scores = {}
            for d in toks:
                micro = 0
                for t in set(qt.lower().split()):
                    tf = tfs[d].get(t, 0)
                    if not tf:
                        continue
                    idf = (N - dfc[t] + 0.5) / (dfc[t] + 0.5) + 1.0
                    sat = tf * (k1 + 1.0) / (
                        tf + k1 * (1.0 - b + b * (dl[d] / avgdl))
                    )
                    micro += round(idf * sat * 1e6)
                if micro:
                    scores[d] = micro
            ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
            exp.extend((qid, r + 1, d, m / 1e6) for r, (d, m) in enumerate(ranked))
        if got != sorted(exp):
            fails += 1
            print(f"BM25 MISMATCH trial={trial} k={k}")
    spark.stop()
    print(f"bm25 sweep: {trials} trials, {fails} failures")
    return fails


def sweep_sax(trials: int, seed: int) -> int:
    """Random (length, n_segments, alphabet) SAX geometry + random series
    (incl. constant/near-constant rows hitting the std guard) through
    sax_symbolize and matrix_profile vs pure-Python fold-order goldens —
    exact equality, the oracle-parity arithmetic contract."""
    import math
    import random

    import numpy as np
    from pyspark.sql import SparkSession

    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import matrix_profile, sax_symbolize
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators.sax import SAX_ALPHABET, SAX_BREAKPOINTS

    def znorm(f):
        n = len(f)
        s1 = 0.0
        for v in f:
            s1 += v
        mu = s1 / n
        s2 = 0.0
        for v in f:
            s2 += v * v
        std = math.sqrt(max(s2 / n - mu * mu, 1e-300))
        return [(v - mu) / std for v in f]

    def sax_word(f, nseg, a, length):
        z = znorm(f)
        seg = length // nseg
        betas = SAX_BREAKPOINTS[a]
        word = ""
        for g in range(nseg):
            s = 0.0
            for v in z[g * seg : g * seg + seg]:
                s += v
            m = s / float(seg)
            word += SAX_ALPHABET[sum(1 for b in betas if m >= b)]
        return word

    def sqd(x, y):
        s = 0.0
        for p, q in zip(x, y):
            s += (p - q) * (p - q)
        return s

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    fails = 0
    for trial in range(trials):
        rng = random.Random(seed * 5531 + trial)
        nrng = np.random.default_rng(seed * 5531 + trial)
        nseg = rng.choice([2, 4, 8])
        length = nseg * rng.randint(1, 6)
        a = rng.randint(2, 10)
        n = rng.randint(1, 30)
        rows = []
        for i in range(n):
            kind = rng.random()
            if kind < 0.15:
                f = [float(rng.uniform(-5, 5))] * length  # constant
            elif kind < 0.3:
                base = rng.uniform(-5, 5)
                f = [base + (1e-9 if j == 0 else 0.0) for j in range(length)]
            else:
                f = [float(v) for v in nrng.normal(0, rng.uniform(0.1, 5), length)]
            rows.append((i, f))
        df = spark.createDataFrame(rows, "series_id long, features array<double>")
        got = {
            r["series_id"]: r["sax_word"]
            for r in sax_symbolize(
                df, n_segments=nseg, alphabet_size=a, length=length
            ).collect()
        }
        for sid, f in rows:
            exp = sax_word(f, nseg, a, length)
            if got[sid] != exp:
                print(f"SAX MISMATCH trial={trial} sid={sid} got={got[sid]} exp={exp}")
                fails += 1
        # matrix profile on a subset (quadratic golden)
        m = rng.randint(2, max(2, length // 2))
        excl = rng.randint(1, max(1, m))
        prof = {
            (r["series_id"], r["start"]): (r["profile_d"], r["nn_start"])
            for r in matrix_profile(df, m, exclusion=excl).collect()
        }
        exp_prof = {}
        for sid, f in rows:
            if len(f) < m:
                continue
            wins = [(s + 1, znorm(f[s : s + m])) for s in range(len(f) - m + 1)]
            for sa, wa in wins:
                best = None
                for sb, wb in wins:
                    if abs(sa - sb) < excl:
                        continue
                    key = (sqd(wa, wb), sb)
                    if best is None or key < best:
                        best = key
                if best is not None:
                    exp_prof[(sid, sa)] = best
        if set(prof) != set(exp_prof) or any(
            prof[k] != exp_prof[k] for k in exp_prof
        ):
            print(f"MATRIX-PROFILE MISMATCH trial={trial} (m={m} excl={excl})")
            fails += 1
    print(f"sax sweep: {trials} trials, {fails} failures")
    return fails



def sweep_shape(trials: int, seed: int) -> int:
    """r5 shape family vs pure-Python goldens: sbd_batch (FFT) vs the
    naive shift sweep, holt_forecast vs the scalar recurrence, and
    seasonal_decompose vs the textbook replay — random lengths/periods
    incl. constant, zero, and too-short series."""
    import numpy as np

    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions.distance import sbd_batch
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import (
        holt_forecast,
        seasonal_decompose,
    )

    rng = np.random.default_rng(seed)
    fails = 0

    def sbd_naive(a, b):
        n = len(a)
        na = np.sqrt((a * a).sum())
        nb = np.sqrt((b * b).sum())
        if na * nb == 0:
            return 1.0
        best = -np.inf
        for s in range(-(n - 1), n):
            if s >= 0:
                cc = float((a[s:] * b[: n - s]).sum())
            else:
                cc = float((a[: n + s] * b[-s:]).sum())
            best = max(best, cc)
        return 1.0 - best / (na * nb)

    # leg 1 (pure numpy, no Spark): sbd FFT vs naive on adversarial shapes
    for t in range(trials * 4):
        n = int(rng.integers(1, 96))
        bs = int(rng.integers(1, 12))
        A = rng.normal(size=(bs, n))
        B = rng.normal(size=(bs, n))
        if t % 3 == 1 and n > 1:
            B[0] = -A[0]  # all-negative correlation sweep
        if t % 4 == 2:
            A[0] = 0.0  # zero norm
        got = sbd_batch(A, B)
        exp = np.array([sbd_naive(a, b) for a, b in zip(A, B)])
        if np.abs(got - exp).max() > 1e-10:
            print(f"shape FAIL sbd trial={t} n={n} err={np.abs(got-exp).max()}")
            fails += 1

    spark = _spark()
    for t in range(trials):
        n_series = int(rng.integers(1, 10))
        length = int(rng.integers(1, 24))
        rows = [
            (i, [float(x) for x in rng.normal(size=length)])
            for i in range(n_series)
        ]
        if t % 3 == 0:
            rows[0] = (rows[0][0], [1.5] * length)  # constant series
        df = spark.createDataFrame(rows, "series_id long, features array<double>")

        # holt leg — exact equality with the scalar recurrence
        got = {r["series_id"]: r for r in holt_forecast(df).collect()}
        for i, xs in rows:
            if length < 2:
                if got[i]["level"] is not None:
                    print(f"shape FAIL holt guard trial={t}")
                    fails += 1
                continue
            l, b = xs[1], xs[1] - xs[0]  # post-t=2 Holt state
            for v in xs[2:]:
                ln = 0.5 * v + 0.5 * (l + b)
                b = 0.25 * (ln - l) + 0.75 * b
                l = ln
            if (got[i]["level"], got[i]["trend"]) != (l, b):
                print(f"shape FAIL holt trial={t} id={i}")
                fails += 1

        # decompose leg — exact vs the textbook replay
        period = int(rng.integers(2, 6))
        half = period // 2
        out = seasonal_decompose(df, period=period).collect()
        exp_rows = 0
        for i, xs in rows:
            npts = len(xs)
            if npts < period + 1:
                continue
            exp_rows += npts - 2 * half
        if len(out) != exp_rows:
            print(f"shape FAIL decompose rowcount trial={t}: {len(out)} vs {exp_rows}")
            fails += 1
            continue
        feats = dict(rows)
        for r in out:
            xs = feats[r["series_id"]]
            npts = len(xs)
            trend = {}
            for tt in range(half + 1, npts - half + 1):
                if period % 2:
                    acc = 0.0
                    for ii in range(tt - half, tt + half + 1):
                        acc += xs[ii - 1]
                    trend[tt] = acc / period
                else:
                    acc = xs[tt - half - 1] * 0.5
                    for ii in range(tt - half + 1, tt + half):
                        acc += xs[ii - 1]
                    trend[tt] = (acc + xs[tt + half - 1] * 0.5) / period
            s_idx = []
            for j in range(period):
                sel = sorted(k for k in trend if (k - 1) % period == j)
                acc = 0.0
                for k in sel:
                    acc += xs[k - 1] - trend[k]
                s_idx.append(acc / len(sel) if sel else 0.0)
            sbar = 0.0
            for v in s_idx:
                sbar += v
            sbar /= period
            sc = [v - sbar for v in s_idx]
            tt = r["t"]
            if (r["trend"], r["seasonal"]) != (trend[tt], sc[(tt - 1) % period]):
                sid = r["series_id"]
                print(f"shape FAIL decompose trial={t} id={sid} t={tt}")
                fails += 1
                break
    print(f"sweep shape: {fails} failures")
    return fails


def sweep_edit(trials: int, seed: int) -> int:
    """Edit-distance family (r7, VERDICT r6 #8): random eps/delta/g/nu/
    lambda/c and random series (normal, random-walk, heavy-tie integer;
    ragged lengths; every 4th trial multichannel) through the batch
    kernels vs an INDEPENDENT naive per-pair Python DP — row-by-row
    loops, no anti-diagonal vectorization, no shared code. Exact
    equality: every cell on both sides is the same single-add/min IEEE
    DAG, so any divergence is a real bug, not float noise."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions.edit_distance import (
        edr_batch,
        erp_batch,
        lcss_batch,
        msm_batch,
        twed_batch,
    )

    def naive_lcss(a, b, eps, delta):
        n, m = len(a), len(b)
        dp = [[0] * (m + 1) for _ in range(n + 1)]
        for i in range(1, n + 1):
            for j in range(1, m + 1):
                match = abs(a[i - 1] - b[j - 1]) <= eps and (
                    delta is None or abs(i - j) <= delta
                )
                dp[i][j] = (
                    dp[i - 1][j - 1] + 1
                    if match
                    else max(dp[i - 1][j], dp[i][j - 1])
                )
        return 1.0 - float(dp[n][m]) / float(min(n, m))

    def naive_edr(a, b, eps):
        n, m = len(a), len(b)
        dp = [[0] * (m + 1) for _ in range(n + 1)]
        for i in range(n + 1):
            dp[i][0] = i
        for j in range(m + 1):
            dp[0][j] = j
        for i in range(1, n + 1):
            for j in range(1, m + 1):
                sub = 0 if abs(a[i - 1] - b[j - 1]) <= eps else 1
                dp[i][j] = min(
                    dp[i - 1][j - 1] + sub, dp[i - 1][j] + 1, dp[i][j - 1] + 1
                )
        return float(dp[n][m]) / float(max(n, m))

    def naive_erp(a, b, g):
        n, m = len(a), len(b)
        dp = [[0.0] * (m + 1) for _ in range(n + 1)]
        for i in range(1, n + 1):
            dp[i][0] = dp[i - 1][0] + abs(a[i - 1] - g)
        for j in range(1, m + 1):
            dp[0][j] = dp[0][j - 1] + abs(g - b[j - 1])
        for i in range(1, n + 1):
            for j in range(1, m + 1):
                dp[i][j] = min(
                    dp[i - 1][j - 1] + abs(a[i - 1] - b[j - 1]),
                    dp[i - 1][j] + abs(a[i - 1] - g),
                    dp[i][j - 1] + abs(g - b[j - 1]),
                )
        return dp[n][m]

    def naive_twed(a, b, nu, lam):
        n, m = len(a), len(b)
        nu2 = 2.0 * float(nu)
        gap = float(nu) + float(lam)
        inf = float("inf")
        dp = [[inf] * (m + 1) for _ in range(n + 1)]
        dp[0][0] = 0.0
        ap = lambda i: 0.0 if i <= 1 else a[i - 2]  # a_{i-1}, 0-padded
        bp = lambda j: 0.0 if j <= 1 else b[j - 2]
        for i in range(1, n + 1):
            for j in range(1, m + 1):
                d_match = (abs(a[i - 1] - b[j - 1]) + abs(ap(i) - bp(j))) + nu2 * float(
                    abs(i - j)
                )
                dp[i][j] = min(
                    dp[i - 1][j - 1] + d_match,
                    dp[i - 1][j] + (abs(a[i - 1] - ap(i)) + gap),
                    dp[i][j - 1] + (abs(b[j - 1] - bp(j)) + gap),
                )
        return dp[n][m]

    def naive_msm(a, b, c):
        def cost(x, y, z):
            if (y <= x <= z) or (y >= x >= z):
                return c
            return c + min(abs(x - y), abs(x - z))

        n, m = len(a), len(b)
        dp = [[0.0] * (m + 1) for _ in range(n + 1)]
        dp[1][1] = abs(a[0] - b[0])
        for j in range(2, m + 1):
            dp[1][j] = dp[1][j - 1] + cost(b[j - 1], b[j - 2], a[0])
        for i in range(2, n + 1):
            dp[i][1] = dp[i - 1][1] + cost(a[i - 1], a[i - 2], b[0])
        for i in range(2, n + 1):
            for j in range(2, m + 1):
                dp[i][j] = min(
                    dp[i - 1][j - 1] + abs(a[i - 1] - b[j - 1]),
                    dp[i - 1][j] + cost(a[i - 1], a[i - 2], b[j - 1]),
                    dp[i][j - 1] + cost(b[j - 1], b[j - 2], a[i - 1]),
                )
        return dp[n][m]

    rng = np.random.default_rng(seed)
    fails = 0
    for trial in range(trials):
        n = int(rng.integers(1, 36))
        m = int(rng.integers(1, 36))
        bs = int(rng.integers(1, 10))
        kind = trial % 3
        if kind == 0:
            A = rng.normal(size=(bs, n))
            B = rng.normal(size=(bs, m))
        elif kind == 1:
            A = np.cumsum(rng.normal(size=(bs, n)), axis=1)
            B = np.cumsum(rng.normal(size=(bs, m)), axis=1)
        else:  # heavy ties: many exact matches and equal-cost paths
            A = rng.integers(0, 3, size=(bs, n)).astype(float)
            B = rng.integers(0, 3, size=(bs, m)).astype(float)
        eps = float(rng.choice([0.0, 0.5, rng.uniform(0.0, 3.0)]))
        delta = None if trial % 2 else int(rng.integers(0, 6))
        g = float(rng.uniform(-2.0, 2.0))
        nu = float(rng.choice([0.001, 0.05, rng.uniform(0.0, 1.0)]))
        lam = float(rng.uniform(0.0, 2.0))
        c = float(rng.uniform(0.0, 2.0))
        mc = trial % 4 == 3
        if mc:  # multichannel: independent-channel sum on both sides
            ch = int(rng.integers(2, 4))
            A = np.stack([A * (k + 1) * 0.5 + rng.normal(size=A.shape) for k in range(ch)], axis=2)
            B = np.stack([B * (k + 1) * 0.5 + rng.normal(size=B.shape) for k in range(ch)], axis=2)

        def per_pair(naive, *args):
            out = []
            for p in range(bs):
                if mc:
                    s = 0.0
                    for k in range(A.shape[2]):
                        s = s + naive(list(A[p, :, k]), list(B[p, :, k]), *args)
                    out.append(s)
                else:
                    out.append(naive(list(A[p]), list(B[p]), *args))
            return np.asarray(out)

        checks = [
            ("lcss", lcss_batch(A, B, eps, delta), per_pair(naive_lcss, eps, delta)),
            ("edr", edr_batch(A, B, eps), per_pair(naive_edr, eps)),
            ("erp", erp_batch(A, B, g), per_pair(naive_erp, g)),
            ("twed", twed_batch(A, B, nu, lam), per_pair(naive_twed, nu, lam)),
            ("msm", msm_batch(A, B, c), per_pair(naive_msm, c)),
        ]
        for name, got, ref in checks:
            if not np.array_equal(got, ref):
                fails += 1
                print(
                    f"EDIT MISMATCH {name} trial={trial} n={n} m={m} bs={bs} "
                    f"mc={mc} eps={eps} delta={delta} g={g} nu={nu} lam={lam} c={c}"
                )
    print(f"edit sweep: {trials} trials x 5 metrics, {fails} failures")
    return fails


def sweep_lof(trials: int, seed: int) -> int:
    """knn_lof vs an independent Python LOF on random DUPLICATES-HEAVY
    corpora (r7, VERDICT r6 #8 — the regime of the r6 rank-set
    pathology): small integer grids force exact-duplicate points, tied
    distances, and shrunken neighborhoods. The reference mirrors the
    engine's documented contract — exactly-k rank sets under (distance,
    id), the d != 0 exclusion, rank-ordered float folds — so kdist/lrd/
    lof must match BITWISE under the default broadcast strategy."""
    import math

    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import knn_lof

    spark = _spark()
    rng = np.random.default_rng(seed)
    fails = 0
    for trial in range(trials):
        n = int(rng.integers(12, 40))
        dim = int(rng.integers(2, 5))
        k = int(rng.integers(1, 7))
        # integer grid + a few planted exact duplicates + one far outlier
        X = rng.integers(0, 4, size=(n, dim)).astype(float) * 10.0
        for _ in range(int(rng.integers(1, 4))):
            i, j = rng.integers(0, n, size=2)
            X[j] = X[i]
        X[n - 1] = 500.0

        def d_of(i, j):
            acc = 0.0
            for t in range(dim):
                diff = X[i][t] - X[j][t]
                acc = acc + diff * diff
            return acc  # squared (the engine ranks pre-sqrt)

        nbrs = {}
        for i in range(n):
            cand = sorted(
                (d_of(i, j), j) for j in range(n) if d_of(i, j) != 0.0
            )[:k]
            if cand:
                nbrs[i] = [(math.sqrt(d), j) for d, j in cand]
        kdist = {i: max(d for d, _ in v) for i, v in nbrs.items()}
        lrd = {}
        for i, v in nbrs.items():
            s = 0.0
            for d, j in v:  # rank order
                s = s + max(kdist[j], d)
            lrd[i] = float(len(v)) / s
        want = {}
        for i, v in nbrs.items():
            s = 0.0
            for _, j in v:
                s = s + lrd[j]
            want[i] = (kdist[i], lrd[i], (s / float(len(v))) / lrd[i])

        df = spark.createDataFrame(
            [(i, [float(x) for x in X[i]]) for i in range(n)],
            "series_id long, features array<double>",
        )
        got = {
            r["series_id"]: (r["kdist"], r["lrd"], r["lof"])
            for r in knn_lof(df, k=k).collect()
        }
        if got != want:
            fails += 1
            diff_keys = [
                i for i in set(got) | set(want) if got.get(i) != want.get(i)
            ]
            print(f"LOF MISMATCH trial={trial} n={n} dim={dim} k={k} ids={diff_keys[:5]}")
    print(f"lof sweep: {trials} trials, {fails} failures")
    return fails


def sweep_conformal(trials: int, seed: int) -> int:
    """conformal_knn vs an independent Python mirror (exact rationals:
    joins + MIN + integer rank counts + one division -> bitwise match),
    plus the validity property the p-values exist for: pooled across
    trials, p at the TRUE label of exchangeable test points must satisfy
    P(p <= eps) <= eps (within binomial slack) — uniformity under
    exchangeability (r7, VERDICT r6 #8)."""
    import math

    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import conformal_knn

    spark = _spark()
    rng = np.random.default_rng(seed)
    fails = 0
    pooled_p: list[float] = []
    for trial in range(trials):
        n = int(rng.integers(18, 60))
        m = int(rng.integers(5, 15))
        dim = int(rng.integers(2, 4))
        n_lab = int(rng.integers(2, 4))
        # exchangeable pool: label-dependent integer clusters + noise ties
        labs = rng.integers(0, n_lab, size=n + m)
        Xall = (
            rng.integers(0, 3, size=(n + m, dim)).astype(float) * 5.0
            + labs[:, None] * 20.0
        )
        X, Xt = Xall[:n], Xall[n:]
        ylab = [f"c{v}" for v in labs[:n]]
        ytrue = [f"c{v}" for v in labs[n:]]

        def dist(u, v):
            acc = 0.0
            for t in range(dim):
                diff = u[t] - v[t]
                acc = acc + diff * diff
            return math.sqrt(acc)

        proper = [(i, X[i], ylab[i]) for i in range(n) if i % 3 != 1]
        cal = [(i, X[i], ylab[i]) for i in range(n) if i % 3 == 1]

        def mins(x):
            out = {}
            for _, pf, plab in proper:
                d = dist(x, pf)
                if d == 0.0:
                    continue
                if plab not in out or d < out[plab]:
                    out[plab] = d
            return out

        alphas = []
        for _, cf, clab in cal:
            mm = mins(cf)
            if clab not in mm:
                continue
            others = [v for l, v in mm.items() if l != clab]
            if not others:
                continue
            alphas.append(mm[clab] / min(others))
        n_cal = len(alphas)
        want = {}
        for ti in range(m):
            mm = mins(Xt[ti])
            for lab, ds in mm.items():
                others = [v for l, v in mm.items() if l != lab]
                if not others:
                    continue
                a = ds / min(others)
                ge = sum(1 for ai in alphas if ai >= a)
                want[(1000 + ti, lab)] = (a, (ge + 1.0) / (n_cal + 1.0))

        train_df = spark.createDataFrame(
            [(i, [float(v) for v in X[i]], ylab[i]) for i in range(n)],
            "series_id long, features array<double>, label string",
        )
        test_df = spark.createDataFrame(
            [(1000 + t, [float(v) for v in Xt[t]], "?") for t in range(m)],
            "series_id long, features array<double>, label string",
        )
        got = {
            (r["test_id"], r["label"]): (r["alpha"], r["p_value"])
            for r in conformal_knn(test_df, train_df).collect()
        }
        if got != want:
            fails += 1
            diff_keys = [k for k in set(got) | set(want) if got.get(k) != want.get(k)]
            print(f"CONFORMAL MISMATCH trial={trial} n={n} m={m} keys={diff_keys[:4]}")
        for ti in range(m):
            p = got.get((1000 + ti, ytrue[ti]), (None, None))[1]
            if p is not None:
                pooled_p.append(p)
    # validity under exchangeability: P(p_true <= eps) <= eps + slack
    N = len(pooled_p)
    for eps in (0.1, 0.25, 0.5):
        frac = sum(1 for p in pooled_p if p <= eps) / max(N, 1)
        slack = 4.0 * math.sqrt(eps * (1 - eps) / max(N, 1))
        if frac > eps + slack:
            fails += 1
            print(f"CONFORMAL VALIDITY FAIL eps={eps} frac={frac:.3f} N={N}")
    print(f"conformal sweep: {trials} trials, {N} pooled p-values, {fails} failures")
    return fails


def sweep_point(trials: int, seed: int) -> int:
    """_score_block_rows for the point metrics vs an all-pairs reference
    (every pair through the SQL fold's left-to-right sum, ``np.cumsum``,
    one test row at a time, then pairscan.first_k): rows, ranks, distance bits and dtypes must match
    exactly. Regimes: integer grids (heavy ties), Gaussian at scales
    1e-162..1e160 (subnormal to overflowing squares), a large common
    offset (the Gram bound swamps the spread), exact train/test
    duplicates, and sprinkled NaN / inf elements; excl on and off, no /
    float / string labels, k from 1 past n_train."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators.knn import (
        _group_by_length,
        _score_block_rows,
    )
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators.pairscan import first_k

    folds = {
        "euclidean": lambda t, B: np.sqrt(np.cumsum((t - B) ** 2, axis=1)[:, -1]),
        "sq_euclidean": lambda t, B: np.cumsum((t - B) ** 2, axis=1)[:, -1],
        "manhattan": lambda t, B: np.cumsum(np.abs(t - B), axis=1)[:, -1],
        "chebyshev": lambda t, B: np.abs(t - B).max(axis=1),
    }
    rng = np.random.default_rng(seed)
    fails = 0
    for trial in range(trials):
        L = int(rng.choice([1, 2, 5, 8, 9, 33, 128]))
        n = int(rng.integers(1, 900))
        m = int(rng.integers(1, 120))
        regime = trial % 4
        if regime == 0:
            B = rng.integers(0, 3, size=(n, L)).astype(float)
            T = rng.integers(0, 3, size=(m, L)).astype(float)
        elif regime == 1:
            scale = 10.0 ** float(rng.choice([-162, -160, -150, -3, 0, 6, 150, 160]))
            B, T = rng.normal(size=(n, L)) * scale, rng.normal(size=(m, L)) * scale
        elif regime == 2:
            B = 1e6 + rng.normal(size=(n, L)) * 1e-3
            T = 1e6 + rng.normal(size=(m, L)) * 1e-3
        else:
            scale = 10.0 ** rng.uniform(-3, 6)
            B, T = rng.normal(size=(n, L)) * scale, rng.normal(size=(m, L)) * scale
        T[: min(m, 3)] = B[rng.integers(0, n, min(m, 3))]
        if rng.random() < 0.15:
            B[rng.integers(0, n), rng.integers(0, L)] = rng.choice([np.nan, np.inf, -np.inf])
        if rng.random() < 0.1:
            T[rng.integers(0, m), rng.integers(0, L)] = rng.choice([np.nan, np.inf])
        labels = [
            None,
            rng.integers(0, 3, n).astype(float),
            # built like the core's groups: as wide as the widest present label
            np.asarray([["a", "bb", "c"][j] for j in rng.integers(0, 3, n)]),
        ][trial % 3]
        ids = rng.permutation(2 * n)[:n].astype(np.int64)
        k = int(rng.choice([1, 3, 5, n, n + 2]))
        excl = bool(trial % 2)
        kind = list(folds)[int(rng.integers(0, 4))] if trial % 5 == 4 else ["euclidean", "sq_euclidean"][trial % 2]
        tids = np.arange(10_000, 10_000 + m, dtype=np.int64)
        fvals = np.empty(m, dtype=object)
        fvals[:] = list(T)
        with np.errstate(all="ignore"):
            got = _score_block_rows(
                tids, fvals, _group_by_length(ids, list(B), labels), kind=kind,
                elastic=None, k=k, excl=excl,
            )
            D = np.concatenate([folds[kind](t, B) for t in T])
        r, i, d, lab, rank = first_k(
            D, np.repeat(np.arange(m), n), np.tile(ids, m),
            None if labels is None else np.tile(labels, m), k,
            D != 0 if excl else None,
        )
        want = {"test_id": tids[r], "train_id": i, "distance": d, "rank": rank}
        if labels is not None:
            want["train_label"] = lab
        ok = sorted(got) == sorted(want) and all(
            got[c].dtype == w.dtype and got[c].tobytes() == w.tobytes()
            for c, w in want.items()
        )
        if not ok:
            fails += 1
            print(f"POINT MISMATCH trial={trial} kind={kind} regime={regime} L={L} n={n} m={m} k={k} excl={excl}")
    print(f"point sweep: {trials} trials, {fails} failures")
    return fails


def sweep_grid(trials: int, seed: int) -> int:
    """The block grid end to end: knn_join(strategy='chunked') with
    ``pairscan._grid_split`` forced to each (bq, bc) in {1, 2, 3}^2 in
    turn, for euclidean, manhattan, dtw (band 2) and lcss, exclude_zero on
    and off (trial t takes combination t mod 72), against an all-pairs
    numpy reference: every pair through the metric's fold or batch DP,
    then pairscan.first_k. Rows, ranks and distance bits must match.
    Inputs are small integer grids (heavy ties) with exact train/test
    duplicates, string labels and k from 1 past n_train."""
    import itertools

    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.functions.distance import batch_kernel
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import knn_join, pairscan

    folds = {
        "euclidean": lambda A, B: np.sqrt(np.cumsum((A - B) ** 2, axis=1)[:, -1]),
        "manhattan": lambda A, B: np.cumsum(np.abs(A - B), axis=1)[:, -1],
        "dtw": batch_kernel("dtw", band=2),
        "lcss": batch_kernel("lcss"),
    }
    combos = list(itertools.product(folds, (1, 2, 3), (1, 2, 3), (True, False)))
    schema = "series_id long, features array<double>, label string"
    spark = _spark()
    rng = np.random.default_rng(seed)
    split = pairscan._grid_split
    fails = 0
    try:
        for trial in range(trials):
            kind, bq, bc, excl = combos[trial % len(combos)]
            n, m, L = int(rng.integers(4, 40)), int(rng.integers(1, 16)), int(rng.integers(3, 12))
            B = rng.integers(0, 3, size=(n, L)).astype(float)
            T = rng.integers(0, 3, size=(m, L)).astype(float)
            T[: min(m, 2)] = B[rng.integers(0, n, min(m, 2))]
            ids = rng.permutation(4 * n)[:n].astype(np.int64)
            labels = np.asarray([["a", "bb", "c"][j] for j in rng.integers(0, 3, n)])
            k = int(rng.choice([1, 3, n, n + 2]))
            tids = np.arange(10_000, 10_000 + m, dtype=np.int64)
            train = spark.createDataFrame(
                [(int(i), [float(x) for x in f], str(c)) for i, f, c in zip(ids, B, labels)], schema
            )
            test = spark.createDataFrame(
                [(int(i), [float(x) for x in f], "t") for i, f in zip(tids, T)], schema
            )
            pairscan._grid_split = lambda *a, **kw: (bq, bc)
            got = knn_join(
                test, train, metric=kind, band=2 if kind == "dtw" else None, k=k,
                strategy="chunked", exclude_zero=excl,
            ).collect()
            D = folds[kind](np.repeat(T, n, axis=0), np.tile(B, (m, 1)))
            r, i, d, lab, rank = pairscan.first_k(
                D, np.repeat(np.arange(m), n), np.tile(ids, m), np.tile(labels, m), k,
                D != 0 if excl else None,
            )
            want = sorted(zip(tids[r].tolist(), i.tolist(), lab.tolist(), d.tolist(), rank.tolist()))
            have = sorted(
                (row.test_id, row.train_id, row.train_label, row.distance, row.rank) for row in got
            )
            same = len(have) == len(want) and all(
                h[:3] == w[:3] and h[4] == w[4]
                and np.float64(h[3]).tobytes() == np.float64(w[3]).tobytes()
                for h, w in zip(have, want)
            )
            if not same:
                fails += 1
                print(f"GRID MISMATCH trial={trial} kind={kind} bq={bq} bc={bc} excl={excl} n={n} m={m} L={L} k={k}")
    finally:
        pairscan._grid_split = split
    print(f"grid sweep: {trials} trials, {fails} failures")
    return fails


SWEEPS = {
    "dtw": sweep_dtw,
    "asof": sweep_asof,
    "interval": sweep_interval,
    "components": sweep_components,
    "jpeg": sweep_jpeg,
    "bpe": sweep_bpe,
    "bm25": sweep_bm25,
    "classify": sweep_classify,
    "sax": sweep_sax,
    "shape": sweep_shape,
    "edit": sweep_edit,
    "lof": sweep_lof,
    "conformal": sweep_conformal,
    "point": sweep_point,
    "grid": sweep_grid,
}
DEFAULT_TRIALS = {"dtw": 250, "asof": 40, "interval": 20, "components": 12, "jpeg": 30, "bpe": 12, "bm25": 25, "classify": 15, "sax": 12, "shape": 10, "edit": 200, "lof": 40, "conformal": 40, "point": 400, "grid": 72}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sweep", nargs="?", default="all", choices=[*SWEEPS, "all"])
    ap.add_argument("--trials", type=int, default=None)
    ap.add_argument("--seed", type=int, default=99)
    args = ap.parse_args()
    names = list(SWEEPS) if args.sweep == "all" else [args.sweep]
    total = 0
    for name in names:
        total += SWEEPS[name](args.trials or DEFAULT_TRIALS[name], args.seed)
    sys.exit(1 if total else 0)


if __name__ == "__main__":
    main()
