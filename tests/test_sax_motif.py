"""SAX + subsequence/motif operators (operators/sax.py, operators/motif.py):
pure-Python fold-order goldens, lower-bound property, classification sanity
on the HAR-like fixture, and edge/validation cases."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import (
    SAX_BREAKPOINTS,
    bop_classify,
    bop_histograms,
    matrix_profile,
    motif_words,
    sax_knn_classify,
    sax_mindist_sq,
    sax_symbolize,
    series_discords,
    subsequence_search,
    subsequence_windows,
)
from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators.sax import SAX_ALPHABET

# ------------------------- pure-Python goldens (fold-order mirrors) --------


def _py_znorm(f):
    n = len(f)
    s1 = 0.0
    for v in f:
        s1 += v
    mu = s1 / n
    s2 = 0.0
    for v in f:
        s2 += v * v
    var = s2 / n - mu * mu
    std = math.sqrt(max(var, 1e-300))
    return [(v - mu) / std for v in f]


def _py_paa(f, n_segments, length):
    seg = length // n_segments
    out = []
    for i in range(n_segments):
        s = 0.0
        for v in f[i * seg : i * seg + seg]:
            s += v
        out.append(s / float(seg))
    return out


def _py_sax_codes(f, n_segments, alphabet_size, length):
    betas = SAX_BREAKPOINTS[alphabet_size]
    p = _py_paa(_py_znorm(f), n_segments, length)
    return [sum(1 for b in betas if v >= b) for v in p]


def _py_word(codes):
    return "".join(SAX_ALPHABET[c] for c in codes)


def _py_mindist_sq(a, b, alphabet_size, length, n_segments):
    betas = SAX_BREAKPOINTS[alphabet_size]
    s = 0.0
    for r, c in zip(a, b):
        if abs(r - c) <= 1:
            cell = 0.0
        else:
            cell = betas[max(r, c) - 1] - betas[min(r, c)]
        s += cell * cell
    return (float(length) / float(n_segments)) * s


def _py_sq_euclid(a, b):
    s = 0.0
    for x, y in zip(a, b):
        s += (x - y) * (x - y)
    return s


def _py_windows(f, m):
    if len(f) < m:
        return []
    return [(i + 1, f[i : i + m]) for i in range(len(f) - m + 1)]


# ------------------------------------------------------------- SAX --------


def test_sax_codes_match_python_golden(spark):
    rng = np.random.default_rng(7)
    length = 16
    rows = [(i, [float(v) for v in rng.normal(0, 2, length)]) for i in range(40)]
    rows.append((100, [3.5] * length))  # constant series: std guard path
    df = spark.createDataFrame(rows, "series_id long, features array<double>")
    for nseg, a in [(8, 4), (4, 6), (2, 10), (16, 3)]:
        got = {
            r["series_id"]: (r["sax_codes"], r["sax_word"])
            for r in sax_symbolize(
                df, n_segments=nseg, alphabet_size=a, length=length
            ).collect()
        }
        for sid, f in rows:
            codes = _py_sax_codes(f, nseg, a, length)
            assert got[sid][0] == codes, (sid, nseg, a)
            assert got[sid][1] == _py_word(codes)


def test_sax_validation():
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators.sax import _check_alphabet

    with pytest.raises(ValueError, match="alphabet_size"):
        _check_alphabet(11)


def test_sax_symbolize_rejects_bad_geometry(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0])], "series_id long, features array<double>"
    )
    with pytest.raises(ValueError, match="n_segments"):
        sax_symbolize(df, n_segments=4, alphabet_size=4, length=2)


def test_mindist_golden_and_lower_bound(spark):
    """MINDIST matches the Python fold AND lower-bounds the true Euclidean
    distance between the z-normalized series (Lin et al. 2003 eq. 6)."""
    rng = np.random.default_rng(13)
    length, nseg, a = 16, 8, 5
    pairs = []
    for i in range(30):
        fa = [float(v) for v in rng.normal(0, 1.5, length)]
        fb = [float(v) for v in rng.normal(0, 1.5, length)]
        pairs.append((i, fa, fb))
    df = spark.createDataFrame(
        pairs, "id long, fa array<double>, fb array<double>"
    )
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators.sax import sax_codes

    got = df.select(
        "id",
        sax_mindist_sq(
            sax_codes(F.col("fa"), nseg, a, length),
            sax_codes(F.col("fb"), nseg, a, length),
            alphabet_size=a,
            length=length,
            n_segments=nseg,
        ).alias("md2"),
    ).collect()
    by_id = {r["id"]: r["md2"] for r in got}
    for i, fa, fb in pairs:
        ca = _py_sax_codes(fa, nseg, a, length)
        cb = _py_sax_codes(fb, nseg, a, length)
        exp = _py_mindist_sq(ca, cb, a, length, nseg)
        assert by_id[i] == pytest.approx(exp, abs=0, rel=0), i
        true_d2 = _py_sq_euclid(_py_znorm(fa), _py_znorm(fb))
        assert by_id[i] <= true_d2 + 1e-9, (i, by_id[i], true_d2)


def test_sax_knn_classify_separates_har(spark, har_dfs):
    train, test = har_dfs
    length = 24
    tr = sax_symbolize(train, n_segments=8, alphabet_size=6, length=length)
    te = sax_symbolize(test, n_segments=8, alphabet_size=6, length=length)
    pred = sax_knn_classify(
        te, tr, k=5, alphabet_size=6, length=length, n_segments=8
    )
    joined = pred.join(
        test.select(F.col("series_id").alias("test_id"), F.col("label").alias("actual")),
        "test_id",
    )
    rows = joined.collect()
    acc = sum(1 for r in rows if r["predicted_label"] == r["actual"]) / len(rows)
    assert acc >= 0.7, acc  # symbol-space KNN separates the archetypes


# ------------------------------------------------ windows / profile --------


def test_subsequence_windows_golden(spark):
    rows = [
        (1, [float(i) for i in range(10)]),
        (2, [2.0, 4.0, 6.0]),
        (3, [1.0]),  # shorter than m: no windows
    ]
    df = spark.createDataFrame(rows, "series_id long, features array<double>")
    got = subsequence_windows(df, 4, znormalize=False).collect()
    exp = {(sid, s): w for sid, f in rows for s, w in _py_windows(f, 4)}
    assert {(r["series_id"], r["start"]) for r in got} == set(exp)
    for r in got:
        assert r["win"] == exp[(r["series_id"], r["start"])]
    # znormalized path mirrors the fold
    gotz = {
        (r["series_id"], r["start"]): r["win"]
        for r in subsequence_windows(df, 4).collect()
    }
    for (sid, s), w in exp.items():
        assert gotz[(sid, s)] == pytest.approx(_py_znorm(w), abs=0)
    # step > 1 keeps only every step-th start
    got2 = subsequence_windows(df, 4, step=3, znormalize=False).collect()
    assert sorted(
        (r["series_id"], r["start"]) for r in got2
    ) == [(1, 1), (1, 4), (1, 7)]
    with pytest.raises(ValueError):
        subsequence_windows(df, 0)


def _py_matrix_profile(f, m, exclusion):
    wins = [(s, _py_znorm(w)) for s, w in _py_windows(f, m)]
    out = {}
    for sa, wa in wins:
        best = None
        for sb, wb in wins:
            if abs(sa - sb) < exclusion:
                continue
            d = _py_sq_euclid(wa, wb)
            key = (d, sb)
            if best is None or key < best:
                best = key
        if best is not None:
            out[sa] = best
    return out


def test_matrix_profile_golden(spark):
    rng = np.random.default_rng(3)
    rows = [(i, [float(v) for v in rng.normal(0, 1, 16)]) for i in range(8)]
    # plant a repeated motif + a discord in one series
    planted = [0.0] * 16
    planted[1:5] = [1.0, 5.0, 1.0, -2.0]
    planted[9:13] = [1.0, 5.0, 1.0, -2.0]
    planted[6] = 40.0
    rows.append((99, planted))
    df = spark.createDataFrame(rows, "series_id long, features array<double>")
    m, excl = 6, 3
    got = {
        (r["series_id"], r["start"]): (r["profile_d"], r["nn_start"])
        for r in matrix_profile(df, m, exclusion=excl).collect()
    }
    for sid, f in rows:
        exp = _py_matrix_profile(f, m, excl)
        for s, (d, nn) in exp.items():
            gd, gnn = got[(sid, s)]
            assert gnn == nn, (sid, s)
            assert gd == pytest.approx(d, abs=0), (sid, s)
    # discords/motifs top-1 parity
    disc = {
        r["series_id"]: r for r in series_discords(matrix_profile(df, m, exclusion=excl)).collect()
    }
    for sid, f in rows:
        exp = _py_matrix_profile(f, m, excl)
        if not exp:
            continue
        d_star = max(((d, -s) for s, (d, _) in exp.items()))
        m_star = min(((d, s) for s, (d, _) in exp.items()))
        assert disc[sid]["discord_start"] == -d_star[1]
        assert disc[sid]["discord_d"] == pytest.approx(d_star[0], abs=0)
        assert disc[sid]["motif_start"] == m_star[1]
        assert disc[sid]["motif_d"] == pytest.approx(m_star[0], abs=0)


def test_matrix_profile_kernel_declarative_bit_parity(spark):
    """r9: the map-only Arrow kernel (the new default) must be BIT-equal
    to the declarative self-join plan on a hostile fixture — ragged
    lengths (incl. shorter-than-m drop-outs), constant windows (the
    1e-300 std floor), and non-finite values (the scalar replay path;
    NaN sorts greatest like Spark's double ordering, and the pandas->
    Arrow NaN-as-null sentinel is folded back)."""
    import random

    rng = random.Random(20240816)
    rows = []
    for sid in range(120):
        length = rng.choice([2, 3, 7, 8, 12, 16, 40])
        base = rng.choice([0.0, 5.0])
        feats = [
            base + (rng.random() - 0.5) * rng.choice([0.0, 1.0, 10.0])
            for _ in range(length)
        ]
        if rng.random() < 0.15:
            feats = [base] * length
        rows.append((sid, feats))
    rows.append((900, [1.0, float("nan"), 2.0, 3.0, 1.0, 2.0, 3.0, 4.0, 5.0, 1.0]))
    rows.append((901, [float("nan")] * 12))
    rows.append((902, [float("inf"), 1.0, 2.0, 0.5, 3.0, 1.5, 2.5, 0.1]))
    df = spark.createDataFrame(rows, "series_id long, features array<double>")
    for m, excl in [(4, None), (8, 1), (3, 5), (2, None)]:
        k = {
            (r[0], r[1]): (r[2], r[3])
            for r in matrix_profile(df, m, exclusion=excl, strategy="kernel").collect()
        }
        d = {
            (r[0], r[1]): (r[2], r[3])
            for r in matrix_profile(
                df, m, exclusion=excl, strategy="declarative"
            ).collect()
        }
        assert set(k) == set(d)
        for key, (nn_k, d_k) in k.items():
            nn_d, d_d = d[key]
            assert nn_k == nn_d, (m, excl, key)
            if isinstance(d_k, float) and math.isnan(d_k):
                assert math.isnan(d_d), (m, excl, key)
            else:
                assert d_k == d_d, (m, excl, key)  # exact bits, no approx


def test_matrix_profile_null_elements_route_declarative(spark):
    """r10 (VERDICT r9 #5): series with embedded SQL NULL elements must
    produce the DECLARATIVE plan's answer under every strategy — the
    kernel receives nulls as NaN (sorts GREATEST) where the declarative
    folds propagate NULL (sorts FIRST), so the default path now routes
    null-element rows to the declarative branch. Hash-equal check on a
    hostile mixed fixture (null rows + clean rows + NaN rows)."""
    import random

    rng = random.Random(20260818)
    rows = []
    for sid in range(40):
        length = rng.choice([6, 8, 12])
        feats = [(rng.random() - 0.5) * 10.0 for _ in range(length)]
        if sid % 4 == 0:
            # embedded NULL elements at random positions
            for _ in range(rng.choice([1, 2])):
                feats[rng.randrange(length)] = None
        if sid % 7 == 0:
            feats[0] = float("nan")
        rows.append((sid, feats))
    rows.append((800, [None] * 8))  # all-null elements
    rows.append((801, None))  # whole-features NULL row
    df = spark.createDataFrame(rows, "series_id long, features array<double>")
    assert df.schema["features"].dataType.containsNull
    for m, excl in [(4, None), (3, 2)]:
        decl = matrix_profile(df, m, exclusion=excl, strategy="declarative")
        for strat in ("auto", "kernel"):
            got = matrix_profile(df, m, exclusion=excl, strategy=strat)
            k = {(r[0], r[1]): (r[2], r[3]) for r in got.collect()}
            d = {(r[0], r[1]): (r[2], r[3]) for r in decl.collect()}
            assert set(k) == set(d), (m, excl, strat)
            for key, (nn_k, d_k) in k.items():
                nn_d, d_d = d[key]
                assert nn_k == nn_d, (m, excl, strat, key)
                if d_k is None or (isinstance(d_k, float) and math.isnan(d_k)):
                    assert d_d is None or math.isnan(d_d)
                    assert (d_k is None) == (d_d is None), (m, excl, strat, key)
                else:
                    assert d_k == d_d, (m, excl, strat, key)


def test_matrix_profile_rejects_unknown_strategy(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0])], "series_id long, features array<double>"
    )
    with pytest.raises(ValueError, match="strategy"):
        matrix_profile(df, 2, strategy="bogus")


def test_matrix_profile_short_series_drop_out(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]), (2, [1.0, 2.0])],
        "series_id long, features array<double>",
    )
    # m=4, excl=2: series 1 has starts 1..3, pairs (1,3) only; series 2 none
    got = matrix_profile(df, 4, exclusion=2).collect()
    sids = {r["series_id"] for r in got}
    assert sids == {1}
    starts = sorted(r["start"] for r in got)
    assert starts == [1, 3]


# --------------------------------------------------- BOP / motif words -----


def _py_word_list(f, m, nseg, a):
    return [_py_word(_py_sax_codes(w, nseg, a, m)) for _, w in _py_windows(f, m)]


def _py_nr(words):
    return [w for i, w in enumerate(words) if i == 0 or w != words[i - 1]]


def test_motif_words_and_bop_histograms_golden(spark):
    rng = np.random.default_rng(5)
    rows = [
        (i, [float(v) for v in rng.normal(0, 1, 12)], "x") for i in range(10)
    ]
    df = spark.createDataFrame(
        rows, "series_id long, features array<double>, label string"
    )
    m, nseg, a = 8, 4, 4
    # global word counts
    exp_counts: dict[str, list] = {}
    for sid, f, _ in rows:
        for w in _py_word_list(f, m, nseg, a):
            exp_counts.setdefault(w, []).append(sid)
    got = {
        r["word"]: (r["n_windows"], r["n_series"])
        for r in motif_words(df, m, n_segments=nseg, alphabet_size=a).collect()
    }
    assert got == {
        w: (len(sids), len(set(sids))) for w, sids in exp_counts.items()
    }
    # histograms with + without numerosity reduction
    for nr in (True, False):
        hist = bop_histograms(
            df, m, n_segments=nseg, alphabet_size=a, numerosity_reduction=nr
        ).collect()
        exp: dict[tuple, int] = {}
        for sid, f, lbl in rows:
            words = _py_word_list(f, m, nseg, a)
            if nr:
                words = _py_nr(words)
            for w in words:
                exp[(sid, lbl, w)] = exp.get((sid, lbl, w), 0) + 1
        assert {
            (r["series_id"], r["label"], r["word"]): r["cnt"] for r in hist
        } == exp


def test_bop_classify_exact_integer_distance(spark):
    """bop_classify's 1-NN matches a brute-force python computation of the
    integer histogram distance, including pairs with NO shared words."""
    rng = np.random.default_rng(9)
    length, m, nseg, a = 20, 10, 5, 4
    train_rows = [
        (i, [float(v) for v in rng.normal(0, 1, length)], f"c{i % 3}")
        for i in range(25)
    ]
    test_rows = [
        (1000 + i, [float(v) for v in rng.normal(0, 1, length)], "?")
        for i in range(10)
    ]
    schema = "series_id long, features array<double>, label string"
    train = spark.createDataFrame(train_rows, schema)
    test = spark.createDataFrame(test_rows, schema)
    th = bop_histograms(test.drop("label"), m, n_segments=nseg, alphabet_size=a)
    rh = bop_histograms(train, m, n_segments=nseg, alphabet_size=a)
    pred = {r["test_id"]: r["predicted_label"] for r in bop_classify(th, rh, k=1).collect()}

    def hist(f):
        h: dict[str, int] = {}
        for w in _py_nr(_py_word_list(f, m, nseg, a)):
            h[w] = h.get(w, 0) + 1
        return h

    train_h = [(sid, hist(f), lbl) for sid, f, lbl in train_rows]
    for sid, f, _ in test_rows:
        ht = hist(f)
        best = None
        for tid, hr, lbl in train_h:
            d = sum(v * v for v in ht.values()) + sum(v * v for v in hr.values())
            d -= 2 * sum(ht[w] * hr.get(w, 0) for w in ht)
            key = (d, lbl, tid)
            if best is None or key < best:
                best = key
        assert pred[sid] == best[1], sid


def test_bop_classify_disjoint_words(spark):
    """A test/train pair sharing no word still gets a (norms-only) distance."""
    rows_tr = [(1, "up", "aabb", 3), (1, "up", "bbcc", 2)]
    rows_te = [(7, "zzzz", 4)]
    tr = spark.createDataFrame(rows_tr, "series_id long, label string, word string, cnt long")
    te = spark.createDataFrame(rows_te, "series_id long, word string, cnt long")
    out = bop_classify(te, tr, k=1).collect()
    assert len(out) == 1 and out[0]["predicted_label"] == "up"


def test_sax_knn_vs_raw_knn_agreement(spark, har_dfs):
    """On well-separated archetypes, symbol-space and BOP KNN agree with the
    raw labels often enough to prove the chain carries signal end to end."""
    train, test = har_dfs
    th = bop_histograms(test.drop("label"), 12, n_segments=4, alphabet_size=4)
    rh = bop_histograms(train, 12, n_segments=4, alphabet_size=4)
    pred = bop_classify(th, rh, k=3)
    joined = pred.join(
        test.select(F.col("series_id").alias("test_id"), F.col("label").alias("actual")),
        "test_id",
    ).collect()
    acc = sum(1 for r in joined if r["predicted_label"] == r["actual"]) / len(joined)
    assert acc >= 0.6, acc


def test_subsequence_search_golden(spark):
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators.motif import _py_znorm_fold

    rng = np.random.default_rng(21)
    rows = [(i, [float(v) for v in rng.normal(0, 1, 14)]) for i in range(12)]
    pattern = [0.0, 1.0, 3.0, 1.0, 0.0]
    df = spark.createDataFrame(rows, "series_id long, features array<double>")
    got = subsequence_search(df, pattern, k=7).collect()
    pat = _py_znorm_fold(pattern)
    cand = []
    for sid, f in rows:
        for s, w in _py_windows(f, 5):
            cand.append((_py_sq_euclid(_py_znorm(w), pat), sid, s))
    cand.sort()
    assert [(r["d"], r["series_id"], r["start"]) for r in got] == cand[:7]
    with pytest.raises(ValueError):
        subsequence_search(df, [], k=3)
    with pytest.raises(ValueError):
        subsequence_search(df, pattern, k=0)


def test_fluss_segmentation_finds_regime_boundary(spark):
    """fluss_segmentation (r6): two glued behaviors (fast alternation ->
    slow ramp repeats) put the boundary cut near the glue point; arc
    counts replay exactly against a python rebuild from the profile."""
    import math

    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import (
        fluss_segmentation,
        matrix_profile,
    )

    # 24 points: 12 of period-2 alternation, then 12 of period-4 ramps
    left = [1.0, -1.0] * 6
    right = [0.0, 1.0, 2.0, 3.0] * 3
    sig = left + right
    df = spark.createDataFrame([(1, sig)], "series_id long, features array<double>")
    out = sorted(fluss_segmentation(df, m=4).collect(), key=lambda r: r["p"])
    L = len(sig) - 4 + 1  # 21 starts, cuts 1..20
    assert [r["p"] for r in out] == list(range(1, L))
    b = [r for r in out if r["is_boundary"]]
    assert len(b) == 1
    # glue point: left block ends at position 12 -> boundary cut within
    # the last left window span [9, 13]
    assert 8 <= b[0]["p"] <= 14
    assert all(0.0 <= r["cac"] <= 1.0 for r in out)

    # arc-count replay from the engine's own matrix profile
    prof = matrix_profile(df, 4).collect()
    for r in out:
        expect = sum(
            1 for q in prof
            if min(q["start"], q["nn_start"]) <= r["p"] < max(q["start"], q["nn_start"])
        )
        assert r["arcs"] == expect, r["p"]


def test_sfa_words_shape_discrimination(spark):
    """sfa_words (r6): same-shape series (shifted copies / scaled
    sinusoids of one period) share frequency structure and get closer
    words than a different-period shape; words are 2*n_coeffs digits in
    {0..3}; per-dimension symbols spread across bins (quartile MCB)."""
    import math

    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import sfa_words

    def sig(period, amp, phase):
        return [amp * math.sin(2 * math.pi * (t + phase) / period) for t in range(16)]

    rows = (
        [(i, sig(4, 3.0 + 0.1 * i, 0)) for i in range(6)]         # period-4 family
        + [(10 + i, sig(8, 3.0 + 0.1 * i, 0)) for i in range(6)]  # period-8 family
    )
    df = spark.createDataFrame(rows, "series_id long, features array<double>")
    got = {r["series_id"]: r["sfa_word"] for r in sfa_words(df, length=16, n_coeffs=4).collect()}
    assert all(len(w) == 8 and set(w) <= set("0123") for w in got.values())

    def ham(a, b):
        return sum(x != y for x, y in zip(a, b))

    within4 = [ham(got[i], got[j]) for i in range(6) for j in range(i + 1, 6)]
    across = [ham(got[i], got[10 + j]) for i in range(6) for j in range(6)]
    assert sum(within4) / len(within4) < sum(across) / len(across)


def test_boss_classify_separates_periods(spark):
    """boss_classify (r6): two period families (4 vs 8) separate at high
    accuracy; distances are integers; ties/order deterministic across
    two runs."""
    import math

    import numpy as np

    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import boss_classify

    rng = np.random.default_rng(1)

    def mk(n, cls, start):
        p = 4 if cls == "a" else 8
        return [
            (
                start + i,
                [
                    math.sin(2 * math.pi * t / p) * 3 + float(rng.normal(0, 0.2))
                    for t in range(16)
                ],
                cls,
            )
            for i in range(n)
        ]

    schema = "series_id long, features array<double>, label string"
    train = spark.createDataFrame(mk(20, "a", 0) + mk(20, "b", 100), schema)
    test = spark.createDataFrame(mk(6, "a", 1000) + mk(6, "b", 2000), schema)
    out1 = sorted(boss_classify(test, train).collect())
    out2 = sorted(boss_classify(test, train).collect())
    assert out1 == out2  # end-to-end determinism
    acc = sum(
        1 for r in out1
        if r["predicted_label"] == ("a" if r["test_id"] < 2000 else "b")
    ) / len(out1)
    assert acc >= 0.75
    assert all(isinstance(r["boss_distance"], int) for r in out1)


def test_round_half_up_micro_matches_spark(spark):
    """r10 (VERDICT r9 #8): the BOSS kernels replay Spark's
    ``round(v)::bigint`` micro-rounding in numpy. Spark's Round(HALF_UP)
    on DOUBLE is defined through the double's SHORTEST-DECIMAL string
    (BigDecimal.valueOf), so pin the replay against Spark itself over
    adversarial values: exact .5 boundaries, 1-ulp neighbors on both
    sides, huge integral doubles (where floor(x+0.5) alone rounds to the
    wrong even), values past the int64 saturation range, and random
    magnitudes across 20 decades."""
    import math
    import random

    import numpy as np

    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators.sax import (
        _round_half_up_micro,
    )

    rng = random.Random(20260818)
    vals = [0.0, -0.0, 0.5, -0.5, 1.5, 2.5, -2.5, 0.49999999999999994]
    for n in [0, 1, 2, 3, 7, 10**6, 10**12, 2**51, 2**52 + 1, 2**53 - 1]:
        for s in (1.0, -1.0):
            b = s * (n + 0.5)
            vals += [b, math.nextafter(b, math.inf), math.nextafter(b, -math.inf)]
    vals += [4e18, -4e18, float(2**62 + 1024), -float(2**62 + 1024)]
    for _ in range(4000):
        mag = 10.0 ** rng.uniform(-3, 17)
        v = rng.choice([-1.0, 1.0]) * (math.floor(mag) + rng.choice(
            [0.5, 0.5 + rng.uniform(-1e-9, 1e-9), rng.random()]
        ))
        vals.append(v)
    vals = [float(v) for v in vals]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    # ANSI mode (Spark 4 default): a plain bigint cast RAISES on overflow;
    # the BOSS hostile-input guard keeps such values off the kernel path,
    # so the replay contract covers in-range values only — try_cast lets
    # one query sweep everything and the comparison skips the NULLs.
    got_spark = [
        r["r"] for r in df.selectExpr("try_cast(round(v) as bigint) as r").collect()
    ]
    got_np = _round_half_up_micro(np.asarray(vals)).tolist()
    bad = [
        (v, s, n)
        for v, s, n in zip(vals, got_spark, got_np)
        if s is not None and s != n
    ]
    assert not bad, bad[:10]
    assert sum(1 for s in got_spark if s is not None) > len(vals) - 10


def test_boss_kernel_declarative_bit_parity(spark):
    """r10 (VERDICT r9 #8): boss_classify's Arrow words/edges kernels must
    be bit-equal to the declarative HOF plan — random corpora with ragged
    lengths (incl. shorter-than-m drop-outs), duplicate series, integer-
    ish values that land coefficient ties, and a label type exercise."""
    import random

    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import boss_classify

    rng = random.Random(7)
    for trial in range(3):
        train_rows = []
        for i in range(40):
            L = rng.choice([6, 8, 9, 12, 16])
            feats = [
                rng.choice([0.0, 0.125, 1.0, 2.5, -1.5, rng.random() * 4])
                for _ in range(L)
            ]
            train_rows.append((i, feats, ["p4", "p8", "q"][i % 3]))
        train_rows.append((90, list(train_rows[0][1]), train_rows[0][2]))  # dup
        test_rows = [
            (200 + i, [rng.random() * 4 for _ in range(rng.choice([7, 8, 12]))])
            for i in range(12)
        ]
        train = spark.createDataFrame(
            train_rows, "series_id long, features array<double>, label string"
        )
        test = spark.createDataFrame(test_rows, "series_id long, features array<double>")
        a = sorted(map(tuple, boss_classify(test, train, m=8, n_coeffs=2).collect()))
        b = sorted(
            map(
                tuple,
                boss_classify(
                    test, train, m=8, n_coeffs=2, strategy="declarative"
                ).collect(),
            )
        )
        assert a == b, trial


def test_boss_kernel_declarative_parity_six_coeffs(spark):
    """n_coeffs=6 (a 4^12-word key space): the kernel builds words only
    for the codes it emits and still equals the declarative plan."""
    import random

    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import boss_classify

    rng = random.Random(13)
    train = spark.createDataFrame(
        [(i, [rng.random() * 4 for _ in range(20)], ["a", "b"][i % 2]) for i in range(8)],
        "series_id long, features array<double>, label string",
    )
    test = spark.createDataFrame(
        [(100 + i, [rng.random() * 4 for _ in range(16)]) for i in range(3)],
        "series_id long, features array<double>",
    )
    kw = dict(m=12, n_coeffs=6)
    kernel = sorted(map(tuple, boss_classify(test, train, strategy="kernel", **kw).collect()))
    decl = sorted(map(tuple, boss_classify(test, train, strategy="declarative", **kw).collect()))
    assert kernel and kernel == decl


def test_boss_hostile_input_routes_declarative(spark):
    """Null elements fold into NaN across Arrow (losing the declarative
    NULL-comparison semantics), and NaN / huge elements make the
    declarative micro-rounding cast raise under ANSI — corpora carrying
    any of those must take the declarative plan wholesale: results equal
    the forced-declarative call, and the auto plan carries no Python
    kernel node."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import boss_classify

    test = spark.createDataFrame(
        [(9, [1.0, 0.5, 2.0, 1.5, 1.0, 0.5, 2.0, 1.5, 0.25])],
        "series_id long, features array<double>",
    )
    for hostile_feats in (
        [1.0, 2.0, None, 4.0, 1.0, 2.0, 3.0, 4.0, 2.0],  # null element
        [5e9, 2.0, 1.0, 4.0, 1.0, 2.0, 3.0, 4.0, 2.0],  # near-overflow
    ):
        train = spark.createDataFrame(
            [
                (1, hostile_feats, "a"),
                (3, [1.0, 0.5, 2.0, 1.5, 1.0, 0.5, 2.0, 1.5, 3.0, 2.0], "a"),
                (4, [0.5, 1.5, 0.25, 2.0, 1.0, 3.0, 0.75, 1.25, 2.5], "b"),
            ],
            "series_id long, features array<double>, label string",
        )
        auto = boss_classify(test, train, m=8, n_coeffs=2)
        plan = auto._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in plan
        decl = boss_classify(test, train, m=8, n_coeffs=2, strategy="declarative")
        assert sorted(map(tuple, auto.collect())) == sorted(
            map(tuple, decl.collect())
        )


def test_boss_hostile_test_side_routes_declarative(spark):
    """The hostile-input gate reads both sides in one aggregate: a null
    element on the TEST side alone also keeps the call declarative."""
    from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.operators import boss_classify

    train = spark.createDataFrame(
        [
            (3, [1.0, 0.5, 2.0, 1.5, 1.0, 0.5, 2.0, 1.5, 3.0, 2.0], "a"),
            (4, [0.5, 1.5, 0.25, 2.0, 1.0, 3.0, 0.75, 1.25, 2.5], "b"),
        ],
        "series_id long, features array<double>, label string",
    )
    test = spark.createDataFrame(
        [(9, [1.0, 0.5, 2.0, None, 1.0, 0.5, 2.0, 1.5, 0.25])],
        "series_id long, features array<double>",
    )
    auto = boss_classify(test, train, m=8, n_coeffs=2)
    assert "MapInPandas" not in auto._jdf.queryExecution().executedPlan().toString()
    decl = boss_classify(test, train, m=8, n_coeffs=2, strategy="declarative")
    assert sorted(map(tuple, auto.collect())) == sorted(map(tuple, decl.collect()))
