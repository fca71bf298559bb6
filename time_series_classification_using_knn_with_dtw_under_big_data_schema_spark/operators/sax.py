"""SAX — Symbolic Aggregate approXimation (Lin, Keogh, Lonardi & Chiu 2003).

Engine extension to the reference's pairwise-distance paradigm
(Team11-Project.py computes Euclidean/FastDTW over raw 561-point vectors):
SAX compresses a z-normalized series to a short symbol word via PAA +
equiprobable Gaussian breakpoints, and MINDIST over words LOWER-BOUNDS the
Euclidean distance over the raw series — so symbol-space KNN is the
byte-frugal first phase the raw-vector cross join (knn.py J2/J3) cannot be
at 100 TB: a 561-point double series (4.5 KB) becomes an 8-char word.

Everything here is pure codegen'd SQL expressions (left-fold arithmetic
only, the NOTES oracle-parity invariant): no UDFs, no collects. The DuckDB
oracles in __spark_entry__.py mirror each fold bit-for-bit.

Scale shape: symbolization is a per-row projection (zero shuffles);
``sax_knn_classify`` cross-joins WORDS (w small ints per series, ~1/70th
of raw bytes at 561->8) and prunes per-test with one WindowGroupLimit
window — the same plan discipline as knn.py, on radically fewer bytes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.arrays import paa, znorm
from ..plans.eager import agg_row
from .topk import topk_per_key
from .vote import majority_vote

# Equiprobable N(0,1) breakpoints (Lin et al. 2003, Table 3) — FIXED literal
# constants so Spark and the DuckDB oracle discretize identically.
SAX_BREAKPOINTS: dict[int, list[float]] = {
    2: [0.0],
    3: [-0.43, 0.43],
    4: [-0.67, 0.0, 0.67],
    5: [-0.84, -0.25, 0.25, 0.84],
    6: [-0.97, -0.43, 0.0, 0.43, 0.97],
    7: [-1.07, -0.57, -0.18, 0.18, 0.57, 1.07],
    8: [-1.15, -0.67, -0.32, 0.0, 0.32, 0.67, 1.15],
    9: [-1.22, -0.76, -0.43, -0.14, 0.14, 0.43, 0.76, 1.22],
    10: [-1.28, -0.84, -0.52, -0.25, 0.0, 0.25, 0.52, 0.84, 1.28],
}

SAX_ALPHABET = "abcdefghij"


def _check_alphabet(alphabet_size: int) -> list[float]:
    if alphabet_size not in SAX_BREAKPOINTS:
        raise ValueError(
            f"alphabet_size must be in {sorted(SAX_BREAKPOINTS)}, got {alphabet_size}"
        )
    return SAX_BREAKPOINTS[alphabet_size]


def sax_codes(
    arr: Column, n_segments: int, alphabet_size: int, length: int
) -> Column:
    """array<double> (fixed ``length``) -> array<int> of SAX symbol codes.

    znorm (whole series) -> PAA (n_segments means) -> discretize each mean
    as ``count of breakpoints <= mean`` (a left fold over the breakpoint
    literals, so ties-at-breakpoint resolve identically cross-engine).
    """
    betas = _check_alphabet(alphabet_size)
    p = paa(znorm(arr), n_segments, length)
    return F.transform(
        p,
        lambda v: F.aggregate(
            F.array(*[F.lit(b) for b in betas]),
            F.lit(0),
            lambda acc, b: acc + F.when(v >= b, F.lit(1)).otherwise(F.lit(0)),
        ),
    )


def codes_to_word(codes: Column) -> Column:
    """array<int> codes -> the SAX word string ('abca...')."""
    return F.aggregate(
        codes,
        F.lit(""),
        lambda acc, c: F.concat(acc, F.substr(F.lit(SAX_ALPHABET), c + 1, F.lit(1))),
    )


def sax_symbolize(
    series: DataFrame,
    *,
    n_segments: int = 8,
    alphabet_size: int = 4,
    length: int,
    features_col: str = "features",
) -> DataFrame:
    """(series_id, features[, label]) -> (series_id[, label], sax_codes,
    sax_word). Pure per-row projection — zero shuffles, codegen'd end to
    end; at 100 TB this is a map-only pass that shrinks each series to a
    word."""
    if length // n_segments < 1:
        raise ValueError(
            f"n_segments={n_segments} exceeds series length {length}"
        )
    codes = sax_codes(F.col(features_col), n_segments, alphabet_size, length)
    keep = [c for c in series.columns if c not in (features_col,)]
    return series.select(
        *keep,
        codes.alias("sax_codes"),
    ).withColumn("sax_word", codes_to_word(F.col("sax_codes")))


def sax_mindist_sq(
    a: Column, b: Column, *, alphabet_size: int, length: int, n_segments: int
) -> Column:
    """Scaled squared MINDIST between two SAX code arrays:

        (length / n_segments) * sum_i cell(a_i, b_i)^2
        cell(r, c) = 0                          if |r - c| <= 1
                     beta[max(r,c)-1] - beta[min(r,c)]   otherwise

    sqrt of this is the classic MINDIST, a LOWER BOUND on the Euclidean
    distance between the z-normalized originals (Lin et al. 2003, eq. 6);
    ranking on the square avoids a needless sqrt in the hot compare.
    """
    betas = _check_alphabet(alphabet_size)
    beta_arr = F.array(*[F.lit(x) for x in betas])
    cells = F.zip_with(
        a,
        b,
        lambda r, c: F.when(
            F.abs(r - c) <= 1, F.lit(0.0)
        ).otherwise(
            F.element_at(beta_arr, F.greatest(r, c))
            - F.element_at(beta_arr, F.least(r, c) + 1)
        ),
    )
    s = F.aggregate(cells, F.lit(0.0), lambda acc, v: acc + v * v)
    return F.lit(float(length) / float(n_segments)) * s


def sax_knn_classify(
    test_sax: DataFrame,
    train_sax: DataFrame,
    *,
    k: int = 5,
    alphabet_size: int = 4,
    length: int,
    n_segments: int = 8,
    codes_col: str = "sax_codes",
) -> DataFrame:
    """KNN classification in symbol space: cross join on WORDS (not raw
    series), rank per test by (MINDIST^2, train_label, train_id) — the
    reference's heapq tie order (Team11-Project.py:180) — then the
    Counter-parity majority vote. Returns (test_id, predicted_label).

    Scale: the join side carries n_segments small ints per row; with the
    default 8 segments a 561-point series moves ~1/280th of its raw bytes.
    WindowGroupLimit prunes map-side exactly like the raw-vector KNN.
    """
    d = sax_mindist_sq(
        F.col("t." + codes_col),
        F.col("r." + codes_col),
        alphabet_size=alphabet_size,
        length=length,
        n_segments=n_segments,
    )
    pairs = (
        test_sax.alias("t")
        # the train side is words (n_segments small ints/row) — broadcast is
        # a hint, never a driver collect (knn.py J3 discipline)
        .crossJoin(F.broadcast(train_sax.alias("r")))
        .select(
            F.col("t.series_id").alias("test_id"),
            F.col("r.series_id").alias("train_id"),
            F.col("r.label").alias("train_label"),
            d.alias("d"),
        )
    )
    topk = topk_per_key(
        pairs, "test_id", [F.asc("d"), F.asc("train_label"), F.asc("train_id")], k
    )
    return majority_vote(topk)


def sfa_words(
    series: DataFrame,
    *,
    length: int,
    n_coeffs: int = 4,
    id_col: str = "series_id",
    features_col: str = "features",
) -> DataFrame:
    """SFA — Symbolic Fourier Approximation words (r6; Schäfer & Högqvist,
    EDBT 2012 — the BOSS family's symbolization): where SAX bins the TIME
    domain (PAA means), SFA bins the FREQUENCY domain — the first
    ``n_coeffs`` Fourier coefficients (real+imag, via the q168 literal
    twiddle tables), each discretized into 4 symbols by Multiple
    Coefficient Binning: per-dimension CORPUS quartiles as the bin edges.

    Exactness chain: coefficients fold over literal twiddles ->
    micro-rounded BIGINT (the integer-percentile trick, q36/q69) ->
    Spark ``percentile`` == DuckDB ``quantile_cont`` on integer input ->
    symbol comparisons on exact doubles -> word = digits concatenated in
    dimension order. Two corpus passes (coefficients, then binning —
    edges are a 2*n_coeffs-row broadcast); rows whose length differs
    from ``length`` are filtered (twiddles are length-specific).

    Output: (id_col, sfa_word string) — the content-addressable series
    key for BOSS-style bag-of-words classification and grouping."""
    from .features import periodogram_twiddles, twiddle_fold

    tw = periodogram_twiddles(length, n_coeffs)
    f = F.col(features_col)
    base = series.filter(F.size(f) == length)

    def micro(col):
        return F.round(col * F.lit(1_000_000.0)).cast("bigint")

    entries = []
    for idx, (k, cs, sn) in enumerate(tw):
        entries.append(
            F.struct(
                F.lit(2 * idx).alias("dim"),
                micro(twiddle_fold(f, cs, length=length)).alias("cm"),
            )
        )
        entries.append(
            F.struct(
                F.lit(2 * idx + 1).alias("dim"),
                micro(twiddle_fold(f, sn, length=length)).alias("cm"),
            )
        )
    long = base.select(
        F.col(id_col), F.explode(F.array(*entries)).alias("_e")
    ).select(F.col(id_col), F.col("_e.dim").alias("dim"), F.col("_e.cm").alias("cm"))
    edges = long.groupBy("dim").agg(
        F.expr("percentile(cm, 0.25D)").alias("e1"),
        F.expr("percentile(cm, 0.5D)").alias("e2"),
        F.expr("percentile(cm, 0.75D)").alias("e3"),
    )
    sym = long.join(F.broadcast(edges), "dim").select(
        F.col(id_col),
        F.col("dim"),
        F.when(F.col("cm").cast("double") <= F.col("e1"), F.lit(0))
        .when(F.col("cm").cast("double") <= F.col("e2"), F.lit(1))
        .when(F.col("cm").cast("double") <= F.col("e3"), F.lit(2))
        .otherwise(F.lit(3))
        .alias("s"),
    )
    return sym.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("dim").alias("d"), F.col("s").alias("s")))
                ),
                lambda x: x["s"].cast("string"),
            ),
            "",
        ).alias("sfa_word")
    )


def _round_half_up_micro(v):
    """Bitwise replay of Spark's ``round(v)`` on DOUBLE followed by
    ``cast(... as bigint)`` (the micro-rounding step of every BOSS/SFA
    coefficient): Spark's Round(HALF_UP, scale 0) is defined through the
    SHORTEST-DECIMAL string of the double (``BigDecimal.valueOf`` =
    ``new BigDecimal(Double.toString(v))``), not its exact binary value.

    Fast path: ``sign * floor(|v| + 0.5)`` — identical to the string
    rounding everywhere except when |v|'s fractional part sits within a
    few ulp of 0.5 (there the binary value and its shortest-decimal repr
    can fall on opposite sides of the boundary, and the +0.5 add itself
    can round across it). Those RISKY lanes replay the authoritative
    definition through ``Decimal(repr(x))`` — CPython's repr is the same
    shortest-round-trip decimal contract — with HALF_UP (away from zero,
    matching java.math.RoundingMode.HALF_UP). Out-of-int64-range values
    CLAMP here only as numpy-UB protection: the session runs ANSI mode
    (the Spark 4 default), where the declarative ``cast(... as bigint)``
    RAISES on overflow/NaN — _boss_hostile_input routes any corpus that
    could produce such coefficients to the declarative plan (preserving
    that error), so the kernels never see them. Agreement with Spark is
    pinned empirically by tests/test_sax_motif.py::
    test_round_half_up_micro_matches_spark over adversarial near-boundary
    doubles."""
    import numpy as np

    v = np.asarray(v, dtype=np.float64)
    av = np.abs(v)
    r = np.floor(av + 0.5)
    fr = av - np.floor(av)
    # 4 ulp margin: covers both the decimal-repr offset (< 1/2 ulp) and
    # the |v|+0.5 rounding step; huge integral values (ulp >= 0.125) all
    # fall in the band and take the exact path, which also fixes
    # floor(av+0.5) rounding AV+0.5 up to the next even integer there
    risky = np.abs(fr - 0.5) <= 4.0 * np.spacing(av)
    if risky.any():
        from decimal import ROUND_HALF_UP, Decimal

        flat_r = r.reshape(-1)
        flat_a = av.reshape(-1)
        for i in np.flatnonzero(risky.reshape(-1)):
            flat_r[i] = float(
                Decimal(repr(float(flat_a[i]))).quantize(
                    Decimal("1"), rounding=ROUND_HALF_UP
                )
            )
    r = np.where(np.signbit(v), -r, r)
    out = np.empty(r.shape, dtype=np.int64)
    big = r >= 2.0 ** 63
    small = r < -(2.0 ** 63)
    mid = ~(big | small)
    out[mid] = r[mid].astype(np.int64)
    out[big] = np.int64(2 ** 63 - 1)
    out[small] = np.int64(-(2 ** 63))
    return out


def _boss_window_coefs(X, m: int, tabs):
    """(B, L) same-length series block -> per-dim (B, n_win) micro-rounded
    int64 coefficient matrices. The fold accumulates IN INDEX ORDER
    (acc = acc + x[s+t] * c_t, vectorized across windows) — the exact
    IEEE op sequence of features.twiddle_fold's unrolled Add/Multiply
    chain, so values are bit-identical to the declarative pass."""
    import numpy as np

    W = np.lib.stride_tricks.sliding_window_view(X, m, axis=1)
    out = []
    for tab in tabs:
        acc = np.zeros(W.shape[:2])
        for t in range(m):
            acc = acc + W[:, :, t] * tab[t]
        out.append(_round_half_up_micro(acc * 1_000_000.0))
    return out


def _boss_hostile_input(train, test, features_col: str) -> bool:
    """True when any row of either side carries a null / NaN /
    large-magnitude element (both sides in one observed scan,
    ``plans.eager.agg_row``: one SQL execution, one job) —
    inputs whose semantics the Arrow kernels cannot replicate: Arrow folds
    SQL NULL elements into NaN (the declarative folds propagate NULL,
    which the MCB binning sends to digit '3' via null comparisons), and
    NaN / huge coefficients make the declarative micro-rounding cast RAISE
    under ANSI mode (the Spark 4 default) — the kernel must not mask that
    error. Such corpora take the declarative plan wholesale (the BOSS
    histograms are corpus-coupled through the MCB edges, so per-row
    routing like matrix_profile's is not possible). The 1e9 magnitude
    bound keeps every kernel-path micro coefficient orders of magnitude
    inside int64 for any plausible window length; larger-valued corpora
    only lose the kernel speedup, never correctness."""
    def hostile(df):
        return df.select(
            F.exists(
                F.col(features_col),
                lambda x: x.isNull() | F.isnan(x) | (F.abs(x) >= F.lit(1e9)),
            ).alias("_h")
        )

    return bool(agg_row(hostile(train).unionByName(hostile(test)), h=F.max("_h"))["h"])


def _boss_hists_kernel(
    df: DataFrame,
    keep_label: bool,
    *,
    m: int,
    tabs,
    edge_map: dict,
    id_col: str,
    features_col: str,
    label_col: str,
    id_type: str,
    label_type: str,
):
    """Arrow kernel twin of boss_classify's ``hists`` (r10, VERDICT r9
    #8): one mapInPandas pass computes every window's SFA word, applies
    numerosity reduction and emits the per-series word HISTOGRAM directly
    — no window explode, no per-window interpreted ``transform`` lambda,
    no groupBy (each series is whole inside its row). Bit-identity with
    the declarative pass: the coefficient folds replay twiddle_fold's op
    order (_boss_window_coefs), the micro-rounding replays Spark's
    HALF_UP string rounding (_round_half_up_micro), and the MCB binning
    compares the same int64-cast-to-double values against the SAME edges
    the declarative plan would broadcast."""
    import numpy as np
    import pandas as pd

    n_dims = len(tabs)
    K = 4 ** n_dims
    # bit shifts of the packed base-4 code's digits, most significant first
    shifts = 2 * np.arange(n_dims - 1, -1, -1, dtype=np.int64)
    # per-dim (e1, e2, e3); a missing/None edge (no train windows) makes
    # every comparison false -> digit 3, exactly the declarative
    # null-comparison fallthrough
    edges = [edge_map.get(d) for d in range(n_dims)]

    sel = [F.col(id_col).alias("_id"), F.col(features_col).alias("_f")]
    if keep_label:
        sel.append(F.col(label_col).alias("_lbl"))
    src = df.select(*sel)

    def op(batches):
        for pdf in batches:
            ids = pdf["_id"].to_numpy()
            labs = np.asarray(list(pdf["_lbl"])) if keep_label else None
            feats = pdf["_f"]
            by_len: dict = {}
            for i, f in enumerate(feats):
                if f is not None and len(f) >= m:
                    by_len.setdefault(len(f), []).append(i)
            out_parts = []
            for L, idxs in sorted(by_len.items()):
                X = np.stack([np.asarray(feats[i], dtype=np.float64) for i in idxs])
                cms = _boss_window_coefs(X, m, tabs)
                code = None
                for d in range(n_dims):
                    cmd = cms[d].astype(np.float64)
                    trip = edges[d]
                    if trip is None or trip[0] is None:
                        dig = np.full(cmd.shape, 3, dtype=np.int64)
                    else:
                        e1, e2, e3 = trip
                        dig = np.where(
                            cmd <= e1, 0, np.where(cmd <= e2, 1, np.where(cmd <= e3, 2, 3))
                        )
                    code = dig if code is None else code * 4 + dig
                B, n_win = code.shape
                # numerosity reduction: drop consecutive duplicate words
                keep = np.empty((B, n_win), dtype=bool)
                keep[:, 0] = True
                np.not_equal(code[:, 1:], code[:, :-1], out=keep[:, 1:])
                kf = keep.reshape(-1)
                rid = np.repeat(np.arange(B, dtype=np.int64), n_win)[kf]
                ck = code.reshape(-1)[kf]
                # per-series histogram: unique on the (row, word) pair key
                uk, cnt = np.unique(rid * K + ck, return_counts=True)
                urow = (uk // K).astype(np.intp)
                ucode = uk % K
                gidx = np.asarray(idxs, dtype=np.intp)[urow]
                part = {"_id": ids[gidx]}
                if keep_label:
                    part["_lbl"] = labs[gidx]
                # words for the emitted codes only (a dense 4^n_dims table
                # is 16.7M strings at n_coeffs=6): digits '0'..'3' as UCS4
                # code points, viewed as one n_dims-character string per code
                digits = ((ucode[:, None] >> shifts) & 3) + ord("0")
                part["word"] = digits.astype(np.uint32).view(f"<U{n_dims}").reshape(-1)
                part["cnt"] = cnt.astype(np.int64)
                out_parts.append(part)
            if out_parts:
                cols = ["_id"] + (["_lbl"] if keep_label else []) + ["word", "cnt"]
                yield pd.DataFrame(
                    {
                        c: (
                            np.concatenate([p[c] for p in out_parts])
                            if len(out_parts) > 1
                            else out_parts[0][c]
                        )
                        for c in cols
                    }
                )

    schema = f"_id {id_type}"
    if keep_label:
        schema += f", _lbl {label_type}"
    schema += ", word string, cnt long"
    return src.mapInPandas(op, schema=schema)


def boss_classify(
    test: DataFrame,
    train: DataFrame,
    *,
    m: int = 8,
    n_coeffs: int = 2,
    id_col: str = "series_id",
    features_col: str = "features",
    label_col: str = "label",
    strategy: str = "auto",
) -> DataFrame:
    """BOSS 1-NN classification (r6; Schäfer, DMKD 2015 — Bag-of-SFA-
    Symbols): every length-``m`` window becomes an SFA word (first
    ``n_coeffs`` Fourier coefficients by the literal-twiddle folds,
    quartile-binned per dimension with edges learned on the TRAIN
    windows), consecutive duplicates drop (numerosity reduction), series
    become sparse integer word histograms, and 1-NN runs under the
    ASYMMETRIC BOSS distance

        d(A, B) = sum over words w PRESENT IN THE TEST bag (a_w - b_w)^2

    = tn2 - 2*dot + b2|shared — three INTEGER aggregates over the sparse
    word join, so the whole classifier is engine-exact end to end (no
    floats anywhere past the twiddle folds, which micro-round before the
    binning decisions). Skipping the DC coefficient (k >= 1) gives offset
    invariance; histograms are bounded by 4^(2*n_coeffs) words, so the
    join key space is tiny at any corpus size.

    Output: (test_id, predicted_label, boss_distance bigint), ties by
    (distance, label, id).

    ``strategy`` (r10, VERDICT r9 #8): ``"auto"``/``"kernel"`` compute the
    per-window words+histograms (and the MCB coefficient pass feeding the
    edge percentiles) in Arrow kernels — the per-window SFA folds were the
    engine's largest remaining interpreted-HOF hot path (HOF lambda bodies
    never whole-stage-codegen). Bit-identical to ``"declarative"``: the
    folds replay twiddle_fold's op order and the micro-rounding replays
    Spark's HALF_UP-on-shortest-decimal semantics (_round_half_up_micro);
    corpora carrying null/NaN/near-overflow elements (whose NULL
    propagation Arrow cannot represent) route back to the declarative
    plan wholesale — the MCB edges couple every row, so the per-row split
    matrix_profile uses is not available here."""
    from pyspark.sql import Window as _W

    from .features import periodogram_twiddles, twiddle_fold
    from .motif import _numerosity_reduce

    if strategy not in ("auto", "kernel", "declarative"):
        raise ValueError(f"unknown strategy {strategy!r}")

    tw = periodogram_twiddles(m, n_coeffs)
    tables = []
    for i, (_k, cs, sn) in enumerate(tw):
        tables.append((2 * i, cs))
        tables.append((2 * i + 1, sn))

    use_kernel = strategy != "declarative" and not _boss_hostile_input(
        train, test, features_col
    )

    def coef_micro(arr, s, table):
        return F.round(
            twiddle_fold(arr, table, length=m, start=s) * F.lit(1_000_000.0)
        ).cast("bigint")

    def starts(arr):
        return F.when(
            F.size(arr) >= m, F.sequence(F.lit(1), F.size(arr) - m + 1)
        ).otherwise(F.array().cast("array<int>"))

    # MCB edge learning on TRAIN windows only. Kernel path: one
    # mapInPandas computes every window's micro coefficients (the same
    # multiset of cm values as the declarative explode, so the percentile
    # edges are identical); declarative path keeps the unrolled-fold
    # explode.
    if use_kernel:
        import numpy as np
        import pandas as pd

        tabs = [np.asarray(tab, dtype=np.float64) for _d, tab in tables]
        mm = m

        def _dims_op(batches):
            for pdf in batches:
                feats = pdf["_f"]
                by_len: dict = {}
                for i, f in enumerate(feats):
                    if f is not None and len(f) >= mm:
                        by_len.setdefault(len(f), []).append(i)
                dim_parts, cm_parts = [], []
                for L, idxs in sorted(by_len.items()):
                    X = np.stack(
                        [np.asarray(feats[i], dtype=np.float64) for i in idxs]
                    )
                    cms = _boss_window_coefs(X, mm, tabs)
                    n_vals = cms[0].size
                    for d in range(len(tabs)):
                        dim_parts.append(np.full(n_vals, d, dtype=np.int32))
                        cm_parts.append(cms[d].reshape(-1))
                if dim_parts:
                    yield pd.DataFrame(
                        {
                            "dim": np.concatenate(dim_parts),
                            "cm": np.concatenate(cm_parts),
                        }
                    )

        dims = train.select(F.col(features_col).alias("_f")).mapInPandas(
            _dims_op, schema="dim int, cm long"
        )
    else:
        tr = train.select(F.col(id_col).alias("_id"), F.col(features_col).alias("_f"))
        exploded = tr.select("_f", F.explode(starts(F.col("_f"))).alias("_s"))
        dims = exploded.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("dim"),
                            coef_micro(F.col("_f"), F.col("_s"), tab).alias("cm"),
                        )
                        for d, tab in tables
                    ]
                )
            ).alias("_e")
        ).select(F.col("_e.dim").alias("dim"), F.col("_e.cm").alias("cm"))
    edges = dims.groupBy("dim").agg(
        F.expr("percentile(cm, 0.25D)").alias("e1"),
        F.expr("percentile(cm, 0.5D)").alias("e2"),
        F.expr("percentile(cm, 0.75D)").alias("e3"),
    )
    from ..caching import register_cache

    if use_kernel:
        # bounded collect: <= 2*n_coeffs edge rows — the kernels close over
        # the edges instead of broadcasting a one-row pivot into an HOF
        # lambda
        edge_map = {
            int(r["dim"]): (r["e1"], r["e2"], r["e3"]) for r in edges.collect()
        }
        th = register_cache(
            _boss_hists_kernel(
                test, False, m=m, tabs=tabs, edge_map=edge_map, id_col=id_col,
                features_col=features_col, label_col=label_col,
                id_type=dict(test.dtypes)[id_col], label_type="string",
            ).cache()
        )
        rh = register_cache(
            _boss_hists_kernel(
                train, True, m=m, tabs=tabs, edge_map=edge_map, id_col=id_col,
                features_col=features_col, label_col=label_col,
                id_type=dict(train.dtypes)[id_col],
                label_type=dict(train.dtypes)[label_col],
            ).cache()
        )
    else:
        # r9 optimization: the one-row edge pivot is consumed by BOTH hists
        # sides, and the histograms each feed several downstream branches
        # (tn2/dots, dots/rl) — without caches every branch re-runs the whole
        # edges+words subtree (measured: full boss 7.4 s at sf0.1 while the
        # sum of its parts is ~3 s). The cached tables are bounded: epiv is
        # ONE row, a histogram is <= ids x 4^(2*n_coeffs) words.
        epiv = register_cache(
            edges.agg(
                *[
                    F.max(F.when(F.col("dim") == d, F.col(q))).alias(f"_{q}_{d}")
                    for d, _ in tables
                    for q in ("e1", "e2", "e3")
                ]
            ).cache()
        )

        def word(arr, s):
            parts = []
            for d, tab in tables:
                cmd = coef_micro(arr, s, tab).cast("double")
                parts.append(
                    F.when(cmd <= F.col(f"_e1_{d}"), F.lit("0"))
                    .when(cmd <= F.col(f"_e2_{d}"), F.lit("1"))
                    .when(cmd <= F.col(f"_e3_{d}"), F.lit("2"))
                    .otherwise(F.lit("3"))
                )
            return F.concat(*parts)

        def hists(df, keep_label):
            sel = [F.col(id_col).alias("_id"), F.col(features_col).alias("_f")]
            if keep_label:
                sel.append(F.col(label_col).alias("_lbl"))
            side = df.select(*sel).crossJoin(F.broadcast(epiv))
            # evaluate-once binding (the _token_ngrams trick, NOTES r5/r6):
            # numerosity reduction indexes the word array per position, and an
            # inlined EXPRESSION would recompute all ~n_windows SFA words per
            # index — measured 48s -> ~4s at sf0.1. Wrapping the array as the
            # single element of an outer transform binds it to a lambda
            # VARIABLE: computed once, indexed cheaply.
            raw = F.transform(starts(F.col("_f")), lambda s: word(F.col("_f"), s))
            words = F.element_at(
                F.transform(F.array(raw), lambda ws: _numerosity_reduce(ws)), 1
            )
            keep = ["_id"] + (["_lbl"] if keep_label else [])
            return (
                side.select(*keep, F.explode(words).alias("word"))
                .groupBy(*keep, "word")
                .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            )

        th = register_cache(hists(test, False).cache())
        rh = register_cache(hists(train, True).cache())
    # land the bounded histograms before the distance job (the knn_join_lb
    # phase-table lesson: lazy caches re-run the subtree per consuming
    # branch within one job)
    th.count()
    rh.count()
    tn2 = th.groupBy("_id").agg(
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("_n2")
    ).select(F.col("_id").alias("test_id"), "_n2")
    dots = (
        th.select(F.col("_id").alias("test_id"), "word", F.col("cnt").alias("_a"))
        .join(
            rh.select(F.col("_id").alias("train_id"), "word", F.col("cnt").alias("_b")),
            "word",
        )
        .groupBy("test_id", "train_id")
        .agg(
            F.sum(F.col("_a") * F.col("_b")).cast("long").alias("_dot"),
            F.sum(F.col("_b") * F.col("_b")).cast("long").alias("_b2"),
        )
    )
    rl = rh.select(
        F.col("_id").alias("train_id"), F.col("_lbl").alias("train_label")
    ).distinct()
    pairs = (
        tn2.crossJoin(F.broadcast(rl))
        .join(dots, ["test_id", "train_id"], "left")
        .select(
            "test_id",
            "train_id",
            "train_label",
            (
                F.col("_n2")
                - 2 * F.coalesce(F.col("_dot"), F.lit(0))
                + F.coalesce(F.col("_b2"), F.lit(0))
            ).cast("bigint").alias("_d"),
        )
    )
    w = _W.partitionBy("test_id").orderBy(
        F.asc("_d"), F.asc("train_label"), F.asc("train_id")
    )
    return (
        pairs.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(
            "test_id",
            F.col("train_label").alias("predicted_label"),
            F.col("_d").alias("boss_distance"),
        )
    )
