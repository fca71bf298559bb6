"""Edit-distance-family time-series metrics: LCSS, EDR, ERP (r6).

The classic alternatives to DTW's warping alignment (the capability family
the reference's `fastdtw` import sits in — Team11-Project.py:339 uses DTW
only; these extend the metric surface the same KNN operators consume):

- **LCSS** (Vlachos, Kollios & Gunopulos, ICDE 2002): longest common
  subsequence under a match tolerance ``eps`` (and an optional temporal
  window ``delta``); distance = 1 - LCSS/min(n, m). Robust to outliers —
  unmatched points cost nothing.
- **EDR** (Chen, Ozsu & Oria, SIGMOD 2005): edit distance on real
  sequences — substitution is FREE iff |a_i - b_j| <= eps else 1,
  insert/delete cost 1; normalized by max(n, m). Counts gaps, tolerant
  to noise.
- **ERP** (Chen & Ng, VLDB 2004): edit distance with real penalty — a
  TRUE metric (triangle inequality holds): gaps are charged |x - g|
  against a constant gap value ``g``, substitutions |a_i - b_j|.

Each metric ships in two bit-identical forms:

1. A PURE Catalyst expression (``lcss_dist``/``edr_dist``/``erp_dist``):
   the full DP as a nested ``aggregate`` fold — outer fold over rows i,
   accumulator = previous DP row (array), inner fold building the next
   row left-to-right (the ``acc[-1]`` left-cell dependency). Zero Python.
   LCSS/EDR state is INTEGER (match counts / edit counts) so any engine
   reproduces it exactly; ERP cells are each ONE IEEE add + an exact
   3-way ``least`` — per-cell op order is engine-independent, so a
   DuckDB recursive-CTE twin (the q70 technique) matches to the last ulp.
2. A batched numpy kernel (``lcss_batch``/``edr_batch``/``erp_batch``)
   for strategy='kernel'/'chunked' KNN: the DP sweeps ANTI-DIAGONALS
   (cells on a diagonal have no mutual dependency), vectorized over
   batch x diagonal — n+m-1 numpy dispatches per batch instead of n*m.
   Per-cell arithmetic is the same single-add/min DAG as the expression,
   so kernel == expression bitwise (test-pinned), not just approximately.
   When a C compiler is present the batch wrappers route the flat 2-D
   case through compiled row-by-row recurrences instead
   (``edit_c.py`` — same per-cell DAG, measured ~400-1200 Mcells/s vs
   the anti-diagonal form's 8-30, still bitwise; ``TSKNN_EDIT_NO_CC=1``
   forces numpy).

SCALE: the expression forms are interpreted HOFs (the ``sbd`` cost model —
oracle exactness and small pair volumes); production KNN at corpus scale
routes metric='lcss'/'edr'/'erp' through the kernels via
strategy='kernel'/'chunked' exactly like 'dtw' does.

EXCLUDE-ZERO CAVEAT (r6 review): the KNN operators' default
``exclude_zero=True`` reproduces the reference's self-match rule by
dropping distance-0 pairs. For the eps-TOLERANT metrics here, distance 0
means "eps-close at every aligned position", not "identical" — on data
where whole neighbor series sit within eps, the most informative
neighbors would be dropped; pass ``exclude_zero=False`` (and exclude self
by id upstream) when eps-identical neighbors should vote.
"""

from __future__ import annotations

from typing import Callable, Optional

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "LCSS_EPS",
    "EDR_EPS",
    "ERP_GAP",
    "TWED_NU",
    "TWED_LAM",
    "lcss_dist",
    "edr_dist",
    "erp_dist",
    "twed_dist",
    "lcss_batch",
    "edr_batch",
    "erp_batch",
    "twed_batch",
    "make_erp_udf",
    "make_twed_udf",
    "MSM_C",
    "msm_dist",
    "msm_batch",
    "make_msm_udf",
    "multichannel",
]

# Engine defaults for the NAMED metric registrations ('lcss'/'edr'/'erp' in
# DISTANCES and the kernel KNN paths). eps is a raw-value match tolerance —
# 10.0 ~ 0.2 sigma of the events.value distribution (std ~47.5), tight
# enough that matching is informative, loose enough that it happens. ERP's
# canonical gap value is 0 (Chen & Ng 2004 prove the metric property for
# constant g; g=0 makes gap cost = |x|).
LCSS_EPS = 10.0
EDR_EPS = 10.0
ERP_GAP = 0.0
# TWED stiffness (nu: per-unit-time-shift cost) and edit penalty (lambda).
# nu=0.05 keeps the elasticity term ~the same magnitude as one value-scale
# unit across the <=15-step shifts of a 16-pt series; lam=1.0 is Marteau's
# common midpoint. Timestamps are the 1-based indices (the uniform-sampling
# convention when no explicit time column exists).
TWED_NU = 0.05
TWED_LAM = 1.0


# ---------------------------------------------------------------------------
# pure Catalyst expressions (nested-fold DP; oracle-exact declarative form)
# ---------------------------------------------------------------------------


def _dp_fold(a: Column, b: Column, init_row, step_row) -> Column:
    """Shared nested-fold frame: outer aggregate over i = 1..size(a) with
    the previous DP row (boundary column j=0 included, so row has
    size(b)+1 entries: row[1] = dp[i][0]) as the accumulator; ``init_row``
    builds dp[0][*], ``step_row(row, i)`` builds dp[i][*]. Returns the
    final row's last cell."""
    return F.element_at(
        F.aggregate(
            F.sequence(F.lit(1), F.size(a)),
            init_row,
            step_row,
        ),
        -1,
    )


def lcss_dist(
    a: Column, b: Column, eps: float = LCSS_EPS, delta: Optional[int] = None
) -> Column:
    """LCSS distance = 1 - LCSS(a, b)/min(n, m) as a pure integer-DP fold.
    Match iff |a_i - b_j| <= eps (and |i - j| <= delta when delta is set —
    the Vlachos temporal window applies to MATCHING only; max propagation
    is unconstrained). Integer state -> exact on any engine."""
    n, m = F.size(a), F.size(b)

    def step(row: Column, i: Column) -> Column:
        def cell(acc: Column, j: Column) -> Column:
            match = (
                F.abs(F.element_at(a, i.cast("int")) - F.element_at(b, j.cast("int")))
                <= F.lit(float(eps))
            )
            if delta is not None:
                match = match & (F.abs(i - j) <= F.lit(int(delta)))
            return F.array_append(
                acc,
                F.when(match, F.element_at(row, j.cast("int")) + F.lit(1)).otherwise(
                    F.greatest(
                        F.element_at(row, (j + 1).cast("int")),
                        F.element_at(acc, -1),
                    )
                ),
            )

        return F.aggregate(F.sequence(F.lit(1), m), F.array(F.lit(0)), cell)

    lcs = _dp_fold(a, b, F.array_repeat(F.lit(0), m + F.lit(1)), step)
    # empty-side guard (Spark sequence(1, 0) DESCENDS — the repo invariant):
    # no points -> no common subsequence -> NULL, not a bogus fold
    return F.when(
        (n > 0) & (m > 0),
        F.lit(1.0) - lcs.cast("double") / F.least(n, m).cast("double"),
    )


def edr_dist(a: Column, b: Column, eps: float = EDR_EPS) -> Column:
    """EDR distance = EDR(a, b)/max(n, m): integer edit-count DP
    (substitution 0 iff |a_i - b_j| <= eps else 1; insert/delete 1),
    normalized by the longer length. Integer state -> exact on any
    engine."""
    n, m = F.size(a), F.size(b)

    def step(row: Column, i: Column) -> Column:
        def cell(acc: Column, j: Column) -> Column:
            sub = F.when(
                F.abs(F.element_at(a, i.cast("int")) - F.element_at(b, j.cast("int")))
                <= F.lit(float(eps)),
                F.lit(0),
            ).otherwise(F.lit(1))
            return F.array_append(
                acc,
                F.least(
                    F.element_at(row, j.cast("int")) + sub,  # diag
                    F.element_at(row, (j + 1).cast("int")) + F.lit(1),  # up
                    F.element_at(acc, -1) + F.lit(1),  # left
                ),
            )

        return F.aggregate(F.sequence(F.lit(1), m), F.array(i.cast("int")), cell)

    ed = _dp_fold(a, b, F.sequence(F.lit(0), m), step)
    return F.when(
        (n > 0) & (m > 0),
        ed.cast("double") / F.greatest(n, m).cast("double"),
    )


def erp_dist(a: Column, b: Column, g: float = ERP_GAP) -> Column:
    """ERP distance (a true metric): DP where a gap in either series costs
    |x - g| and a substitution costs |a_i - b_j|. Every cell is ONE IEEE
    add on top of a predecessor + an exact 3-way least, so the value DAG
    is identical whatever order cells are evaluated in — the Catalyst
    fold, the anti-diagonal numpy kernel, and the DuckDB recursive CTE
    agree bitwise."""
    n, m = F.size(a), F.size(b)
    gl = F.lit(float(g))

    def step(row: Column, i: Column) -> Column:
        ai = F.element_at(a, i.cast("int"))

        def cell(acc: Column, j: Column) -> Column:
            bj = F.element_at(b, j.cast("int"))
            return F.array_append(
                acc,
                F.least(
                    F.element_at(row, j.cast("int")) + F.abs(ai - bj),  # diag
                    F.element_at(row, (j + 1).cast("int")) + F.abs(ai - gl),  # up
                    F.element_at(acc, -1) + F.abs(gl - bj),  # left
                ),
            )

        first = F.element_at(row, 1) + F.abs(ai - gl)  # dp[i][0]
        return F.aggregate(F.sequence(F.lit(1), m), F.array(first), cell)

    # dp[0][j] = sum_{t<=j} |g - b_t| as an ascending left fold
    init = F.aggregate(
        F.sequence(F.lit(1), m),
        F.array(F.lit(0.0)),
        lambda acc, j: F.array_append(
            acc, F.element_at(acc, -1) + F.abs(gl - F.element_at(b, j.cast("int")))
        ),
    )
    return F.when((n > 0) & (m > 0), _dp_fold(a, b, init, step))


def twed_dist(
    a: Column, b: Column, nu: float = TWED_NU, lam: float = TWED_LAM
) -> Column:
    """TWED — Time-Warped Edit Distance (Marteau, TPAMI 2009): the edit
    family's elastic METRIC with a stiffness parameter. Operations and
    costs (timestamps = 1-based indices; the a_0 = b_0 = 0 padding
    convention of the reference implementations):

    - match:    dp[i-1][j-1] + ((|a_i - b_j| + |a_{i-1} - b_{j-1}|)
                               + 2*nu*|i - j|)
    - delete-a: dp[i-1][j] + (|a_i - a_{i-1}| + (nu + lam))
    - delete-b: dp[i][j-1] + (|b_j - b_{j-1}| + (nu + lam))

    with +inf borders (dp[0][0] = 0). Every candidate is a fixed small add
    tree on top of one predecessor + an exact 3-way least, so cell values
    are evaluation-order independent — fold, anti-diagonal kernel, and
    recursive-CTE oracle agree bitwise (the erp_dist argument; the
    2*nu / nu+lam constants are folded in PYTHON and injected as the same
    literal on both engines)."""
    n, m = F.size(a), F.size(b)
    inf = F.lit(float("inf"))
    nu2 = F.lit(2.0 * float(nu))
    gap = F.lit(float(nu) + float(lam))

    def prev(arr: Column, idx: Column) -> Column:
        return F.when(idx == 1, F.lit(0.0)).otherwise(
            F.element_at(arr, (idx - 1).cast("int"))
        )

    def step(row: Column, i: Column) -> Column:
        ai = F.element_at(a, i.cast("int"))
        api = prev(a, i)
        del_a = F.abs(ai - api) + gap

        def cell(acc: Column, j: Column) -> Column:
            bj = F.element_at(b, j.cast("int"))
            bpj = prev(b, j)
            d_match = (F.abs(ai - bj) + F.abs(api - bpj)) + nu2 * F.abs(
                i - j
            ).cast("double")
            del_b = F.abs(bj - bpj) + gap
            return F.array_append(
                acc,
                F.least(
                    F.element_at(row, j.cast("int")) + d_match,
                    F.element_at(row, (j + 1).cast("int")) + del_a,
                    F.element_at(acc, -1) + del_b,
                ),
            )

        return F.aggregate(F.sequence(F.lit(1), m), F.array(inf), cell)

    init = F.concat(F.array(F.lit(0.0)), F.array_repeat(inf, m))
    return F.when((n > 0) & (m > 0), _dp_fold(a, b, init, step))


# ---------------------------------------------------------------------------
# batched numpy kernels (anti-diagonal DP; the strategy='kernel' scale path)
# ---------------------------------------------------------------------------


def _diag_indices(d: int, n: int, m: int):
    """Valid (i, j) cell indices on anti-diagonal i + j = d (1-based DP
    coordinates, 1 <= i <= n, 1 <= j <= m)."""
    i = np.arange(max(1, d - m), min(n, d - 1) + 1)
    return i, d - i


# Per-call cap on the (P, n+1, m+1) DP cube (r6 review: at L=561 a
# 1024-pair call would otherwise allocate 2.4 GiB, and a broadcast-kernel
# call scoring one test row against a 10k-row train matrix 24 GiB). Pairs
# are independent, so splitting the batch is bit-identical (the
# batch-composition invariance the whole kernel family pins in tests).
_DP_BYTES_BUDGET = 64 << 20


def _channel_sum(A: np.ndarray, B: np.ndarray, flat_fn) -> np.ndarray:
    """Independent-channel sum for multichannel batches (r7, VERDICT r6
    #6): A, B are (P, L, C) — one channel-vector per timestep, the
    engine's multichannel layout (`distance._stack_series`) — and the
    lifted distance is sum_c flat(A[:,:,c], B[:,:,c]). Each channel runs
    the UNIVARIATE DP independently, so every per-metric property
    survives: LCSS/EDR stay integer-state per channel, and a sum of
    metrics is a metric — ERP/TWED/MSM keep the triangle inequality.
    The fold is a left fold over ASCENDING channel index starting from
    0.0 — the exact op sequence of the ``multichannel`` Column lifter,
    so kernel == expression bitwise, channel by channel."""
    if A.shape[2] != B.shape[2]:
        raise ValueError(
            f"channel mismatch: {A.shape[2]} vs {B.shape[2]} channels"
        )
    out = np.zeros(A.shape[0], dtype=np.float64)
    for c in range(A.shape[2]):
        out = out + flat_fn(np.ascontiguousarray(A[:, :, c]),
                            np.ascontiguousarray(B[:, :, c]))
    return out


def _dp_in_chunks(A: np.ndarray, B: np.ndarray, core, *args) -> np.ndarray:
    P, n = A.shape
    m = B.shape[1]
    step = max(1, _DP_BYTES_BUDGET // ((n + 1) * (m + 1) * 8))
    if P <= step:
        return core(A, B, *args)
    out = np.empty(P, dtype=np.float64)
    for i in range(0, P, step):
        out[i : i + step] = core(A[i : i + step], B[i : i + step], *args)
    return out


def _flat_dp(A: np.ndarray, B: np.ndarray, core, c_name: str, *args) -> np.ndarray:
    """Flat-batch dispatch (r7): the compiled row-by-row C recurrence
    (functions/edit_c.py) when a compiler is present — same per-cell op
    DAG, ~20-50x the anti-diagonal numpy throughput, O(m) rolling rows so
    no DP-cube budget needed — else the numpy core under
    ``_dp_in_chunks``. Bit-identical by construction (every cell is exact
    IEEE ops of its predecessors; equality pinned in
    tests/test_edit_distance.py and tools/fuzz_sweep.py::sweep_edit)."""
    from . import edit_c

    # empty series stay on the numpy cores: the C recurrences index a[0]/
    # b[0] unconditionally (heap OOB on n==0 or m==0 — ADVICE r7), and
    # edit_c._prep rejects them with ValueError as a second line of defense
    if edit_c.available() and A.shape[0] and A.shape[1] and B.shape[1]:
        return getattr(edit_c, c_name)(A, B, *args)
    return _dp_in_chunks(A, B, core, *args)


def _mc_dp(A: np.ndarray, B: np.ndarray, core, c_name: str, *args) -> np.ndarray:
    """Multichannel-batch dispatch (r8, VERDICT r7 #3): (P, L, C) batches
    go through the (P, L, C) C entry points (``edit_c.X_mc_batch_c``) —
    ONE C call per pair batch, channels folded inside the kernel in
    ascending order from 0.0 — instead of a Python loop dispatching the
    flat kernel per channel over fresh (P, L) copies. Bit-identical to
    ``_channel_sum`` over the flat route by construction (same strided DP
    core, same fold order; equality pinned in tests). Falls back to the
    Python channel loop (numpy cores under it) when no compiler exists,
    and to ``_channel_sum``'s explicit ValueError on channel mismatch."""
    from . import edit_c

    if (
        edit_c.available()
        and A.shape[0] and A.shape[1] and B.shape[1]
        and A.shape[2] >= 1 and A.shape[2] == B.shape[2]
    ):
        mc_name = c_name.replace("_batch_c", "_mc_batch_c")
        return getattr(edit_c, mc_name)(A, B, *args)
    return _channel_sum(A, B, lambda a, b: _flat_dp(a, b, core, c_name, *args))


def _lcss_batch_core(
    A: np.ndarray, B: np.ndarray, eps: float = LCSS_EPS, delta: Optional[int] = None
) -> np.ndarray:
    """Batched LCSS distance: A (P, n) vs B (P, m) row-pairs -> (P,).
    Anti-diagonal integer DP vectorized over the batch."""
    A = np.asarray(A, dtype=np.float64)
    B = np.asarray(B, dtype=np.float64)
    P, n = A.shape
    m = B.shape[1]
    dp = np.zeros((P, n + 1, m + 1), dtype=np.int32)
    for d in range(2, n + m + 1):
        i, j = _diag_indices(d, n, m)
        if not len(i):
            continue
        match = np.abs(A[:, i - 1] - B[:, j - 1]) <= eps
        if delta is not None:
            match &= np.abs(i - j) <= delta
        dp[:, i, j] = np.where(
            match,
            dp[:, i - 1, j - 1] + 1,
            np.maximum(dp[:, i - 1, j], dp[:, i, j - 1]),
        )
    return 1.0 - dp[:, n, m].astype(np.float64) / float(min(n, m))


def _edr_batch_core(A: np.ndarray, B: np.ndarray, eps: float = EDR_EPS) -> np.ndarray:
    """Batched EDR distance: A (P, n) vs B (P, m) -> (P,). Anti-diagonal
    integer DP; boundary dp[i][0] = i, dp[0][j] = j."""
    A = np.asarray(A, dtype=np.float64)
    B = np.asarray(B, dtype=np.float64)
    P, n = A.shape
    m = B.shape[1]
    dp = np.zeros((P, n + 1, m + 1), dtype=np.int32)
    dp[:, :, 0] = np.arange(n + 1, dtype=np.int32)
    dp[:, 0, :] = np.arange(m + 1, dtype=np.int32)
    for d in range(2, n + m + 1):
        i, j = _diag_indices(d, n, m)
        if not len(i):
            continue
        sub = (np.abs(A[:, i - 1] - B[:, j - 1]) > eps).astype(np.int32)
        dp[:, i, j] = np.minimum(
            dp[:, i - 1, j - 1] + sub,
            np.minimum(dp[:, i - 1, j] + 1, dp[:, i, j - 1] + 1),
        )
    return dp[:, n, m].astype(np.float64) / float(max(n, m))


def _erp_batch_core(A: np.ndarray, B: np.ndarray, g: float = ERP_GAP) -> np.ndarray:
    """Batched ERP distance: A (P, n) vs B (P, m) -> (P,). Anti-diagonal
    float DP; per-cell arithmetic (one add per candidate + exact min)
    matches ``erp_dist`` and the recursive-CTE oracle bitwise — cell
    evaluation ORDER is the only thing that differs, and no cell's value
    depends on it."""
    A = np.asarray(A, dtype=np.float64)
    B = np.asarray(B, dtype=np.float64)
    P, n = A.shape
    m = B.shape[1]
    dp = np.zeros((P, n + 1, m + 1), dtype=np.float64)
    dp[:, 1:, 0] = np.cumsum(np.abs(A - g), axis=1)
    dp[:, 0, 1:] = np.cumsum(np.abs(g - B), axis=1)
    for d in range(2, n + m + 1):
        i, j = _diag_indices(d, n, m)
        if not len(i):
            continue
        dp[:, i, j] = np.minimum(
            dp[:, i - 1, j - 1] + np.abs(A[:, i - 1] - B[:, j - 1]),
            np.minimum(
                dp[:, i - 1, j] + np.abs(A[:, i - 1] - g),
                dp[:, i, j - 1] + np.abs(g - B[:, j - 1]),
            ),
        )
    return dp[:, n, m]


def _twed_batch_core(
    A: np.ndarray, B: np.ndarray, nu: float = TWED_NU, lam: float = TWED_LAM
) -> np.ndarray:
    """Batched TWED: A (P, n) vs B (P, m) -> (P,). Anti-diagonal float DP;
    per-cell add trees match ``twed_dist`` exactly (see its docstring)."""
    A = np.asarray(A, dtype=np.float64)
    B = np.asarray(B, dtype=np.float64)
    P, n = A.shape
    m = B.shape[1]
    nu2 = 2.0 * float(nu)
    gap = float(nu) + float(lam)
    AP = np.concatenate([np.zeros((P, 1)), A[:, :-1]], axis=1)
    BP = np.concatenate([np.zeros((P, 1)), B[:, :-1]], axis=1)
    del_a = np.abs(A - AP) + gap  # (P, n), index i-1 = row i's delete-a cost
    del_b = np.abs(B - BP) + gap
    dp = np.full((P, n + 1, m + 1), np.inf, dtype=np.float64)
    dp[:, 0, 0] = 0.0
    for d in range(2, n + m + 1):
        i, j = _diag_indices(d, n, m)
        if not len(i):
            continue
        pen = nu2 * np.abs(i - j).astype(np.float64)
        d_match = (np.abs(A[:, i - 1] - B[:, j - 1]) + np.abs(AP[:, i - 1] - BP[:, j - 1])) + pen
        dp[:, i, j] = np.minimum(
            dp[:, i - 1, j - 1] + d_match,
            np.minimum(dp[:, i - 1, j] + del_a[:, i - 1], dp[:, i, j - 1] + del_b[:, j - 1]),
        )
    return dp[:, n, m]




def lcss_batch(
    A: np.ndarray, B: np.ndarray, eps: float = LCSS_EPS, delta: Optional[int] = None
) -> np.ndarray:
    """Memory-capped public form of the LCSS anti-diagonal DP (see
    ``_dp_in_chunks``): results bit-identical at any split. 3-D input
    (P, L, C) routes through the independent-channel sum
    (``_channel_sum``)."""
    A = np.asarray(A, dtype=np.float64)
    B = np.asarray(B, dtype=np.float64)
    if A.ndim == 3:
        return _mc_dp(A, B, _lcss_batch_core, "lcss_batch_c", eps, delta)
    return _flat_dp(A, B, _lcss_batch_core, "lcss_batch_c", eps, delta)


def edr_batch(A: np.ndarray, B: np.ndarray, eps: float = EDR_EPS) -> np.ndarray:
    A = np.asarray(A, dtype=np.float64)
    B = np.asarray(B, dtype=np.float64)
    if A.ndim == 3:
        return _mc_dp(A, B, _edr_batch_core, "edr_batch_c", eps)
    return _flat_dp(A, B, _edr_batch_core, "edr_batch_c", eps)


def erp_batch(A: np.ndarray, B: np.ndarray, g: float = ERP_GAP) -> np.ndarray:
    A = np.asarray(A, dtype=np.float64)
    B = np.asarray(B, dtype=np.float64)
    if A.ndim == 3:
        return _mc_dp(A, B, _erp_batch_core, "erp_batch_c", g)
    return _flat_dp(A, B, _erp_batch_core, "erp_batch_c", g)


def twed_batch(
    A: np.ndarray, B: np.ndarray, nu: float = TWED_NU, lam: float = TWED_LAM
) -> np.ndarray:
    A = np.asarray(A, dtype=np.float64)
    B = np.asarray(B, dtype=np.float64)
    if A.ndim == 3:
        return _mc_dp(A, B, _twed_batch_core, "twed_batch_c", nu, lam)
    return _flat_dp(A, B, _twed_batch_core, "twed_batch_c", nu, lam)


# ---------------------------------------------------------------------------
# Arrow-batched pandas_udf wrappers (pair-scorer form for the UDF path)
# ---------------------------------------------------------------------------


def make_erp_udf(g: float = ERP_GAP) -> Callable[[Column, Column], Column]:
    from .distance import _grouped_pairs_udf

    return _grouped_pairs_udf(lambda A, B: erp_batch(A, B, g=g))


def make_twed_udf(
    nu: float = TWED_NU, lam: float = TWED_LAM
) -> Callable[[Column, Column], Column]:
    from .distance import _grouped_pairs_udf

    return _grouped_pairs_udf(lambda A, B: twed_batch(A, B, nu=nu, lam=lam))


# MSM move cost (Stefan, Athitsos & Das, TKDE 2013): splitting/merging a
# point costs a flat c when the new value lies BETWEEN its neighbors,
# c + the distance to the nearer neighbor otherwise. c = 1.0 sits near the
# paper's midpoint on raw-valued data.
MSM_C = 1.0


def _msm_cost(x: Column, y: Column, z: Column, c: Column) -> Column:
    between = ((y <= x) & (x <= z)) | ((y >= x) & (x >= z))
    return F.when(between, c).otherwise(
        c + F.least(F.abs(x - y), F.abs(x - z))
    )


def msm_dist(a: Column, b: Column, c: float = MSM_C) -> Column:
    """MSM — Move-Split-Merge distance (Stefan et al. 2013), the remaining
    classic elastic METRIC (metric property proven in the paper):

        dp[i][j] = min(dp[i-1][j-1] + |a_i - b_j|,            (move)
                       dp[i-1][j]   + C(a_i, a_{i-1}, b_j),   (split/merge)
                       dp[i][j-1]   + C(b_j, b_{j-1}, a_i))

    with dp[1][1] = |a_1 - b_1| and sequential first row/column (the DP
    starts at (1,1) — no zero boundary). Every candidate is one IEEE add
    of a compare-selected cost — evaluation-order independent, so fold ==
    anti-diagonal kernel == recursive CTE bitwise (the erp_dist
    argument). Completes the engine's elastic family: DTW / LCSS / EDR /
    ERP / TWED / MSM."""
    n, m = F.size(a), F.size(b)
    cl = F.lit(float(c))

    def el(arr: Column, i: Column) -> Column:
        return F.element_at(arr, i.cast("int"))

    # dp[1][*]: dp[1][1] = |a1 - b1|; dp[1][j] = dp[1][j-1] + C(b_j, b_{j-1}, a_1)
    init = F.aggregate(
        F.sequence(F.lit(2), m),
        F.array(F.abs(F.element_at(a, 1) - F.element_at(b, 1))),
        lambda acc, j: F.array_append(
            acc,
            F.element_at(acc, -1)
            + _msm_cost(el(b, j), el(b, j - 1), F.element_at(a, 1), cl),
        ),
    )

    def step(row: Column, i: Column) -> Column:
        ai, aim1 = el(a, i), el(a, i - 1)
        first = F.element_at(row, 1) + _msm_cost(ai, aim1, F.element_at(b, 1), cl)

        def cell(acc: Column, j: Column) -> Column:
            bj, bjm1 = el(b, j), el(b, j - 1)
            return F.array_append(
                acc,
                F.least(
                    F.element_at(row, (j - 1).cast("int")) + F.abs(ai - bj),
                    F.element_at(row, j.cast("int")) + _msm_cost(ai, aim1, bj, cl),
                    F.element_at(acc, -1) + _msm_cost(bj, bjm1, ai, cl),
                ),
            )

        # m == 1 guard on the INNER range too (sequence(2, 1) descends):
        # the row is then just its first cell
        return F.aggregate(
            F.when(m >= 2, F.sequence(F.lit(2), m)).otherwise(
                F.array().cast("array<int>")
            ),
            F.array(first),
            cell,
        )

    # m == 1: init is just [dp[1][1]] (sequence(2, 1) would descend;
    # F.when evaluates only the taken branch)
    fold = F.element_at(
        F.aggregate(
            F.when(n >= 2, F.sequence(F.lit(2), n)).otherwise(
                F.array().cast("array<int>")
            ),
            F.when(m >= 2, init).otherwise(
                F.array(F.abs(F.element_at(a, 1) - F.element_at(b, 1)))
            ),
            step,
        ),
        -1,
    )
    return F.when((n > 0) & (m > 0), fold)


def _msm_cost_np(x, y, z, c):
    between = ((y <= x) & (x <= z)) | ((y >= x) & (x >= z))
    return np.where(between, c, c + np.minimum(np.abs(x - y), np.abs(x - z)))


def _msm_batch_core(A: np.ndarray, B: np.ndarray, c: float = MSM_C) -> np.ndarray:
    """Batched MSM: sequential first row/column (vectorized over the
    batch), anti-diagonal DP for the interior — per-cell add trees match
    ``msm_dist`` exactly."""
    A = np.asarray(A, dtype=np.float64)
    B = np.asarray(B, dtype=np.float64)
    P, n = A.shape
    m = B.shape[1]
    dp = np.empty((P, n + 1, m + 1), dtype=np.float64)  # row/col 0 unused
    dp[:, 1, 1] = np.abs(A[:, 0] - B[:, 0])
    for j in range(2, m + 1):
        dp[:, 1, j] = dp[:, 1, j - 1] + _msm_cost_np(
            B[:, j - 1], B[:, j - 2], A[:, 0], c
        )
    for i in range(2, n + 1):
        dp[:, i, 1] = dp[:, i - 1, 1] + _msm_cost_np(
            A[:, i - 1], A[:, i - 2], B[:, 0], c
        )
    for d in range(4, n + m + 1):
        i = np.arange(max(2, d - m), min(n, d - 2) + 1)
        if not len(i):
            continue
        j = d - i
        dp[:, i, j] = np.minimum(
            dp[:, i - 1, j - 1] + np.abs(A[:, i - 1] - B[:, j - 1]),
            np.minimum(
                dp[:, i - 1, j]
                + _msm_cost_np(A[:, i - 1], A[:, i - 2], B[:, j - 1], c),
                dp[:, i, j - 1]
                + _msm_cost_np(B[:, j - 1], B[:, j - 2], A[:, i - 1], c),
            ),
        )
    return dp[:, n, m]


def msm_batch(A: np.ndarray, B: np.ndarray, c: float = MSM_C) -> np.ndarray:
    A = np.asarray(A, dtype=np.float64)
    B = np.asarray(B, dtype=np.float64)
    if A.ndim == 3:
        return _mc_dp(A, B, _msm_batch_core, "msm_batch_c", c)
    return _flat_dp(A, B, _msm_batch_core, "msm_batch_c", c)


def make_msm_udf(c: float = MSM_C) -> Callable[[Column, Column], Column]:
    from .distance import _grouped_pairs_udf

    return _grouped_pairs_udf(lambda A, B: msm_batch(A, B, c=c))


# ---------------------------------------------------------------------------
# multichannel lifter (r7): independent-channel sum over array<array<double>>
# ---------------------------------------------------------------------------


def multichannel(dist_fn: Callable[[Column, Column], Column]) -> Callable[[Column, Column], Column]:
    """Lift a flat-series (array<double>) edit-metric Column function to
    multichannel input (array<array<double>> — one channel-vector per
    timestep, the engine's q156 layout) by INDEPENDENT-CHANNEL SUM:

        dist_mc(a, b) = sum_{c=1..channels} dist(a[:, c], b[:, c])

    Each channel runs the univariate DP on its own slice, so every
    per-metric property survives the lift (LCSS/EDR keep integer DP
    state per channel; a sum of metrics is a metric, so ERP/TWED/MSM
    keep the triangle inequality). The channel count is read per row
    from the first timestep — no static schema parameter — and the sum
    is a left fold over ascending channel index from 0.0, the exact op
    sequence of the kernels' ``_channel_sum``, so expression == kernel
    bitwise channel by channel.

    Evaluate-once discipline: the per-channel slices are array-valued
    EXPRESSIONS (``transform(a, t -> t[c])``), and Catalyst performs no
    CSE across HOF lambda subtrees — referencing them directly inside
    the O(n*m)-reference DP would re-slice per cell access. They are
    bound once per channel via the 1-element-transform trick (the
    boss_classify/importance_resample fix) before the DP sees them.
    """

    def mc(a: Column, b: Column) -> Column:
        def per_channel(acc: Column, ch: Column) -> Column:
            xa = F.transform(a, lambda t: F.element_at(t, ch))
            xb = F.transform(b, lambda t: F.element_at(t, ch))
            bound = F.transform(
                F.array(F.struct(xa.alias("x"), xb.alias("y"))),
                lambda s: dist_fn(s["x"], s["y"]),
            )
            return acc + F.element_at(bound, 1)

        # empty-side guard (sequence(1, 0) DESCENDS — the repo invariant):
        # an empty series has no first timestep to read a channel count
        # from -> NULL, mirroring the flat metrics' own empty guards.
        # Channel-parity guard (ADVICE r7): the count is read from a's
        # first timestep — without the check, extra b channels would be
        # silently ignored and a zero-channel first timestep would send
        # sequence(1, 0) descending into element_at(t, 0), an error. A
        # mismatch raises loudly, matching the kernel path's _channel_sum
        # ValueError.
        n_ch_a = F.size(F.element_at(a, 1))
        n_ch_b = F.size(F.element_at(b, 1))
        return F.when(
            (F.size(a) > 0) & (F.size(b) > 0),
            F.when(
                (n_ch_a == n_ch_b) & (n_ch_a >= 1),
                F.aggregate(F.sequence(F.lit(1), n_ch_a), F.lit(0.0), per_channel),
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("multichannel: channel mismatch or zero channels ("),
                        n_ch_a.cast("string"),
                        F.lit(" vs "),
                        n_ch_b.cast("string"),
                        F.lit(")"),
                    )
                ).cast("double")
            ),
        )

    return mc
