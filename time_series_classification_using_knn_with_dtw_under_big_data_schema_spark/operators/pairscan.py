"""Pair-scan physical layer — the one owner of how the brute-force pair
families (KNN, ANN brute / quantized, conformal KNN) move their two sides
past each other.

The reference engine is one similarity join with two physical join
strategies (a partitioned cross product and a broadcast nested loop), each
feeding a per-key top-k. This module expresses that shape once, as a
router over three strategies. A family hands ``route`` and ``scan`` its
projected sides and its scoring, and nothing else:

- the sides, each a (frame, columns) pair: the query side's columns are
  its key first and its features last, with any payload between; the
  candidate side's are (key, features[, label]). The router projects a
  frame only where it streams or collects it;
- a ``pack`` that turns candidate (ids, features, labels) into what its
  scorer reads (``knn._group_by_length``'s per-length groups, ANN's
  (ids, matrix));
- a ``score(query rows, packed candidates)`` that returns a pandas frame
  in the family's output schema, and the cross-cell ``reduce`` (the top-k
  ``rerank``, conformal's MIN);
- its cost kind (``scoring_cpu_s``), its broadcast wire itemsize, and a
  query side to ``route`` when it has a reverse route.

``route`` gathers the candidate side's stats (``side_stats``: one
observed scan through ``plans.eager.agg_row``, one Spark job in one
stage with no exchange) and picks the strategy:

- an empty candidate side routes to 'empty': ``scan`` returns an empty
  frame in the family's schema, as the declarative plans return no rows;
- strategy='kernel' goes through ``choose_route``, the byte gate: the
  candidate side broadcasts while it fits ``max_broadcast_bytes``;
  otherwise the query side broadcasts while it fits ``budget // 8``;
  otherwise the grid runs;
- an explicit strategy='reverse' gathers no stats.

A family's own gates (KNN's ragged point-metric fallback, conformal's
pair-volume gate) read the returned ``Route``'s stats before ``scan``.
``scan`` runs the route:

- **broadcast scan** — broadcast one side and run one ``mapInPandas``
  pass over the other. With the candidate side collected, packed and
  broadcast this is 'kernel' (the broadcast is kept on the ``Route``, so
  a second scan on it reuses it); with the query side broadcast and the
  candidate table streamed in place it is 'reverse' (the serve regime:
  zero exchange of either side's arrays), whose per-batch results
  ``reduce`` merges.
- **block grid** — 'chunked', for when neither side fits: each
  side is hash-assigned to blocks and replicated across the other side's
  block count, and one ``applyInPandas`` call scores each (query-block x
  candidate-block) cell. Traffic is ``~2|q||c|/block_bytes``, the
  grid-replication optimum for exact all-pairs scoring. The cell count
  comes from estimated CPU: ``scoring_cpu_s`` prices the scoring, and a
  cell gets its own Python task only when its scoring outweighs the
  ~0.33 CPU-s one more cell costs whatever its work (at the first
  split: an exchange, a rerank, a stage and a Python task). Two layouts
  already give the exact answer, and the grid then skips a phase: a
  one-cell grid meets in one task with no exchange, and when the
  candidate side is not split each cell's local result is final, so the
  caller's cross-cell reduction (a top-k rerank, a MIN) does not run.

Arrow turns the scorers' NaN distances into NULL; ``scan`` restores NaN
on the family's distance column as its last step, after any reduction
(which ranks NULLs last), so every route returns the declarative plans'
NaN. No scorer emits a legitimate NULL distance.

**top-k** is one tie-order contract, (distance, label, id) ascending with
NaN distances last and null labels first, in two halves: ``first_k`` is
the numpy half every scoring core runs per batch or per cell, and
``rerank`` the SQL half that reduces the reverse route's per-batch and a
split grid's per-cell survivors to the exact global top-k.

Every broadcast goes through ``share``, which registers it with the
innermost ``caching.cache_scope`` so a long-lived session can release it.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Callable, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from ..caching import register_broadcast
from ..functions.distance import ELASTIC_KINDS
from ..plans.eager import agg_row
from .topk import topk_per_key

# CPU one more grid cell costs: the step from a one-cell grid to a
# two-cell one, which adds an exchange, the rerank, another stage and a
# second Python task. Measured by tools/calibrate_grid.py as process-tree
# CPU per call of a chunked euclidean KNN at trivial scoring with the
# grid forced to 1 x 1, 1 x 2 and 1 x 4 cells, on a 4-core x86 VM
# (local[2], Spark 4.1, Python 3.11, the package's worker daemon): steps
# of 0.29-0.48 CPU-s in seven sessions, median 0.33. Past the first split
# each further cell costs less (2 -> 4 cells added 0.0-0.27, ~0.05 per
# cell), so the one-line rule prices every cell at the first split's
# cost and splits a mid-size grid less finely than its wall time would
# like. The Python task itself is nearly free with the package's worker
# daemon (~0.003 CPU-s; ~0.23-0.28 under pyspark.daemon, see daemon.py).
_PY_TASK_CPU_S = 0.33

# CPU seconds per work unit (``_work_units``) of each scoring family,
# measured in-process by tools/calibrate_grid.py on the same VM: one
# thread (OMP_NUM_THREADS=1, as in a Python worker), seeded random walks,
# k = 5, the KNN core ``_score_block_rows`` for the time-series families
# and the ANN scorers for the embedding ones; the mean of two runs. Sizes
# (query x candidate x length): gram (euclidean) 1,000 x 3,000 x 128;
# point (manhattan) and sbd 200 x 1,000 x 128; dtw (band 3) 64 x 64 x
# 561; fastdtw (radius 1) 32 x 32 x 561; edit (twed) 64 x 64 x 64; ANN
# 1,000 x 2,000 x 64. The per-unit cost moves with length and kind (the
# edit DPs span 2.1e-9 for lcss to 6.2e-9 for msm; chebyshev costs ~2x
# manhattan), which the cell count tolerates: it only has to tell a
# fraction of one more cell's cost from many of them.
# "point" was re-measured when its fold became the index-ordered left
# fold: on a second 4-core x86 VM, where the tool prices every family at
# about half the values below (gram 2.4-2.6e-10), it read 2.4-2.5e-9
# against 2.6-2.8e-9 for the pairwise-sum fold before it, so the entry is
# the earlier 5.3e-9 times that ratio (0.9).
_CPU_S_PER_UNIT = {
    "gram": 5.0e-10,
    "point": 4.8e-9,
    "sbd": 6.0e-8,
    "dtw": 5.0e-9,
    "fastdtw": 3.5e-8,
    "edit": 4.4e-9,
    "ann_brute": 8.8e-9,
    "ann_quantized": 4.3e-9,
}


def _family(kind: str, band: Optional[int], exhaustive: bool) -> str:
    """The cost family of a scoring kind: euclidean / sq_euclidean take
    the Gram filter unless the caller folds every pair (``exhaustive``);
    fastdtw with a pinned band is exact banded DTW."""
    if kind in ("euclidean", "sq_euclidean"):
        return "point" if exhaustive else "gram"
    if kind in ("manhattan", "chebyshev"):
        return "point"
    if kind == "dtw" or (kind == "fastdtw" and band is not None):
        return "dtw"
    if kind in ELASTIC_KINDS - {"fastdtw"}:
        return "edit"
    if kind not in _CPU_S_PER_UNIT:
        raise ValueError(f"no cost family for scoring kind {kind!r}")
    return kind


def _work_units(
    family: str, length: int, channels: int = 1, band: Optional[int] = None,
    radius: int = 1,
) -> int:
    """Work units of one pair: the DP cells the elastic kinds sweep (a
    pinned band bounds DTW to length x band width; faithful FastDTW
    ~(2*(2r+1)+2) cells per row across all levels; unbanded DTW and the
    edit DPs every (i, j) cell), one per coordinate for the rest — times
    the channels."""
    L = max(length, 1)
    if family == "dtw":
        width = L if band is None else min(2 * band + 1, L)
    elif family == "fastdtw":
        width = min(4 * (radius + 1) + 2, L)
    elif family == "edit":
        width = L
    else:
        width = 1
    return L * width * max(channels, 1)


def scoring_cpu_s(
    kind: str,
    pairs: int,
    length: int,
    *,
    channels: int = 1,
    band: Optional[int] = None,
    radius: int = 1,
    exhaustive: bool = False,
) -> float:
    """Estimated CPU seconds to score ``pairs`` pairs of series of
    ``length`` points (x ``channels``) with scoring kind ``kind``: a KNN
    core kind, or 'ann_brute' / 'ann_quantized'. ``band`` / ``radius`` are
    the DTW window; ``exhaustive`` marks a euclidean fold over every pair
    (conformal's per-label minimum) rather than the Gram filter."""
    family = _family(kind, band, exhaustive)
    return pairs * _work_units(family, length, channels, band, radius) * _CPU_S_PER_UNIT[family]


def _grid_split(
    q_bytes: int,
    c_bytes: int,
    nq: int,
    nc: int,
    cpu_s: float,
    block_bytes: int,
    par: int,
) -> "tuple[int, int]":
    """Block-grid sizing for the chunked pair scorers.

    Three forces, applied in order:
    - OVERHEAD: total cells = floor(cpu_s / _PY_TASK_CPU_S), clamped to
      [1, 2 x par]. ``cpu_s`` is the scoring's estimated CPU
      (``scoring_cpu_s``) and one more cell costs ~_PY_TASK_CPU_S
      whatever its work (measured at the first split, where the grid
      gains an exchange, a rerank and a second Python task); a cell is
      split off only when its scoring pays for that. A byte-light cheap
      metric collapses to one cell, heavy DTW keeps every core. The
      2 x par cap: cells map one per task, so extra cells only buy
      replication (every cell multiplies the smaller side's shuffle
      copies); two even waves keep work-stealing granularity against
      box noise.
    - TRAFFIC: each side is replicated across the OTHER side's block
      count (traffic = q_bytes*bc + c_bytes*bq), so the grid splits the
      cell budget proportional to sqrt(q_bytes/c_bytes) — the minimizer
      under bq*bc = cells. A tiny query side gives bq = 1 and the corpus
      still moves EXACTLY ONCE (the serve case).
    - MEMORY: hard floors ceil(side_bytes / block_bytes) so no task's
      working set exceeds ~2 blocks regardless of the above.
    """
    bq_mem = max(1, math.ceil(q_bytes / block_bytes))
    bc_mem = max(1, math.ceil(c_bytes / block_bytes))
    cells = max(
        bq_mem * bc_mem, min(2 * par, max(1, math.floor(cpu_s / _PY_TASK_CPU_S)))
    )
    bq = round(math.sqrt(cells * q_bytes / max(c_bytes, 1)))
    bq = min(max(bq, bq_mem, 1), max(nq, 1), cells)
    bc = min(max(math.ceil(cells / bq), bc_mem), max(nc, 1))
    return bq, bc


def side_stats(
    df: DataFrame, fcol: str, *, nested: bool = False
) -> "tuple[int, int, bool, int]":
    """(rows, max length, ragged, channels) of one side, read by
    ``plans.eager.agg_row``: one Spark job in one stage, which scans only
    ``fcol``. ``ragged`` is True unless every series has the same
    non-null length (min == max; an empty side is ragged); channels is 1
    for flat series. NULL series count as rows, not as lengths."""
    size = F.size(fcol)
    chans = {"ch": F.max(F.size(F.element_at(fcol, 1)))} if nested else {}
    row = agg_row(df, n=F.count(F.lit(1)), hi=F.max(size), lo=F.min(size), **chans)
    ragged = row["lo"] is None or row["hi"] != row["lo"]
    return int(row["n"]), int(row["hi"] or 0), ragged, int(row.get("ch") or 1)


def choose_route(
    c_bytes: int, budget: int, q_bytes: Optional[Callable[[], int]]
) -> str:
    """The byte gate: 'kernel' when the candidate side fits ``budget``;
    else 'reverse' when the query side fits ``budget // 8`` (comfortably
    broadcastable, and small enough that each batch's Python loop over
    query rows stays amortized by its kernel work); else 'chunked'.
    ``q_bytes`` is called only past the first check (it usually costs an
    aggregate job); None means the family has no reverse route."""
    if c_bytes <= budget:
        return "kernel"
    if q_bytes is not None and q_bytes() <= budget // 8:
        return "reverse"
    return "chunked"


def check_budgets(**budgets: int) -> None:
    """Public-API guard, run before any job: every byte budget
    (``max_broadcast_bytes``, ``block_bytes``) must be positive."""
    for name, value in budgets.items():
        if value <= 0:
            raise ValueError(f"{name} must be > 0, got {value}")


def check_fits(q_bytes: int, budget: int, side: str) -> None:
    """strategy='reverse' guard: the broadcast query side must fit."""
    if q_bytes > budget:
        raise ValueError(
            f"{side} side ~{q_bytes} bytes exceeds max_broadcast_bytes="
            f"{budget}; use strategy='chunked' (both sides oversized)"
        )


def share(spark, payload):
    """Broadcast ``payload`` once; released when the innermost
    ``cache_scope`` exits (session-lifetime outside any scope)."""
    return register_broadcast(spark.sparkContext.broadcast(payload))


def broadcast_scan(
    stream: DataFrame,
    shared,
    batch: Callable[[object, pd.DataFrame], Optional[pd.DataFrame]],
    schema: str,
) -> DataFrame:
    """One mapInPandas pass over ``stream``: ``batch(value, pdf)`` scores
    each Arrow batch against the broadcast value (``shared`` from
    ``share``, unpacked once per worker) and returns a frame, or None to
    emit nothing."""

    def op(batches):
        value = shared.value
        for pdf in batches:
            out = batch(value, pdf)
            if out is not None:
                yield out

    return stream.mapInPandas(op, schema=schema)


def grid_scan(
    q: DataFrame,
    c: DataFrame,
    *,
    q_key: str,
    c_key: str,
    q_cols: list,
    c_cols: list,
    q_rows: int,
    c_rows: int,
    q_bytes: int,
    c_bytes: int,
    cpu_s: float,
    cell: Callable[[pd.DataFrame, pd.DataFrame], pd.DataFrame],
    reduce: Callable[[DataFrame], DataFrame],
    schema: str,
    block_bytes: int = 64 << 20,
) -> DataFrame:
    """Block nested-loop scan for the NO-BROADCAST regime: tile the cross
    product into (query-block x candidate-block) cells sized by
    ``_grid_split`` from the scoring's estimated ``cpu_s``
    (``scoring_cpu_s``) and score each with one ``cell(q_rows, c_rows)``
    call inside applyInPandas. ``q_cols``/``c_cols`` are the payload columns
    each side carries (hashed into blocks by ``q_key``/``c_key``); a
    column one side lacks arrives as null. A cell missing either side
    emits nothing.

    A cell's result is final for its query rows when it saw every
    candidate, and ``reduce`` (the caller's cross-cell reduction over
    the cells' output: the top-k ``rerank``, conformal's MIN) merges the
    cells otherwise. Two rules skip what cannot change the answer:

    - ONE CELL, NO EXCHANGE: a 1 x 1 grid combines the two sides with
      ``coalesce(1)``, whose single partition already satisfies the
      grouping, so no shuffle runs. ``_grid_split`` plans one cell when
      both sides fit ``block_bytes`` and the scoring costs less than two
      more cells would (``_PY_TASK_CPU_S``), so the task reads at most
      about two blocks, as the reduce task of a shuffle would. Trade-off: an uncached side's upstream plan
      now runs in that one task too, without the map-side parallelism
      an exchange would give it.
    - UNSPLIT CANDIDATES, NO REDUCTION: with one candidate block each
      query row meets every candidate in one cell, so ``reduce`` runs
      only when the candidate side is split (bc > 1). Cells therefore
      emit the final columns, ``rank`` included."""
    par = q.sparkSession.sparkContext.defaultParallelism
    bq, bc = _grid_split(
        q_bytes, c_bytes, q_rows, c_rows, cpu_s, block_bytes, par
    )
    q_side = q.select(
        F.pmod(F.hash(F.col(q_key)), F.lit(bq)).alias("_qblk"),
        F.explode(F.sequence(F.lit(0), F.lit(bc - 1))).alias("_cblk"),
        F.lit(True).alias("_isq"),
        *q_cols,
    )
    c_side = c.select(
        F.explode(F.sequence(F.lit(0), F.lit(bq - 1))).alias("_qblk"),
        F.pmod(F.hash(F.col(c_key)), F.lit(bc)).alias("_cblk"),
        F.lit(False).alias("_isq"),
        *c_cols,
    )
    names = DataType.fromDDL(schema).names

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        qm = pdf["_isq"].to_numpy()
        qp, cp = pdf[qm], pdf[~qm]
        if not len(qp) or not len(cp):
            return pd.DataFrame({n: [] for n in names})
        return cell(qp, cp)

    both = q_side.unionByName(c_side, allowMissingColumns=True)
    if bq * bc == 1:
        both = both.coalesce(1)
    else:
        # EXPLICIT repartition on the cell key (r6, VERDICT r5 #6): the
        # cell grid is compute-heavy but byte-light, and AQE's
        # advisory-size coalescing saw a ~tens-of-MB shuffle and squeezed
        # it onto 1-2 tasks — serializing every cell. A user-specified
        # repartition is exempt from AQE coalescing and satisfies the
        # groupBy's clustering requirement, so the exchange is not
        # duplicated. One cell per task where affordable (r9): packing
        # several cells per partition quantized the stage into ragged
        # waves; the cap keeps the task count bounded when the grid is
        # huge (per-task cell counts are then high and waves smooth out
        # statistically anyway).
        both = both.repartition(min(bq * bc, max(par, 1) * 32), "_qblk", "_cblk")
    scored = both.groupBy("_qblk", "_cblk").applyInPandas(
        lambda _, pdf: run(pdf), schema=schema
    )
    return reduce(scored) if bc > 1 else scored


@dataclass
class Route:
    """The strategy ``route`` chose — 'kernel', 'reverse', 'chunked' or
    'empty' — and the candidate side's stats behind it (zeros on an
    explicit 'reverse', which gathers none). ``shared`` holds the kernel
    route's broadcast once ``scan`` has collected it."""

    name: str
    c_rows: int = 0
    c_len: int = 0
    c_ragged: bool = False
    c_channels: int = 1
    shared: object = None


def _project(side) -> DataFrame:
    """A side's (frame, columns) as a frame of just those columns. A frame
    that already is that projection is used as it is: every new
    DataFrame costs the driver an analysis pass."""
    df, cols = side
    return df if cols == df.columns else df.select(*cols)


def _side_bytes(side, nested: bool, itemsize: int) -> int:
    """Estimated bytes of a query side's features (its last column) at
    ``itemsize`` per element: one ``side_stats`` scan."""
    n, length, _, ch = side_stats(side[0], side[1][-1], nested=nested)
    return n * length * ch * itemsize


def route(
    strategy: str,
    c,
    *,
    budget: int,
    q=None,
    nested: bool = False,
    itemsize: int = 8,
) -> Route:
    """Pick the route of a pair scan over candidate side ``c``, a (frame,
    [key, features(, label)]) pair. Every strategy but 'reverse' runs one
    stats job on ``c``; an empty ``c`` routes to 'empty'.
    strategy='kernel' goes through the byte gate at ``itemsize`` bytes
    per element (the kernel's broadcast wire), with the query side ``q``
    as the reverse option when the family has that route (a second stats
    job, run only past the first check)."""
    if strategy == "reverse":
        return Route("reverse")
    n, length, ragged, ch = side_stats(c[0], c[1][1], nested=nested)
    if not n:
        return Route("empty")
    if strategy == "kernel":
        strategy = choose_route(
            n * length * ch * itemsize, budget,
            None if q is None else lambda: _side_bytes(q, nested, itemsize),
        )
    return Route(strategy, n, length, ragged, ch)


def _candidates(pdf: pd.DataFrame, names: list):
    """(ids, features, labels or None) of candidate rows in a pandas batch
    or cell. np.asarray(list) not .to_numpy() for the labels: pandas hands
    string labels as object dtype, which np.lexsort rejects."""
    return (
        pdf[names[0]].to_numpy(dtype=np.int64),
        pdf[names[1]].to_numpy(),
        np.asarray(list(pdf[names[2]])) if len(names) > 2 else None,
    )


def scan(
    r: Route,
    q,
    c,
    *,
    kind: str,
    pack: Callable,
    score: Callable[[pd.DataFrame, object], pd.DataFrame],
    reduce: Callable[[DataFrame], DataFrame],
    schema: str,
    dist: str,
    budget: int,
    cost: Optional[dict] = None,
    nested: bool = False,
    block_bytes: int = 64 << 20,
) -> DataFrame:
    """Run route ``r`` of query side ``q``, a (frame, [key, ...,
    features]) pair, against candidate side ``c``, a (frame, [key,
    features(, label)]) pair. ``pack(ids, features, labels)`` turns
    candidate rows into what ``score(query rows, packed)`` reads;
    ``score`` gets a pandas frame of the query side's columns and returns
    one in ``schema``. ``reduce`` merges per-batch (reverse) and per-cell
    (split grid) results. ``kind`` and ``cost`` (``band``, ``radius``,
    ``exhaustive``) price the scoring for the grid (``scoring_cpu_s``).
    The last step restores NaN on the ``dist`` column."""
    spark = q[0].sparkSession
    q_cols, c_cols = q[1], c[1]
    if r.name == "empty":
        return spark.createDataFrame([], schema)
    if r.name == "kernel":
        if r.shared is None:
            rows = _project(c).collect()
            cols = [[row[i] for row in rows] for i in range(len(c_cols))]
            r.shared = share(spark, pack(*cols[:2], cols[2] if len(cols) > 2 else None))
        scored = broadcast_scan(
            _project(q), r.shared, lambda packed, pdf: score(pdf, packed), schema
        )
    elif r.name == "reverse":
        check_fits(_side_bytes(q, nested, 8), budget, "query")
        queries = pd.DataFrame.from_records(_project(q).collect(), columns=q_cols)

        def batch(qdf, pdf):
            if not len(pdf) or not len(qdf):
                return None
            out = score(qdf, pack(*_candidates(pdf, c_cols)))
            return out if len(out) else None

        scored = reduce(broadcast_scan(_project(c), share(spark, queries), batch, schema))
    else:
        n_q, len_q, _, ch_q = side_stats(q[0], q_cols[-1], nested=nested)
        if nested and n_q and ch_q != r.c_channels:
            raise ValueError(
                f"channel mismatch: query side has {ch_q} channels, "
                f"candidate side has {r.c_channels}"
            )
        # the candidate key and features ride the query side's column
        # names, so the two sides share the union's payload columns
        names = [q_cols[0], q_cols[-1], *c_cols[2:]]
        scored = grid_scan(
            q[0],
            c[0],
            q_key=q_cols[0],
            c_key=c_cols[0],
            q_cols=q_cols,
            c_cols=[F.col(a).alias(b) for a, b in zip(c_cols, names)],
            q_rows=n_q,
            c_rows=r.c_rows,
            q_bytes=n_q * len_q * ch_q * 8,
            c_bytes=r.c_rows * r.c_len * r.c_channels * 8,
            cpu_s=scoring_cpu_s(
                kind, n_q * r.c_rows, r.c_len, channels=r.c_channels, **(cost or {})
            ),
            cell=lambda qp, cp: score(qp, pack(*_candidates(cp, names))),
            reduce=reduce,
            schema=schema,
            block_bytes=block_bytes,
        )
    return scored.withColumn(dist, F.coalesce(dist, F.lit(float("nan"))))

def first_k(dist, rows, ids, labels, k: int, keep=None):
    """The numpy half of the top-k contract: the first ``k`` candidates
    of each row under (``dist``, ``labels``, ``ids``) ascending, NaN
    distances last and null (None or NaN) labels first, as SQL's
    ascending order puts them. Inputs are flat and aligned, one entry
    per (row, candidate) pair; ``labels`` may be None, and ``keep`` (a
    bool mask, or None) drops pairs first — KNN's d != 0 exclusion, ANN's
    self exclusion.

    ONE lexsort with the row index as the primary key, then a vectorized
    first-k-per-segment selection. lexsort is a stable sequence of
    argsorts, so within a row segment the comparisons are exactly a
    per-row sort's. Returns (rows, ids, dist, labels, rank) of the kept
    pairs, rows ascending; rank is the 1-based position in the row."""
    if keep is not None:
        dist, rows, ids = dist[keep], rows[keep], ids[keep]
        if labels is not None:
            labels = labels[keep]
    if labels is None:
        keys = (ids, dist, rows)
    else:
        null = pd.isna(labels) if labels.dtype.kind in "fO" else None
        if null is None or not null.any():
            keys = (ids, labels, dist, rows)
        else:
            # a null is not comparable to a label: sort it by the null key
            # and give it any label value
            fill = labels[~null][:1]
            lkey = np.where(null, fill[0] if fill.size else 0, labels)
            keys = (ids, lkey, ~null, dist, rows)
    order = np.lexsort(keys)
    rs = rows[order]
    change = np.empty(rs.size, dtype=bool)
    change[:1] = True
    np.not_equal(rs[1:], rs[:-1], out=change[1:])
    pos = np.arange(rs.size) - np.flatnonzero(change)[np.cumsum(change) - 1]
    sel = pos < k
    picked = order[sel]
    return (
        rs[sel], ids[picked], dist[picked],
        None if labels is None else labels[picked], pos[sel] + 1,
    )


def rerank(scored: DataFrame, key: str, dist: str, ties: list, k: int) -> DataFrame:
    """Exact global top-k per ``key`` over per-batch / per-cell survivors
    (each local top-k is a superset of its contribution), ordered
    (``dist`` ASC NULLS LAST, *``ties`` ASC). Nulls LAST: Arrow maps the
    kernels' NaN distances to SQL nulls, and ``first_k`` puts NaN at the
    end — a plain asc would rank nulls FIRST. Returns ``scored``'s
    columns with ``rank`` replaced (or appended) in place."""
    order = [F.asc_nulls_last(dist)] + [F.asc(c) for c in ties]
    return topk_per_key(scored, key, order, k)
