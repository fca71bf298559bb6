"""Physical-plan audit helpers.

The engine's performance contract is checkable, not aspirational: these
helpers parse ``explain`` output so tests (tests/test_plans.py) assert the
plans we designed for are the plans Catalyst actually produces —
filter/column pushdown into the parquet scan, broadcast joins where hinted,
map-side partial top-k (WindowGroupLimit), whole-stage codegen coverage, and
bounded exchange counts.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the parquet scan (empty = nothing pushed)."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", explain_str(df)):
        if m.group(1).strip():
            out.extend(p.strip() for p in m.group(1).split(","))
    return out


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from parquet (column pruning check)."""
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", explain_str(df)):
        cols.extend(c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip())
    return cols


def has_broadcast_join(df: DataFrame) -> bool:
    p = executed_plan(df)
    return "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def has_window_group_limit(df: DataFrame, mode: str = "Partial") -> bool:
    """True when the rank<=k filter compiled to a map-side partial top-k."""
    return f"WindowGroupLimit" in executed_plan(df) and mode in executed_plan(df)


def count_exchanges(df: DataFrame) -> int:
    return executed_plan(df).count("Exchange ")


def python_eval_nodes(df: DataFrame) -> int:
    """Number of Python-evaluation operators in the plan (0 for pure-JVM
    plans; exactly 1 for a single pandas_udf distance)."""
    p = executed_plan(df)
    return (
        p.count("ArrowEvalPython")
        + p.count("BatchEvalPython")
        + p.count("MapInPandas")
        + p.count("FlatMapGroupsInPandas")
    )


# ---------------------------------------------------------------------------
# Executed-plan TREE walk (r6, VERDICT r5 #3). The string counters above are
# fine for pinning plan SHAPES in tests, but they over-count cache-heavy
# queries (every InMemoryRelation reference REPRINTS its cached child plan —
# q150 printed 340 "Exchange" substrings through 17 reprints) and
# under-count codegen under AQE (adaptive plan strings drop the *(N)
# markers). Walking the JVM plan tree gives true per-run counts: descend
# into AdaptiveSparkPlanExec's final plan and each QueryStageExec's
# materialized stage plan; stop at InMemoryTableScanExec (the cached
# subtree executes once, at population, not per query) and at
# ReusedExchangeExec (a reuse of an exchange counted where it first runs).
# ---------------------------------------------------------------------------

_PYTHON_EVAL_NODES = (
    "ArrowEvalPythonExec",
    "BatchEvalPythonExec",
    "MapInPandasExec",
    "FlatMapGroupsInPandasExec",
    "FlatMapGroupsInPandasWithStateExec",
    "ArrowEvalPythonUDTFExec",
    "BatchEvalPythonUDTFExec",
)


def _executed_nodes(plan):
    """(simple class name, node) for every node of an executed plan tree,
    under the walk rules above."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _executed_nodes(plan.executedPlan())
        return
    if name.endswith("QueryStageExec"):
        yield from _executed_nodes(plan.plan())
        return
    yield name, plan
    # a cached subtree runs once at population, a reused exchange where it
    # first runs — neither belongs to this query
    if name in ("InMemoryTableScanExec", "ReusedExchangeExec"):
        return
    children = plan.children()
    for i in range(children.length()):
        yield from _executed_nodes(children.apply(i))


def executed_node_counts(df: DataFrame, materialize: bool = True) -> dict:
    """True node counts from the executed physical-plan TREE.

    ``materialize``: AQE only finalizes a plan when ITS OWN QueryExecution
    runs (``df.count()`` plans a different query), so by default the frame
    is collected first — callers audit small/sample frames.

    Returns ``{"exchanges", "broadcast_exchanges", "broadcast_joins",
    "codegen_stages", "python_nodes", "inmem_scans", "file_scans",
    "pushed_filters", "scan_columns"}``. The last two come straight off
    the scan NODES (r7, VERDICT r6 #4 — finishing the r6 tree-walk):
    ``FileSourceScanExec.pushedDownFilters`` (the source-filter objects
    the scan will actually evaluate, stringified) and
    ``requiredSchema().fieldNames()`` (the pruned read schema) — no
    formatted-string regex anywhere, so filters containing commas or
    nested-struct schemas cannot mis-parse.
    """
    if materialize:
        df.collect()
    counts = {
        "exchanges": 0,
        "broadcast_exchanges": 0,
        "broadcast_joins": 0,
        "python_nodes": 0,
        "inmem_scans": 0,
        "file_scans": 0,
    }
    codegen_ids: set = set()
    pushed: list[str] = []
    scan_cols: list[str] = []
    for name, node in _executed_nodes(df._jdf.queryExecution().executedPlan()):
        if name == "ShuffleExchangeExec":
            counts["exchanges"] += 1
        elif name == "BroadcastExchangeExec":
            counts["broadcast_exchanges"] += 1
        elif name in ("BroadcastHashJoinExec", "BroadcastNestedLoopJoinExec"):
            counts["broadcast_joins"] += 1
        elif name == "WholeStageCodegenExec":
            codegen_ids.add(node.codegenStageId())
        elif name in _PYTHON_EVAL_NODES:
            counts["python_nodes"] += 1
        elif name == "InMemoryTableScanExec":
            counts["inmem_scans"] += 1
        elif name == "FileSourceScanExec":
            counts["file_scans"] += 1
            scan_cols.extend(str(c) for c in node.requiredSchema().fieldNames())
            pf = node.pushedDownFilters()
            pushed.extend(pf.apply(i).toString() for i in range(pf.length()))
    counts["codegen_stages"] = len(codegen_ids)
    counts["pushed_filters"] = pushed
    counts["scan_columns"] = scan_cols
    return counts


# ---------------------------------------------------------------------------
# Single-evaluation audit. Higher-order functions (zip_with, aggregate,
# transform, ...) run interpreted, per element and boxed, so a plan that
# evaluates one fold at two nodes pays for it twice per row — the shape
# predicate pushdown produces from ``withColumn(c, fold).filter(c ...)``
# (functions/distance.py::with_distance). Expression ids (``#12``) and the
# numeric suffix of lambda variables (``x_3``) are normalized away, so one
# fold prints the same at every node that evaluates it.
# ---------------------------------------------------------------------------

_HOF_CLASS = "org.apache.spark.sql.catalyst.expressions.HigherOrderFunction"
_EXPR_ID = re.compile(r"#\d+L?")
_LAMBDA_VAR = re.compile(r"(lambda \w+?)_\d+\b")


def hof_nodes(df, materialize: bool = True) -> dict:
    """{normalized HOF expression: [simple class name of each executed-plan
    node evaluating it]}, expressions in sorted order (so a regenerated
    EXPLAIN.md lists them stably). ``df`` is a DataFrame (collected first when
    ``materialize``, as in ``executed_node_counts``) or an executed JVM
    plan (e.g. a streaming query's ``lastExecution().executedPlan()``).
    Only outermost HOFs count: a zip_with inside an aggregate is part of
    that aggregate. The same fold over same-named columns of two different
    inputs (a test and a train side both reading ``features``) also
    normalizes to one entry, so a listed repeat is a lead to read in the
    plan, not a proof of waste."""
    from pyspark import SparkContext

    if isinstance(df, DataFrame):
        if materialize:
            df.collect()
        plan = df._jdf.queryExecution().executedPlan()
    else:
        plan = df
    hof_cls = SparkContext._jvm.java.lang.Class.forName(_HOF_CLASS)
    nodes: dict = {}

    def hofs(expr, out: set) -> None:
        text = expr.toString()
        if "lambdafunction" not in text:
            return
        if hof_cls.isInstance(expr):
            out.add(_LAMBDA_VAR.sub(r"\1", _EXPR_ID.sub("", text)))
            return
        children = expr.children()
        for i in range(children.length()):
            hofs(children.apply(i), out)

    for name, node in _executed_nodes(plan):
        found: set = set()
        exprs = node.expressions()
        for i in range(exprs.length()):
            hofs(exprs.apply(i), found)
        for h in found:
            nodes.setdefault(h, []).append(name)
    return {h: nodes[h] for h in sorted(nodes)}


def repeated_hofs(df, materialize: bool = True) -> dict:
    """{HOF expression: node count} for every HOF of ``hof_nodes`` that
    more than one executed-plan node evaluates ({} when each is evaluated
    at one node)."""
    return {h: len(n) for h, n in hof_nodes(df, materialize).items() if len(n) > 1}


# ---------------------------------------------------------------------------
# Driver-bottleneck audit: every DataFrame.collect an operator performs must
# be bounded (sketch-sized, 1-row, or guarded by an explicit byte bound with
# a no-collect fallback). This instrumentation turns that design rule into a
# checkable assertion so a future operator cannot add an unguarded collect
# without a test failing.
# ---------------------------------------------------------------------------

import contextlib
import traceback as _tb
from dataclasses import dataclass, field


@dataclass
class CollectRecord:
    site: str  # "file.py:line" of the non-library frame that collected
    rows: int
    est_bytes: int


@dataclass
class CollectAudit:
    max_bytes: int
    records: list = field(default_factory=list)

    @property
    def violations(self):
        return [r for r in self.records if r.est_bytes > self.max_bytes]


def _est_row_bytes(row) -> int:
    # cheap, conservative-enough estimate: repr length of the row tuple
    # (numbers ~ their digit count, strings/arrays ~ their content)
    try:
        return len(repr(tuple(row)))
    except Exception:
        return 64


def _caller_site() -> str:
    for frame in reversed(_tb.extract_stack()):
        fn = frame.filename
        if "/pyspark/" in fn or "plans/audit.py" in fn:
            continue
        if fn.endswith(".py"):
            return f"{fn.rsplit('/', 1)[-1]}:{frame.lineno}"
    return "<unknown>"


def _runtime_dataframe_cls():
    # Spark 4: pyspark.sql.DataFrame is an ABC; the runtime instances are
    # the classic (or connect) subclass which OVERRIDES collect/first —
    # patch the class whose methods actually run
    try:
        from pyspark.sql.classic.dataframe import DataFrame as _DF

        return _DF
    except ImportError:  # pragma: no cover - older pyspark
        return DataFrame


@contextlib.contextmanager
def collect_audit(max_bytes: int = 1 << 20):
    """Instrument DataFrame.collect/first during the block: record every
    driver materialization's row count and estimated byte size. Exits
    cleanly; callers inspect ``.records`` / ``.violations``."""
    audit = CollectAudit(max_bytes=max_bytes)
    DataFrame = _runtime_dataframe_cls()
    orig_collect = DataFrame.collect
    orig_first = DataFrame.first

    def collect(self):
        rows = orig_collect(self)
        n = len(rows)
        est = sum(_est_row_bytes(r) for r in rows[:100])
        if n > 100:
            est = int(est * n / 100)
        audit.records.append(CollectRecord(_caller_site(), n, est))
        return rows

    def first(self):
        row = orig_first(self)
        audit.records.append(
            CollectRecord(_caller_site(), 1, _est_row_bytes(row) if row else 0)
        )
        return row

    DataFrame.collect = collect
    DataFrame.first = first
    try:
        yield audit
    finally:
        DataFrame.collect = orig_collect
        DataFrame.first = orig_first


def assert_no_unbounded_collect(fn, max_bytes: int = 1 << 20):
    """Run ``fn`` under collect_audit and raise AssertionError naming every
    collect site whose materialized result exceeded ``max_bytes``. Returns
    the audit (so tests can additionally assert which sites appeared)."""
    with collect_audit(max_bytes=max_bytes) as audit:
        fn()
    if audit.violations:
        lines = "\n".join(
            f"  {v.site}: {v.rows} rows ~{v.est_bytes} bytes (> {max_bytes})"
            for v in audit.violations
        )
        raise AssertionError(f"unbounded driver collect(s):\n{lines}")
    return audit
