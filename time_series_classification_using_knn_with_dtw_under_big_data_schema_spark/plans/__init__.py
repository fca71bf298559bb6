from .audit import (  # noqa: F401
    assert_no_unbounded_collect,
    collect_audit,
    count_exchanges,
    executed_node_counts,
    executed_plan,
    explain_str,
    has_broadcast_join,
    has_window_group_limit,
    pushed_filters,
    python_eval_nodes,
    read_schema_columns,
)
