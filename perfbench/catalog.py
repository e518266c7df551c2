"""The op lists of each workload and the names of their per-op metrics.
``BENCHMARK.json`` at the repository root lists which metrics a run
reports, with their units; ``run.py`` reads them from there.

Per-op metric names:

* text_corpus ops (the ``operators`` and ``engine`` layers):
  ``<op>.build_s``, ``<op>.exec_s``, ``<op>.jobs``, ``<op>.stages``,
  ``<op>.tasks``;
* snapshot_dml ops: ``acid.<op>_s`` and ``acid.<op>.jobs`` for API calls,
  ``sql_dml.<stmt>_s`` and ``sql_dml.<stmt>.jobs`` for SQL text.
"""

from __future__ import annotations

TEXT_OPS = ("tier_a_wc", "tier_a_indexer", "wc", "indexer", "exact_substring_pairs")
DML_OPS = (
    "update", "delete", "merge_upsert", "append", "compact", "read", "read_version",
    "changes", "sql_delete", "sql_update", "sql_merge",
)


def op_metrics(op: str) -> dict[str, str]:
    """What a traced run reports for one op: ``{field: metric}`` where
    field is one of total_s, build_s, exec_s, jobs, stages, tasks."""
    if op in TEXT_OPS:
        return {f: f"{op}.{f}" for f in ("build_s", "exec_s", "jobs", "stages", "tasks")}
    # SQL text is the sql_dml layer, the rest the acid API
    layer, name = ("sql_dml", op[4:]) if op.startswith("sql_") else ("acid", op)
    return {"total_s": f"{layer}.{name}_s", "jobs": f"{layer}.{name}.jobs"}
