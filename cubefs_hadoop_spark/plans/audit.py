"""Plan auditing: programmatic checks on the physical plan.

"Run .explain and iterate until it's the plan you'd want" as code: extract
the properties that matter at 100 TB — pushed filters, pruned read schemas,
join strategies, shuffle count, Python-eval presence — so tests and CI can
assert them instead of a human eyeballing explain output.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, fields
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass
class PlanAudit:
    pushed_filters: list[str] = field(default_factory=list)
    read_schemas: list[str] = field(default_factory=list)
    broadcast_joins: int = 0
    sort_merge_joins: int = 0
    nested_loop_joins: int = 0
    shuffles: int = 0
    has_python_eval: bool = False
    has_pandas_map: bool = False  # MapInPandas/FlatMapGroupsInPandas — the
    # DELIBERATE Arrow-batched Python tier, distinct from has_python_eval
    # (row/scalar EvalPython nodes, the slow path plan gates forbid)
    has_take_ordered: bool = False
    has_window_group_limit: bool = False
    has_codegen: bool = False
    text: str = ""

    def scan_columns(self) -> list[set[str]]:
        """Column sets actually read from each scan (pruning check)."""
        out = []
        for rs in self.read_schemas:
            out.append(set(re.findall(r"(\w+):", rs)))
        return out


def audit_plan(df: DataFrame, executed: bool = False) -> PlanAudit:
    """Audit the formatted physical plan of ``df`` itself.

    ``executed=True`` runs the query first and audits the FINAL adaptive
    plan — AQE's initial plan carries no codegen annotations and may still
    show exchanges that runtime re-planning (broadcast demotion, partition
    coalescing) removes.  Work ``df`` was built from (construction-time
    actions, pipelines behind a barrier) is invisible here; see
    :func:`audit_run`."""
    if executed:
        df.collect()
    je = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return audit_text(je.explainString(mode))


def audit_run(spark: SparkSession, action: Callable[[], object]) -> list[PlanAudit]:
    """Run ``action`` and audit every SQL execution it started, one audit
    per execution, in execution order.

    The plans come from Spark's SQL status store, which records each
    action — every eager ``localCheckpoint``, count and collect a query
    runs while it is being built — with the formatted plan that actually
    ran (the AQE final plan once the execution finished).  So a query that
    does its work behind lineage cuts and returns a driver-sized literal
    is audited on the pipelines it executed, not on the literal."""
    store = spark._jsparkSession.sharedState().statusStore()
    first = _last_execution_id(spark, store) + 1
    action()
    last = _last_execution_id(spark, store)
    out = []
    for i in range(first, last + 1):
        e = store.execution(i)
        if not e.isEmpty():
            out.append(audit_text(e.get().physicalPlanDescription()))
    return out


def _last_execution_id(spark: SparkSession, store) -> int:
    # drain the listener bus first: the store is filled from its events.
    # Ids, not counts: the store evicts old executions past
    # spark.sql.ui.retainedExecutions, so its count stops growing.
    spark._jsc.sc().listenerBus().waitUntilEmpty()
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).head().executionId() if n else -1


def combine(audits: list[PlanAudit]) -> PlanAudit:
    """One audit over several executions: facts lists concatenate,
    operator counts add, flags OR."""
    zero = PlanAudit()
    merged = {}
    for f in fields(PlanAudit):
        vals = [getattr(a, f.name) for a in audits]
        z = getattr(zero, f.name)
        if isinstance(z, bool):
            merged[f.name] = any(vals)
        elif isinstance(z, str):
            merged[f.name] = "\n".join(vals)
        else:
            merged[f.name] = sum(vals, z)
    return PlanAudit(**merged)


def audit_text(text: str) -> PlanAudit:
    """Parse a formatted physical plan into assertable facts."""
    a = PlanAudit(text=text)

    # An executed adaptive plan prints the final tree AND the pre-AQE
    # "Initial Plan" tree, with detail blocks for the nodes of both.
    # Audit the final tree only, and keep only detail blocks whose node id
    # appears in it — otherwise every operator counts twice.  The status
    # store may hold the last update AQE posted before it flagged the plan
    # final; that tree is headed "Current Plan" and is audited the same way.
    tree = text
    m = re.search(
        r"== (?:Final|Current) Plan ==(.*?)== Initial Plan ==", text, re.DOTALL
    )
    if m:
        tree = m.group(1)
        final_ids = set(re.findall(r"\((\d+)\)", tree))
        details = [
            b
            for b in re.split(r"\n(?=\(\d+\)\s)", text)
            if (h := re.match(r"\((\d+)\)\s", b)) and h.group(1) in final_ids
        ]
        text = "\n".join(details)
    else:
        # Unexecuted formatted plan: one tree, then one "(N) Operator"
        # detail block per node — splitting at the first detail block
        # keeps operator COUNTS equal to operators in the plan, not
        # (tree + detail) print artifacts.
        d = re.search(r"\n\(\d+\)\s", tree)
        if d:
            tree = tree[: d.start()]

    for line in text.splitlines():
        s = line.strip()
        if s.startswith("PushedFilters:"):
            a.pushed_filters.append(s.removeprefix("PushedFilters:").strip())
        elif s.startswith("ReadSchema:"):
            a.read_schemas.append(s.removeprefix("ReadSchema:").strip())
    a.broadcast_joins = tree.count("BroadcastHashJoin")
    a.sort_merge_joins = tree.count("SortMergeJoin")
    a.nested_loop_joins = tree.count("BroadcastNestedLoopJoin") + tree.count(
        "CartesianProduct"
    )
    # formatted trees name shuffle nodes "Exchange (N)"; simple-mode text
    # (non-formatted callers) prints "Exchange hashpartitioning(...)"
    a.shuffles = len(re.findall(r"\bExchange\s+\(\d+\)", tree)) or len(
        re.findall(r"\bExchange (?:hash|range)partitioning", tree)
    )
    a.has_python_eval = "EvalPython" in tree or "EvalPython" in text
    a.has_pandas_map = any(
        n in tree or n in text
        for n in ("MapInPandas", "FlatMapGroupsInPandas", "MapInArrow")
    )
    a.has_take_ordered = "TakeOrderedAndProject" in tree
    a.has_window_group_limit = "WindowGroupLimit" in tree
    # codegen: "[codegen id : N]" detail annotations, "*" markers in the
    # final tree, or simple-mode WholeStageCodegen spans
    a.has_codegen = (
        "codegen id" in text
        or bool(re.search(r"[+:]- \* ", tree))
        or "WholeStageCodegen" in tree
    )
    return a
