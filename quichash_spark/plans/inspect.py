"""Physical-plan inspection helpers (plan-assertion utilities).

The reference has no optimizer to inspect (SURVEY.md §4: all its
optimizations are physical and hard-coded); on Spark the plan IS the
contract — these helpers let tests assert that Catalyst actually did what
the operator author intended (filter pushdown, column pruning, broadcast
choice, whole-stage codegen coverage).
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """``df.explain`` output as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section of the scan node ('' if none)."""
    plan = explain_str(df)
    for line in plan.splitlines():
        if "PushedFilters" in line:
            return line.strip()
    return ""


def read_schema(df: DataFrame) -> str:
    """The ReadSchema of the scan node (column-pruning check)."""
    plan = explain_str(df)
    for line in plan.splitlines():
        if "ReadSchema" in line:
            return line.strip()
    return ""


def codegen_stage_count(df: DataFrame) -> int:
    """Number of whole-stage-codegen spans (bigger spans = fewer stages).

    Executes the frame: under AQE the ``*(<id>)`` codegen markers only
    exist in the finalized plan, so the pre-execution explain cannot show
    them.
    """
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()  # type: ignore[attr-defined]
    ids = {
        line.split("*(", 1)[1].split(")", 1)[0]
        for line in plan.splitlines()
        if "*(" in line
    }
    return len(ids)


def _seq(s) -> list:
    """A Scala ``Seq`` (py4j proxy) as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def plan_nodes(df: DataFrame) -> list:
    """Every node of ``df``'s executed physical plan (py4j proxies),
    descending through adaptive-plan and query-stage wrappers — for
    node-level assertions that do not depend on how Spark prints plans."""
    stack = [df._jdf.queryExecution().executedPlan()]  # type: ignore[attr-defined]
    out = []
    while stack:
        node = stack.pop()
        out.append(node)
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            stack.append(node.plan())
        else:
            stack.extend(_seq(node.children()))
    return out


def node_names(df: DataFrame) -> list[str]:
    """The class simple names of :func:`plan_nodes` (e.g.
    ``"BroadcastHashJoinExec"``), one per node."""
    return [n.getClass().getSimpleName() for n in plan_nodes(df)]


def expression_count(df: DataFrame, class_name: str) -> int:
    """How many instances of the Catalyst expression class ``class_name``
    (simple name, e.g. ``"StringSplit"``) the executed plan's nodes hold,
    lambda bodies included."""
    n = 0
    for node in plan_nodes(df):
        stack = _seq(node.expressions())
        while stack:
            e = stack.pop()
            n += e.getClass().getSimpleName() == class_name
            stack.extend(_seq(e.children()))
    return n
