"""Physical-plan audits.

Correctness says the numbers match; these helpers pin the plan *shape* —
the thing that decides whether a query survives a 100x scale-up. Used by
tests/test_plan_quality.py and available interactively:

    from usw_big_data_analysis_spark.plans import audit
    print(audit(df))
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame


def explain_formatted(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def shuffle_count(plan: str | DataFrame) -> int:
    """Number of exchanges in the plan tree (each is a full shuffle or a
    broadcast build — the dominant cost terms at scale)."""
    text = plan if isinstance(plan, str) else explain_formatted(plan)
    return len(re.findall(r"^\s*(?:\+-|:-)? ?Exchange", text, re.M))


def _walk_jvm_plan(node):
    """Depth-first walk over a JVM SparkPlan tree, descending into the
    adaptive plan's current physical tree, subquery plans, materialized
    AQE query stages, and cached-relation plans (the latter two are leaf
    nodes whose wrapped plan hides in fields, not children())."""
    yield node
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _walk_jvm_plan(node.executedPlan())
    elif cls.endswith("QueryStageExec"):
        yield from _walk_jvm_plan(node.plan())
    elif cls == "InMemoryTableScanExec":
        yield from _walk_jvm_plan(node.relation().cachedPlan())
    it = node.children().iterator()
    while it.hasNext():
        yield from _walk_jvm_plan(it.next())
    sit = node.subqueries().iterator()
    while sit.hasNext():
        yield from _walk_jvm_plan(sit.next())


def unpartitioned_window_count(df: DataFrame) -> int:
    """Number of ``Window*Exec`` nodes with an empty partition spec — the
    ones that log ``No Partition Defined`` and move the input to a single
    partition. The suite invariant (bounded_seq convention) is zero,
    everywhere: bounded tables use triangular joins instead.

    Detection walks the JVM ``executedPlan`` node tree and reads each
    window node's ``partitionSpec`` directly (VERDICT r4: the previous
    treeString bracket-group parser could be fooled by pathological
    expression text, and it gates a suite-wide invariant). Covers
    ``WindowExec``, ``WindowInPandasExec`` and ``WindowGroupLimitExec``,
    inside adaptive and subquery plans."""
    root = df._jdf.queryExecution().executedPlan()
    n = 0
    for node in _walk_jvm_plan(root):
        cls = node.getClass().getSimpleName()
        if cls.startswith("Window") and node.partitionSpec().isEmpty():
            n += 1
    return n


_LAMBDA = "lambdafunction("
_SPLIT_CALL = re.compile(r"(?<![a-z_])split\(")


def lambda_split_count(df: DataFrame) -> int:
    """Number of ``lambdafunction(...)`` bodies in the optimized logical
    plan that call ``split(``.

    Higher-order functions are interpreted, not code-generated, and
    Catalyst does not hoist lambda-invariant subexpressions out of a
    lambda body: ``transform(seq, i -> element_at(split(text, ' '), i))``
    splits the whole document once per element, O(tokens^2) per row.
    Token arrays belong in a projected column the lambda reads (see
    ``functions/text.ngrams``); the suite invariant is zero. Counts are per
    occurrence in the plan text, so an unaliased column's generated name
    counts again. Builders that ``localCheckpoint`` hide their lambdas
    from this check."""
    text = df._jdf.queryExecution().optimizedPlan().toString()
    n = 0
    start = text.find(_LAMBDA)
    while start >= 0:
        depth, i = 1, start + len(_LAMBDA)
        while depth and i < len(text):
            depth += {"(": 1, ")": -1}.get(text[i], 0)
            i += 1
        if _SPLIT_CALL.search(text, start, i):
            n += 1
        start = text.find(_LAMBDA, start + 1)
    return n


_AGG_NODE = re.compile(r"(?:HashAggregate|ObjectHashAggregate|SortAggregate)")
_ROUND_CALL = re.compile(r"(?<![a-z_])round\(")


def perrow_round_count(plan: str | DataFrame) -> int:
    """Number of plan nodes that evaluate a double ``round(...)`` per RAW
    scan row — i.e. on the path between a file scan and the first
    cardinality-compressing aggregate.

    Why it matters at 100 TB: Spark's ``round(double, d)`` boxes every row
    through java.math.BigDecimal (measured ~2x an entire q1 map stage);
    rounds that run once per group (post-aggregate) are free. Hot per-row
    quantization should use the primitive floor(+0.5) forms in
    ``functions/numeric.py`` instead. Detection walks the formatted plan's
    indent tree: for nodes strictly between a scan and its first
    aggregate, any ``round(`` in the node's detail block counts; for the
    first (partial) aggregate itself only its per-input-row sections
    (``Keys``/``Functions``) count — its ``Results`` run once per group.

    Known accepted flag: ``embed_jl_projection_audit`` rounds a
    DECIMAL-typed norm (exact decimal arithmetic is the point there —
    converting to the double floor form would change the value); the
    detector cannot see expression types in the plan text, so that one
    stays flagged by design."""
    text = plan if isinstance(plan, str) else explain_formatted(plan)
    lines = text.splitlines()
    try:
        tree = lines[: lines.index("")]
    except ValueError:
        tree = lines
    # detail blocks: "(id) NodeName" header through next blank line
    details: dict[int, str] = {}
    block_id: int | None = None
    block: list[str] = []
    for line in lines[len(tree):]:
        m = re.match(r"\((\d+)\) \S", line)
        if m:
            if block_id is not None:
                details[block_id] = "\n".join(block)
            block_id, block = int(m.group(1)), [line]
        elif block_id is not None:
            block.append(line)
    if block_id is not None:
        details[block_id] = "\n".join(block)

    def node_flags(nid: int, name_line: str) -> bool:
        d = details.get(nid, name_line)
        if _AGG_NODE.search(name_line):
            perrow = [
                ln for ln in d.splitlines()
                if ln.startswith(("Keys", "Functions"))
            ]
            return any(_ROUND_CALL.search(ln) for ln in perrow)
        return bool(_ROUND_CALL.search(d))

    flagged: set[int] = set()
    stack: list[tuple[int, int, str]] = []  # (indent, id, line)
    for line in tree:
        m = re.search(r"\((\d+)\)\s*$", line)
        if not m:
            continue
        node_id = int(m.group(1))
        indent = len(line) - len(line.lstrip(" *+-:"))
        while stack and stack[-1][0] >= indent:
            stack.pop()
        if "Scan parquet" in line or "Scan ExistingRDD" in line:
            for _, nid, nline in reversed(stack):  # scan upward to root
                if node_flags(nid, nline):
                    flagged.add(nid)
                if _AGG_NODE.search(nline):
                    break  # past the first aggregate: per-group territory
        stack.append((indent, node_id, line))
    return len(flagged)


@dataclass
class PlanAudit:
    shuffles: int
    broadcast_joins: int
    sort_merge_joins: int
    nested_loop_joins: int
    has_filter_pushdown: bool
    partial_aggregates: int
    python_evals: int
    read_schemas: list[str]

    def __str__(self) -> str:  # compact one-line summary
        return (
            f"shuffles={self.shuffles} bhj={self.broadcast_joins} "
            f"smj={self.sort_merge_joins} bnlj={self.nested_loop_joins} "
            f"pushdown={self.has_filter_pushdown} "
            f"partial_aggs={self.partial_aggregates} python={self.python_evals}"
        )


def audit(df: DataFrame) -> PlanAudit:
    plan = explain_formatted(df)
    return PlanAudit(
        shuffles=shuffle_count(plan),
        broadcast_joins=plan.count("BroadcastHashJoin"),
        sort_merge_joins=plan.count("SortMergeJoin"),
        nested_loop_joins=plan.count("BroadcastNestedLoopJoin")
        + plan.count("CartesianProduct"),
        has_filter_pushdown="PushedFilters: [" in plan
        and "PushedFilters: []" not in plan,
        partial_aggregates=len(re.findall(r"HashAggregate", plan)) // 2,
        python_evals=plan.count("ArrowEvalPython") + plan.count("MapInPandas")
        + plan.count("BatchEvalPython"),
        read_schemas=re.findall(r"ReadSchema: (.+)", plan),
    )
