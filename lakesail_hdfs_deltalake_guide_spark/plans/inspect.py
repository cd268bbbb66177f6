"""Physical-plan inspection utilities (reference S11 ``explain`` surface,
``/root/reference/examples/verify_sail_connection.py:36`` — elevated from a
debug print to assertable engine contracts).

Tests use these to pin the *plan shape*, not just results: predicate
pushdown reaching the parquet scan, partition pruning on hive layouts,
broadcast joins on dimension tables, whole-stage codegen coverage. A plan
regression (e.g. a filter silently stops pushing down) fails CI even though
results stay correct — exactly the class of bug that only shows up as a
10x slowdown at 100 TB.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The plan text of ``df.explain(mode)`` as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def pushed_filters(df: DataFrame) -> list[str]:
    """Every PushedFilters entry across the plan's file scans."""
    out = []
    for line in explain_str(df).splitlines():
        line = line.strip()
        if line.startswith("PushedFilters:"):
            out.append(line[len("PushedFilters:") :].strip())
    return out


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    return any(fragment in f for f in pushed_filters(df))


def has_partition_filter(df: DataFrame, fragment: str) -> bool:
    return any(
        fragment in line
        for line in explain_str(df).splitlines()
        if "PartitionFilters" in line
    )


def broadcast_join_count(df: DataFrame) -> int:
    return explain_str(df).count("BroadcastHashJoin")


def shuffle_count(df: DataFrame) -> int:
    """Exchanges in the plan — the number the 100 TB design minimizes."""
    return sum(
        1
        for line in explain_str(df).splitlines()
        if line.strip().startswith("(") and ") Exchange" in line
    )


def codegen_stage_count(df: DataFrame) -> int:
    """Whole-stage-codegen spans (wider/more = more JVM-fused work).

    EXECUTES the DataFrame: under AQE the codegen markers only exist on the
    finalized adaptive plan, which materializes on the Dataset's own
    QueryExecution after an action. Test-scale inputs only.
    """
    df.collect()
    ids = set()
    for line in explain_str(df).splitlines():
        if "[codegen id : " in line:
            try:
                ids.add(int(line.split("[codegen id : ")[1].split("]")[0]))
            except (IndexError, ValueError):
                pass
    return len(ids)


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read by the first parquet scan (column pruning)."""
    for line in explain_str(df).splitlines():
        line = line.strip()
        if line.startswith("ReadSchema:"):
            schema = line[len("ReadSchema:") :].strip()
            inner = schema[schema.find("<") + 1 : schema.rfind(">")]
            fields, depth = [""], 0  # split on top-level commas only
            for ch in inner:
                depth += (ch == "<") - (ch == ">")
                if ch == "," and depth == 0:
                    fields.append("")
                else:
                    fields[-1] += ch
            return [f.split(":")[0] for f in fields if f]
    return []


def _walk_jvm_plan(node):
    """Pre-order walk of a JVM logical-plan tree via py4j."""
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _walk_jvm_plan(children.apply(i))


_BOUNDING_NODES = frozenset({"GlobalLimit", "LocalLimit"})


def _limit_dominates(window_node) -> bool:
    """True iff a Limit node dominates the Window's data-sized input
    path: descend from the Window through UNARY children only. A Limit
    sitting on one branch of a join/union (or any unrelated subtree)
    does not bound the join's output, so the walk stops — set-
    intersecting ALL subtree node names would false-negative on exactly
    the pattern the lint exists to catch."""
    cur = window_node
    while True:
        children = cur.children()
        if children.size() != 1:
            return False
        cur = children.apply(0)
        if cur.nodeName() in _BOUNDING_NODES:
            return True


def undeclared_global_windows(df: DataFrame) -> list[str]:
    """Window nodes in the ANALYZED plan with an empty partition spec and
    no Limit anywhere below them — i.e. a global sort whose input size is
    not *declared* bounded by the query itself.

    Why the analyzed plan, not the optimized/physical one: Catalyst's
    InferWindowGroupLimit / LimitPushDownThroughWindow happens to rescue
    the ``row_number().over(Window.orderBy(...))`` + ``filter(rank <= k)``
    formulation into Window-over-TakeOrderedAndProject today, so the
    *executed* plan is fine — but that safety hangs on an optimizer rule
    that can be excluded by conf, regress across versions, or miss
    less-canonical rank predicates. The repo contract (the DSIR pattern,
    ``operators/sampling.py``) is that a global top-k DECLARES its bound
    with ``orderBy(...).limit(k)`` before the rank window, so the analyzed
    plan already shows Window over GlobalLimit. Bounded-DOMAIN global
    windows (hour grids, months, K strata — aggregates whose key space is
    a constant, not data-sized) carry no Limit node and are whitelisted by
    name in the registry-wide lint (tests/test_plans.py).

    Returns one descriptive string per offending Window node.
    """
    plan = df._jdf.queryExecution().analyzed()
    offenders = []
    for node in _walk_jvm_plan(plan):
        if node.nodeName() != "Window":
            continue
        if not node.partitionSpec().isEmpty():
            continue
        if _limit_dominates(node):
            continue
        subtree = {n.nodeName() for n in _walk_jvm_plan(node)} - {"Window"}
        offenders.append(
            "global Window with no declared bound below it; subtree nodes: "
            + ",".join(sorted(subtree))
        )
    return offenders
