"""Plan doctor: inspect a DataFrame's (optimized or executed) plan for
the mistakes that kill jobs at 100 TB.

The operators in this repo are built to specific plan shapes (broadcast
small dims, pushed filters, no row-at-a-time Python, no accidental
cartesians). This module makes those expectations CHECKABLE — in tests
(several suites already assert exchange counts by hand), in CI gates,
and interactively before pointing a notebook query at a petabyte:

    from firepit_spark.functions.doctor import plan_report, assert_scaleworthy
    rep = plan_report(df)          # counts + findings, no execution
    assert_scaleworthy(df)         # raises on red flags

Everything reads plan STRINGS via the JVM `QueryExecution` — no job
runs, no data moves.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

# findings severities
RED = "red"        # near-certain scale killer
YELLOW = "yellow"  # legitimate sometimes; review intent


@dataclass
class PlanReport:
    exchanges: int = 0
    broadcasts: int = 0
    scans: int = 0
    scans_without_pushdown: int = 0
    python_row_udfs: int = 0
    arrow_evals: int = 0
    cartesians: int = 0
    bnl_joins: int = 0
    sorts: int = 0
    codegen_spans: int = 0
    global_windows: int = 0
    findings: list = field(default_factory=list)

    @property
    def red_findings(self) -> list:
        return [f for f in self.findings if f[0] == RED]


def _plan_strings(df: DataFrame, executed: bool) -> str:
    qe = df._jdf.queryExecution()
    return (qe.executedPlan() if executed else qe.optimizedPlan()).toString()


def plan_report(df: DataFrame, executed: bool = True) -> PlanReport:
    """Summarize scale-relevant facts of ``df``'s plan.

    ``executed=True`` reads the spark-plan (physical) — what actually
    runs, including join strategies AQE chose statically; ``False``
    reads the optimized logical plan (useful when physical planning
    would already need file listings you don't want to pay for).
    """
    plan = _plan_strings(df, executed)
    rep = PlanReport()
    rep.exchanges = plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )
    rep.broadcasts = plan.count("BroadcastExchange") + plan.count(
        "ResolvedHint (strategy=broadcast"
    )
    rep.scans = plan.count("FileScan") + plan.count("Scan parquet")
    # a parquet scan that reports an empty PushedFilters list while the
    # query filters is usually fine (filter may not be scan-eligible),
    # but a scan with NO ReadSchema pruning note deserves eyes
    rep.scans_without_pushdown = plan.count("PushedFilters: []")
    rep.python_row_udfs = plan.count("BatchEvalPython")
    rep.arrow_evals = plan.count("ArrowEvalPython") + plan.count("MapInPandas")
    rep.cartesians = plan.count("CartesianProduct")
    rep.bnl_joins = plan.count("BroadcastNestedLoopJoin")
    rep.sorts = plan.count("Sort ")
    rep.codegen_spans = plan.count("WholeStageCodegen")
    # a Window with an EMPTY partition list funnels every row through one
    # partition; the physical string then OMITS the partition bracket:
    # `Window [exprs], [order]` (two groups) vs `Window [exprs],
    # [partition], [order]` (three)
    rep.global_windows = sum(
        1
        for line in plan.splitlines()
        if "Window [" in line
        and "WindowGroupLimit" not in line
        and line.count("], [") == 1
    )

    if rep.python_row_udfs:
        rep.findings.append(
            (RED,
             f"{rep.python_row_udfs} row-at-a-time Python UDF stage(s) "
             "(BatchEvalPython): 10-100x slower than Arrow/builtin — "
             "rewrite as pyspark.sql.functions or a pandas UDF")
        )
    if rep.cartesians:
        rep.findings.append(
            (RED,
             f"{rep.cartesians} CartesianProduct join(s): O(n*m) rows — "
             "add an equi-condition, or broadcast an intentionally tiny side")
        )
    if rep.bnl_joins:
        rep.findings.append(
            (YELLOW,
             f"{rep.bnl_joins} BroadcastNestedLoopJoin(s): fine for a "
             "1-row/tiny broadcast (summary cross joins), a scale bug if "
             "the broadcast side grows with the data")
        )
    if rep.scans_without_pushdown:
        rep.findings.append(
            (YELLOW,
             f"{rep.scans_without_pushdown} scan(s) with empty "
             "PushedFilters: if the query filters these tables, the "
             "predicate is not reaching parquet (cast/udf in the way?)")
        )
    if rep.global_windows:
        pruned = "WindowGroupLimit" in plan
        rep.findings.append(
            (YELLOW,
             f"{rep.global_windows} un-partitioned Window(s): every row "
             "funnels through ONE partition"
             + (" — a rank-limit prunes inputs first (WindowGroupLimit), "
                "fine when the post-limit size is bounded" if pruned
                else " with no rank-limit pruning — single-partition sort "
                "of the full input; partitionBy something or pre-aggregate"))
        )
    if rep.exchanges >= 10:
        rep.findings.append(
            (YELLOW,
             f"{rep.exchanges} shuffle exchanges: expected for iterative "
             "plans, otherwise look for repeated groupBys that could fuse "
             "or a missing bucketed layout")
        )
    return rep


def assert_scaleworthy(df: DataFrame, executed: bool = True) -> PlanReport:
    """Raise ``AssertionError`` when the plan has a red finding
    (row-Python UDFs, cartesian products). Returns the report otherwise
    so tests can make further shape assertions."""
    rep = plan_report(df, executed=executed)
    if rep.red_findings:
        msgs = "; ".join(m for _, m in rep.red_findings)
        raise AssertionError(f"plan not scale-worthy: {msgs}")
    return rep


# ------------------------------------------------------------- streaming
#
# Batch plans die of shuffles; streaming plans die of STATE. The checks
# below walk the ANALYZED logical plan (py4j tree walk — the physical
# plan of an unstarted streaming query doesn't exist yet, and these
# mistakes should be caught BEFORE .start(), not as a runtime OOM three
# days into a job): stateful operators without an eviction path
# (watermark or state timeout), stream-stream joins whose condition
# doesn't bound event time (state grows with the stream), and
# stream-static joins that re-shuffle the static side every micro-batch
# instead of broadcasting it.


@dataclass
class StreamReport:
    watermarks: int = 0
    stateful_ops: int = 0
    stream_stream_joins: int = 0
    stream_static_joins: int = 0
    unbroadcast_static_joins: int = 0
    unevicted_state_ops: int = 0
    findings: list = field(default_factory=list)

    @property
    def red_findings(self) -> list:
        return [f for f in self.findings if f[0] == RED]


def _walk_jplan(jnode):
    yield jnode
    kids = jnode.children()
    for i in range(kids.size()):
        yield from _walk_jplan(kids.apply(i))


def _subtree_has(jnode, node_name: str) -> bool:
    return any(n.nodeName() == node_name for n in _walk_jplan(jnode))


def _head(jnode) -> str:
    return jnode.toString().splitlines()[0]


# logical nodes that keep per-key state between micro-batches
_STATEFUL_NODES = frozenset(
    {
        "Aggregate",
        "Deduplicate",
        "DeduplicateWithinWatermark",
        "FlatMapGroupsWithState",
        "FlatMapGroupsInPandasWithState",
        "TransformWithStateInPandas",
    }
)


def stream_report(df: DataFrame) -> StreamReport:
    """Summarize state-relevant facts of an UNSTARTED streaming
    DataFrame's analyzed plan — the streaming sibling of
    :func:`plan_report`.

    Rules (severity in brackets):

    * [red] plain ``Deduplicate`` over a streaming input with no
      upstream watermark — per-row state forever;
      ``dropDuplicatesWithinWatermark`` or a Bloom-history dedup is
      always the better op.
    * [red] stream-stream join missing a watermark on either side, or
      whose join condition references no watermarked (event-time)
      column — both make join state unbounded.
    * [yellow] stateful op (aggregation / dedup-within-watermark /
      ``applyInPandasWithState``) with neither a watermark upstream nor
      a state timeout: legitimate when state is bounded by KEY
      CARDINALITY (one long per domain, latest-value-per-key) — review
      that the key domain really is bounded.
    * [yellow] stream-static join without a broadcast hint on the
      static side: the static side is re-scanned and shuffled every
      micro-batch; ``F.broadcast`` it.
    """
    if not df.isStreaming:
        raise ValueError(
            "stream_report expects a streaming DataFrame; use plan_report "
            "for batch plans"
        )
    root = df._jdf.queryExecution().analyzed()
    rep = StreamReport()
    for node in _walk_jplan(root):
        name = node.nodeName()
        if name == "EventTimeWatermark":
            rep.watermarks += 1
            continue
        if name == "Join":
            kids = node.children()
            left, right = kids.apply(0), kids.apply(1)
            l_stream, r_stream = left.isStreaming(), right.isStreaming()
            if l_stream and r_stream:
                rep.stream_stream_joins += 1
                missing_wm = [
                    side
                    for side, kid in (("left", left), ("right", right))
                    if not _subtree_has(kid, "EventTimeWatermark")
                ]
                if missing_wm:
                    rep.findings.append(
                        (RED,
                         "stream-stream join without a watermark on the "
                         f"{' and '.join(missing_wm)} side(s): join state "
                         "is never evicted — withWatermark both inputs")
                    )
                # watermarked event-time attributes print with a
                # `#<exprId>-T<delay>ms` delay marker; a condition that
                # references none of them has no time bound, so
                # matched-row state grows forever. Strict pattern — a
                # column NAME containing "-T" (prints as `x-Ty#7L`,
                # no exprId before the -T) must not suppress the finding
                elif not re.search(r"#\d+-T\d+ms", _head(node)):
                    rep.findings.append(
                        (RED,
                         "stream-stream join whose condition has no "
                         "event-time bound: state grows with the stream — "
                         "add a time-range predicate between the two "
                         "event-time columns")
                    )
            elif l_stream or r_stream:
                rep.stream_static_joins += 1
                static_side = right if l_stream else left
                if not _subtree_has(static_side, "ResolvedHint"):
                    rep.unbroadcast_static_joins += 1
                    rep.findings.append(
                        (YELLOW,
                         "stream-static join without a broadcast hint: the "
                         "static side re-scans and shuffles every "
                         "micro-batch; F.broadcast it unless it is too "
                         "large to broadcast (then pre-bucket both sides)")
                    )
            continue
        if name in _STATEFUL_NODES and node.isStreaming():
            rep.stateful_ops += 1
            head = _head(node)
            has_timeout = name in (
                "FlatMapGroupsWithState",
                "FlatMapGroupsInPandasWithState",
            ) and "NoTimeout" not in head
            has_wm = _subtree_has(node, "EventTimeWatermark")
            if name == "Deduplicate" and not has_wm:
                rep.unevicted_state_ops += 1
                rep.findings.append(
                    (RED,
                     "streaming dropDuplicates without a watermark: per-row "
                     "state is kept forever — use "
                     "dropDuplicatesWithinWatermark or a Bloom-history "
                     "dedup")
                )
            elif not has_wm and not has_timeout:
                rep.unevicted_state_ops += 1
                rep.findings.append(
                    (YELLOW,
                     f"stateful {name} with no watermark and no state "
                     "timeout: state never evicts — fine only when bounded "
                     "by key cardinality (one row per domain/user); "
                     "otherwise add withWatermark or a GroupStateTimeout")
                )
    return rep


def assert_stream_safe(df: DataFrame) -> StreamReport:
    """Raise ``AssertionError`` when a streaming plan has a red finding
    (unbounded dedup state, unbounded stream-stream join state).
    Returns the report otherwise for further shape assertions — the
    streaming twin of :func:`assert_scaleworthy`."""
    rep = stream_report(df)
    if rep.red_findings:
        msgs = "; ".join(m for _, m in rep.red_findings)
        raise AssertionError(f"streaming plan not state-safe: {msgs}")
    return rep
