"""Executed-plan SQL-metric inspection: the proof layer for scale claims.

"The shuffle only carries (doc, 8 hashes)" is a design claim; these helpers
turn it into an assertable fact by walking the EXECUTED physical plan
(through the AQE wrapper and query-stage nodes) and collecting each node's
SQLMetrics. Tests assert bounds on shuffle records/bytes — a regression
that breaks map-side combine or starts shuffling payload columns fails CI
instead of surfacing as a 100× slowdown at 100 TB.
"""

from __future__ import annotations

import re
from typing import Iterator

from pyspark.sql import DataFrame


def _walk(node, depth: int = 0) -> Iterator[tuple[int, object]]:
    yield depth, node
    name = node.nodeName()
    # AQE wrappers don't expose their executed subtree via children()
    if name == "AdaptiveSparkPlan":
        yield from _walk(node.executedPlan(), depth + 1)
        return
    if "QueryStage" in name:
        yield from _walk(node.plan(), depth + 1)
        return
    ch = node.children()
    for i in range(ch.size()):
        yield from _walk(ch.apply(i), depth + 1)


def executed_metrics(df: DataFrame) -> list[tuple[str, dict]]:
    """(nodeName, {metric: value}) for every node of df's EXECUTED plan.

    The DataFrame must have been materialized via an action that runs its
    own queryExecution (``collect()``/``toPandas()`` — NOT ``count()``,
    which plans a separate aggregate and leaves this one unexecuted)."""
    out = []
    for _, node in _walk(df._jdf.queryExecution().executedPlan()):
        m = node.metrics()
        it = m.iterator()
        mm = {}
        while it.hasNext():
            kv = it.next()
            mm[kv._1()] = kv._2().value()
        out.append((node.nodeName(), mm))
    return out


def shuffle_stats(df: DataFrame) -> dict:
    """Aggregate shuffle/generate stats of an executed DataFrame:
    records+bytes written across all Exchanges, rows fanned out by
    Generate (explode) nodes, and the Exchange count."""
    stats = {
        "exchanges": 0,
        "shuffle_records": 0,
        "shuffle_bytes": 0,
        "generated_rows": 0,
    }
    for name, m in executed_metrics(df):
        if name == "Exchange":
            stats["exchanges"] += 1
            stats["shuffle_records"] += m.get("shuffleRecordsWritten", 0)
            stats["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
        elif name == "Generate":
            stats["generated_rows"] += m.get("numOutputRows", 0)
    return stats


def last_execution_id(spark) -> int:
    """Most recent SQL execution id in this session (-1 if none) — the
    'before' cursor for :func:`session_shuffle_records`."""
    store = spark._jsparkSession.sharedState().statusStore()
    lst = store.executionsList()
    return lst.apply(lst.size() - 1).executionId() if lst.size() else -1


def session_shuffle_records(spark, before_execution_id: int) -> int:
    """Total 'shuffle records written' across ALL SQL executions with id
    greater than ``before_execution_id``.

    :func:`shuffle_stats` walks ONE DataFrame's executed plan — blind to
    queries that run extra executions internally (driver-literal scalar
    pulls, eager localCheckpoints) and then return a literal frame with
    no exchanges at all. This sweep reads the session status store
    instead, so a gate can bound EVERYTHING a query put on the wire:

        before = last_execution_id(spark)
        QUERIES[name].fn(spark, sf).collect()
        total = session_shuffle_records(spark, before)

    Values come back UI-formatted (thousands separators, sometimes a
    'total (min, med, max)' suffix) — parse the leading integer. The
    metric descriptor list repeats a node's accumulators once per AQE
    re-plan, so dedupe by accumulator id or the sweep overcounts ~6-8x.
    """
    return _sweep(spark, before_execution_id, "shuffle records written")


def _count_metric(value) -> int:
    """Parse a sum-typed SQL metric rendered by the status store as a
    plain (comma-separated) integer.

    The sweeps feed exact and UPPER-bound gates (assert total <= bound),
    so a lenient parse fails in the PERMISSIVE direction: treating an
    unrecognized format as 0 (ADVICE r13's suggestion) or truncating
    "2.0 KiB" to 2 would let a real map-side-combine regression pass
    vacuously. Parse strictly and raise loudly on anything that is not a
    leading integer — a format change should break the gate, not silence
    it."""
    raw = str(value).strip()
    if re.fullmatch(r"\d[\d,]*", raw) is None:
        raise ValueError(
            f"unparseable SQL metric value {raw!r} — update the parser"
        )
    return int(raw.replace(",", ""))


def session_generated_rows(
    spark, before_execution_id: int, generator: str
) -> int:
    """Total rows emitted by the ``Generate`` nodes whose generator
    expression starts with ``generator`` (e.g. ``"explode(shingles#"``),
    across ALL SQL executions with id greater than
    ``before_execution_id``.

    The executed-work twin of :func:`session_shuffle_records`: it counts
    how many times an explode actually ran over a window of actions, so a
    gate can pin "this pass runs exactly once" without counting jobs (AQE
    submits one job per shuffle stage, so job counts move with the plan
    shape, not with the work). Reads each execution's plan graph, whose
    nodes carry the generator text."""
    return _sweep(
        spark,
        before_execution_id,
        "number of output rows",
        node_prefix=f"Generate {generator}",
    )


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def _sweep(
    spark, before_execution_id: int, metric_name: str, node_prefix=None
) -> int:
    """Sum the SQL metric ``metric_name`` over every execution with id
    greater than ``before_execution_id``: all of an execution's metrics,
    or only those of its plan-graph nodes whose description starts with
    ``node_prefix``. Each execution's values come from its own tasks, so
    an accumulator counts once per execution (its descriptor repeats
    once per AQE re-plan) and again in any other execution that shows
    it."""
    store = spark._jsparkSession.sharedState().statusStore()
    total = 0
    for e in _seq(store.executionsList()):
        eid = e.executionId()
        if eid <= before_execution_id:
            continue
        if node_prefix is None:
            mets = _seq(e.metrics())
        else:
            mets = (
                m
                for node in _seq(store.planGraph(eid).allNodes())
                if node.desc().startswith(node_prefix)
                for m in _seq(node.metrics())
            )
        vals = store.executionMetrics(eid)
        seen = set()
        for m in mets:
            acc = m.accumulatorId()
            if m.name() == metric_name and acc not in seen:
                seen.add(acc)
                v = vals.get(acc)
                if not v.isEmpty():
                    total += _count_metric(v.get())
    return total
