"""Executed-plan introspection helpers.

Everything works on the final (AQE-resolved where possible) physical
plan string — the same thing ``df.explain("formatted")`` prints — so
tests can pin down scale-critical properties:

  * ``pushed_filters``     — predicate pushdown reached the scan
  * ``scan_columns``       — column pruning reached the scan
  * ``shuffle_count``      — number of Exchange operators (each one is
                             a full network shuffle at 100 TB)
  * ``broadcast_join_count`` — small-dim joins avoided the shuffle
  * ``wholestage_codegen_ids`` — fused JVM codegen spans (rows never
                             leave generated code between them)
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_string(df: DataFrame) -> str:
    """Formatted physical plan (post-optimization, pre-execution)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters the parquet/orc scan will evaluate (or skip row-groups
    by) — empty means the predicate runs AFTER reading every byte."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan_string(df)):
        if m.group(1).strip():
            out.extend(s.strip() for s in m.group(1).split(","))
    return out


def scan_columns(df: DataFrame) -> list[list[str]]:
    """Per-scan ReadSchema column lists — a scan reading 16 columns for
    a 2-column projection means pruning failed."""
    cols = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan_string(df)):
        fields = [f.split(":")[0].strip() for f in m.group(1).split(",") if f.strip()]
        cols.append(fields)
    return cols


def shuffle_count(df: DataFrame) -> int:
    """Number of distinct Exchange (shuffle) operators in the plan
    (ReusedExchange doesn't count — it reads an existing shuffle)."""
    return len(re.findall(r"\(\d+\) Exchange\b", plan_string(df)))


def broadcast_join_count(df: DataFrame) -> int:
    return plan_string(df).count("BroadcastHashJoin")


def wholestage_codegen_ids(df: DataFrame) -> set[int]:
    """Distinct whole-stage-codegen span ids; wider/fewer spans = more
    of the query fused into generated JVM code.

    AQE annotates codegen only on the finalized plan, so this executes
    the query once (cheap on test data) when the plan isn't final yet.
    """
    s = plan_string(df)
    if "isFinalPlan=false" in s:
        df.collect()
        s = plan_string(df)
    return {int(m) for m in re.findall(r"\[codegen id : (\d+)\]", s)}


def _subtrees(jnode):
    yield jnode
    for i in range(jnode.children().size()):
        yield from _subtrees(jnode.children().apply(i))


def cache_candidates(*dfs: DataFrame) -> list[DataFrame]:
    """Multiply-consumed logical subtrees among ``dfs`` — the consumer
    counting the reference's Spark runner did in
    ``EvaluationContext.updateCacheCandidates``
    (runners/spark/.../EvaluationContext.java:131-151): a DataFrame
    whose plan is (a subtree of) another output's plan is consumed more
    than once and should be ``.cache()``d before fan-out.

    Subtree matching uses Catalyst's ``sameResult`` (semantic plan
    equality) over an explicit traversal of each other plan's nodes.
    """
    out = []
    for df in dfs:
        target = df._jdf.queryExecution().analyzed()
        for other in dfs:
            if other is df:
                continue
            if any(sub.sameResult(target) for sub in
                   _subtrees(other._jdf.queryExecution().analyzed())):
                out.append(df)
                break
    return out
