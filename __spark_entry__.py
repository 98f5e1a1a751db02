"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps SURVEY.md §2's operator inventory (plus the
training-data-pipeline extensions) to engine invocations; ``oracle_sql``
provides the DuckDB-equivalent SQL for the hash-compared correctness
gate.  Both are read from the registry in the ``queries`` package,
where each builder is declared once, with its oracle beside it, in the
module of its family.  Conventions keeping the two engines
hash-identical:

* double SUMs go through DECIMAL(18,2|4) (exact, order-independent —
  plain double summation differs across partition orders) and back to
  double;
* AVGs are computed as exact-decimal-sum / count, rounded;
* similarity scores are rounded; rankings always carry a deterministic
  tiebreak;
* every computed column is aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from queries import REGISTRY
from queries.llm_data import _llm_corpus_prep
#: per-query LSH bucket telemetry the banded miners write
#: (docs/RUNBOOK.md "Reading the LSH bucket telemetry")
from queries.shared import LAST_OBSERVATIONS  # noqa: F401

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on /root/testdata/sf0.001; driver checks rows>0.

    The end-to-end corpus-prep pipeline (quality gate -> lang filter ->
    exact dedup -> near-dup cluster representatives -> sequence
    packing) — one declarative composition exercising filters,
    aggregation, joins, iterative connected components, and
    applyInPandas.  TPC-H Q1 (`q1_pricing_summary`) remains in
    queries() as the classic scan-agg flagship."""
    return _llm_corpus_prep(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.build for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle_sql() for name, q in REGISTRY.items()
            if q.oracle is not None}
