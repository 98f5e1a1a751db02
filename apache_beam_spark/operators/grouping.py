"""Grouping operators.

Reference: ``GroupByKey`` shuffles ``KV<K,V>`` into
``KV<K, Iterable<V>>`` *per window* (``transforms/GroupByKey.java:139``,
expand ``:203``); ``CoGroupByKey`` is the N-way grouped join
(``transforms/join/CoGroupByKey.java:74``); ``GroupIntoBatches`` batches
per-key elements (``transforms/GroupIntoBatches.java:79``).

Spark-first lowering: the GBK decomposition the reference runners do by
hand (GroupByKeyOnly + GroupAlsoByWindow,
``runners/core-java/.../GroupByKeyViaGroupByKeyOnly.java:70``) is
subsumed by ``groupBy(window(...), key).agg(...)`` — Catalyst plans the
shuffle and (partial) aggregation together, with map-side combine the
reference had to implement itself (``MultiStepCombine.java:63``).

Scale note: ``collect_list`` materializes a key's bag in one task.  That
is intrinsic to GBK-as-a-bag (same cost class as the reference's
Iterable<V>); for aggregations prefer ``Combine``/native aggs which
never build the bag.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apache_beam_spark.pipeline import PCollection, PTransform


class GroupByKey(PTransform):
    """KV -> (key, values array), honoring the windowing strategy."""

    def __init__(self, keys: Union[str, Sequence[str]] = "key", value: str = "value",
                 alias: str = "values"):
        self.keys = [keys] if isinstance(keys, str) else list(keys)
        self.value, self.alias = value, alias

    def expand(self, pcoll: PCollection) -> PCollection:
        return pcoll.windowed_agg(
            [F.col(k) for k in self.keys],
            F.collect_list(self.value).alias(self.alias))


class CoGroupByKey(PTransform):
    """N-way grouped join (reference ``CoGroupByKey.java:74,83,90``;
    per-tag value bags as in ``CoGbkResultSchema.java``).

    Each input is aggregated to (key, collect_list(tagged values)) and the
    per-tag aggregates are full-outer-joined on the key — one shuffle per
    input plus a join on already-reduced data, which is strictly less data
    movement than the reference's union-then-GBK encoding
    (``UnionCoder.java``).  Missing tags come out as empty arrays.
    """

    def __init__(self, tagged: dict[str, tuple[PCollection, str]], key: str = "key"):
        """tagged: tag -> (pcollection, value_column)."""
        self.tagged, self.key = tagged, key

    def expand(self, pcoll: PCollection) -> PCollection:  # pcoll = first input's pipeline anchor
        out: Optional[DataFrame] = None
        for tag, (pc, value_col) in self.tagged.items():
            agg = pc.df.groupBy(self.key).agg(F.collect_list(value_col).alias(tag))
            out = agg if out is None else out.join(agg, on=self.key, how="full_outer")
        assert out is not None
        for tag in self.tagged:
            out = out.withColumn(
                tag, F.coalesce(F.col(tag), F.array().cast(out.schema[tag].dataType))
            )
        return pcoll._with_df(out)


class GroupIntoBatches(PTransform):
    """Batch per-key elements (reference ``GroupIntoBatches.java:79``
    ofSize(n); BagState + timer impl ``:26-59``).

    Batch lowering: collect per-key array, slice into n-sized chunks and
    explode — one shuffle.  Streaming uses
    ``streaming.stateful.group_into_batches`` (applyInPandasWithState).
    """

    def __init__(self, size: int, keys: Union[str, Sequence[str]] = "key",
                 value: str = "value", alias: str = "batch"):
        self.size = size
        self.keys = [keys] if isinstance(keys, str) else list(keys)
        self.value, self.alias = value, alias

    def expand(self, pcoll: PCollection) -> PCollection:
        n = self.size
        vals = F.collect_list(self.value).alias("__all__")
        df = pcoll.df.groupBy(*[F.col(k) for k in self.keys]).agg(vals)
        # slice the bag into ceil(len/n) batches of size n
        nb = F.ceil(F.size("__all__") / F.lit(n)).cast("int")
        batches = F.transform(
            F.sequence(F.lit(0), nb - 1),
            lambda i: F.slice(F.col("__all__"), i * n + 1, n),
        )
        df = df.select(*self.keys, F.explode(batches).alias(self.alias))
        return pcoll._with_df(df)
