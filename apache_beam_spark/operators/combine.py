"""Combine / aggregation operators.

Reference: ``Combine.globally``/``perKey`` (``transforms/Combine.java:100,153``)
with the ``CombineFn`` contract createAccumulator/addInput/
mergeAccumulators/extractOutput (``Combine.java:338``) — exactly Spark's
partial/merge/final aggregation model, which Catalyst applies
automatically (HashAggregate partial+final); the reference had to bolt
this on per-runner (``MultiStepCombine.java:63``,
``GroupCombineFunctions.java:143-187``).

Built-in combiners (Count/Sum/Min/Max/Mean/Top/Latest/Distinct/Sample/
ApproximateUnique/ApproximateQuantiles — ``transforms/{Count,Sum,Min,Max,
Mean,Top,Latest,Distinct,Sample,ApproximateUnique,ApproximateQuantiles}.java``)
lower to native JVM aggregate functions — never Python.

Custom ``CombineFn``s run as grouped pandas (Arrow-batched) aggregation.
Hot-key fanout (``Combine.withHotKeyFanout`` ``Combine.java:1528,1598``)
is provided as explicit two-stage salting for custom fns; native aggs
don't need it (map-side partial aggregation already bounds per-key
skew).
"""

from __future__ import annotations

import random
from typing import Any, Callable, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from apache_beam_spark.pipeline import PCollection, PTransform


class CombineFn:
    """User aggregation contract (reference ``Combine.java:338``).

    Subclass with pandas-friendly methods; executed per (window, key)
    group via ``applyInPandas`` (Arrow batches).  For associative fns at
    scale, prefer expressing as native Column aggregations, or set
    ``pre_shuffle_fn``: a Column-expression partial aggregate applied
    map-side before the shuffle (manual combiner lifting).
    """

    def create_accumulator(self) -> Any:
        raise NotImplementedError

    def add_input(self, acc: Any, value: Any) -> Any:
        raise NotImplementedError

    def merge_accumulators(self, accs: Sequence[Any]) -> Any:
        raise NotImplementedError

    def extract_output(self, acc: Any) -> Any:
        raise NotImplementedError

    def add_inputs(self, acc: Any, values) -> Any:
        """Batch hook (override with a vectorized impl when possible)."""
        for v in values:
            acc = self.add_input(acc, v)
        return acc


class Combine:
    """Combine.globally / Combine.perKey entry points."""

    @staticmethod
    def globally(*aggs: Column) -> PTransform:
        """Native-agg global combine (reference ``Combine.globally``
        ``Combine.java:100``).  Pass pre-aliased aggregate Columns."""

        class _G(PTransform):
            def expand(self, pcoll: PCollection) -> PCollection:
                return pcoll.windowed_agg([], *aggs)

        return _G()

    @staticmethod
    def per_key(keys: Union[str, Sequence[str]], *aggs: Column) -> PTransform:
        """Native-agg per-key combine (reference ``Combine.perKey``
        ``Combine.java:153``)."""
        keys_l = [keys] if isinstance(keys, str) else list(keys)

        class _PK(PTransform):
            def expand(self, pcoll: PCollection) -> PCollection:
                return pcoll.windowed_agg([F.col(k) for k in keys_l], *aggs)

        return _PK()

    @staticmethod
    def grouped_values(values_col: str, out_col: str, zero: Column,
                       merge: Callable[[Column, Column], Column],
                       finish: Optional[Callable[[Column], Column]] = None) -> PTransform:
        """Combine.groupedValues (reference ``Combine.java:2073``):
        combine each ALREADY-grouped bag — the ``KV<K, Iterable<V>>``
        output of GroupByKey — in place.

        Lowered to the ``aggregate()`` higher-order function over the
        array column: zero/merge/finish run inside the row that holds
        the bag, so there is NO second shuffle — exactly the promise of
        the reference transform (combine without re-grouping).
        """

        class _GV(PTransform):
            def expand(self, pcoll: PCollection) -> PCollection:
                if finish is not None:
                    agg = F.aggregate(F.col(values_col), zero, merge, finish)
                else:
                    agg = F.aggregate(F.col(values_col), zero, merge)
                return pcoll._with_df(pcoll.df.withColumn(out_col, agg))

        return _GV()

    @staticmethod
    def per_key_fn(keys: Union[str, Sequence[str]], fn: CombineFn, value: str,
                   out_col: str, out_type: str, fanout: int = 0) -> PTransform:
        """Custom-CombineFn per-key combine via grouped pandas.

        ``fanout`` > 0 enables hot-key fanout (reference
        ``PerKeyWithHotKeyFanout`` ``Combine.java:1598``): stage 1
        aggregates (key, salt) partial accumulators, stage 2 merges —
        the exact two-level salted tree the reference builds, expressed
        as two ``applyInPandas`` rounds.
        """
        keys_l = [keys] if isinstance(keys, str) else list(keys)

        class _PKF(PTransform):
            def expand(self, pcoll: PCollection) -> PCollection:
                import pandas as pd

                key_fields = ", ".join(
                    f"{k} {pcoll.df.schema[k].dataType.simpleString()}" for k in keys_l
                )
                out_schema = f"{key_fields}, {out_col} {out_type}"

                def _agg(pdf: "pd.DataFrame") -> "pd.DataFrame":
                    acc = fn.create_accumulator()
                    acc = fn.add_inputs(acc, pdf[value])
                    res = fn.extract_output(acc)
                    return pd.DataFrame([[*pdf.iloc[0][keys_l].tolist(), res]],
                                        columns=[*keys_l, out_col])

                if fanout and fanout > 1:
                    # two-stage: pre-aggregate on (key, salt); then merge.
                    salted = pcoll.df.withColumn(
                        "__salt__", (F.rand(seed=42) * fanout).cast("int")
                    )

                    def _agg1(pdf: "pd.DataFrame") -> "pd.DataFrame":
                        acc = fn.create_accumulator()
                        acc = fn.add_inputs(acc, pdf[value])
                        row = [*pdf.iloc[0][keys_l].tolist(), acc]
                        return pd.DataFrame([row], columns=[*keys_l, "__acc__"])

                    # accumulator must be expressible as a Spark type; we
                    # require fn to expose acc_type for the fanout path.
                    acc_type = getattr(fn, "acc_type", out_type)
                    partial = salted.groupBy(*keys_l, "__salt__").applyInPandas(
                        _agg1, schema=f"{key_fields}, __acc__ {acc_type}"
                    )

                    def _agg2(pdf: "pd.DataFrame") -> "pd.DataFrame":
                        acc = fn.merge_accumulators(list(pdf["__acc__"]))
                        res = fn.extract_output(acc)
                        return pd.DataFrame([[*pdf.iloc[0][keys_l].tolist(), res]],
                                            columns=[*keys_l, out_col])

                    df = partial.groupBy(*keys_l).applyInPandas(_agg2, schema=out_schema)
                    return pcoll._with_df(df)

                df = pcoll.df.groupBy(*keys_l).applyInPandas(_agg, schema=out_schema)
                return pcoll._with_df(df)

        return _PKF()


class Count:
    """reference ``transforms/Count.java:65,73,102``"""

    @staticmethod
    def globally(alias: str = "count") -> PTransform:
        return Combine.globally(F.count(F.lit(1)).alias(alias))

    @staticmethod
    def per_key(keys: Union[str, Sequence[str]], alias: str = "count") -> PTransform:
        return Combine.per_key(keys, F.count(F.lit(1)).alias(alias))

    @staticmethod
    def per_element(cols: Union[str, Sequence[str]], alias: str = "count") -> PTransform:
        """Count.perElement — count occurrences of each distinct element."""
        return Combine.per_key(cols, F.count(F.lit(1)).alias(alias))


class Sum:
    """reference ``transforms/Sum.java:52-110``"""

    @staticmethod
    def globally(col: str, alias: str = "sum") -> PTransform:
        return Combine.globally(F.sum(col).alias(alias))

    @staticmethod
    def per_key(keys, col: str, alias: str = "sum") -> PTransform:
        return Combine.per_key(keys, F.sum(col).alias(alias))


class Min:
    """reference ``transforms/Min.java:54-108``; custom comparator via
    ``min_by(payload, order_col)``."""

    @staticmethod
    def globally(col: str, alias: str = "min") -> PTransform:
        return Combine.globally(F.min(col).alias(alias))

    @staticmethod
    def per_key(keys, col: str, alias: str = "min") -> PTransform:
        return Combine.per_key(keys, F.min(col).alias(alias))


class Max:
    """reference ``transforms/Max.java:54-108``"""

    @staticmethod
    def globally(col: str, alias: str = "max") -> PTransform:
        return Combine.globally(F.max(col).alias(alias))

    @staticmethod
    def per_key(keys, col: str, alias: str = "max") -> PTransform:
        return Combine.per_key(keys, F.max(col).alias(alias))


class Mean:
    """reference ``transforms/Mean.java:66,83`` (count+sum accumulator —
    identical to Spark's Average partial aggregate)."""

    @staticmethod
    def globally(col: str, alias: str = "mean") -> PTransform:
        return Combine.globally(F.avg(col).alias(alias))

    @staticmethod
    def per_key(keys, col: str, alias: str = "mean") -> PTransform:
        return Combine.per_key(keys, F.avg(col).alias(alias))


class Top:
    """Top-K (reference ``transforms/Top.java:146,190,237`` — bounded-heap
    TopCombineFn).

    Global: ``orderBy().limit(k)`` — Spark's TakeOrderedAndProject is the
    same bounded heap, executed map-side per partition then merged on the
    driver: no full sort, no full shuffle.
    Per-key: window ``row_number() <= k`` (one shuffle, heap per key via
    WindowExec) keeping rows; or array form via
    ``slice(sort_array(collect_list(...)))``.
    """

    @staticmethod
    def largest(order_col: str, k: int, tiebreak: Optional[Sequence[str]] = None) -> PTransform:
        class _T(PTransform):
            def expand(self, pcoll: PCollection) -> PCollection:
                order = [F.col(order_col).desc(), *[F.col(t).asc() for t in tiebreak or []]]
                return pcoll._with_df(pcoll.df.orderBy(*order).limit(k))

        return _T()

    @staticmethod
    def smallest(order_col: str, k: int, tiebreak: Optional[Sequence[str]] = None) -> PTransform:
        class _T(PTransform):
            def expand(self, pcoll: PCollection) -> PCollection:
                order = [F.col(order_col).asc(), *[F.col(t).asc() for t in tiebreak or []]]
                return pcoll._with_df(pcoll.df.orderBy(*order).limit(k))

        return _T()

    #: fixed level-1 salt count for the two-level per-key top-k —
    #: a CONSTANT (ADVICE r13: deriving it from defaultParallelism
    #: made the logical plan vary with cluster size, breaking
    #: plan-keyed caching/memo equality across deployments).  32 salts
    #: bound the level-2 input to 32k rows per key at any scale while
    #: giving a hot key 32-way level-1 parallelism.
    N_SALTS = 32

    @staticmethod
    def prune_salted(df: DataFrame, keys: Sequence, order: Sequence[Column],
                     salt_cols: Sequence[Column], k: int) -> DataFrame:
        """Level 1 of the exact two-level per-key top-k: keep the top
        ``k`` rows of each (key, salt) bucket, salt =
        ``pmod(xxhash64(salt_cols), N_SALTS)``.  Exact: a row outside
        its bucket's top-k has >= k same-key rows ahead of it
        globally, so the per-key top-k survives.  The rank column
        gets a name no input column has, so no input column is
        overwritten or dropped."""
        from pyspark.sql.window import Window as W

        taken = {c.lower() for c in df.columns}
        rn = "__lrn__"
        while rn in taken:
            rn += "_"
        salt = F.pmod(F.xxhash64(*salt_cols), F.lit(Top.N_SALTS))
        lw = W.partitionBy(*keys, salt).orderBy(*order)
        return (df.withColumn(rn, F.row_number().over(lw))
                .filter(F.col(rn) <= k).drop(rn))

    @staticmethod
    def per_key(keys: Union[str, Sequence[str]], order_col: str, k: int,
                ascending: bool = False, rank_alias: str = "rank",
                tiebreak: Optional[Sequence[str]] = None,
                salted: bool = True) -> PTransform:
        keys_l = [keys] if isinstance(keys, str) else list(keys)

        class _TPK(PTransform):
            def expand(self, pcoll: PCollection) -> PCollection:
                from pyspark.sql.window import Window as W

                order = [F.col(order_col).asc() if ascending else F.col(order_col).desc()]
                for t in tiebreak or []:
                    order.append(F.col(t))
                df = pcoll.df
                # exact two-level top-k (optimization r13, guide §2.5):
                # a window partitioned by a LOW-cardinality key sorts
                # each whole key group in one task (a 3-value key uses
                # 3 tasks at any scale — the 199/200-stragglers shape).
                # Level 1 takes the per-(key, salt) top-k in parallel;
                # level 2 ranks only the <= k * N_SALTS survivors per
                # key.  Exact: a row outside its salt bucket's top-k
                # has >= k same-key rows ahead of it globally, so the
                # global top-k is contained in the union of bucket
                # top-ks.  The salt is DETERMINISTIC (hash of the
                # ordering columns, guide §2.5: rand-derived keys break
                # under task retry), so ranks are reproducible whenever
                # the order is total — the same condition the
                # single-window form already needed.
                # ``salted=False`` is the HIGH-cardinality opt-out
                # (ADVICE r13): when each key group holds ~k rows,
                # level 1 filters almost nothing and its extra
                # exchange+sort roughly doubles the shuffle — callers
                # who know their key is near-unique should skip it.
                # Results are identical either way.
                if salted:
                    df = Top.prune_salted(
                        df, keys_l, order,
                        [F.col(c) for c in [order_col, *(tiebreak or [])]],
                        k)
                w = W.partitionBy(*keys_l).orderBy(*order)
                df = (
                    df.withColumn(rank_alias, F.row_number().over(w))
                    .filter(F.col(rank_alias) <= k)
                )
                return pcoll._with_df(df)

        return _TPK()


class Latest:
    """Element with max event time (reference ``transforms/Latest.java:57``)
    — ``max_by(value, ts)``: a single-pass native aggregate."""

    @staticmethod
    def per_key(keys: Union[str, Sequence[str]], value: str, ts: str,
                alias: str = "latest") -> PTransform:
        return Combine.per_key(keys, F.max_by(value, ts).alias(alias))

    @staticmethod
    def globally(value: str, ts: str, alias: str = "latest") -> PTransform:
        return Combine.globally(F.max_by(value, ts).alias(alias))


class Distinct(PTransform):
    """Dedup (reference ``transforms/Distinct.java:104-115``; impl there =
    Combine.perKey(keep-first) — here a native hash-distinct with
    map-side partial dedup).  ``representative``: dedup by a derived key
    keeping one arbitrary witness per key
    (``withRepresentativeValueFn:87,163`` — lowered to ``min_by``/
    ``groupBy`` so the choice is deterministic)."""

    def __init__(self, cols: Optional[Sequence[str]] = None,
                 representative: Optional[Union[Column, str]] = None,
                 order_col: Optional[str] = None):
        self.cols, self.representative, self.order_col = cols, representative, order_col

    def expand(self, pcoll: PCollection) -> PCollection:
        if self.representative is not None:
            rep = (F.expr(self.representative) if isinstance(self.representative, str)
                   else self.representative)
            df = pcoll.df.withColumn("__rep__", rep)
            order = self.order_col or pcoll.df.columns[0]
            aggs = [F.min_by(c, order).alias(c) for c in pcoll.df.columns]
            df = df.groupBy("__rep__").agg(*aggs).drop("__rep__")
            return pcoll._with_df(df)
        if self.cols:
            return pcoll._with_df(pcoll.df.select(*self.cols).dropDuplicates())
        return pcoll._with_df(pcoll.df.dropDuplicates())


class Sample:
    """reference ``transforms/Sample.java:74,100`` — any(n) is an
    arbitrary limit; fixed-size uniform is rand-ordered limit (the
    reservoir equivalent at rest)."""

    @staticmethod
    def any(n: int) -> PTransform:
        class _A(PTransform):
            def expand(self, pcoll: PCollection) -> PCollection:
                return pcoll._with_df(pcoll.df.limit(n))

        return _A()

    @staticmethod
    def fixed_size_globally(n: int, seed: int = 42) -> PTransform:
        class _FS(PTransform):
            def expand(self, pcoll: PCollection) -> PCollection:
                return pcoll._with_df(pcoll.df.orderBy(F.rand(seed)).limit(n))

        return _FS()

    @staticmethod
    def fixed_size_per_key(keys: Union[str, Sequence[str]], n: int, seed: int = 42) -> PTransform:
        keys_l = [keys] if isinstance(keys, str) else list(keys)

        class _FSPK(PTransform):
            def expand(self, pcoll: PCollection) -> PCollection:
                from pyspark.sql.window import Window as W

                w = W.partitionBy(*keys_l).orderBy(F.rand(seed))
                df = (pcoll.df.withColumn("__rn__", F.row_number().over(w))
                      .filter(F.col("__rn__") <= n).drop("__rn__"))
                return pcoll._with_df(df)

        return _FSPK()


class ApproximateUnique:
    """Distinct-count estimate (reference
    ``transforms/ApproximateUnique.java:85,99,133``; smallest-hash-sample
    sketch) -> HLL++ ``approx_count_distinct`` — same contract,
    different sketch (BASELINE.md note: tolerance-compared)."""

    @staticmethod
    def globally(col: str, rsd: float = 0.05, alias: str = "approx_distinct") -> PTransform:
        return Combine.globally(F.approx_count_distinct(col, rsd).alias(alias))

    @staticmethod
    def per_key(keys, col: str, rsd: float = 0.05, alias: str = "approx_distinct") -> PTransform:
        return Combine.per_key(keys, F.approx_count_distinct(col, rsd).alias(alias))


class ApproximateQuantiles:
    """Approx quantiles (reference
    ``transforms/ApproximateQuantiles.java:97,158`` — Munro-Paterson) ->
    Greenwald-Khanna ``percentile_approx``."""

    @staticmethod
    def globally(col: str, quantiles: Sequence[float], accuracy: int = 10000,
                 alias: str = "quantiles") -> PTransform:
        qarr = F.array(*[F.lit(q) for q in quantiles])
        return Combine.globally(F.percentile_approx(col, qarr, F.lit(accuracy)).alias(alias))

    @staticmethod
    def per_key(keys, col: str, quantiles: Sequence[float], accuracy: int = 10000,
                alias: str = "quantiles") -> PTransform:
        qarr = F.array(*[F.lit(q) for q in quantiles])
        return Combine.per_key(keys, F.percentile_approx(col, qarr, F.lit(accuracy)).alias(alias))
