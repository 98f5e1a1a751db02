"""Pipeline / PCollection / PTransform core.

Reference: ``Pipeline.create()`` + ``apply()`` build a DAG of transforms
(``sdks/java/core/.../Pipeline.java:131,163,178``) over immutable
unordered ``PCollection``s (``values/PCollection.java:75``) that carry a
bounded/unbounded flag (``:192``) and a WindowingStrategy (``:303``).

Our design: a PCollection wraps a DataFrame (bounded) or streaming
DataFrame (unbounded — ``df.isStreaming`` IS the IsBounded enum), plus
  * ``event_time`` — the name of the event-time column, if assigned
    (reference: every element implicitly carries a timestamp,
    ``util/WindowedValue.java:159``; here it's an explicit column so
    Catalyst can see and optimize it), and
  * ``windowing`` — a WindowingStrategy realized at aggregation time.

There is no custom execution engine: ``apply`` composes Catalyst logical
plans; Spark's optimizer is our stages 3-5 (SURVEY.md §3.3).
"""

from __future__ import annotations

from typing import Any, Iterable, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_beam_spark.windowing import WindowFn, WindowingStrategy


class PTransform:
    """A named transform: ``expand(pcoll) -> PCollection`` (reference
    ``transforms/PTransform.java``; composites expand eagerly exactly as
    ``TransformHierarchy.pushNode`` does, ``runners/TransformHierarchy.java:59``)."""

    label: Optional[str] = None

    def expand(self, pcoll: "PCollection") -> "PCollection":
        raise NotImplementedError

    def with_label(self, label: str) -> "PTransform":
        self.label = label
        return self

    def __rrshift__(self, label: str) -> "PTransform":
        # beam-style `"Name" >> transform`
        return self.with_label(label)


class Pipeline:
    """Entry point; owns the SparkSession (reference ``Pipeline.java:131``)."""

    def __init__(self, spark: Optional[SparkSession] = None):
        if spark is None:
            from apache_beam_spark.engine import get_spark

            spark = get_spark()
        self.spark = spark

    # -- sources (reference io/Read.java root reads) --------------------
    def read_parquet(self, path: str) -> "PCollection":
        return PCollection(self.spark.read.parquet(path), self)

    def read_text(self, path: str) -> "PCollection":
        """reference io/TextIO.java:176 read() -> one `line` column."""
        return PCollection(self.spark.read.text(path).withColumnRenamed("value", "line"), self)

    def read_json(self, path: str, schema=None) -> "PCollection":
        r = self.spark.read
        if schema is not None:
            r = r.schema(schema)
        return PCollection(r.json(path), self)

    def read_csv(self, path: str, **options: Any) -> "PCollection":
        return PCollection(self.spark.read.options(**options).csv(path), self)

    def create(self, data: Iterable[Any], schema=None) -> "PCollection":
        """reference transforms/Create.java — literal in-memory PCollection."""
        return PCollection(self.spark.createDataFrame(data, schema=schema), self)

    def from_df(self, df: DataFrame) -> "PCollection":
        return PCollection(df, self)

    def sql(self, query: str) -> "PCollection":
        return PCollection(self.spark.sql(query), self)

    # -- unbounded sources (reference io/UnboundedSource.java) ----------
    def read_parquet_stream(self, path: str, schema, **options) -> "PCollection":
        """Unbounded file read — the IsBounded.UNBOUNDED twin of
        read_parquet; every downstream operator is the same code."""
        from apache_beam_spark.streaming.sources import file_stream

        return PCollection(
            file_stream(self.spark, path, "parquet", schema, **options), self)

    def read_text_stream(self, path: str, **options) -> "PCollection":
        """reference TextIO.watchForNewFiles (io/TextIO.java:66-108)."""
        from apache_beam_spark.streaming.sources import file_stream

        return PCollection(file_stream(self.spark, path, "text", **options), self)

    def read_rate_stream(self, rows_per_second: int = 1000) -> "PCollection":
        """reference GenerateSequence.withRate (io/GenerateSequence.java:125)."""
        from apache_beam_spark.streaming.sources import rate_stream

        return PCollection(rate_stream(self.spark, rows_per_second), self)


class PCollection:
    """Immutable unordered bag == DataFrame + windowing metadata."""

    def __init__(
        self,
        df: DataFrame,
        pipeline: Pipeline,
        windowing: Optional[WindowingStrategy] = None,
        event_time: Optional[str] = None,
    ):
        self.df = df
        self.pipeline = pipeline
        self.windowing = windowing or WindowingStrategy()
        self.event_time = event_time

    # -- plumbing -------------------------------------------------------
    @property
    def is_bounded(self) -> bool:
        """reference values/PCollection.java:192 IsBounded."""
        return not self.df.isStreaming

    def _with_df(self, df: DataFrame, **overrides: Any) -> "PCollection":
        kw = dict(windowing=self.windowing, event_time=self.event_time)
        kw.update(overrides)
        return PCollection(df, self.pipeline, **kw)

    def apply(self, transform: PTransform) -> "PCollection":
        return transform.expand(self)

    def __or__(self, transform: PTransform) -> "PCollection":
        return self.apply(transform)

    # -- elementwise sugar (full transform classes in operators/) -------
    def select(self, *cols: Union[str, Column]) -> "PCollection":
        return self._with_df(self.df.select(*cols))

    def where(self, cond: Union[str, Column]) -> "PCollection":
        return self._with_df(self.df.filter(cond))

    filter = where

    def with_column(self, name: str, col: Column) -> "PCollection":
        return self._with_df(self.df.withColumn(name, col))

    def with_event_time(self, col: Union[str, Column], name: str = "event_time") -> "PCollection":
        """reference transforms/WithTimestamps.java:71 — set event time.

        Also the place allowed-lateness becomes a Spark watermark for
        unbounded inputs (``Window.withAllowedLateness`` ->
        ``withWatermark``).
        """
        if isinstance(col, str) and col in self.df.columns and col == name:
            df = self.df
        else:
            df = self.df.withColumn(name, F.col(col) if isinstance(col, str) else col)
        if not self.is_bounded and self.windowing.allowed_lateness:
            from apache_beam_spark.windowing import ensure_event_time

            df = ensure_event_time(df, name).withWatermark(
                name, self.windowing.allowed_lateness)
        return self._with_df(df, event_time=name)

    def window_into(
        self,
        fn: WindowFn,
        allowed_lateness: Optional[str] = None,
        accumulation_mode: Optional[str] = None,
        timestamp_combiner: Optional[str] = None,
    ) -> "PCollection":
        """reference transforms/windowing/Window.java Window.into —
        records strategy; realized by the next grouping operator."""
        from dataclasses import replace as _replace

        ws = self.windowing.with_window_fn(fn)
        if allowed_lateness is not None:
            ws = _replace(ws, allowed_lateness=allowed_lateness)
        if accumulation_mode is not None:
            ws = _replace(ws, accumulation_mode=accumulation_mode)
        if timestamp_combiner is not None:
            ws = _replace(ws, timestamp_combiner=timestamp_combiner)
        out = self._with_df(self.df, windowing=ws)
        if not self.is_bounded and allowed_lateness and self.event_time:
            from apache_beam_spark.windowing import ensure_event_time

            out = out._with_df(
                ensure_event_time(self.df, self.event_time)
                .withWatermark(self.event_time, allowed_lateness),
                windowing=ws)
        return out

    def window_group_cols(self) -> list[Column]:
        """The extra groupBy columns realizing the windowing strategy."""
        fn = self.windowing.window_fn
        if fn.windowed and self.event_time is None:
            raise ValueError("windowed grouping requires with_event_time() first")
        return fn.window_cols(self.event_time) if fn.windowed else []

    def windowed_agg(self, extra_keys: Sequence[Column], *aggs: Column) -> "PCollection":
        """groupBy(window cols + keys).agg(aggs), realizing the
        strategy's TimestampCombiner (TimestampCombiner.java): grouped
        output carries ``__event_time__`` = window.end (END_OF_WINDOW),
        min(ts) (EARLIEST) or max(ts) (LATEST), and downstream
        re-windowing keys off it."""
        from apache_beam_spark import windowing as _w

        gcols = [*self.window_group_cols(), *extra_keys]
        windowed = self.windowing.window_fn.windowed
        extra = []
        if windowed:
            a = _w.output_ts_agg(self.windowing.timestamp_combiner, self.event_time)
            if a is not None:
                extra.append(a)
        df = (self.df.groupBy(*gcols).agg(*aggs, *extra) if gcols
              else self.df.agg(*aggs))
        if windowed and not extra:  # END_OF_WINDOW: derive post-agg
            df = df.withColumn(_w.OUTPUT_TS_COL, F.col("window.end"))
        return self._with_df(
            df, event_time=_w.OUTPUT_TS_COL if windowed else self.event_time)

    # -- actions / sinks ------------------------------------------------
    def collect(self):
        return self.df.collect()

    def to_pandas(self):
        return self.df.toPandas()

    def count(self) -> int:
        return self.df.count()

    def write_parquet(self, path: str, mode: str = "overwrite", num_shards: Optional[int] = None,
                      partition_by: Optional[list[str]] = None) -> None:
        """reference io/WriteFiles.java:108 — sharded/dynamic-destination
        writes.  withNumShards -> repartition(n); dynamic destinations ->
        partitionBy; the temp-file finalize-rename protocol
        (WriteFiles.java:639) is replaced by Spark's commit protocol."""
        df = self.df.repartition(num_shards) if num_shards else self.df
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)

    def write_text(self, path: str, mode: str = "overwrite") -> None:
        self.df.write.mode(mode).text(path)

    def cache(self) -> "PCollection":
        """Multiply-consumed intermediates (reference
        ``runners/spark/.../EvaluationContext.java:131-151`` shouldCache)."""
        return self._with_df(self.df.cache())

    def explain(self, mode: str = "formatted") -> None:
        self.df.explain(mode)
