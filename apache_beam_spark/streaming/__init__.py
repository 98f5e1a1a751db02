"""Structured Streaming realization of the reference's unbounded model.

Reference: unbounded PCollections (``values/PCollection.java:192``) +
WindowingStrategy (windows/triggers/lateness — ``transforms/windowing/``)
executed by runner watermark machinery
(``runners/direct-java/.../WatermarkManager.java:130``,
``runners/core-java/.../ReduceFnRunner.java:89``).  Here the whole stack
is Spark Structured Streaming: ``readStream`` sources, ``withWatermark``
for allowed lateness, ``window()``/``session_window()`` aggregation in
append/update mode, ``applyInPandasWithState`` for user state + timers.
A bounded run (a ``TestStream`` replay, a capped source) drains through
``read_bounded``: a memory sink under the availableNow trigger.
"""

from apache_beam_spark.streaming.sources import (
    TestStream,
    file_stream,
    rate_stream,
    read_bounded,
)
from apache_beam_spark.streaming.windowed import windowed_aggregate
from apache_beam_spark.streaming.heavy import streaming_heavy_hitters
from apache_beam_spark.streaming.sequences import streaming_funnel
from apache_beam_spark.streaming.stateful import (
    group_into_batches_stream,
    stateful_per_key,
    streaming_distinct,
    streaming_minhash_dedup,
)
from apache_beam_spark.streaming.sinks import (
    foreach_batch,
    idempotent_foreach_batch,
    write_parquet_stream,
)
from apache_beam_spark.streaming.timers import (
    StatefulContext,
    stateful_do_fn,
)
from apache_beam_spark.streaming.joins import interval_join
from apache_beam_spark.streaming.trigger_machine import (
    AfterAll,
    AfterEach,
    AfterFirst,
    AfterPane,
    AfterProcessingTime,
    AfterWatermark,
    Never,
    OrFinally,
    Repeatedly,
    run_transcript,
)
from apache_beam_spark.streaming.triggers import (
    count_trigger_aggregate,
    triggered_windowed_sum,
)

__all__ = [
    "TestStream", "file_stream", "rate_stream", "read_bounded",
    "windowed_aggregate",
    "stateful_per_key", "group_into_batches_stream", "streaming_distinct",
    "streaming_minhash_dedup",
    "streaming_funnel", "streaming_heavy_hitters",
    "foreach_batch", "idempotent_foreach_batch", "write_parquet_stream",
    "stateful_do_fn", "StatefulContext",
    "interval_join",
    "AfterAll", "AfterEach", "AfterFirst", "AfterPane",
    "AfterProcessingTime", "AfterWatermark", "Never", "OrFinally",
    "Repeatedly", "run_transcript",
    "count_trigger_aggregate", "triggered_windowed_sum",
]
