"""Top.per_key's salted level-1 prune must not touch input columns:
its temporary rank column takes a name the input does not use."""

from __future__ import annotations

from apache_beam_spark.operators.combine import Top
from apache_beam_spark.pipeline import Pipeline


def test_input_column_named_like_the_rank_survives(spark):
    rows = [(k, v, f"tag{v}", v * 10) for k in ("a", "b")
            for v in range(6)]
    df = spark.createDataFrame(rows, "k string, v long, __lrn__ string, "
                                     "__LRN___ long")
    top = Pipeline(spark).from_df(df) | Top.per_key("k", "v", 2)
    got = sorted(map(tuple, top.df.select(
        "k", "v", "__lrn__", "__LRN___", "rank").collect()))
    assert got == [("a", 4, "tag4", 40, 2), ("a", 5, "tag5", 50, 1),
                   ("b", 4, "tag4", 40, 2), ("b", 5, "tag5", 50, 1)]
