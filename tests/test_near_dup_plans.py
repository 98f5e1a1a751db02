"""Both plans of every near-dup miner agree on a clone flood.

Each miner picks its plan from its probe (``dedup/probe.py`` for the
text miners, the memoized vector probe for ``embedding_near_dup_pairs``):
the direct plan, or the clone-collapse plan that mines at
representative granularity and re-expands.  Here both plans are pinned
through the probe on one corpus made mostly of exact copies, and their
outputs compared: pair-contract modes must be equal row for row; star
modes must give the same connected components (the collapse plan emits
a spanning set, the direct plan the full pair list)."""

from __future__ import annotations

import re

import numpy as np
import pytest

_BASES = [
    "the quick brown fox jumps over the lazy dog near the river bank today",
    "pack my box with five dozen liquor jugs before the market closes tonight",
    "spark shuffles blocks between executors when a wide dependency appears",
    "every boilerplate footer repeats the same copyright notice and links",
    "a short story about a lighthouse keeper who counts passing ships",
]


def _text_flood(spark):
    """Five groups of four exact copies, one near-dup per group (one
    extra word), three loners: clone fraction 15/28."""
    rows = []
    for b, text in enumerate(_BASES):
        rows += [(10 * b + c, text) for c in range(4)]
        rows.append((10 * b + 5, text + " indeed"))
    rows += [(100 + i, f"unrelated loner number {i} with its own words")
             for i in range(3)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _vec_flood(spark):
    """Six groups of four identical vectors, one near copy per group,
    ten noise vectors."""
    rng = np.random.RandomState(21)
    base = rng.standard_normal((6, 16))
    rows = []
    for b in range(6):
        rows += [(10 * b + c, base[b].tolist()) for c in range(4)]
        rows.append((10 * b + 5,
                     (base[b] + 0.02 * rng.standard_normal(16)).tolist()))
    rows += [(100 + i, rng.standard_normal(16).tolist()) for i in range(10)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _ngram(expand):
    from apache_beam_spark.dedup.ngram import ngram_jaccard_pairs

    return lambda df: ngram_jaccard_pairs(df, threshold=0.5, expand=expand)


def _containment(df):
    from apache_beam_spark.dedup.ngram import ngram_containment_pairs

    return ngram_containment_pairs(df, threshold=0.8)


def _minhash(df):
    from apache_beam_spark.dedup.minhash import minhash_lsh_pairs

    return minhash_lsh_pairs(df, threshold=0.5, max_bucket=3)


def _simhash(df):
    from apache_beam_spark.dedup.simhash import simhash_dedup

    return simhash_dedup(df, max_hamming=3).select("doc_id")


def _knn(expand):
    from apache_beam_spark.similarity.knn import embedding_near_dup_pairs

    return lambda df: embedding_near_dup_pairs(df, threshold=0.9,
                                               max_bucket=3, expand=expand)


#: miner -> (corpus, [(build, how outputs compare), ...]): "rows" for
#: the pair contract, "components" for star mode
MINERS = {
    "ngram_jaccard": (_text_flood, [(_ngram("full"), "rows"),
                                    (_ngram("star"), "components")]),
    "ngram_containment": (_text_flood, [(_containment, "rows")]),
    "minhash_lsh_pairs": (_text_flood, [(_minhash, "rows")]),
    "simhash_dedup": (_text_flood, [(_simhash, "rows")]),
    "embedding_near_dup_pairs": (_vec_flood, [(_knn("full"), "rows"),
                                              (_knn("star"), "components")]),
}


def _components(pairs, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


@pytest.mark.parametrize("miner", sorted(MINERS))
def test_direct_and_collapse_plans_agree_on_clone_flood(spark, pin_plan,
                                                        miner):
    from apache_beam_spark.plans.caching import scoped_caches

    corpus, modes = MINERS[miner]
    df = corpus(spark)
    nodes = [r[0] for r in df.select(df.columns[0]).collect()]
    for build, how in modes:
        plans, outs = {}, {}
        with scoped_caches():
            for collapse in (False, True):
                pin_plan(collapse)
                out = build(df)
                plans[collapse] = re.sub(
                    r"#\d+", "", out._jdf.queryExecution().optimizedPlan()
                    .toString())
                outs[collapse] = sorted(map(tuple, out.collect()))
        assert plans[False] != plans[True]      # the pin reached the plan
        assert outs[False]                      # the flood is found
        if how == "rows":
            assert outs[False] == outs[True]
        else:
            edges = {c: [(r[0], r[1]) for r in outs[c]] for c in outs}
            assert _components(edges[False], nodes) == \
                _components(edges[True], nodes)
            # spanning edges instead of every clone pair
            assert len(edges[True]) < len(edges[False])
