"""Helpers shared by the query families: the bucket telemetry of the
banded miners, the exact-DECIMAL sum/avg helpers and their SQL twins,
the corpus-prep stages, the planted-embeddings corpus, and the SQL
fragments the oracles share.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from apache_beam_spark.sources.tables import load_table
from apache_beam_spark.functions import text as T
from apache_beam_spark.dedup.ngram import ngram_jaccard_pairs

#: per-query LSH bucket telemetry (VERDICT r4 item 4): banded miners
#: attach a fresh ``Observation`` each run; after the consuming action
#: finishes, ``LAST_OBSERVATIONS[name].get`` returns ``n_buckets`` /
#: ``overcap_buckets`` / ``overcap_candidates`` / ``max_bucket_width``
#: — the split-instead-of-drop counters a 100 TB operator watches
#: (docs/RUNBOOK.md "Reading the LSH bucket telemetry").
LAST_OBSERVATIONS: dict = {}


def _bucket_observation(name: str):
    """Fresh per-run Observation (an instance attaches exactly once),
    registered under the query name for post-action readout."""
    from pyspark.sql import Observation

    obs = Observation(f"{name}_buckets")
    LAST_OBSERVATIONS[name] = obs
    return obs


def _dsum(col, alias: str, scale: int = 2) -> Column:
    """Exact order-independent double sum via decimal."""
    c = F.expr(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double").alias(alias)


def _davg(col, alias: str) -> Column:
    """avg = exact decimal sum / count, rounded — portable across engines."""
    c = F.expr(col) if isinstance(col, str) else col
    return F.round(
        F.sum(c.cast("decimal(18,4)")).cast("double") / F.count(c), 6
    ).alias(alias)


#: net revenue computed in exact decimal arithmetic — casting the *inputs*
#: (clean 2-decimal values) to decimal and multiplying exactly avoids the
#: engine-dependent double->decimal rounding of an arbitrary product.
def _disc_price() -> Column:
    return (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
    )
_SQL_DISC_PRICE = ("CAST(l_extendedprice AS DECIMAL(18,2))"
                   " * (1 - CAST(l_discount AS DECIMAL(18,2)))")


# SQL twins of the helpers above
def _sql_dsum(expr: str, alias: str, scale: int = 2) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE) AS {alias}"


def _sql_davg(expr: str, alias: str) -> str:
    return (f"ROUND(CAST(SUM(CAST({expr} AS DECIMAL(18,4))) AS DOUBLE)"
            f" / COUNT({expr}), 6) AS {alias}")


def _corpus_prep_stages(spark, sf_dir):
    """Shared stage graph for the corpus-prep pipeline (consumed by
    `_llm_corpus_prep` and `_corpus_prep_stats`).  The near-dup edges
    are driver-sized at every fixture scale, so the CC stage is one
    bounded edge collect plus a driver union-find (dedup/components.py
    ``_DRIVER_MAX_EDGES``), not per-round Spark jobs."""
    from apache_beam_spark.dedup.components import dup_clusters
    from apache_beam_spark.dedup.exact import exact_dedup
    from apache_beam_spark.operators.packing import pack_greedy
    from apache_beam_spark.plans.caching import cache_scoped

    # fixture trim (VERDICT r10 item 3): EVEN doc ids only — every
    # stage (quality gate, lang filter, exact dedup, jaccard pairs,
    # CC, packing) still runs over a genuine corpus while the bench
    # wall and the chained-CTE oracle halve; the oracle filters its
    # first CTE identically.
    d = load_table(spark, "documents", sf_dir) \
        .filter(F.col("doc_id") % 2 == 0)
    kept = (d.filter(T.quality_score(F.col("text")) > F.lit(0.75))
            .filter(F.col("lang").isin("en", "de", "fr", "es")))
    # the survivor set is consumed by four downstream stages (pair
    # generation, CC node universe, representative semi-join, packing)
    # and the CC edge probe runs an action during construction —
    # materialize the quality+dedup subtree exactly once
    uniq = cache_scoped(exact_dedup(kept))
    # expand="star": the CC consumer needs connectivity, not the full
    # pair list — clone groups emit linear spanning edges, identical
    # components (dedup/ngram.py module docstring)
    pairs = ngram_jaccard_pairs(uniq, shingle_k=3, threshold=0.5,
                                max_df=100,
                                expand="star").select("id_a", "id_b")
    comp = dup_clusters(pairs, uniq.select("doc_id"))
    reps = comp.filter(F.col("doc_id") == F.col("component")).select("doc_id")
    final = uniq.join(reps, on="doc_id", how="left_semi")
    packed = pack_greedy(final, capacity=4000, size_col="n_chars",
                         id_col="doc_id", n_shards=4)
    return {"docs": d, "kept": kept, "uniq": uniq, "reps": reps,
            "packed": packed}


def _planted_embeddings(spark, sf_dir):
    """embeddings PLUS planted near-copies: the synthetic vectors are
    near-orthogonal (max pairwise cos ~0.51), so at a realistic 0.95
    threshold the raw table has no near-dup pairs and any dedup check
    would be vacuous.  Every 10th vector gets a planted neighbor
    v + 0.2*v_next (cos ~0.98) under id+1000000."""
    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    nxt = emb.select((F.col("vec_id") - 1).alias("vec_id"),
                     F.col("embedding").alias("__e2__"))
    planted = (
        emb.join(nxt, on="vec_id")
        .filter(F.col("vec_id") % 10 == 0)
        .select((F.col("vec_id") + 1000000).alias("vec_id"),
                F.zip_with("embedding", "__e2__",
                           lambda a, b: a + F.lit(0.2) * b).alias("embedding")))
    # fixture trim (VERDICT r10 item 3, the doc_id % 11 precedent):
    # keep the EVEN ids only — planted ids are vec_id + 1000000 with
    # vec_id % 10 == 0, so every planted near-dup pair survives and
    # the dedup branches stay non-vacuous while the bench corpus (and
    # the O(n^2) DuckDB oracle of embed_near_dup) halves.  Applied
    # AFTER planting so the pair construction itself is unchanged.
    # The (id, vec) corpus feeds several plan branches; cache the
    # narrow projection so the planted join isn't recomputed per branch
    from apache_beam_spark.plans.caching import cache_scoped

    return cache_scoped(emb.unionByName(planted)
                        .filter(F.col("vec_id") % 2 == 0))


# apostrophe doubled for embedding in SQL single-quoted literals
WORD_PAT = "[\\p{L}\\p{N}_'']+"
_MARKERS = {
    "en": "['the','and','of','to','is']",
    "de": "['der','und','die','das','ist']",
    "fr": "['le','la','et','les','est']",
    "es": "['el','de','que','los','es']",
}


#: SQL fragments the oracles share
toks = f"regexp_extract_all(lower(text), '{WORD_PAT}')"
lang_scores = ", ".join(
    f"len(list_filter({m}, m -> list_contains({toks}, m))) AS s_{lang}"
    for lang, m in _MARKERS.items()
)
shingle_expr = (
    "CASE WHEN len(toks) >= 3 THEN "
    "list_transform(range(0, len(toks)-2), i -> array_to_string(toks[i+1:i+3], ' ')) "
    "ELSE [array_to_string(toks, ' ')] END"
)
norm_text = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
