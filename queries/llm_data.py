"""LLM-data pipeline: quality classifiers, DSIR selection, corpus
preparation, sequence packing, mixtures, sampling and splits.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_beam_spark.sources.tables import load_table
from apache_beam_spark.functions import text as T

from queries import oracle_of, query
from queries.shared import _corpus_prep_stages, norm_text, shingle_expr, toks


#: pinned scoring weights for `quality_lr_fixed` (FEATURE_NAMES order:
#: bias, log_len, vowel_ratio, space_ratio, digit_ratio, the_rate) —
#: the learned-once-offline artifact pattern (`embed_kmeans_fixed`)
_LR_WEIGHTS = [-6.0, 1.0, 2.0, 1.5, -4.0, 0.2]


# pinned linear classifier: identical feature expressions
# (regex char-class ratios, replace-count ' the ' rate, log
# length), dot product with the literal weights, sigmoid
@query(headline=True, oracle="""
            WITH f AS (
                SELECT doc_id,
                       ln(length(text) + 1.0) AS log_len,
                       length(regexp_replace(lower(text), '[^aeiou]',
                              '', 'g'))
                           / greatest(length(text), 1) AS vowel_ratio,
                       length(regexp_replace(lower(text), '[^ ]',
                              '', 'g'))
                           / greatest(length(text), 1) AS space_ratio,
                       length(regexp_replace(lower(text), '[^0-9]',
                              '', 'g'))
                           / greatest(length(text), 1) AS digit_ratio,
                       ((length(text)
                         - length(replace(lower(text), ' the ', '')))
                        / 5 * 100.0)
                           / greatest(length(text), 1) AS the_rate
                FROM documents),
            z AS (
                SELECT doc_id,
                       -6.0 + 1.0 * log_len + 2.0 * vowel_ratio
                       + 1.5 * space_ratio - 4.0 * digit_ratio
                       + 0.2 * the_rate AS z
                FROM f)
            SELECT doc_id,
                   ROUND(1.0 / (1.0 + exp(-z)), 6) AS score,
                   CAST(1.0 / (1.0 + exp(-z)) >= 0.5 AS INT) AS pred
            FROM z""")
def _quality_lr_fixed(spark, sf_dir):
    """Linear quality-classifier scoring with a PINNED model
    (operators/classifier.py::lr_score): the dot product + sigmoid is
    one codegen Column expression over deterministic text-statistic
    features, so the whole scoring pass — features, score, thresholded
    prediction — is value-oracled in DuckDB.  The trained path stays
    rows-only in `quality_lr_train`."""
    from apache_beam_spark.operators.classifier import lr_score

    d = load_table(spark, "documents", sf_dir)
    return lr_score(d, _LR_WEIGHTS).select(
        "doc_id", F.round("score", 6).alias("score"), "pred")


@query(scale=True)
def _quality_lr_train(spark, sf_dir):
    """Distributed logistic regression in its BOUNDED-PASS Newton/IRLS
    mode (operators/classifier.py::lr_train): per-partition gemm
    partials now carry gradient + d x d Hessian, the driver solves the
    6 x 6 system, and quadratic convergence lands in ~5-8 corpus
    passes (vs 30-40 for fixed-step GD — the mode a 100 TB corpus
    actually runs).  Trained against a planted noisy target (n_chars +
    md5-derived +-200 noise > 300 — learnable to ~0.8 accuracy, so the
    demo is non-vacuous).  Iterative + float-order dependent:
    rows-only; both solver loops are pinned against identical numpy
    references in tests/test_classifier.py."""
    from apache_beam_spark.operators.classifier import (
        FEATURE_NAMES, lr_train)

    d = load_table(spark, "documents", sf_dir)
    noise = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                1, 4), 16, 10).cast("long") % 401) - 200
    lab = d.withColumn("y", ((F.col("n_chars") + noise) > 300).cast("int"))
    w = lr_train(lab, "y", iters=10, solver="newton")
    return spark.createDataFrame(
        [(n, float(v)) for n, v in zip(FEATURE_NAMES, w)],
        "feature string, weight double")


# DSIR: same md5 buckets, Laplace smoothing and int64 weight
# quantization as operators/dsir.py — ln() is the only float
# (1-ulp engine differences vanish under round(x * 2^16))
@query(headline=True, oracle=f"""
            WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
            feats AS (
              SELECT doc_id, unnest(list_concat(tk,
                       list_transform(range(1, len(tk)),
                                      i -> tk[i] || ' ' || tk[i+1])))
                     AS f
              FROM t),
            fb AS (SELECT doc_id,
                          CAST(CAST(('0x' || substr(md5(f), 1, 6))
                               AS BIGINT) % 4096 AS INT) AS bucket
                   FROM feats),
            p AS (SELECT bucket, count(*) AS pc FROM fb
                  WHERE doc_id % 7 = 0 GROUP BY bucket),
            q AS (SELECT bucket, count(*) AS qc FROM fb GROUP BY bucket),
            grid AS (SELECT CAST(unnest(range(0, 4096)) AS INT) AS bucket),
            j AS (SELECT bucket,
                         coalesce(pc, 0) + 1 AS pc,
                         coalesce(qc, 0) + 1 AS qc
                  FROM grid LEFT JOIN p USING (bucket)
                  LEFT JOIN q USING (bucket)),
            tot AS (SELECT CAST(sum(pc) AS DOUBLE) AS P,
                           CAST(sum(qc) AS DOUBLE) AS Q FROM j),
            w AS (SELECT bucket,
                         CAST(round((ln(pc / P) - ln(qc / Q)) * 65536)
                              AS BIGINT) AS w
                  FROM j, tot)
            SELECT d.doc_id,
                   CAST(coalesce(sum(w.w), 0) AS BIGINT) AS dsir_score
            FROM documents d LEFT JOIN fb ON d.doc_id = fb.doc_id
            LEFT JOIN w USING (bucket)
            GROUP BY d.doc_id""")
def _dsir_scores(spark, sf_dir):
    """DSIR importance scores (operators/dsir.py — Xie et al. NeurIPS
    2023): every document scored by the quantized log-likelihood ratio
    of its hashed unigram+bigram features under bag-of-ngrams models
    of a TARGET subcorpus (doc_id % 7 == 0 — a deterministic 'domain')
    vs the raw corpus.  md5 feature hashing + int64-quantized weights
    make the whole pipeline reproducible in DuckDB; value-oracled."""
    from apache_beam_spark.operators.dsir import (dsir_featurize,
                                                  dsir_scores, dsir_weights)
    from apache_beam_spark.plans.caching import cache_scoped

    docs = load_table(spark, "documents", sf_dir)
    target = docs.where(F.col("doc_id") % 7 == 0)
    # featurize ONCE (optimization r13): the md5 bucket transform is
    # the expensive stage; the q-counts, the target p-counts (a filter
    # of the same frame — the target IS a slice of the corpus) and the
    # per-doc scoring all read the one cached (doc_id, bucket) frame
    feats = cache_scoped(dsir_featurize(docs))
    w = dsir_weights(docs, target, raw_feats=feats,
                     target_feats=feats.where(F.col("doc_id") % 7 == 0))
    return dsir_scores(docs, w, feats=feats)


# DSIR selection = the scores CTE + a deterministic top-10% rank
@query(scale=True, oracle=(
    "WITH scores AS (" + oracle_of("dsir_scores") + ")\n"
    "SELECT doc_id, dsir_score FROM scores\n"
    "QUALIFY row_number() OVER (ORDER BY dsir_score DESC, doc_id)\n"
    "  <= greatest(1, CAST(floor("
    "(SELECT count(*) FROM documents) * 0.1) AS BIGINT))"))
def _dsir_select_top(spark, sf_dir):
    """The DSIR SELECTION step: keep the top 10% of documents by
    importance score with a deterministic (score desc, doc_id)
    tie-break — the actual data-selection output a pretraining
    pipeline materializes.  Value-oracled (same weights CTE + QUALIFY
    row_number)."""
    from apache_beam_spark.operators.dsir import (dsir_featurize,
                                                  dsir_select, dsir_weights)
    from apache_beam_spark.plans.caching import cache_scoped

    docs = load_table(spark, "documents", sf_dir)
    target = docs.where(F.col("doc_id") % 7 == 0)
    # one shared featurization (see _dsir_scores) — identical plan, so
    # the scoped cache is shared with the dsir_scores entry too
    feats = cache_scoped(dsir_featurize(docs))
    w = dsir_weights(docs, target, raw_feats=feats,
                     target_feats=feats.where(F.col("doc_id") % 7 == 0))
    return dsir_select(docs, w, frac=0.1, feats=feats)


# same greedy first-fit recurrence as operators/packing.py,
# expressed as a per-shard recursive walk in row order
@query(headline=True, oracle="""
            WITH RECURSIVE d AS (
                SELECT doc_id, n_chars,
                       CAST(doc_id % 8 AS INT) AS shard,
                       ROW_NUMBER() OVER (PARTITION BY doc_id % 8
                                          ORDER BY doc_id) AS rn
                FROM documents),
            pack(shard, rn, doc_id, n_chars, bin, acc) AS (
                SELECT shard, rn, doc_id, n_chars, 0, n_chars
                FROM d WHERE rn = 1
                UNION ALL
                SELECT d.shard, d.rn, d.doc_id, d.n_chars,
                       CASE WHEN p.acc + d.n_chars > 2000
                            THEN p.bin + 1 ELSE p.bin END,
                       CASE WHEN p.acc + d.n_chars > 2000
                            THEN d.n_chars ELSE p.acc + d.n_chars END
                FROM pack p JOIN d ON d.shard = p.shard AND d.rn = p.rn + 1)
            SELECT doc_id, shard, CAST(bin AS INT) AS bin,
                   CAST(n_chars AS BIGINT) AS n_chars
            FROM pack""")
def _pack_sequences(spark, sf_dir):
    """Sequence packing (operators/packing.py): greedy first-fit of
    documents into 2000-char budget bins within 8 deterministic shards
    (doc_id % 8, ascending id) — one shuffle, then linear local work.
    Oracle: the same first-fit recurrence as a recursive CTE."""
    from apache_beam_spark.operators.packing import pack_greedy

    docs = load_table(spark, "documents", sf_dir)
    return pack_greedy(docs, capacity=2000, size_col="n_chars",
                       id_col="doc_id", n_shards=8)


# the full corpus-prep composition: quality gate -> lang
# allowlist -> exact dedup -> near-dup representatives
# (transitive closure) -> greedy packing, chained from the
# same CTE fragments the individual oracles use
@query(headline=True, oracle=f"""
            WITH RECURSIVE qual AS MATERIALIZED (
                SELECT doc_id, text, lang, n_chars, ROUND((
                    (CASE WHEN LENGTH(text) >= 50 THEN 1.0 ELSE LENGTH(text) / 50.0 END)
                    + (1.0 - LEAST(2 * (LENGTH(regexp_replace(text,
                            '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) * 1.0
                            / NULLIF(LENGTH(text), 0)), 1.0))
                    + LEAST(5 * (len(list_filter({toks}, t -> t IN ('the','of','and','a','to',
                            'in','is','it','that','was','for','on','as','with','at','by','an',
                            'be','this','are','or','not'))) * 1.0 / NULLIF(len({toks}), 0)), 1.0)
                ) / 3.0, 6) AS q
                FROM documents WHERE doc_id % 2 = 0),
            kept AS MATERIALIZED (
                SELECT doc_id, text, n_chars FROM qual
                WHERE q > 0.75 AND lang IN ('en','de','fr','es')),
            uniq AS MATERIALIZED (
                SELECT doc_id, text, n_chars FROM kept
                WHERE doc_id IN (
                    SELECT MIN(doc_id) FROM kept GROUP BY md5({norm_text}))),
            sh AS MATERIALIZED (
                SELECT doc_id AS id, list_distinct({shingle_expr}) AS sh
                FROM (SELECT doc_id, {toks} AS toks FROM uniq) t),
            inv0 AS (SELECT id, unnest(sh) AS g FROM sh),
            keepg AS (SELECT g FROM inv0 GROUP BY g HAVING COUNT(*) <= 100),
            inv AS MATERIALIZED (
                SELECT inv0.id, inv0.g FROM inv0 JOIN keepg USING (g)),
            sizes AS MATERIALIZED (
                SELECT id, COUNT(*) AS n FROM inv GROUP BY id),
            inter AS MATERIALIZED (
                SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS inter
                FROM inv x JOIN inv y ON x.g = y.g AND x.id < y.id
                GROUP BY x.id, y.id),
            pairs AS MATERIALIZED (
                SELECT id_a, id_b FROM inter
                JOIN sizes a ON a.id = id_a
                JOIN sizes b ON b.id = id_b
                WHERE inter * 1.0 / (a.n + b.n - inter) >= 0.5),
            edges AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM pairs
                      UNION SELECT id_b, id_a FROM pairs),
            reach(node, comp) AS (
                SELECT doc_id, doc_id FROM uniq
                UNION
                SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.node),
            reps AS (
                SELECT node AS doc_id FROM reach
                GROUP BY node HAVING node = MIN(comp)),
            final AS (
                SELECT u.doc_id, u.n_chars FROM uniq u
                JOIN reps USING (doc_id)),
            d2 AS (
                SELECT doc_id, n_chars, CAST(doc_id % 4 AS INT) AS shard,
                       ROW_NUMBER() OVER (PARTITION BY doc_id % 4
                                          ORDER BY doc_id) AS rn
                FROM final),
            pack(shard, rn, doc_id, n_chars, bin, acc) AS (
                SELECT shard, rn, doc_id, n_chars, 0, n_chars
                FROM d2 WHERE rn = 1
                UNION ALL
                SELECT d2.shard, d2.rn, d2.doc_id, d2.n_chars,
                       CASE WHEN p.acc + d2.n_chars > 4000
                            THEN p.bin + 1 ELSE p.bin END,
                       CASE WHEN p.acc + d2.n_chars > 4000
                            THEN d2.n_chars ELSE p.acc + d2.n_chars END
                FROM pack p JOIN d2 ON d2.shard = p.shard AND d2.rn = p.rn + 1)
            SELECT doc_id, shard, CAST(bin AS INT) AS bin,
                   CAST(n_chars AS BIGINT) AS n_chars
            FROM pack""")
def _llm_corpus_prep(spark, sf_dir):
    """End-to-end training-corpus preparation — the 100 TB use case as
    ONE declarative pipeline: quality gate (gopher-style composite
    score) -> language allowlist -> exact dedup (min-id witness per
    normalized text) -> near-dup cluster representatives (n-gram
    Jaccard >= 0.5 edges + connected components, keep doc == component)
    -> greedy sequence packing of the survivors into 4000-char bins.

    Every stage is an already-oracled operator; the oracle chains the
    same CTEs, so the COMPOSITION is value-checked, not just the
    parts.  Scale shape: filters push to the scan; dedup shuffles
    (fingerprint, id) pairs only; CC is edge-sized; packing is one
    shard shuffle."""
    return _corpus_prep_stages(spark, sf_dir)["packed"]


def _corpus_prep_stats_oracle_sql() -> str:
    """Per-stage attrition: reuse the llm_corpus_prep CTE chain, swap
    the final projection for scalar-subquery stage counts."""
    chain = oracle_of("llm_corpus_prep")
    return chain.replace(
        chain[chain.rindex("SELECT doc_id, shard"):],
        """SELECT (SELECT COUNT(*) FROM documents
                    WHERE doc_id % 2 = 0) AS n_docs,
                   (SELECT COUNT(*) FROM kept) AS n_kept,
                   (SELECT COUNT(*) FROM uniq) AS n_uniq,
                   (SELECT COUNT(*) FROM reps) AS n_reps,
                   (SELECT COUNT(DISTINCT (shard, bin)) FROM pack) AS n_bins""")


@query(oracle=_corpus_prep_stats_oracle_sql)
def _corpus_prep_stats(spark, sf_dir):
    """Pipeline observability: per-stage attrition of the corpus-prep
    chain as ONE row (input docs -> quality+lang survivors -> exact-
    dedup survivors -> near-dup representatives -> packed bins) — the
    Metrics story for the flagship, computed in-plan via broadcast
    1-row aggregates, no separate count jobs."""
    s = _corpus_prep_stages(spark, sf_dir)
    a = s["docs"].agg(F.count(F.lit(1)).alias("n_docs"))
    b = s["kept"].agg(F.count(F.lit(1)).alias("n_kept"))
    c = s["uniq"].agg(F.count(F.lit(1)).alias("n_uniq"))
    r = s["reps"].agg(F.count(F.lit(1)).alias("n_reps"))
    p = s["packed"].agg(F.countDistinct("shard", "bin").alias("n_bins"))
    return (a.crossJoin(F.broadcast(b)).crossJoin(F.broadcast(c))
            .crossJoin(F.broadcast(r)).crossJoin(F.broadcast(p)))


@query(oracle=f"""
            WITH q AS (
                SELECT doc_id, source, n_chars,
                       ROUND((
                        (CASE WHEN LENGTH(text) >= 50 THEN 1.0 ELSE LENGTH(text) / 50.0 END)
                        + (1.0 - LEAST(2 * (LENGTH(regexp_replace(text,
                                '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) * 1.0
                                / NULLIF(LENGTH(text), 0)), 1.0))
                        + LEAST(5 * (len(list_filter({toks}, t -> t IN ('the','of','and','a','to',
                                'in','is','it','that','was','for','on','as','with','at','by','an',
                                'be','this','are','or','not'))) * 1.0 / NULLIF(len({toks}), 0)), 1.0)
                       ) / 3.0, 6) AS q,
                       md5({norm_text}) AS fp
                FROM documents),
            w AS (SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS witness
                  FROM q)
            SELECT source, COUNT(*) AS n_docs,
                   ROUND(CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE)
                         / COUNT(*), 6) AS avg_quality,
                   ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6)
                       AS avg_chars,
                   COUNT(CASE WHEN doc_id <> witness THEN 1 END) AS n_dup_docs
            FROM w GROUP BY source""")
def _source_quality_report(spark, sf_dir):
    """Source-level corpus diagnostics: per source, volume, mean
    quality, mean length, and exact-duplicate count (docs that are not
    their fingerprint group's min-id witness) — the keep/drop-a-crawl
    report of a corpus curation pipeline.  One scan + one window over
    the fingerprint + one agg."""
    from pyspark.sql.window import Window as W

    d = load_table(spark, "documents", sf_dir)
    fp = F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))),
                                r"\s+", " ").cast("binary"))
    w = d.select("doc_id", "source", "n_chars",
                 T.quality_score(F.col("text")).alias("q"),
                 fp.alias("fp")) \
        .withColumn("witness", F.min("doc_id").over(W.partitionBy("fp")))
    # exact-decimal means (the repo-wide AVG convention): a plain
    # double avg over ~5k rounded scores flips the 6th decimal with
    # partition order — observed flaky at sf0.1
    n = F.count(F.lit(1))
    return (w.groupBy("source")
            .agg(n.alias("n_docs"),
                 F.round(F.sum(F.col("q").cast("decimal(18,6)"))
                         .cast("double") / n, 6).alias("avg_quality"),
                 F.round(F.sum("n_chars").cast("double") / n, 6)
                 .alias("avg_chars"),
                 F.count(F.when(F.col("doc_id") != F.col("witness"), 1))
                 .alias("n_dup_docs")))


@query(oracle="""
            SELECT doc_id, lang FROM documents
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 3) <
                  CASE lang WHEN 'en' THEN '800' WHEN 'de' THEN '400'
                            WHEN 'fr' THEN '200' WHEN 'es' THEN '600'
                            ELSE '100' END""")
def _sample_stratified(spark, sf_dir):
    """Stratified sampling with deterministic per-stratum rates — the
    oracle-checkable twin of DataFrame.sampleBy (reference: Sample.java
    per-key variants).  A 3-hex-digit md5 bucket of the id is compared
    against a per-language threshold (hex-string comparison is
    monotonic), so both engines select the identical subset.  One scan
    + pushed filter, no shuffle."""
    d = load_table(spark, "documents", sf_dir)
    thr = (F.when(F.col("lang") == "en", "800")
           .when(F.col("lang") == "de", "400")
           .when(F.col("lang") == "fr", "200")
           .when(F.col("lang") == "es", "600")
           .otherwise("100"))
    h = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 3)
    return d.filter(h < thr).select("doc_id", "lang")


# single-window twin of the hierarchical two-phase prefix sum:
# (bucket, h, id) order == (h, id) order because the bucket is a
# prefix of h, so the flat cumulative sum is the same total
@query(headline=True, oracle=f"""
            WITH t AS (
                SELECT doc_id, source,
                       CAST(len({toks}) AS BIGINT) AS n_tokens,
                       md5(CAST(doc_id AS VARCHAR)) AS h
                FROM documents),
            c AS (
                SELECT doc_id, source, n_tokens,
                       CAST(SUM(n_tokens) OVER (
                           PARTITION BY source ORDER BY h, doc_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
                FROM t)
            SELECT doc_id, source, n_tokens, cum_tokens FROM c
            WHERE cum_tokens <= CASE source WHEN 'src0' THEN 1000
                                            WHEN 'src1' THEN 200
                                            WHEN 'src5' THEN 0
                                            ELSE 600 END""")
def _mixture_cap_tokens(spark, sf_dir):
    """Data-mixture construction (operators/mixing.py): per-source token
    budgets enforced by a hierarchical (bucketed) deterministic prefix
    sum — no single-reducer running total, no RNG."""
    from apache_beam_spark.operators.mixing import cap_tokens_per_source

    return cap_tokens_per_source(
        load_table(spark, "documents", sf_dir),
        budgets={"src0": 1000, "src1": 200, "src5": 0},
        default_budget=600)


@query(oracle="""
            SELECT doc_id, lang,
                   CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 3)
                             < 'ccd' THEN 'train'
                        WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 3)
                             < 'e66' THEN 'val'
                        ELSE 'test' END AS split
            FROM documents""")
def _train_val_test_split(spark, sf_dir):
    """Deterministic stratified 3-way split (80/10/10 per language):
    the md5 hex of the id against fixed thresholds — reproducible
    across runs/engines, no RNG state, stratification is free because
    the hash is independent of the stratum.  One scan, zero shuffles."""
    d = load_table(spark, "documents", sf_dir)
    h = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")),
                    1, 3)
    split = (F.when(h < "ccd", "train")      # 0xccc/0xfff ~= 0.8
             .when(h < "e66", "val")         # next ~0.1
             .otherwise("test"))
    return d.select("doc_id", "lang", split.alias("split"))


@query(headline=True, oracle=f"""
            WITH s AS (
                SELECT doc_id, ROUND((
                    (CASE WHEN LENGTH(text) >= 50 THEN 1.0
                          ELSE LENGTH(text) / 50.0 END)
                    + (1.0 - LEAST(2 * (LENGTH(regexp_replace(text,
                            '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) * 1.0
                            / NULLIF(LENGTH(text), 0)), 1.0))
                    + LEAST(5 * (len(list_filter({toks},
                            t -> t IN ('the','of','and','a','to',
                            'in','is','it','that','was','for','on','as',
                            'with','at','by','an','be','this','are','or',
                            'not'))) * 1.0 / NULLIF(len({toks}), 0)), 1.0)
                ) / 3.0, 6) AS q
                FROM documents)
            SELECT doc_id, q AS score,
                   ROUND((ROW_NUMBER() OVER (ORDER BY q, doc_id) - 1.0)
                         / (COUNT(*) OVER () - 1), 6) AS pct
            FROM s""")
def _quality_percentile(spark, sf_dir):
    """Global CDF normalization of the quality score
    (operators/ranks.py): every doc's corpus-wide percent rank WITHOUT
    a global sort — order-aligned score buckets rank in parallel, the
    per-bucket offsets come from a window over the tiny bucket-count
    aggregate.  The oracle is the naive single-sort formula, proving
    the hierarchical plan computes the identical ranks."""
    from apache_beam_spark.operators.ranks import global_percent_rank
    from apache_beam_spark.plans.caching import cache_scoped
    from apache_beam_spark.plans.partitioning import parallelize_narrow

    d = load_table(spark, "documents", sf_dir)
    # the stopword/punctuation tokenization inside quality_score is the
    # CPU stage and feeds BOTH rank branches (bucket counts + the
    # ranked join) — fan the single-split scan out first (no-op at
    # scale) and cache the (id, q) frame (optimization r13): uncached,
    # each branch re-tokenized its own subtree, and the ranked-join
    # branch's inferred isnotnull(q) constraint was pushed below the
    # fan-out exchange, re-running the WHOLE scoring expression
    # serially inside the single-task scan stage (the guide §4.4
    # duplicated-evaluation pathology via InferFiltersFromConstraints)
    scored = cache_scoped(
        parallelize_narrow(d.select("doc_id", "text"), weight=8)
        .select("doc_id", T.quality_score(F.col("text")).alias("q")))
    return global_percent_rank(scored, F.col("q"), "doc_id")


@query(headline=True, oracle="""
            WITH k AS (
                SELECT doc_id, md5('0:' || CAST(doc_id AS VARCHAR)) AS h
                FROM documents),
            s AS (
                SELECT doc_id, h,
                       CAST(16*(instr('0123456789abcdef', substr(h,1,1))-1)
                            + (instr('0123456789abcdef', substr(h,2,1))-1)
                            AS INT) AS shard
                FROM k)
            SELECT doc_id, shard,
                   CAST(ROW_NUMBER() OVER (PARTITION BY shard
                        ORDER BY h, doc_id) AS INT) AS pos
            FROM s""")
def _epoch_shuffle(spark, sf_dir):
    """Deterministic epoch shuffle (operators/shuffle.py): seeded
    (shard, pos) dataloader addressing; shard = leading hex digits of
    the key, so shards partition the global permutation order."""
    from apache_beam_spark.operators.shuffle import epoch_shuffle

    return epoch_shuffle(load_table(spark, "documents", sf_dir), seed=0)


@query(headline=True, oracle=f"""
            WITH t AS (
                SELECT doc_id, source,
                       CAST(len({toks}) AS BIGINT) AS n_tokens,
                       md5(CAST(doc_id AS VARCHAR)) AS h
                FROM documents),
            src AS (
                SELECT source, CAST(SUM(n_tokens) AS DOUBLE) AS tt
                FROM t GROUP BY source),
            b AS (
                SELECT source,
                       CAST(trunc(30000 * sqrt(tt)
                            / (SELECT SUM(sqrt(tt) ORDER BY source)
                               FROM src)) AS BIGINT) AS budget
                FROM src),
            c AS (
                SELECT doc_id, source, n_tokens,
                       CAST(SUM(n_tokens) OVER (
                           PARTITION BY source ORDER BY h, doc_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
                FROM t)
            SELECT c.doc_id, c.source, c.n_tokens, c.cum_tokens
            FROM c JOIN b USING (source)
            WHERE cum_tokens <= budget""")
def _mixture_temperature(spark, sf_dir):
    """Temperature-scaled mixture (operators/mixing.py
    temperature_budgets, T=2 — the UniMax recipe): per-source budgets
    proportional to sqrt(natural token count), then the same
    hierarchical prefix-sum cap as mixture_cap_tokens.  The budget
    computation collects only #sources rows."""
    from apache_beam_spark.operators.mixing import (
        cap_tokens_per_source, temperature_budgets)

    docs = load_table(spark, "documents", sf_dir)
    budgets = temperature_budgets(docs, total_budget=30000, temperature=2.0)
    return cap_tokens_per_source(docs, budgets, default_budget=0)


@query(oracle=f"""
            WITH tk AS (
                SELECT source, unnest({toks}) AS t FROM documents),
            corpus AS (SELECT t, COUNT(*) AS ct FROM tk GROUP BY t),
            top AS (SELECT t, ct FROM corpus ORDER BY ct DESC, t LIMIT 50),
            tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM tk),
            st AS (SELECT source, COUNT(*) AS st FROM tk GROUP BY source),
            obs AS (
                SELECT tk.source, tk.t, COUNT(*) AS o
                FROM tk JOIN top ON tk.t = top.t
                GROUP BY tk.source, tk.t),
            cells AS (
                SELECT obs.source, obs.t,
                       (obs.o - (st.st * top.ct / (SELECT n FROM tot)))
                       * (obs.o - (st.st * top.ct / (SELECT n FROM tot)))
                       / (st.st * top.ct / (SELECT n FROM tot)) AS cell
                FROM obs
                JOIN top ON obs.t = top.t
                JOIN st ON obs.source = st.source)
            SELECT source,
                   ROUND(list_reduce(list(cell ORDER BY t),
                                     (a, b) -> a + b), 6) AS chi2
            FROM cells GROUP BY source""")
def _source_drift_chisq(spark, sf_dir):
    """Distribution-drift monitor: chi-square of each source's token
    distribution against the corpus-wide distribution, over the 50
    most common corpus tokens (the bounded-vocabulary discipline —
    kilobyte frames broadcast everywhere, one token-explode shuffle).
    High chi2 = the source's language differs from the mixture."""
    d = load_table(spark, "documents", sf_dir)
    toks_df = d.select("source",
                       F.explode(T.word_tokens(F.col("text"))).alias("t"))
    corpus = toks_df.groupBy("t").agg(F.count(F.lit(1)).alias("ct"))
    top = corpus.orderBy(F.col("ct").desc(), "t").limit(50)
    tot = toks_df.count()
    obs = (toks_df.join(F.broadcast(top.select("t")), on="t")
           .groupBy("source", "t").agg(F.count(F.lit(1)).alias("o")))
    src_tot = toks_df.groupBy("source").agg(F.count(F.lit(1)).alias("st"))
    cells = (obs.join(F.broadcast(top), on="t")
             .join(F.broadcast(src_tot), on="source")
             .withColumn("e", F.col("st") * F.col("ct") / F.lit(float(tot)))
             .withColumn("cell",
                         (F.col("o") - F.col("e")) * (F.col("o") - F.col("e"))
                         / F.col("e")))
    # fold cells in sorted token order per source: deterministic
    # cross-engine double summation (same discipline as char_entropy)
    return (cells.groupBy("source")
            .agg(F.aggregate(
                F.array_sort(F.collect_list(F.struct("t", "cell"))),
                F.lit(0.0),
                lambda acc, x: acc + x.getField("cell")).alias("chi2"))
            .select("source", F.round("chi2", 6).alias("chi2")))


@query(oracle="""
            SELECT doc_id, n_chars AS weight,
                   ROUND(ln((CAST(('0x' || substring(md5('ws1:' ||
                             CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                             + 1) / 4294967296.0)
                         / GREATEST(CAST(n_chars AS DOUBLE), 1.0), 6)
                       AS sample_key
            FROM documents
            ORDER BY ln((CAST(('0x' || substring(md5('ws1:' ||
                        CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                        + 1) / 4294967296.0)
                     / GREATEST(CAST(n_chars AS DOUBLE), 1.0) DESC,
                     doc_id
            LIMIT 100""")
def _weighted_sample_docs(spark, sf_dir):
    """Weight-proportional sampling without replacement (operators/
    shuffle.py weighted_sample, Efraimidis-Spirakis): 100 docs sampled
    proportional to n_chars via seeded-md5 uniforms — deterministic,
    top-k plan shape (no global sort), oracle replays the identical
    arithmetic."""
    from apache_beam_spark.operators.shuffle import weighted_sample

    return weighted_sample(load_table(spark, "documents", sf_dir),
                           weight_col="n_chars", n=100)


@query(oracle=f"""
            WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
            s AS (
                SELECT doc_id, tk,
                       GREATEST(CAST(ceil((len(tk) - 10) / 20.0) AS BIGINT),
                                1) AS nc
                FROM t),
            e AS (
                SELECT doc_id, tk, unnest(range(0, nc)) AS ci FROM s)
            SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
                   array_to_string(tk[ci*20+1 : ci*20+30], ' ') AS chunk_text,
                   CAST(len(tk[ci*20+1 : ci*20+30]) AS INT) AS n_words
            FROM e
            WHERE len(tk[ci*20+1 : ci*20+30]) >= 1""")
def _rag_chunks(spark, sf_dir):
    """Overlapping retrieval chunks (dedup/chunks.py sliding_chunks):
    30-word windows advancing by 20 (10 words shared context) — the
    RAG-ingest splitter as pure Column HOFs fused into the scan."""
    from apache_beam_spark.dedup.chunks import sliding_chunks

    return sliding_chunks(load_table(spark, "documents", sf_dir),
                          chunk_words=30, overlap_words=10)
