"""Deduplication: exact, MinHash, SimHash, n-gram overlap,
connected-component clusters, incremental ingest dedup and
fuzzy entity matching.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_beam_spark.sources.tables import load_table
from apache_beam_spark.functions import text as T
from apache_beam_spark.dedup.exact import exact_dedup
from apache_beam_spark.dedup.minhash import minhash_lsh_dedup
from apache_beam_spark.dedup.simhash import simhash_dedup
from apache_beam_spark.dedup.ngram import ngram_jaccard_pairs

from queries import query
from queries.shared import _bucket_observation, norm_text, shingle_expr, toks


@query(headline=True, oracle=f"""
            WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
            g AS (SELECT doc_id, i AS p,
                         md5(array_to_string(toks[i + 1:i + 8], ' ')) AS gh
                  FROM t, UNNEST(range(0, len(toks) - 8 + 1)) AS r(i)),
            d AS (SELECT gh, min(doc_id * 10000000 + p) AS keeper
                  FROM g GROUP BY gh HAVING count(*) > 1),
            f AS (SELECT DISTINCT g.doc_id, g.p FROM g JOIN d USING (gh)
                  WHERE g.doc_id * 10000000 + g.p <> d.keeper),
            pos AS (SELECT doc_id, i AS p, toks[i + 1] AS word
                    FROM t, UNNEST(range(0, len(toks))) AS r(i)),
            m AS (SELECT pos.doc_id, pos.p, pos.word,
                         max(CASE WHEN f.p IS NOT NULL THEN 1 ELSE 0 END)
                           OVER (PARTITION BY pos.doc_id ORDER BY pos.p
                                 ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
                           AS rm
                  FROM pos LEFT JOIN f
                    ON pos.doc_id = f.doc_id AND pos.p = f.p),
            a AS (SELECT doc_id,
                         coalesce(string_agg(word, ' ' ORDER BY p)
                                  FILTER (WHERE rm = 0), '') AS clean_text,
                         count(*) AS n_tokens, sum(rm) AS n_removed
                  FROM m GROUP BY doc_id)
            SELECT doc.doc_id,
                   coalesce(a.clean_text, '') AS clean_text,
                   CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
                   CAST(coalesce(a.n_removed, 0) AS BIGINT) AS n_removed
            FROM documents doc LEFT JOIN a USING (doc_id)""")
def _dup_span_scrub(spark, sf_dir):
    """Exact duplicate-substring scrubbing (dedup/spans.py): every
    non-first occurrence of any >= 8-token repeated span is removed
    from its document — the Lee et al. (ACL 2022) deduplicating-
    training-data operation at word granularity, md5-keyed so DuckDB
    reproduces the exact keeper choice and surviving text."""
    from apache_beam_spark.dedup.spans import dup_span_scrub

    return dup_span_scrub(load_table(spark, "documents", sf_dir),
                          min_len=8)


@query(headline=True, oracle=f"""
            SELECT doc_id FROM documents
            WHERE doc_id IN (
                SELECT MIN(doc_id) FROM documents GROUP BY md5({norm_text}))""")
def _dedup_exact(spark, sf_dir):
    """Exact dedup: min-id witness per normalized text."""
    return exact_dedup(load_table(spark, "documents", sf_dir)).select("doc_id")


@query(headline=True)
def _dedup_minhash(spark, sf_dir):
    """MinHash LSH near-dedup — rows-only (engine-specific xxhash64;
    survives as the production fast path because xxhash64 is one
    JVM-codegen call where md5 is hash+hex+substring+conv; correctness
    rides the oracled `dedup_minhash_md5` twin plus the kept-set-size
    pin in tests/test_twin_parity.py)."""
    return minhash_lsh_dedup(
        load_table(spark, "documents", sf_dir),
        num_hashes=64, num_bands=16, shingle_k=3,
    ).select("doc_id")


@query(oracle=f"""
            WITH t AS (
                SELECT doc_id, {toks} AS toks FROM documents
            ), sh AS (
                SELECT DISTINCT doc_id AS id,
                       unnest(list_distinct({shingle_expr})) AS s
                FROM t
            ), hx AS (
                SELECT id, i, MIN(substr(md5(s || ':' || i), 1, 16)) AS h
                FROM sh, (SELECT unnest(range(0, 64)) AS i)
                GROUP BY id, i
            ), bands AS (
                SELECT id, i // 4 AS band,
                       md5(string_agg(h, '' ORDER BY i)) AS bh
                FROM hx GROUP BY id, i // 4
            ), bmin AS (
                SELECT band, bh, MIN(id) AS m FROM bands GROUP BY band, bh
            ), canon AS (
                SELECT bands.id, MIN(m) AS c
                FROM bands JOIN bmin USING (band, bh) GROUP BY bands.id
            )
            SELECT d.doc_id FROM documents d
            LEFT JOIN canon ON canon.id = d.doc_id
            WHERE COALESCE(canon.c, d.doc_id) = d.doc_id""")
def _dedup_minhash_md5(spark, sf_dir):
    """MinHash LSH dedup, md5-hash variant: every hash is an md5 hex
    substring, so DuckDB reproduces the EXACT kept-set — the oracle-
    checked proof of the LSH pipeline (shingle -> per-hash min -> band
    key -> bucket-min keep rule) that the fast xxhash64 twin
    (dedup_minhash) can't give."""
    from apache_beam_spark.dedup.minhash import minhash_dedup_md5

    return minhash_dedup_md5(
        load_table(spark, "documents", sf_dir),
        num_hashes=64, num_bands=16, shingle_k=3)


@query(headline=True)
def _dedup_simhash(spark, sf_dir):
    """SimHash near-dedup — rows-only (engine-specific xxhash64 bit
    derivation; survives as the production fast path — correctness
    rides the oracled `dedup_simhash_md5` twin plus the exact-count
    pin in tests/test_twin_parity.py, which bounds the legitimate
    borderline-hamming divergence between the two bit derivations at
    5 docs of 500)."""
    return simhash_dedup(load_table(spark, "documents", sf_dir), max_hamming=3) \
        .select("doc_id")


@query(oracle=f"""
            WITH tok AS (
                SELECT doc_id AS id, unnest({toks}) AS t FROM documents
            ), hx AS (
                SELECT id, substr(md5(t), 1, 16) AS hx FROM tok
            ), bits AS (
                SELECT id, j,
                       (((instr('0123456789abcdef', substr(hx, 16 - j // 4, 1)) - 1)
                         >> (j % 4)) & 1) AS b
                FROM hx, (SELECT unnest(range(0, 64)) AS j)
            ), bsum AS (
                SELECT id, j, SUM(b) AS ones, COUNT(*) AS n
                FROM bits GROUP BY id, j
            ), bitstr AS (
                SELECT id, string_agg(CASE WHEN 2 * ones > n THEN '1' ELSE '0' END,
                                      '' ORDER BY j) AS bs
                FROM bsum GROUP BY id
            ), chunks AS (
                SELECT id, bs, c, substr(bs, c * 16 + 1, 16) AS ck
                FROM bitstr, (SELECT unnest(range(0, 4)) AS c)
            ), dup AS (
                SELECT DISTINCT b.id AS id_b
                FROM chunks a JOIN chunks b ON a.c = b.c AND a.ck = b.ck AND a.id < b.id
                WHERE len(list_filter(range(1, 65),
                          j -> substr(a.bs, j, 1) <> substr(b.bs, j, 1))) <= 3
            )
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT id_b FROM dup)""")
def _dedup_simhash_md5(spark, sf_dir):
    """SimHash dedup, md5 variant: per-token md5 nibble bits + bitstring
    simhash make the kept-set reproducible in DuckDB — the oracle-
    checked proof of the simhash pipeline (majority bits -> pigeonhole
    chunks -> hamming<=3 verify) that the xxhash64 twin can't give."""
    from apache_beam_spark.dedup.simhash import simhash_dedup_md5

    return simhash_dedup_md5(load_table(spark, "documents", sf_dir))


@query(headline=True, oracle=f"""
            WITH sh AS (
                SELECT doc_id AS id, list_distinct({shingle_expr}) AS sh
                FROM (SELECT doc_id, {toks} AS toks FROM documents) t),
            inv0 AS (SELECT id, unnest(sh) AS g FROM sh),
            keepg AS (SELECT g FROM inv0 GROUP BY g HAVING COUNT(*) <= 100),
            inv AS (SELECT inv0.id, inv0.g FROM inv0 JOIN keepg USING (g)),
            sizes AS (SELECT id, COUNT(*) AS n FROM inv GROUP BY id),
            inter AS (
                SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS inter
                FROM inv x JOIN inv y ON x.g = y.g AND x.id < y.id
                GROUP BY x.id, y.id)
            SELECT id_a, id_b,
                   ROUND(inter * 1.0 / (a.n + b.n - inter), 6) AS jaccard
            FROM inter
            JOIN sizes a ON a.id = id_a
            JOIN sizes b ON b.id = id_b
            WHERE inter * 1.0 / (a.n + b.n - inter) >= 0.5""")
def _ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard pairs >= 0.5 via inverted index."""
    return ngram_jaccard_pairs(
        load_table(spark, "documents", sf_dir), shingle_k=3, threshold=0.5,
        max_df=100, observation=_bucket_observation("ngram_jaccard"),
    )


@query(headline=True, oracle=f"""
            WITH sh AS MATERIALIZED (
                SELECT doc_id AS id, list_distinct({shingle_expr}) AS sh
                FROM (SELECT doc_id, {toks} AS toks FROM documents) t),
            inv0 AS (SELECT id, unnest(sh) AS g FROM sh),
            keepg AS (SELECT g FROM inv0 GROUP BY g HAVING COUNT(*) <= 100),
            inv AS MATERIALIZED (
                SELECT inv0.id, inv0.g FROM inv0 JOIN keepg USING (g)),
            sizes AS (SELECT id, COUNT(*) AS n FROM inv GROUP BY id),
            inter AS MATERIALIZED (
                SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS inter
                FROM inv x JOIN inv y ON x.g = y.g AND x.id <> y.id
                GROUP BY x.id, y.id)
            SELECT id_a, id_b,
                   ROUND(inter * 1.0 / a.n, 6) AS containment
            FROM inter JOIN sizes a ON a.id = id_a
            WHERE inter * 1.0 / a.n >= 0.8""")
def _ngram_containment(spark, sf_dir):
    """Asymmetric n-gram containment >= 0.8 — subsumed-document
    detection (dedup/ngram.py::ngram_containment_pairs)."""
    from apache_beam_spark.dedup.ngram import ngram_containment_pairs

    return ngram_containment_pairs(
        load_table(spark, "documents", sf_dir), shingle_k=3, threshold=0.8,
        max_df=100)


# transitive closure over the SAME jaccard>=0.5 pair set; MIN of
# reachable ids == the hash-min fixpoint the Spark operator finds
@query(headline=True, oracle=f"""
            WITH RECURSIVE sh AS (
                SELECT doc_id AS id, list_distinct({shingle_expr}) AS sh
                FROM (SELECT doc_id, {toks} AS toks FROM documents) t),
            inv0 AS (SELECT id, unnest(sh) AS g FROM sh),
            keepg AS (SELECT g FROM inv0 GROUP BY g HAVING COUNT(*) <= 100),
            inv AS (SELECT inv0.id, inv0.g FROM inv0 JOIN keepg USING (g)),
            sizes AS (SELECT id, COUNT(*) AS n FROM inv GROUP BY id),
            inter AS (
                SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS inter
                FROM inv x JOIN inv y ON x.g = y.g AND x.id < y.id
                GROUP BY x.id, y.id),
            pairs AS (
                SELECT id_a, id_b FROM inter
                JOIN sizes a ON a.id = id_a
                JOIN sizes b ON b.id = id_b
                WHERE inter * 1.0 / (a.n + b.n - inter) >= 0.5),
            edges AS (SELECT id_a AS s, id_b AS d FROM pairs
                      UNION SELECT id_b, id_a FROM pairs),
            reach(node, comp) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.node)
            SELECT node AS doc_id, MIN(comp) AS component
            FROM reach GROUP BY node""")
def _dup_clusters(spark, sf_dir):
    """Near-dup pairs -> clusters: n-gram Jaccard >= 0.5 pairs as the
    edge set, connected components to label every document with its
    cluster's min doc_id.  The pair list is driver-sized here, so CC is
    one bounded edge collect and a driver union-find whose labels are
    broadcast-joined onto the doc ids; pair lists above
    ``_DRIVER_MAX_EDGES`` take the distributed hash-min + large-star/
    small-star path (dedup/components.py).  Singletons keep their
    own id.  Edge mining runs ``expand="star"`` — clone groups
    contribute linear spanning edges with identical components (the
    r4-verdict superlinear fix).  Oracle: transitive closure via
    recursive CTE over the full pair list — same components either
    way, so the labels still value-match."""
    from apache_beam_spark.dedup.components import dup_clusters

    docs = load_table(spark, "documents", sf_dir)
    pairs = ngram_jaccard_pairs(docs, shingle_k=3, threshold=0.5,
                                max_df=100,
                                expand="star").select("id_a", "id_b")
    return dup_clusters(pairs, docs.select("doc_id"))


@query(headline=True, oracle=f"""
            WITH toks AS (
                SELECT doc_id, {toks} AS w FROM documents),
            ch AS (
                SELECT doc_id, CAST(i AS INT) AS idx,
                       array_to_string(w[(i*10+1):(i*10+10)], ' ') AS chunk
                FROM toks,
                     unnest(generate_series(0,
                         CAST(ceil(len(w)/10.0) AS INT) - 1)) AS t(i)
                WHERE len(w) > 0),
            ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY chunk ORDER BY doc_id, idx) AS rn
                FROM ch)
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_chunks,
                   CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_kept,
                   COALESCE(string_agg(chunk, ' ' ORDER BY idx)
                       FILTER (rn = 1), '') AS text_dedup
            FROM ranked GROUP BY doc_id""")
def _chunk_dedup(spark, sf_dir):
    """Passage-level dedup (dedup/chunks.py): 10-word chunks, corpus-wide
    keep-first witness, docs reassembled from surviving chunks.  Two
    shuffles total (chunk-keyed window + doc-keyed rebuild)."""
    from apache_beam_spark.dedup.chunks import chunk_dedup

    return chunk_dedup(load_table(spark, "documents", sf_dir), chunk_words=10)


@query(headline=True, oracle=f"""
            WITH sh AS MATERIALIZED (
                SELECT doc_id, list_distinct({shingle_expr}) AS sh
                FROM (SELECT doc_id, {toks} AS toks FROM documents) t),
            bench AS (SELECT DISTINCT unnest(sh) AS g FROM sh
                      WHERE doc_id % 37 = 0),
            ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
            agg AS (
                SELECT ex.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
                       CAST(COUNT(b.g) AS BIGINT) AS n_matched
                FROM ex LEFT JOIN bench b USING (g)
                GROUP BY ex.doc_id)
            SELECT doc_id, n_grams, n_matched,
                   ROUND(n_matched / n_grams, 6) AS contamination,
                   ROUND(n_matched / n_grams, 6) >= 0.5 AS contaminated
            FROM agg""")
def _decontaminate_benchmark(spark, sf_dir):
    """Benchmark decontamination (dedup/decontaminate.py): flag corpus
    docs whose distinct trigram overlap with a held-out benchmark slice
    (every 37th doc) reaches 50%.  Benchmark grams broadcast; corpus
    text never shuffles; one shuffle total (per-doc count)."""
    from apache_beam_spark.dedup.decontaminate import decontaminate

    docs = load_table(spark, "documents", sf_dir)
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    return decontaminate(docs, bench, shingle_k=3, threshold=0.5)


@query(headline=True, oracle="""
            SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                   a.c_name AS name_a, b.c_name AS name_b,
                   CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
            FROM customer a JOIN customer b
              ON a.c_custkey < b.c_custkey
             AND levenshtein(a.c_name, b.c_name) <= 1""")
def _fuzzy_join_customers(spark, sf_dir):
    """Entity resolution at edit distance 1 (dedup/fuzzy.py): all
    customer-name pairs within Levenshtein 1 via the symmetric-delete
    candidate scheme (SymSpell family — deletion-variant hash join,
    provably complete at k <= max_dist, never all-pairs) + exact
    levenshtein verify.  The oracle brute-forces the same predicate in
    DuckDB (both engines implement classic Levenshtein), proving the
    banded path loses no pair — the fuzzy-match analogue of the
    MinHash-vs-exact twin discipline."""
    from apache_beam_spark.dedup.fuzzy import fuzzy_self_join

    c = load_table(spark, "customer", sf_dir) \
        .select("c_custkey", "c_name")
    return fuzzy_self_join(c, "c_custkey", "c_name", max_dist=1)


@query(headline=True, oracle=f"""
            WITH f AS (SELECT doc_id, md5({norm_text}) AS fp
                       FROM documents),
            newb AS (
                SELECT doc_id, fp FROM f WHERE doc_id >= 250
                UNION ALL
                SELECT doc_id + 10000, fp FROM f WHERE doc_id < 50
                UNION ALL
                SELECT doc_id + 10000, fp FROM f WHERE doc_id = 300)
            SELECT doc_id FROM (
                SELECT doc_id, fp,
                       ROW_NUMBER() OVER (PARTITION BY fp
                                          ORDER BY doc_id) AS rn
                FROM newb
                WHERE fp NOT IN (SELECT fp FROM f WHERE doc_id < 250)) t
            WHERE rn = 1""")
def _dedup_incremental(spark, sf_dir):
    """Incremental ingestion dedup: a NEW batch exact-deduped against
    the EXISTING corpus (doc_id < 250) by normalized-text fingerprint —
    an anti join on the md5, so only fingerprints shuffle and the
    existing corpus is never rewritten; in-batch keep-first applies the
    same witness rule as exact_dedup.  The corpus has no natural exact
    dups (dedup_exact keeps all 500), so the new batch PLANTS them:
    docs >= 250 plus copies of docs 0..49 (re-idd +10000; cross-batch
    dups the anti join must drop) plus a copy of doc 300 (id 10300; an
    in-batch dup keep-first must drop)."""
    d = load_table(spark, "documents", sf_dir)
    fp = T.fingerprint(F.col("text")).alias("fp")
    base = d.select("doc_id", fp)
    new = (base.filter(F.col("doc_id") >= 250)
           .unionByName(base.filter(F.col("doc_id") < 50)
                        .select((F.col("doc_id") + 10000).alias("doc_id"),
                                "fp"))
           .unionByName(base.filter(F.col("doc_id") == 300)
                        .select((F.col("doc_id") + 10000).alias("doc_id"),
                                "fp")))
    old = base.filter(F.col("doc_id") < 250).select("fp")
    from pyspark.sql.window import Window as W

    first_in_batch = F.row_number().over(
        W.partitionBy("fp").orderBy("doc_id")) == 1
    return (new.join(old, on="fp", how="left_anti")
            .withColumn("__keep__", first_in_batch)
            .filter("__keep__").select("doc_id"))


def _incremental_minhash_io(spark, sf_dir):
    """Shared planted hist/batch construction for the incremental
    near-dup twins: history = docs < 250; batch = docs >= 250 plus
    one-word-PERTURBED copies of docs 0..49 re-idd +10000 (near-dups
    the exact fingerprint anti join cannot catch but the index probe
    must) plus a perturbed copy of doc 300 (an in-batch near-dup the
    bucket-min rule handles)."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    hist = d.filter(F.col("doc_id") < 250)
    perturb = F.concat(F.col("text"), F.lit(" zzz")).alias("text")
    batch = (d.filter(F.col("doc_id") >= 250)
             .unionByName(d.filter(F.col("doc_id") < 50)
                          .select((F.col("doc_id") + 10000).alias("doc_id"),
                                  perturb))
             .unionByName(d.filter(F.col("doc_id") == 300)
                          .select((F.col("doc_id") + 10000).alias("doc_id"),
                                  perturb)))
    return hist, batch


@query(headline=True)
def _dedup_incremental_minhash(spark, sf_dir):
    """Incremental NEAR-dup ingest, xxhash64 fast path — the LSH twin
    of the exact `dedup_incremental` anti join (dedup/minhash.py::
    minhash_band_index + minhash_dedup_incremental): the kept corpus
    persists only its DISTINCT (band, bh) bucket index; the planted
    batch is deduped by one semi join against the index plus one
    in-batch bucket-min, the corpus never rewritten.  Engine-specific
    hashes, so rows-only — the md5 twin
    `dedup_incremental_minhash_md5` value-oracles the identical keep
    rule (the `dedup_minhash`/`dedup_minhash_md5` convention), and
    tests/test_twin_parity.py pins this path's kept-set size equal to
    that twin's on the fixed corpus."""
    from apache_beam_spark.dedup.minhash import (
        minhash_band_index, minhash_dedup_incremental)

    hist, batch = _incremental_minhash_io(spark, sf_dir)
    index = minhash_band_index(hist, hashing="xx")
    return minhash_dedup_incremental(batch, index, hashing="xx")


# the Bloom-pruned path must produce EXACTLY the plain anti
# join (the filter prunes, never decides) — same oracle
@query(oracle=f"""
            WITH inp AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 10000, text || ' zzz' FROM documents
                WHERE doc_id < 50
                UNION ALL
                SELECT doc_id + 10000, text || ' zzz' FROM documents
                WHERE doc_id = 300
            ), t AS (
                SELECT doc_id, {toks} AS toks FROM inp
            ), sh AS (
                SELECT DISTINCT doc_id AS id,
                       unnest(list_distinct({shingle_expr})) AS s
                FROM t
            ), hx AS (
                SELECT id, i, MIN(substr(md5(s || ':' || i), 1, 16)) AS h
                FROM sh, (SELECT unnest(range(0, 64)) AS i)
                GROUP BY id, i
            ), bands AS (
                SELECT id, i // 4 AS band,
                       md5(string_agg(h, '' ORDER BY i)) AS bh
                FROM hx GROUP BY id, i // 4
            ), hb AS (
                SELECT DISTINCT band, bh FROM bands WHERE id < 250
            ), bb AS (
                SELECT id, band, bh FROM bands WHERE id >= 250
            ), hits AS (
                SELECT DISTINCT bb.id FROM bb JOIN hb USING (band, bh)
            ), bmin AS (
                SELECT band, bh, MIN(id) AS m FROM bb GROUP BY band, bh
            ), canon AS (
                SELECT bb.id, MIN(m) AS c
                FROM bb JOIN bmin USING (band, bh) GROUP BY bb.id
            )
            SELECT i.doc_id FROM
                (SELECT doc_id FROM inp WHERE doc_id >= 250) i
            LEFT JOIN canon ON canon.id = i.doc_id
            WHERE COALESCE(canon.c, i.doc_id) = i.doc_id
              AND i.doc_id NOT IN (SELECT id FROM hits)""")
def _dedup_incremental_minhash_md5(spark, sf_dir):
    """The md5 verification twin of `dedup_incremental_minhash`: same
    planted batch, same keep rule, every hash an md5 hex substring —
    the whole collision structure (which perturbed copies still
    collide, which survive) reproduces bit-identically in DuckDB, so
    the incremental ingest rule is value-oracled, nothing
    probabilistic assumed."""
    from apache_beam_spark.dedup.minhash import (
        minhash_band_index, minhash_dedup_incremental)

    hist, batch = _incremental_minhash_io(spark, sf_dir)
    index = minhash_band_index(hist, hashing="md5")
    return minhash_dedup_incremental(batch, index, hashing="md5")


@query(headline=True, oracle=f"""
            WITH f AS (SELECT doc_id, md5({norm_text}) AS fp
                       FROM documents),
            newb AS (
                SELECT doc_id, fp FROM f WHERE doc_id >= 250
                UNION ALL
                SELECT doc_id + 10000, fp FROM f WHERE doc_id < 50
                UNION ALL
                SELECT doc_id + 10000, fp FROM f WHERE doc_id = 300)
            SELECT doc_id FROM (
                SELECT doc_id, fp,
                       ROW_NUMBER() OVER (PARTITION BY fp
                                          ORDER BY doc_id) AS rn
                FROM newb
                WHERE fp NOT IN (SELECT fp FROM f WHERE doc_id < 250)) t
            WHERE rn = 1""")
def _dedup_incremental_bloom(spark, sf_dir):
    """The same incremental-ingest dedup as `dedup_incremental` (same
    planted batch, same witness rule) routed through the Bloom-pruned
    anti join (dedup/bloom.py): a bitmap over the history fingerprints
    is built once as a (word_idx, word) frame, the batch is probed via
    k broadcast joins + one bitwise filter (definitely-absent rows
    never shuffle), and only Bloom-positive rows enter the exact
    anti-join verify.  Result is oracle-identical to the plain anti
    join — the filter prunes, never decides."""
    from apache_beam_spark.dedup.bloom import bloom_anti_join

    d = load_table(spark, "documents", sf_dir)
    fp = T.fingerprint(F.col("text")).alias("fp")
    base = d.select("doc_id", fp)
    new = (base.filter(F.col("doc_id") >= 250)
           .unionByName(base.filter(F.col("doc_id") < 50)
                        .select((F.col("doc_id") + 10000).alias("doc_id"),
                                "fp"))
           .unionByName(base.filter(F.col("doc_id") == 300)
                        .select((F.col("doc_id") + 10000).alias("doc_id"),
                                "fp")))
    old = base.filter(F.col("doc_id") < 250).select("fp")
    survivors = bloom_anti_join(new, old, "fp", fpp=0.01, expected=250)
    from pyspark.sql.window import Window as W

    first_in_batch = F.row_number().over(
        W.partitionBy("fp").orderBy("doc_id")) == 1
    return (survivors.withColumn("__keep__", first_in_batch)
            .filter("__keep__").select("doc_id"))


@query(oracle=f"""
            WITH planted AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 10000, text || ' !!! ??? !!!'
                FROM documents WHERE doc_id < 50),
            scored AS (
                SELECT doc_id,
                       md5(regexp_replace(lower(trim(
                           regexp_replace(text, ' !!! \\?\\?\\? !!!$', ''))),
                           '\\s+', ' ', 'g')) AS fp,
                       ROUND((
                           (CASE WHEN LENGTH(text) >= 50 THEN 1.0
                                 ELSE LENGTH(text) / 50.0 END)
                           + (1.0 - LEAST(2 * (LENGTH(regexp_replace(text,
                                   '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) * 1.0
                                   / NULLIF(LENGTH(text), 0)), 1.0))
                           + LEAST(5 * (len(list_filter({toks},
                                   t -> t IN ('the','of','and','a','to','in',
                                   'is','it','that','was','for','on','as',
                                   'with','at','by','an','be','this','are',
                                   'or','not'))) * 1.0
                                   / NULLIF(len({toks}), 0)), 1.0)
                       ) / 3.0, 6) AS q
                FROM planted)
            SELECT doc_id AS kept_id, n_copies FROM (
                SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY fp
                           ORDER BY q DESC, doc_id) AS rn,
                       COUNT(*) OVER (PARTITION BY fp) AS n_copies
                FROM scored)
            WHERE rn = 1""")
def _dedup_keep_best(spark, sf_dir):
    """Exact dedup with QUALITY-aware survivor selection: duplicates
    are planted (docs < 50 re-id'd with their text perturbed to lower
    quality), grouped by normalized-text fingerprint, and the
    max-(quality, -doc_id) member survives via ONE max_by aggregate —
    keep-best instead of keep-first, the witness rule real corpus
    dedup wants.  Only (id, fp, quality) shuffles."""
    d = load_table(spark, "documents", sf_dir)
    # planted twins: same fingerprint (same normalized text), lower
    # quality via doubled punctuation
    twins = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" !!! ??? !!!")).alias("text"))
    allc = d.select("doc_id", "text").unionByName(twins)
    fp = T.fingerprint(F.regexp_replace(F.col("text"),
                                        " !!! \\?\\?\\? !!!$", ""))
    scored = allc.select(
        "doc_id", fp.alias("fp"),
        T.quality_score(F.col("text")).alias("q"))
    return (scored.groupBy("fp")
            .agg(F.max_by("doc_id",
                          F.struct(F.col("q"), -F.col("doc_id")))
                 .alias("kept_id"),
                 F.count(F.lit(1)).alias("n_copies"))
            .select("kept_id", "n_copies"))
