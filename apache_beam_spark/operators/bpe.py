"""Distributed BPE tokenizer training primitives.

Byte-pair encoding (Sennrich et al., ACL 2016) trains a subword
vocabulary by repeatedly merging the most frequent adjacent symbol
pair across the corpus.  At 100 TB the corpus never fits a trainer
process, but the algorithm distributes naturally:

* the WORD VOCABULARY (word -> count) is tiny relative to the corpus —
  one shuffle agg compresses terabytes of text into the frame every
  later step runs on (the standard word-level BPE formulation: merges
  never cross word boundaries);
* each ROUND is one partial-agg pair count over the vocabulary plus a
  bounded driver-side top-K pull (the same precedent as k-means
  centroids / CC convergence counters) and one pure-Column
  replace-chain that applies a provably sequential-equivalent BATCH of
  merges — no Python UDFs anywhere, and 30k-merge production
  vocabularies cost ~30k/merge_batch rounds, not 30k (with
  ``batch_policy="relaxed"`` sustaining ~merge_batch merges/round even
  on Zipfian heads — see SCALING.md r8);
* the ENCODE side has two pinned-equal paths, chosen by merge count:
  the codegen replace-chain (plan depth linear in vocab; fastest on
  small corpora) up to ``_MAX_CHAIN_MERGES`` merges, and
  ``bpe_encode_rank`` (broadcast merge-rank dict + vectorized
  mapInPandas, plan size constant in vocab — the 30k-merge production
  regime, and faster on larger corpora; oracled as
  ``bpe_rank_token_counts``).

This module also holds the spine the unigram and WordPiece tokenizers
share: ``word_vocab`` (the distinct-word frequency frame every trainer
and piece counter runs on) and ``_per_doc_sums`` (distinct words ->
per-word score -> per-document sums, the shape of every per-document
encode).

``bpe_pair_counts`` (the first iteration's counting step) is fully
SQL-expressible and value-oracled against DuckDB; the iterative
``bpe_train`` loop is verified against a reference Python
implementation in tests/test_bpe.py (ties broken deterministically by
(count desc, a, b), so both implementations agree exactly).

Reference anchor: the reference repo has no tokenizer-training
operator; this is part of the training-data-pipeline surface
(SURVEY §8 extras), built on its Combine-per-key shapes.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from apache_beam_spark.functions.text import word_tokens


def word_vocab(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt): lower-cased word-token frequencies — the corpus
    compression every tokenizer step (BPE, unigram, WordPiece) runs
    on.  One explode + one shuffle agg with map-side partial
    aggregation."""
    return (df.select(F.explode(word_tokens(F.col(text_col))).alias("word"))
            .groupBy("word").agg(F.count(F.lit(1)).alias("cnt")))


def _per_doc_sums(df: DataFrame, score: Callable[[DataFrame], DataFrame],
                  text_col: str, id_col: str, **sums: Column) -> DataFrame:
    """Per-document sums of a per-word score — the tokenizer-APPLICATION
    shape shared by all three families.  ``score`` maps the (word)
    frame of DISTINCT corpus words to a (word, ...) frame, so the
    per-word encode runs once per distinct word, not once per
    occurrence; the scored words join back to each document's word
    list (strategy left to AQE — distinct-word cardinality is
    corpus-vocabulary-sized) and each ``sums`` column is summed per
    document.  Returns (id_col, *sums) as int64; documents with no
    word tokens report 0 for every sum."""
    wpd = df.select(F.col(id_col),
                    F.explode_outer(word_tokens(F.col(text_col)))
                    .alias("word"))
    dw = wpd.select("word").where(F.col("word").isNotNull()).distinct()
    return (wpd.join(score(dw), "word", "left")
            .groupBy(id_col)
            .agg(*[F.coalesce(F.sum(c), F.lit(0)).cast("long").alias(name)
                   for name, c in sums.items()]))


def _symbols(word: Column) -> Column:
    """Initial BPE symbolization: one single-character symbol per
    character."""
    return F.regexp_extract_all(word, F.lit("(.)"), 1)


def _adjacent_pairs(syms: Column) -> Column:
    """array<struct<a,b>> of adjacent symbol pairs (linear zip with the
    shifted array — same shape as functions/text.bigrams)."""
    shifted = F.slice(syms, 2, F.greatest(F.size(syms) - 1, F.lit(0)))
    pairs = F.zip_with(syms, shifted,
                       lambda a, b: F.struct(a.alias("a"), b.alias("b")))
    return F.filter(pairs, lambda p: p["b"].isNotNull())


def _pair_counts(vocab_syms: DataFrame) -> DataFrame:
    """(a, b, pair_count) over a (cnt, syms) vocabulary frame.  The
    shuffle carries (a, b, partial count) — never the corpus, never
    the vocabulary arrays."""
    return (vocab_syms
            .select("cnt", F.explode(_adjacent_pairs(F.col("syms"))).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").alias("pair_count")))


def bpe_pair_counts(df: DataFrame, text_col: str = "text",
                    min_count: int = 1) -> DataFrame:
    """Adjacent symbol-pair frequencies of the INITIAL (character)
    symbolization, weighted by word frequency — BPE iteration zero's
    counting step, fully value-oracled (see ``bpe_pair_counts`` in
    ``__spark_entry__.oracle_sql``).  Returns (a, b, pair_count)."""
    vocab = word_vocab(df, text_col).select(
        "cnt", _symbols(F.col("word")).alias("syms"))
    out = _pair_counts(vocab)
    if min_count > 1:
        out = out.filter(F.col("pair_count") >= min_count)
    return out


#: delimiter bytes for the replace-chain encoder: symbol boundary and
#: word boundary — neither can appear inside a word token
#: (``word_tokens`` admits only letters/digits/_/')
_SEP = "\x1f"
_WSEP = "\x1e"


def _apply_merge_chain(s: Column, merges) -> Column:
    """Apply merges to a delimiter-anchored symbol string: each merge
    is ``(a, b)`` -> ``a + b`` or ``(a, b, merged)`` for callers whose
    merged-symbol spelling differs (WordPiece drops b's ``##``
    marker); one codegen ``replace`` of ``\\x1f a \\x1f\\x1f b \\x1f``
    with ``\\x1f merged \\x1f`` per merge.  String replace is
    left-to-right non-overlapping, which IS the greedy rule, and the
    shared anchor byte between adjacent pairs makes back-to-back
    occurrences merge correctly (``aaa`` -> ``aa, a``).  Shared by the
    encoders and BOTH trainers' batched apply — one code path, one
    semantics."""
    for m in merges:
        a, b = m[0], m[1]
        merged = m[2] if len(m) > 2 else a + b
        s = F.replace(s, F.lit(_SEP + a + _SEP + _SEP + b + _SEP),
                      F.lit(_SEP + merged + _SEP))
    return s


#: replace-chain plan depth is linear in the merge count (one codegen
#: ``replace`` per merge).  Above this many merges the chain's Column
#: expression tree hits JVM codegen limits (64KB method fallback,
#: quadratic analysis) long before data size matters, so
#: ``bpe_encode_token_counts`` switches to the broadcast merge-rank
#: encoder — the plan-size-constant production path.
_MAX_CHAIN_MERGES = 256


def bpe_encode_rank(df: DataFrame, merges: list,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Per-document token count under a FIXED merge list via the
    canonical merge-RANK encode (Sennrich subword-nmt / tiktoken
    semantics): per word, repeatedly merge the lowest-rank adjacent
    pair, left-to-right non-overlapping within a pass.  This is the
    PRODUCTION-VOCABULARY path: the merge list rides as an
    ``sc.broadcast`` dict into one vectorized ``mapInPandas`` stage, so
    plan size and codegen cost are CONSTANT in vocabulary size — a
    30k-merge production vocab costs the same plan as the 8-merge demo
    (the replace chain is depth-linear and dies at that scale).

    The encode runs once per DISTINCT word (the word_vocab compression:
    per-word cost O(len(word) * merges-that-fire), not corpus-sized),
    then joins back to the per-document word list (``_per_doc_sums``).

    Equivalence to the replace-chain encoder: identical whenever no
    later merge re-creates the STRING of an earlier merge's pair
    (always true of demo vocabularies; pinned on the demo corpus by
    tests/test_tokenizer_scale.py).  Where they could differ the rank
    encode is the canonical semantics.  Returns (id_col, n_tokens)."""
    merges_local = [(a, b) for a, b in merges]
    ranks = {p: i for i, p in enumerate(merges_local)}
    bc = df.sparkSession.sparkContext.broadcast((ranks, merges_local))

    def enc(batches):
        import pandas as pd

        rk, by_rank = bc.value
        for pdf in batches:
            counts = []
            for w in pdf["word"]:
                syms = list(w)
                while len(syms) > 1:
                    best = None
                    for i in range(len(syms) - 1):
                        r = rk.get((syms[i], syms[i + 1]))
                        if r is not None and (best is None or r < best):
                            best = r
                    if best is None:
                        break
                    a, b = by_rank[best]
                    out, i = [], 0
                    while i < len(syms):
                        if (i + 1 < len(syms) and syms[i] == a
                                and syms[i + 1] == b):
                            out.append(a + b)
                            i += 2
                        else:
                            out.append(syms[i])
                            i += 1
                    syms = out
                counts.append(len(syms))
            yield pd.DataFrame({"word": pdf["word"], "wtok": counts})

    return _per_doc_sums(
        df, lambda dw: dw.mapInPandas(enc, "word string, wtok long"),
        text_col, id_col, n_tokens=F.col("wtok"))


def bpe_encode_token_counts(df: DataFrame, merges: list,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Per-document token count under a FIXED, already-learned merge
    list — the tokenizer-APPLICATION side of BPE (the
    ``kmeans_assign``-with-fixed-centroids pattern: pinning the learned
    artifact makes the whole path value-oracle-checkable).

    Up to ``_MAX_CHAIN_MERGES`` merges the encoding never touches
    Python: each
    word's characters are joined with double \\x1f delimiters inside
    single-\\x1f anchors, and each merge (a, b) -> ab is ONE codegen
    ``replace`` of ``\\x1f a \\x1f\\x1f b \\x1f`` with
    ``\\x1f ab \\x1f`` — string replace is left-to-right
    non-overlapping, which IS the greedy BPE rule, and the shared
    anchor byte between adjacent pairs makes back-to-back occurrences
    merge correctly (``aaa`` -> ``aa, a``).  Word boundaries use \\x1e
    so merges never cross words.  Token count = words + remaining
    double-delimiter boundaries / 2.

    ABOVE it the replace chain's plan depth (linear in vocabulary)
    would hit JVM codegen ceilings, so the call delegates to
    ``bpe_encode_rank`` — broadcast dict + vectorized mapInPandas, plan
    size constant in vocabulary (the production regime; equality on
    chain-eligible vocabularies is pinned by
    tests/test_tokenizer_scale.py).  Each path is the faster one at
    some corpus size (the chain at small corpora, the rank encode at
    larger ones), so both stay, chosen by merge count.

    Returns (id_col, n_tokens)."""
    if len(merges) > _MAX_CHAIN_MERGES:
        return bpe_encode_rank(df, merges, text_col, id_col)
    toks = word_tokens(F.col(text_col))

    def enc_word(w):
        inner = F.regexp_replace(w, "(.)", "$1" + _SEP + _SEP)
        return F.concat(F.lit(_SEP),
                        F.substring(inner, 1, F.length(inner) - 2),
                        F.lit(_SEP))

    s = _apply_merge_chain(F.array_join(F.transform(toks, enc_word), _WSEP),
                           merges)
    boundaries = (F.length(s)
                  - F.length(F.replace(s, F.lit(_SEP + _SEP), F.lit("")))) / 2
    return df.select(
        F.col(id_col),
        (F.size(toks) + boundaries).cast("long").alias("n_tokens"))


def _apply_merges(syms: Column, merges) -> Column:
    """Apply a merge list to a symbol ARRAY by round-tripping through
    the delimiter-anchored string form: anchor, replace-chain, split
    back.  Greedy left-to-right per merge — identical semantics to the
    encoder (it IS the encoder's fold)."""
    s = F.concat(F.lit(_SEP), F.array_join(syms, _SEP + _SEP), F.lit(_SEP))
    s = _apply_merge_chain(s, merges)
    return F.split(F.substring(s, 2, F.length(s) - 2), _SEP + _SEP)


def _select_batch_relaxed(rows, max_batch: int, complete: bool):
    """RELAXED admission (``bpe_train(batch_policy="relaxed")``): walk
    the (count desc, a, b)-sorted candidates and admit every pairwise
    symbol-DISJOINT one, SKIPPING conflicts instead of stopping at the
    first.  Disjointness still makes the batch order-free (batch apply
    == applying the admitted merges in any sequential order), so every
    admitted merge carries its true round-start count — but neither of
    the exact policy's dominance guards is kept: tie-order vs skipped
    conflicting candidates is not preserved, and a SELF-merge (x, x)
    with count c may spawn pairs with count up to floor(c/2) that
    strictly dominate lower-count candidates admitted in the same
    batch.  The learned merge SEQUENCE may therefore reorder, and the
    final merge SET may differ from the sequential algorithm whenever
    ties occur or a self-merge is admitted alongside lower-count
    candidates (ADVICE r8) — relaxed mode is pinned against a
    driver-side mirror of the SAME policy, not against sequential.
    The incomplete-window tail guard is kept: counts at the unseen
    tail could be outranked by unpulled pairs, so admission stops
    there.

    This is the production-vocabulary mode: at 30k merges, Zipfian
    pair distributions keep EXACT batches small near the head (the
    top pairs share common letters — see SCALING.md), while relaxed
    batches stay near ``max_batch``."""
    picked = []
    blocked: set = set()
    tail = int(rows[-1]["pair_count"]) if rows else 0
    for r in rows:
        if len(picked) >= max_batch:
            break
        a, b, cnt = r["a"], r["b"], int(r["pair_count"])
        if picked and not complete and cnt == tail:
            break
        if a in blocked or b in blocked or (a + b) in blocked:
            continue
        picked.append((a, b, cnt))
        blocked |= {a, b, a + b}
    return picked


def _select_batch(rows, max_batch: int, complete: bool):
    """Maximal prefix of the (count desc, a, b)-sorted candidate pairs
    that provably yields the SAME merges as applying them one
    sequential round at a time.  ``rows`` are (a, b, pair_count)
    records; ``complete`` says whether they are ALL pairs (if not,
    unseen pairs may tie the window's tail count).

    Why this is exact (tests/test_bpe.py pins it property-style):

    * Admitted merges are pairwise symbol-DISJOINT, counting each
      merge's output symbol a+b: applying any subset cannot create,
      destroy, or re-count occurrences of another admitted pair, so
      batch application == sequential application and every admitted
      candidate's count is unchanged when its sequential turn comes.
    * A merge (x, y) only DECREASES counts of existing pairs (those
      sharing x or y lose occurrences; decreased pairs sit after the
      candidate in the sort under the same name, so they can never
      steal its tie-break), and every pair it SPAWNS — (p, xy) or
      (xy, q) — is bounded by the old count of a DIFFERENT pair
      sharing x or y, which (pairwise disjointness) is unadmitted and
      so sits later in the sort with count <= the candidate's.
      Requiring STRICT dominance (no equal-count pair shares a symbol
      with the admitted set) means nothing spawned can tie the
      candidate.
    * The one exception is a SELF-pair (x, x): its spawned pairs
      (xx, x) / (xx, xx) are bounded by its OWN count — but a run of
      L x's (L-1 pair occurrences) collapses to ceil(L/2) tokens with
      at most ceil(L/2)-1 <= (L-1)/2 spawned adjacencies, so the
      spawn count is <= floor(c/2); candidates must strictly dominate
      that cap.
    So the sequential argmax under the (count desc, a, b) tie-break
    picks exactly each admitted candidate at its turn."""
    picked = []
    blocked: set = set()
    spawn_cap = -1  # max possible count of a pair spawned by a self-merge
    tail = int(rows[-1]["pair_count"]) if rows else 0
    for i, r in enumerate(rows):
        if len(picked) >= max_batch:
            break
        a, b, cnt = r["a"], r["b"], int(r["pair_count"])
        if picked:
            if a in blocked or b in blocked or (a + b) in blocked:
                break
            # unseen pairs beyond the pulled window could tie cnt
            if not complete and cnt == tail:
                break
            if cnt <= spawn_cap:
                break
            hazard = False
            for p in rows[i + 1:]:
                if int(p["pair_count"]) != cnt:
                    break
                if p["a"] in blocked or p["b"] in blocked:
                    hazard = True
                    break
            if hazard:
                break
        picked.append((a, b, cnt))
        blocked |= {a, b, a + b}
        if a == b:
            spawn_cap = max(spawn_cap, cnt // 2)
    return picked


def bpe_train(df: DataFrame, text_col: str = "text",
              n_merges: int = 10, merge_batch: int = 16,
              batch_policy: str = "exact") -> DataFrame:
    """Learn ``n_merges`` BPE merges over the corpus; returns
    (rank, a, b, merged, pair_count) in merge order.

    Each ROUND: one pair-count shuffle over the (checkpointed)
    vocabulary + one bounded driver top-K pull + a provably
    sequential-equivalent batch of up to ``merge_batch`` merges
    (``_select_batch``) applied in ONE replace-chain rewrite.  Batching
    is what makes production vocabularies reachable: per-round cost is
    governed by the vocabulary, not the corpus, and a conflict-free
    stretch of the frequency table admits ``merge_batch`` merges for
    one round's price (30k merges stop meaning 30k corpus-metadata
    shuffles).  ``merge_batch=1`` degenerates to the classic
    one-merge-per-round loop.  The vocabulary is ``localCheckpoint``ed
    every round so plan depth stays flat (the iterative-op discipline
    of ``operators/graph.py``).  Stops early when no adjacent pair
    remains.  Iterative + driver-scalar per round, so this is a
    rows-only surface (no SQL oracle); exactness vs the sequential
    reference algorithm — for ANY ``merge_batch`` — is pinned by
    tests/test_bpe.py.

    ``batch_policy``: "exact" (default) admits the provably
    sequential-equivalent prefix; "relaxed" admits every disjoint
    candidate in the pulled window, skipping conflicts — tie-order may
    differ from sequential, but batches stay near ``merge_batch`` even
    on Zipfian heads, which is what makes 30k-merge production
    vocabularies train in ~n_merges/merge_batch rounds (see
    SCALING.md r8 measurements)."""
    if merge_batch < 1:
        raise ValueError(f"merge_batch must be >= 1, got {merge_batch}"
                         " (the loop would spin without ever admitting"
                         " a merge)")
    if batch_policy not in ("exact", "relaxed"):
        raise ValueError(f"batch_policy must be 'exact' or 'relaxed', "
                         f"got {batch_policy!r}")
    select = (_select_batch if batch_policy == "exact"
              else _select_batch_relaxed)
    from apache_beam_spark.plans.caching import release_local_checkpoint

    spark = df.sparkSession
    vocab = word_vocab(df, text_col).select(
        "cnt", _symbols(F.col("word")).alias("syms")).localCheckpoint()
    merges = []
    pull = max(64, 8 * merge_batch)
    while len(merges) < n_merges:
        top = (_pair_counts(vocab)
               .orderBy(F.col("pair_count").desc(), "a", "b")
               .limit(pull).collect())
        if not top:
            break
        picked = select(top, min(merge_batch, n_merges - len(merges)),
                        complete=len(top) < pull)
        for a, b, cnt in picked:
            merges.append((len(merges), a, b, a + b, cnt))
        prev = vocab
        vocab = vocab.select(
            "cnt",
            _apply_merges(F.col("syms"),
                          [(a, b) for a, b, _ in picked]).alias("syms")
        ).localCheckpoint()
        # the new (eager) checkpoint has materialized — the superseded
        # round's blocks are dead weight; release them so executor
        # storage stays flat across production round counts (ADVICE r8)
        release_local_checkpoint(prev)
    release_local_checkpoint(vocab)
    return spark.createDataFrame(
        merges, "rank int, a string, b string, merged string, pair_count long")
