"""Distributed WordPiece tokenizer primitives — the third tokenizer
family next to BPE (``operators/bpe.py``) and unigram-LM
(``operators/unigram.py``).

WordPiece (Schuster & Nakajima, ICASSP 2012; the BERT tokenizer)
ENCODES by greedy longest-match-first: from each word position take
the LONGEST vocabulary piece matching the remaining prefix
(word-internal pieces carry the ``##`` continuation marker); if any
position has no match the whole word becomes one ``[UNK]`` token —
the all-or-nothing rule HuggingFace tokenizers implement.  TRAINING
is merge-based like BPE but scores candidate pairs by LIKELIHOOD GAIN
``count(ab) / (count(a) * count(b))`` instead of raw frequency
(merging frequent-but-independent pairs is worthless; merging pairs
that co-occur beyond chance is what raises corpus likelihood).

Distribution strategy (the tokenizer spine shared with BPE,
``operators/bpe.py`` ``word_vocab`` / ``_per_doc_sums``):

* the corpus collapses to the DISTINCT-WORD frame in one shuffle agg;
  per-word encode/train work runs once per distinct word;
* the greedy encode is ONE Python walk (``_greedy_pieces_py``) against
  a broadcast vocabulary set in a vectorized mapInPandas stage — plan
  size constant in vocabulary (BERT vocabularies are 30k pieces).
  Token counts and the [UNK] flag both derive from its piece list;
* each training ROUND is one symbol-count + one pair-count partial
  agg over the vocabulary frame plus a bounded driver admission — the
  BPE loop with a ratio score.  ``batch_policy="exact"`` admits one
  merge per round (the ratio score has no disjoint-batch exactness
  theorem, unlike BPE's frequency score); ``batch_policy="relaxed"``
  admits up to ``merge_batch`` pairwise symbol-disjoint merges per
  round — each carries its exact round-start score under any
  sequential order of the batch — making production 30k-piece
  vocabularies ~n_merges/merge_batch rounds, mirror-pinned.

``wordpiece_token_counts`` and ``wordpiece_piece_counts`` are
value-oracled via DuckDB recursive CTEs replaying the same greedy
walk; the trainer is pinned
round-by-round against a sequential reference in
tests/test_wordpiece.py.

Reference anchor: the reference repo has no tokenizer operator; this
is training-data-pipeline surface (SURVEY §8 extras) on its
Combine-per-key shapes (sdks/java/core/.../Combine.java).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from apache_beam_spark.operators.bpe import _per_doc_sums, word_vocab

#: continuation marker for word-internal pieces (the BERT convention)
_CONT = "##"
#: the reported token for all-or-nothing failures
_UNK = "[UNK]"
#: hard word-length cap, mirroring operators/unigram.py
_MAX_WORD_LEN = 4096


def _greedy_pieces_py(word: str, vocab: set, max_span: int) -> list:
    """Greedy longest-match-first segmentation of one word (``##``
    markers included); a word with any unmatched position is the one
    piece ``[UNK]`` (HuggingFace all-or-nothing)."""
    if len(word) > _MAX_WORD_LEN:
        raise ValueError(f"wordpiece: word longer than {_MAX_WORD_LEN} "
                         f"chars: {word[:64]}...")
    pos, ps = 0, []
    while pos < len(word):
        k = None
        for span in range(min(max_span, len(word) - pos), 0, -1):
            piece = word[pos:pos + span] if pos == 0 \
                else _CONT + word[pos:pos + span]
            if piece in vocab:
                k = span
                break
        if k is None:
            return [_UNK]
        ps.append(word[pos:pos + k] if pos == 0
                  else _CONT + word[pos:pos + k])
        pos += k
    return ps


def _per_word_bc(words: DataFrame, vocab: set) -> DataFrame:
    """Greedy segmentation of a frame with a ``word`` column: the
    vocabulary rides as ONE ``sc.broadcast`` set into a vectorized
    mapInPandas stage.  Returns the input columns plus ``ps``
    (array<string>)."""
    bc = words.sparkSession.sparkContext.broadcast(vocab)
    # longest RAW span any piece can match (continuation pieces spell
    # '##' + span)
    max_span = max((len(p[2:]) if p.startswith(_CONT) else len(p)
                    for p in vocab), default=1)

    def walk(batches):
        vs = bc.value
        for pdf in batches:
            yield pdf.assign(ps=[_greedy_pieces_py(w, vs, max_span)
                                 for w in pdf["word"]])

    return words.mapInPandas(walk, StructType(
        words.schema.fields + [StructField("ps", ArrayType(StringType()))]))


def wordpiece_token_counts(df: DataFrame, vocab, *,
                           text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Per-document WordPiece token count and [UNK]-word count under a
    FIXED vocabulary (iterable of pieces; word-internal pieces spelled
    with the ``##`` prefix) — the tokenizer-APPLICATION side, value-
    oracled via a DuckDB recursive CTE replaying the same greedy
    longest-match walk (``wordpiece_token_counts`` in __spark_entry__).

    Each distinct word is segmented once by the broadcast walk; its
    token count is the number of pieces and it is an [UNK] word when
    the pieces are exactly ``[UNK]``.

    Returns (id_col, n_tokens, n_unk_words); empty docs report (0, 0).
    """
    vocab = set(vocab)   # materialize: generators must not exhaust

    def score(dw: DataFrame) -> DataFrame:
        ps = F.col("ps")
        return _per_word_bc(dw, vocab).select(
            "word", F.size(ps).alias("n_tokens"),
            (ps == F.array(F.lit(_UNK))).cast("int").alias("is_unk"))

    return _per_doc_sums(df, score, text_col, id_col,
                         n_tokens=F.col("n_tokens"),
                         n_unk_words=F.col("is_unk"))


def wordpiece_piece_counts(df: DataFrame, vocab, *,
                           text_col: str = "text") -> DataFrame:
    """Corpus-weighted piece USAGE counts under a FIXED vocabulary:
    how often each piece (or '[UNK]', once per unmatched word) appears
    in the greedy segmentation — the unigram_piece_counts analog, and
    the aggregate a WordPiece-vocabulary pruning pass consumes.  The
    walk runs once per DISTINCT word; counts are exact int64.
    Value-oracled (`wordpiece_piece_counts` in __spark_entry__) by
    extending the greedy recursive CTE with the piece list.  Returns
    (piece, cnt)."""
    return (_per_word_bc(word_vocab(df, text_col), set(vocab))
            .select(F.explode("ps").alias("piece"), "cnt")
            .groupBy("piece").agg(F.sum("cnt").alias("cnt")))


def _symbolize(word: Column) -> Column:
    """WordPiece initial symbols: first char bare, rest ##-prefixed."""
    chars = F.regexp_extract_all(word, F.lit("(.)"), 1)
    return F.transform(chars, lambda c, i: F.when(i == 0, c)
                       .otherwise(F.concat(F.lit(_CONT), c)))


def _merge_symbol(a: str, b: str) -> str:
    """Merged symbol string: b's continuation marker is interior and
    drops (a keeps its own prefix, bare or ##)."""
    return a + (b[len(_CONT):] if b.startswith(_CONT) else b)


def _apply_merges(syms: Column, merges) -> Column:
    """Apply a merge batch to the symbol ARRAY via operators/bpe.py's
    SHARED delimiter-anchored replace-chain (one codegen ``replace``
    per merge, left-to-right non-overlapping == the greedy sequential
    rule; ``\\x1f`` cannot occur inside a symbol — word chars are
    ``[\\w']`` and the only added characters are the ``##`` markers).
    Passes explicit merged spellings since WordPiece drops b's
    continuation marker.  Plan cost: flat, no per-element fold."""
    from apache_beam_spark.operators.bpe import _apply_merges as _chain

    return _chain(syms, [(a, b, _merge_symbol(a, b)) for a, b in merges])


def _select_batch_relaxed(rows, max_batch: int, complete: bool):
    """Batch admission for ``wordpiece_train`` — the
    ``operators/bpe.py::_select_batch_relaxed`` policy adapted to the
    likelihood-gain score.  ``rows`` are (a, b, pc, ca, cb) records
    from the float-ranked window pull; they are re-sorted here by the
    EXACT fraction ``pc / (ca*cb)`` descending (``Fraction`` compare —
    the float ranking only selects the window), ties by (a, b), then
    walked admitting every candidate pairwise symbol-DISJOINT from the
    admitted set — ``a``, ``b`` and ``_merge_symbol(a, b)`` all block —
    SKIPPING conflicts.

    Why admitted scores are exact under batch apply: a merge (a, b)
    only consumes occurrences of its own two symbols and only spawns
    adjacencies involving its merged symbol, so for any DISJOINT
    candidate both the pair count (numerator) and the two symbol
    counts (denominator) are frozen at their round-start values
    whichever sequential order the batch is applied in.  Skipped
    CONFLICTING candidates' scores are NOT frozen (their denominators
    shrink after a merge), so the learned merge sequence — and
    possibly the merge SET — may diverge from one-merge-per-round;
    relaxed mode is therefore pinned against a driver-side sequential
    mirror of the SAME policy (tests/test_wordpiece.py), not against
    the exact trainer.

    With ``max_batch == 1`` the admission degenerates to the exact
    window argmax (first candidate in exact-fraction order, admitted
    unconditionally) — the one-merge-per-round EXACT policy shares
    this code path.  The incomplete-window tail guard stops admission
    at the window's tail FLOAT score: unpulled pairs rank at or below
    that float, so they could outrank anything admitted there."""
    from fractions import Fraction

    def flt(r):  # the window-ranking float, recomputed bit-for-bit
        return int(r["pc"]) / (float(r["ca"]) * int(r["cb"]))

    ordered = sorted(rows, key=lambda r: (
        Fraction(-int(r["pc"]), int(r["ca"]) * int(r["cb"])),
        r["a"], r["b"]))
    tail = min((flt(r) for r in rows), default=0.0)
    picked = []
    blocked: set = set()
    for r in ordered:
        if len(picked) >= max_batch:
            break
        a, b = r["a"], r["b"]
        if picked and not complete and flt(r) == tail:
            break
        m = _merge_symbol(a, b)
        if a in blocked or b in blocked or m in blocked:
            continue
        picked.append((a, b, int(r["pc"]), int(r["ca"]) * int(r["cb"])))
        blocked |= {a, b, m}
    return picked


def wordpiece_train(df: DataFrame, *, n_merges: int = 10,
                    text_col: str = "text", merge_batch: int = 1,
                    batch_policy: str = "exact") -> DataFrame:
    """Learn ``n_merges`` WordPiece merges; returns
    (rank, a, b, merged, score_num, score_den) in merge order, where
    the selection score is ``score_num / score_den`` =
    ``pair_count / (count(a) * count(b))`` (the likelihood-gain rule —
    BPE's argmax with a normalized numerator).  Returning the exact
    integer numerator/denominator keeps the artifact float-free.

    Each ROUND: one symbol-count agg + one pair-count agg over the
    (checkpointed) vocabulary frame, the score computed DISTRIBUTED
    (two joins against the symbol-count frame — strategy left to AQE;
    the ranking float divides by a DOUBLE product so corpus-scale
    symbol counts cannot overflow int64), a BOUNDED driver pull of the
    top-K candidates by float score, admission decided within that
    window by exact cross-multiplied fraction comparison (python
    ints), and ONE replace-chain rewrite applying the admitted batch.
    The float ranking only selects the window; the one theoretical
    gap — more exact-DISTINCT rationals than the window holds
    collapsing to the same double at its boundary — cannot occur for
    the integer counts real corpora produce.  Superseded checkpoint
    blocks are released every round (ADVICE r8), so executor storage
    stays flat across the 30k rounds a production vocabulary implies.

    ``batch_policy="exact"`` (default) admits ONE merge per round —
    the sequential algorithm, pinned round-by-round against a
    sequential reference in tests/test_wordpiece.py.  Unlike BPE,
    exact mode cannot batch at all (``merge_batch`` must stay 1): the
    ratio score changes non-locally after every merge, so the BPE
    disjoint-batch exactness theorem does not port.
    ``batch_policy="relaxed"`` admits up to ``merge_batch`` pairwise
    symbol-disjoint candidates per round, skipping conflicts — each
    admitted merge carries the exact round-start score it would carry
    under any sequential order of the batch (see
    ``_select_batch_relaxed``), but the sequence vs skipped conflicts
    may reorder; pinned round-for-round against a driver-side mirror
    of the same policy.  This is the production-vocabulary mode: a 30k
    vocabulary trains in ~n_merges/merge_batch rounds, not 30k."""
    if merge_batch < 1:
        raise ValueError(f"merge_batch must be >= 1, got {merge_batch}"
                         " (the loop would spin without ever admitting"
                         " a merge)")
    if batch_policy not in ("exact", "relaxed"):
        raise ValueError(f"batch_policy must be 'exact' or 'relaxed', "
                         f"got {batch_policy!r}")
    if batch_policy == "exact" and merge_batch != 1:
        raise ValueError(
            "batch_policy='exact' admits one merge per round — the "
            "likelihood-gain score changes non-locally after every "
            "merge, so no disjoint batch is provably sequential-"
            "equivalent; use batch_policy='relaxed' for batched "
            f"training (got merge_batch={merge_batch})")
    from apache_beam_spark.plans.caching import release_local_checkpoint

    spark = df.sparkSession
    wv = (word_vocab(df, text_col)
          .select("cnt", _symbolize(F.col("word")).alias("syms"))
          .localCheckpoint())
    merges = []
    pull = max(256, 8 * merge_batch)
    while len(merges) < n_merges:
        syms_df = (wv.select(F.explode("syms").alias("s"), "cnt")
                   .groupBy("s").agg(F.sum("cnt").alias("c")))
        shifted = F.slice(F.col("syms"), 2,
                          F.greatest(F.size("syms") - 1, F.lit(0)))
        pairs = F.filter(
            F.zip_with(F.col("syms"), shifted,
                       lambda a, b: F.struct(a.alias("a"), b.alias("b"))),
            lambda p: p["b"].isNotNull())
        cand = (wv.select(F.explode(pairs).alias("p"), "cnt")
                .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
                .agg(F.sum("cnt").alias("pc"))
                .join(syms_df.select(F.col("s").alias("a"),
                                     F.col("c").alias("ca")), "a")
                .join(syms_df.select(F.col("s").alias("b"),
                                     F.col("c").alias("cb")), "b")
                .withColumn("score", F.col("pc")
                            / (F.col("ca").cast("double") * F.col("cb")))
                .orderBy(F.col("score").desc(), "a", "b")
                .limit(pull).collect())
        if not cand:
            break
        picked = _select_batch_relaxed(
            cand, min(merge_batch, n_merges - len(merges)),
            complete=len(cand) < pull)
        for a, b, pc, den in picked:
            merges.append((len(merges), a, b, _merge_symbol(a, b), pc, den))
        prev = wv
        wv = wv.select("cnt", _apply_merges(
            F.col("syms"),
            [(a, b) for a, b, _, _ in picked]).alias("syms")
        ).localCheckpoint()
        release_local_checkpoint(prev)
    release_local_checkpoint(wv)
    # score_den = ca*cb can exceed int64 at web-corpus symbol counts
    # (the same overflow the ranking float avoids); decimal(38,0)
    # holds the full int64 x int64 product range (max ~8.5e37)
    from decimal import Decimal

    return spark.createDataFrame(
        [(r, a, b, m, num, Decimal(den))
         for r, a, b, m, num, den in merges],
        "rank int, a string, b string, merged string, "
        "score_num long, score_den decimal(38,0)")
