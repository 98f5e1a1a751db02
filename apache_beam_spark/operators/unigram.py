"""Distributed unigram-LM (SentencePiece-style) tokenizer primitives.

The unigram language-model tokenizer (Kudo, ACL 2018) scores a
segmentation of a word by the sum of its pieces' costs (cost =
quantized -log p) and picks the minimum-cost split via Viterbi.
Together with ``operators/bpe.py`` this completes the two tokenizer
families real LLM pipelines train: merge-based (BPE) and
likelihood-based (unigram).

Distribution strategy (the spine shared with BPE, ``operators/bpe.py``
``word_vocab`` / ``_per_doc_sums``):

* the corpus collapses to the DISTINCT-WORD frame in one shuffle agg —
  the Viterbi DP then runs once per distinct word, not once per
  occurrence;
* INTEGER objective: ``obj(piece) = cost * _SCALE + 1`` — the ``+1``
  per token makes "fewest tokens" the tie-break inside one number, so
  min-cost is single-valued and the whole operator is bit-identical in
  DuckDB (a recursive CTE carrying the same bests array), i.e.
  VALUE-ORACLE-ABLE, unlike float log-prob Viterbi;
* the DP (``best[j] = min over admissible pieces ending at j of
  best[j - len] + obj(piece)``, all int64) has two pinned-equal
  implementations for ``unigram_segment``: a pure-Column ``aggregate``
  fold with the piece table as a ``create_map`` plan literal
  (``_bests``; faster at demo vocabularies) and, above
  ``_MAX_LITERAL_PIECES`` pieces, a broadcast dict + vectorized
  mapInPandas (``_per_word_bc``; plan size constant in vocabulary —
  SentencePiece vocabularies are 32k-1M pieces — oracled as
  ``unigram_token_counts_bc``);
* the segmentation WALK (needed for piece usage counts and training)
  backtracks the bests array with a pinned tie-break (shortest
  admissible piece wins); it runs only in the broadcast mapInPandas
  stage, whatever the vocabulary size.

``unigram_train`` supports both EM flavors: ``em="hard"`` (Viterbi-EM:
E-step = segment the distinct-word vocabulary under current integer
costs and accumulate corpus-weighted piece counts — exact int64 sums,
deterministic) and ``em="full"`` (SentencePiece's actual E-step:
forward-backward EXPECTED counts over each word's segmentation
lattice, quantized to int64 per (word, piece) before the distributed
sum so determinism survives).  M-step (both) = requantize costs from
counts on the driver (the piece table is vocab_size-bounded, the
k-means-centroid precedent) and prune unused / lowest-count pieces.
Exactness vs sequential references — and the full-EM lattice vs
brute-force segmentation enumeration — is pinned in
tests/test_unigram.py.

Reference anchor: the reference repo has no tokenizer-training
operator; this is training-data-pipeline surface (SURVEY §8 extras)
built on its Combine-per-key shapes (sdks/java/core/.../Combine.java).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, LongType, StringType, StructField,
                               StructType)

from apache_beam_spark.operators.bpe import _per_doc_sums, word_vocab

#: objective scale: obj(piece) = cost * _SCALE + 1.  Token counts per
#: word stay below _SCALE as long as words are shorter than _SCALE
#: characters — guarded by the assert below, so the packed objective
#: can never silently corrupt.
_SCALE = 8192
#: hard word-length cap (chars).  DP cost is O(len * max_piece_len)
#: per distinct word; a "word" longer than this is corpus noise that
#: belongs to a quality filter, and silently segmenting it would also
#: overflow the token-count field — fail loudly instead.
_MAX_WORD_LEN = 4096
#: sentinel for "no admissible piece ends here"
_BIG = 1 << 40

#: the ``create_map`` literal DP replicates the piece table into
#: every task's codegen — fine (and faster) at demo vocab sizes, a
#: megabyte-scale plan literal at SentencePiece's 32k-1M pieces.  Above
#: this many pieces ``unigram_segment`` switches to an ``sc.broadcast``
#: dict + vectorized mapInPandas Viterbi with the IDENTICAL packed-int64
#: objective (equality below the threshold is pinned by
#: tests/test_tokenizer_scale.py).
_MAX_LITERAL_PIECES = 512


def _viterbi_bests_py(word: str, pieces: dict, unk_cost: int,
                      max_len: int) -> list:
    """Python twin of ``_bests``: the packed-int64 DP (exact ints, so
    bit-identical to the Column fold).  Worker-side, broadcast mode."""
    if len(word) > _MAX_WORD_LEN:
        raise ValueError(f"unigram: word longer than {_MAX_WORD_LEN} "
                         f"chars: {word[:64]}...")
    unk_obj = unk_cost * _SCALE + 1
    bests = [0] * (len(word) + 1)
    for j in range(1, len(word) + 1):
        best = _BIG
        for k in range(1, min(max_len, j) + 1):
            c = pieces.get(word[j - k:j])
            if c is not None:
                v = bests[j - k] + c * _SCALE + 1
                if v < best:
                    best = v
        bests[j] = min(best, bests[j - 1] + unk_obj)
    return bests


def _viterbi_walk_py(word: str, bests: list, pieces: dict,
                     unk_cost: int, max_len: int) -> list:
    """Viterbi segmentation of ``word`` (pieces in order), backtracked
    from its bests array with the pinned tie-break: at each boundary
    the SHORTEST admissible piece attaining the optimum wins."""
    unk_obj = unk_cost * _SCALE + 1
    j, ps = len(word), []
    while j > 0:
        for k in range(1, min(max_len, j) + 1):
            piece = word[j - k:j]
            c = pieces.get(piece)
            obj = None if c is None else c * _SCALE + 1
            if k == 1:
                obj = unk_obj if obj is None else min(obj, unk_obj)
            if obj is not None and bests[j - k] + obj == bests[j]:
                ps.append(piece)
                j -= k
                break
        else:  # pragma: no cover - bests is self-consistent by construction
            raise AssertionError("unigram walk found no admissible step")
    ps.reverse()
    return ps


def _per_word_bc(words: DataFrame, pieces: dict, unk_cost: int,
                 with_pieces: bool) -> DataFrame:
    """Broadcast-mode scoring of a frame with a ``word`` column: the
    piece table rides as ONE ``sc.broadcast`` (shipped per executor, not
    per plan), the DP runs in a vectorized mapInPandas stage — plan size
    constant in vocabulary.  Returns the input columns plus ``best``
    (long) or, with ``with_pieces``, ``ps`` (array<string>, the walk)."""
    bc = words.sparkSession.sparkContext.broadcast(dict(pieces))
    max_len = max((len(p) for p in pieces), default=1)

    def score(batches):
        pc = bc.value
        for pdf in batches:
            bests = [_viterbi_bests_py(w, pc, unk_cost, max_len)
                     for w in pdf["word"]]
            if with_pieces:
                yield pdf.assign(ps=[
                    _viterbi_walk_py(w, b, pc, unk_cost, max_len)
                    for w, b in zip(pdf["word"], bests)])
            else:
                yield pdf.assign(best=[b[-1] for b in bests])

    out = (StructField("ps", ArrayType(StringType())) if with_pieces
           else StructField("best", LongType()))
    return words.mapInPandas(score, StructType(words.schema.fields + [out]))


def _piece_map(pieces: dict) -> Column:
    return F.create_map(*[F.lit(x) for kv in sorted(pieces.items())
                          for x in kv])


def _bests(word: Column, pieces: dict, unk_cost: int) -> Column:
    """int64 array ``bests`` with ``bests[j+1]`` = minimal packed
    objective (cost * _SCALE + n_tokens) of the length-``j`` prefix.
    Any single character is always admissible at ``unk_cost`` (the
    <unk> fallback), so every word is segmentable."""
    mp = _piece_map(pieces)
    max_len = max((len(p) for p in pieces), default=1)
    # loud length guard, evaluated ONCE (at the fold's bound) so the
    # when() doesn't replicate into every codegen step
    n = F.when(F.length(word) <= _MAX_WORD_LEN, F.length(word)) \
        .otherwise(F.raise_error(F.concat(
            F.lit(f"unigram: word longer than {_MAX_WORD_LEN} chars: "),
            F.substring(word, 1, 64), F.lit("..."))))

    def step(acc, j):
        def cand(k):
            piece = word.substr(j - k + F.lit(1), k)
            return (F.element_at(acc, j - k + 1)
                    + F.element_at(mp, piece).cast("long") * _SCALE + 1)

        cands = F.transform(
            F.sequence(F.lit(1), F.least(F.lit(max_len), j)), cand)
        best_piece = F.coalesce(F.array_min(cands),
                                F.lit(_BIG).cast("long"))
        unk = (F.element_at(acc, j)
               + F.lit(unk_cost * _SCALE + 1).cast("long"))
        return F.concat(acc, F.array(F.least(best_piece, unk)))

    return F.aggregate(F.sequence(F.lit(1), n),
                       F.array(F.lit(0).cast("long")), step)


def unigram_segment(df: DataFrame, pieces: dict, *, unk_cost: int = 14,
                    text_col: str = "text",
                    id_col: str = "doc_id",
                    max_literal_pieces: int = _MAX_LITERAL_PIECES
                    ) -> DataFrame:
    """Per-document Viterbi token count and total cost under a FIXED
    piece->cost table — the tokenizer-APPLICATION side (the pinned-
    artifact pattern of ``bpe_encode_token_counts``); fully
    value-oracled via a DuckDB recursive CTE carrying the same int64
    bests array (``unigram_token_counts`` in __spark_entry__).

    At or below ``max_literal_pieces`` the DP is the pure-Column int64
    fold with the piece table as a plan literal; above it (the
    production regime — SentencePiece vocabs are 32k-1M pieces) the
    identical packed objective runs in a broadcast-dict mapInPandas
    stage, keeping plan size constant in vocabulary.  The literal fold
    is the faster path at demo vocabularies, so both stay; the
    parameter lets the oracled ``unigram_token_counts_bc`` query run
    the broadcast path on the demo table.

    Returns (id_col, n_tokens, total_cost); documents with no word
    tokens report (0, 0)."""
    def score(dw: DataFrame) -> DataFrame:
        if len(pieces) > max_literal_pieces:
            return _per_word_bc(dw, pieces, unk_cost, with_pieces=False)
        return dw.withColumn("best", F.element_at(
            _bests(F.col("word"), pieces, unk_cost),
            F.length("word") + 1))

    return _per_doc_sums(
        df, score, text_col, id_col,
        n_tokens=F.col("best") % _SCALE,
        total_cost=(F.col("best") / _SCALE).cast("long"))


def _piece_usage(wv: DataFrame, pieces: dict, unk_cost: int) -> DataFrame:
    """(piece, cnt): corpus-weighted Viterbi piece usage over a
    (word, cnt) frame — the walk runs once per distinct word."""
    return (_per_word_bc(wv, pieces, unk_cost, with_pieces=True)
            .select(F.explode("ps").alias("piece"), "cnt")
            .groupBy("piece").agg(F.sum("cnt").alias("cnt")))


def unigram_piece_counts(df: DataFrame, pieces: dict, *,
                         unk_cost: int = 14,
                         text_col: str = "text") -> DataFrame:
    """Corpus-weighted piece usage counts under a FIXED piece table:
    how often each vocabulary piece (or an <unk> single char, reported
    as the literal character) appears in the Viterbi segmentation of
    the corpus.  The DP + walk run once per DISTINCT word in the
    broadcast-dict mapInPandas stage; counts are exact int64
    (occurrences * word frequency).  Returns (piece, cnt)."""
    return _piece_usage(word_vocab(df, text_col), pieces, unk_cost)


#: full-EM expected counts are fractional; they are quantized to int64
#: PER (word, piece) before the distributed sum, so the cross-word
#: aggregation is exact integer math (deterministic regardless of
#: partition/merge order) and a sequential reference reproduces every
#: round bit-identically.  2^20 keeps ~6 decimal digits of the
#: expectation.
_EM_SCALE = 1 << 20

#: _quantize_costs' log2 scale (cost = round(-log2 p * 8)); the EM
#: lattice converts costs back to log-probs with the same constant.
_COST_SCALE = 8


def _expected_counts_word(word: str, costs: dict, max_len: int) -> dict:
    """Forward-backward expected piece counts over the segmentation
    lattice of one word (Kudo ACL'18 full-EM E-step): piece P's edge
    (j-k, j) contributes 2^(alpha[j-k] + logp(P) + beta[j] - alpha[n]).
    Log2-space with ``np.logaddexp2`` folded in ascending-k order, so
    the float math is a fixed operation sequence — deterministic given
    (word, costs), which is what lets the per-word quantization pin
    the whole distributed E-step."""
    import numpy as np

    n = len(word)
    lp = {p: -c / _COST_SCALE for p, c in costs.items()}
    neg = -np.inf
    la = np.full(n + 1, neg)
    la[0] = 0.0
    for j in range(1, n + 1):
        acc = neg
        for k in range(1, min(max_len, j) + 1):
            c = lp.get(word[j - k:j])
            if c is not None and la[j - k] != neg:
                acc = np.logaddexp2(acc, la[j - k] + c)
        la[j] = acc
    lb = np.full(n + 1, neg)
    lb[n] = 0.0
    for j in range(n - 1, -1, -1):
        acc = neg
        for k in range(1, min(max_len, n - j) + 1):
            c = lp.get(word[j:j + k])
            if c is not None and lb[j + k] != neg:
                acc = np.logaddexp2(acc, lb[j + k] + c)
        lb[j] = acc
    total = la[n]
    out: dict = {}
    if total == neg:        # unsegmentable (never happens with singles)
        return out
    for j in range(n):
        for k in range(1, min(max_len, n - j) + 1):
            c = lp.get(word[j:j + k])
            if c is None or la[j] == neg or lb[j + k] == neg:
                continue
            e = float(2.0 ** (la[j] + c + lb[j + k] - total))
            piece = word[j:j + k]
            out[piece] = out.get(piece, 0.0) + e
    return out


def _em_counts(wv: DataFrame, costs: dict) -> DataFrame:
    """Distributed full-EM E-step over the (word, cnt) frame: per-word
    expected counts (broadcast piece table + mapInPandas, the
    production-vocabulary shape), quantized to int64 * _EM_SCALE per
    (word, piece) BEFORE the shuffle, summed exactly.  Returns
    (piece, c) with c in _EM_SCALE units."""
    bc = wv.sparkSession.sparkContext.broadcast(dict(costs))
    max_len = max((len(p) for p in costs), default=1)

    def gen(batches):
        import pandas as pd

        cs = bc.value
        for pdf in batches:
            pieces, cc = [], []
            for w, wc in zip(pdf["word"], pdf["cnt"]):
                for p, e in _expected_counts_word(w, cs, max_len).items():
                    pieces.append(p)
                    cc.append(int(round(e * int(wc) * _EM_SCALE)))
            yield pd.DataFrame({"piece": pieces, "c": cc})

    return (wv.mapInPandas(gen, "piece string, c long")
            .groupBy("piece").agg(F.sum("c").alias("c")))


def _quantize_costs(counts: dict, *, scale: int = 8) -> dict:
    """cost(piece) = max(1, round(log2(total / cnt) * scale)) — the
    integer quantization of -log2 p that keeps every downstream
    comparison exact.  Deterministic given integer counts."""
    total = sum(counts.values())
    return {p: max(1, round(math.log2(total / c) * scale))
            for p, c in counts.items() if c > 0}


def _substrings(word: Column, lo: int, hi: int) -> Column:
    """array<string> of ALL substrings of length lo..hi, with
    multiplicity — a Column HOF (positions x lengths), no Python."""
    starts = F.sequence(F.lit(1), F.length(word))
    return F.flatten(F.transform(starts, lambda i: F.filter(
        F.transform(F.sequence(F.lit(lo), F.lit(hi)),
                    lambda ln: F.when(i + ln - 1 <= F.length(word),
                                      word.substr(i, ln))),
        lambda x: x.isNotNull())))


def _seed_pieces(wv: DataFrame, *, max_piece_len: int,
                 seed_multi: int) -> dict:
    """Initial piece->count table, computed DISTRIBUTED over the
    (word, cnt) frame: every single character (mandatory — guarantees
    coverage; the alphabet-sized pull is bounded) plus the
    ``seed_multi`` most frequent substrings of length 2..max_piece_len,
    counted with multiplicity and weighted by word frequency.  Only
    the two bounded top/alphabet pulls reach the driver — the word
    frame never does.  Tie-break (cnt desc, piece) is pinned."""
    singles = (wv.select(F.explode(_substrings(F.col("word"), 1, 1))
                         .alias("piece"), "cnt")
               .groupBy("piece").agg(F.sum("cnt").alias("c")).collect())
    out = {r["piece"]: int(r["c"]) for r in singles}
    if max_piece_len >= 2:
        multi = (wv.select(
            F.explode(_substrings(F.col("word"), 2, max_piece_len))
            .alias("piece"), "cnt")
            .groupBy("piece").agg(F.sum("cnt").alias("c"))
            .orderBy(F.col("c").desc(), "piece")
            .limit(seed_multi).collect())
        out.update({r["piece"]: int(r["c"]) for r in multi})
    return out


def unigram_train(df: DataFrame, *, vocab_size: int = 48,
                  rounds: int = 3, max_piece_len: int = 4,
                  seed_multi: int = 64, em: str = "hard",
                  text_col: str = "text") -> DataFrame:
    """Learn a unigram piece table by EM and return it as
    (piece, cost, cnt) — cnt is the final-round corpus usage (for
    ``em="full"``, the rounded expected usage).

    ``em="hard"`` (Viterbi-EM): E-step segments the distinct-word
    frame under current integer costs via the broadcast-table Viterbi
    walk and accumulates exact int64 piece counts.  ``em="full"``
    (SentencePiece's actual E-step, Kudo ACL'18): forward-backward
    EXPECTED counts over every word's segmentation lattice — no
    hard-assignment local optimum — computed per word in a broadcast-
    table mapInPandas stage (fixed-order log2-space float math,
    deterministic per word) and quantized to int64 * 2^20 per
    (word, piece) before the shuffle, so the cross-word sum is
    order-independent exact integer math.  Reproducibility caveat
    (ADVICE r8): the per-word lattice floats themselves are only
    bit-stable when every executor runs the same numpy/libm builds —
    on a heterogeneous cluster a 1-ulp libm difference can flip the
    int64 rounding at an exact .5 boundary; pin identical binaries
    across executors for bit-for-bit round reproducibility.

    M-step (both modes): the driver requantizes costs from the
    vocab_size-bounded count table and prunes — unused multi-char
    pieces drop, then the lowest-count multi-char pieces drop until
    ``vocab_size`` remains (single characters are never pruned:
    coverage).  All driver pulls are piece-table-sized, never
    corpus-sized.  Iterative + driver-scalar per round, so this is a
    test-pinned surface (no SQL oracle): tests/test_unigram.py pins
    every round of both modes against sequential references, and the
    full-EM lattice against brute-force segmentation enumeration."""
    if max_piece_len < 1:
        raise ValueError(f"max_piece_len must be >= 1, got {max_piece_len}")
    if em not in ("hard", "full"):
        raise ValueError(f"em must be 'hard' or 'full', got {em!r}")
    spark = df.sparkSession
    wv = word_vocab(df, text_col).localCheckpoint()
    seed_counts = _seed_pieces(wv, max_piece_len=max_piece_len,
                               seed_multi=seed_multi)
    singles = {p for p in seed_counts if len(p) == 1}
    costs = _quantize_costs(seed_counts)
    counts: dict = dict(seed_counts)
    # unit of the per-round counts: raw occurrences for hard EM,
    # _EM_SCALE-ths of an expected occurrence for full EM (ratios are
    # unit-free, so _quantize_costs needs no change)
    unit = 1 if em == "hard" else _EM_SCALE
    # the <unk> fallback never fires during training: every single
    # char of the corpus is in the seed table and never pruned.  Keep
    # it admissible-but-dominated so the DP and walk stay one code path.
    unk = max(costs.values()) + 1
    for _ in range(max(1, rounds)):
        if em == "hard":
            rows = _piece_usage(wv, costs, unk).collect()
            counts = {r["piece"]: int(r["cnt"]) for r in rows}
        else:
            rows = _em_counts(wv, costs).collect()
            counts = {r["piece"]: int(r["c"]) for r in rows}
        for ch in singles:  # coverage: singles survive at count >= 0
            counts.setdefault(ch, 0)
        multi = sorted(((p, c) for p, c in counts.items()
                        if len(p) > 1 and c > 0),
                       key=lambda kv: (-kv[1], kv[0]))
        keep_multi = multi[:max(0, vocab_size - len(singles))]
        kept = {p: max(c, 1) for p, c in
                list(((s, counts.get(s, 0)) for s in singles))
                + keep_multi}
        costs = _quantize_costs({p: max(c, 1) for p, c in kept.items()})
        unk = max(costs.values()) + 1
        counts = {p: counts.get(p, 0) for p in costs}
    return spark.createDataFrame(
        sorted(((p, costs[p],
                 (counts.get(p, 0) + unit // 2) // unit)
                for p in costs),
               key=lambda t: (t[1], t[0])),
        "piece string, cost int, cnt long")
