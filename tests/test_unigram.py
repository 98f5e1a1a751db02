"""Distributed unigram-LM tokenizer (operators/unigram.py) vs a
sequential reference implementation: the integer-packed Viterbi DP,
the pinned walk tie-break, piece-count accounting, and the hard-EM
trainer round by round."""

from __future__ import annotations

import math
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from apache_beam_spark.operators.unigram import (
    _MAX_WORD_LEN, _SCALE, unigram_piece_counts, unigram_segment,
    unigram_train)

CORPUS = [
    "the scan table batch window value customer",
    "value value table scan scan scan the a",
    "window window batch merge merge order order order",
    "customer order value the the the scan batch",
    "a a a batch value window merge customer table",
]
PIECES = {"ta": 12, "ble": 15, "scan": 18, "row": 14, "er": 9, "in": 9,
          "st": 10, "ue": 11, "val": 16, "cust": 20, "win": 14,
          "dow": 14, "a": 10, "b": 10, "c": 10, "d": 10, "e": 10}
UNK = 14


# ----------------------------------------------------------------- reference
def _ref_obj(pieces, unk, piece):
    c = pieces.get(piece)
    if len(piece) == 1:
        c = min(c, unk) if c is not None else unk
    if c is None:
        return None
    return c * _SCALE + 1


def _ref_bests(word, pieces, unk):
    max_len = max(len(p) for p in pieces)
    bests = [0]
    for j in range(1, len(word) + 1):
        cands = []
        for k in range(1, min(max_len, j) + 1):
            o = _ref_obj(pieces, unk, word[j - k:j])
            if o is not None:
                cands.append(bests[j - k] + o)
        bests.append(min(cands))
    return bests


def _ref_walk(word, pieces, unk):
    """Backtrack with the pinned tie-break: shortest piece wins."""
    bests = _ref_bests(word, pieces, unk)
    max_len = max(len(p) for p in pieces)
    j, out = len(word), []
    while j > 0:
        for k in range(1, min(max_len, j) + 1):
            o = _ref_obj(pieces, unk, word[j - k:j])
            if o is not None and bests[j - k] + o == bests[j]:
                out.append(word[j - k:j])
                j -= k
                break
    return list(reversed(out))


def _ref_word_vocab(texts):
    words = Counter()
    for t in texts:
        words.update(re.findall(r"[\w']+", t.lower()))
    return dict(words)


def _ref_segment(texts, pieces, unk):
    """doc_id -> (n_tokens, total_cost) with the same packed ints."""
    out = {}
    for i, t in enumerate(texts):
        nt = tc = 0
        for w in re.findall(r"[\w']+", t.lower()):
            best = _ref_bests(w, pieces, unk)[len(w)]
            nt += best % _SCALE
            tc += best // _SCALE
        out[i] = (nt, tc)
    return out


def _ref_piece_counts(texts, pieces, unk):
    counts = Counter()
    for w, c in _ref_word_vocab(texts).items():
        for p in _ref_walk(w, pieces, unk):
            counts[p] += c
    return dict(counts)


def _ref_quantize(counts, scale=8):
    total = sum(counts.values())
    return {p: max(1, round(math.log2(total / c) * scale))
            for p, c in counts.items() if c > 0}


def _ref_train(texts, vocab_size, rounds, max_piece_len, seed_multi):
    wv = _ref_word_vocab(texts)
    singles, multi = Counter(), Counter()
    for w, c in wv.items():
        for i in range(len(w)):
            singles[w[i]] += c
            for ln in range(2, max_piece_len + 1):
                if i + ln > len(w):
                    break
                multi[w[i:i + ln]] += c
    top = sorted(multi.items(), key=lambda kv: (-kv[1], kv[0]))[:seed_multi]
    seed = {**dict(singles), **dict(top)}
    single_set = set(singles)
    costs = _ref_quantize(seed)
    counts = dict(seed)
    unk = max(costs.values()) + 1
    for _ in range(max(1, rounds)):
        counts = Counter()
        for w, c in wv.items():
            for p in _ref_walk(w, costs, unk):
                counts[p] += c
        counts = dict(counts)
        for ch in single_set:
            counts.setdefault(ch, 0)
        keep_multi = sorted(
            ((p, c) for p, c in counts.items() if len(p) > 1 and c > 0),
            key=lambda kv: (-kv[1], kv[0]))[:max(0, vocab_size
                                                 - len(single_set))]
        kept = {p: max(c, 1) for p, c in
                [(s, counts.get(s, 0)) for s in single_set] + keep_multi}
        costs = _ref_quantize(kept)
        unk = max(costs.values()) + 1
        counts = {p: counts.get(p, 0) for p in costs}
    return sorted(((p, costs[p], counts.get(p, 0)) for p in costs),
                  key=lambda t: (t[1], t[0]))


def _docs(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")


# --------------------------------------------------------------------- tests
def test_segment_matches_reference(spark):
    got = {r["doc_id"]: (r["n_tokens"], r["total_cost"])
           for r in unigram_segment(_docs(spark, CORPUS), PIECES,
                                    unk_cost=UNK).collect()}
    assert got == _ref_segment(CORPUS, PIECES, UNK)


def test_segment_hand_example(spark):
    # "abb": ab+b = (3+2)*S+2 beats a+b+b = (2+2+2)*S+3
    pieces = {"ab": 3, "a": 2, "b": 2}
    df = _docs(spark, ["abb"])
    r = unigram_segment(df, pieces, unk_cost=5).collect()[0]
    assert (r["n_tokens"], r["total_cost"]) == (2, 5)


def test_segment_empty_doc_reports_zero(spark):
    df = _docs(spark, ["...", ""])
    got = {r["doc_id"]: (r["n_tokens"], r["total_cost"])
           for r in unigram_segment(df, PIECES, unk_cost=UNK).collect()}
    assert got == {0: (0, 0), 1: (0, 0)}


def test_unk_fallback_beats_missing_single(spark):
    # 'z' has no piece: consumed at unk_cost; known single 'e' keeps
    # its (cheaper) table cost
    df = _docs(spark, ["ze"])
    r = unigram_segment(df, {"e": 10}, unk_cost=14).collect()[0]
    assert (r["n_tokens"], r["total_cost"]) == (2, 24)
    # unk also CAPS an overpriced known single char
    r = unigram_segment(df, {"z": 99, "e": 10}, unk_cost=14).collect()[0]
    assert (r["n_tokens"], r["total_cost"]) == (2, 24)


def test_walk_tiebreak_prefers_shortest_final_piece(spark):
    # "aba": ab+a and a+ba both pack to 3*S+2; the pinned rule
    # (smallest k at each boundary, walking from the end) picks
    # ['ab', 'a'].
    pieces = {"ab": 2, "ba": 2, "a": 1, "b": 3}
    got = {r["piece"]: r["cnt"]
           for r in unigram_piece_counts(_docs(spark, ["aba"]), pieces,
                                         unk_cost=9).collect()}
    assert got == {"ab": 1, "a": 1}
    assert _ref_piece_counts(["aba"], pieces, 9) == got


def test_piece_counts_match_reference(spark):
    got = {r["piece"]: r["cnt"]
           for r in unigram_piece_counts(_docs(spark, CORPUS), PIECES,
                                         unk_cost=UNK).collect()}
    assert got == _ref_piece_counts(CORPUS, PIECES, UNK)


def test_piece_counts_sum_equals_token_count(spark):
    df = _docs(spark, CORPUS)
    n_pieces = (unigram_piece_counts(df, PIECES, unk_cost=UNK)
                .agg(F.sum("cnt")).collect()[0][0])
    n_tokens = (unigram_segment(df, PIECES, unk_cost=UNK)
                .agg(F.sum("n_tokens")).collect()[0][0])
    assert n_pieces == n_tokens


def test_oversized_word_fails_loudly(spark):
    df = _docs(spark, ["x" * (_MAX_WORD_LEN + 1)])
    with pytest.raises(Exception, match="unigram"):
        unigram_segment(df, PIECES, unk_cost=UNK).collect()


def test_train_matches_sequential_reference(spark):
    got = [tuple(r) for r in unigram_train(
        _docs(spark, CORPUS), vocab_size=30, rounds=3, max_piece_len=4,
        seed_multi=24).collect()]
    assert got == _ref_train(CORPUS, 30, 3, 4, 24)


def test_train_single_round_and_tight_vocab(spark):
    got = [tuple(r) for r in unigram_train(
        _docs(spark, CORPUS), vocab_size=5, rounds=1, max_piece_len=3,
        seed_multi=8).collect()]
    ref = _ref_train(CORPUS, 5, 1, 3, 8)
    assert got == ref
    # coverage: every single character of the corpus survives pruning
    singles = {p for p, _, _ in ref if len(p) == 1}
    corpus_chars = set("".join(re.findall(r"[\w']+",
                                          " ".join(CORPUS).lower())))
    assert corpus_chars <= singles


def test_piece_counts_walk_stays_above_word_agg(spark):
    """The Viterbi walk must run once per DISTINCT word: its python
    stage reads the word aggregation's output, never the per-token
    explode below it (a walk evaluated once per corpus token — what a
    Catalyst-inferred filter pushed below the word agg once did — was
    ~100x wall at sf0.1)."""
    from apache_beam_spark.plans.inspect import _subtrees

    plan = unigram_piece_counts(
        _docs(spark, CORPUS), PIECES,
        unk_cost=UNK)._jdf.queryExecution().optimizedPlan()
    walks = [n for n in _subtrees(plan) if n.nodeName() == "MapInPandas"]
    assert len(walks) == 1
    assert any(n.nodeName() == "Aggregate"
               for n in _subtrees(walks[0].child()))


def test_train_learns_frequent_whole_words(spark):
    rows = unigram_train(_docs(spark, CORPUS), vocab_size=40, rounds=3,
                         max_piece_len=4, seed_multi=32).collect()
    pieces = {r["piece"] for r in rows}
    # 'scan' appears 5x and fits max_piece_len — the trainer keeps it
    assert "scan" in pieces


# --------------------------------------------------------------- full EM

def _ref_expected_counts_bruteforce(word, costs):
    """Exact expected piece counts by ENUMERATING every segmentation
    of the word into table pieces (independent of the operator's
    forward-backward lattice — the strongest possible pin; corpus
    words are <= 8 chars so <= 2^7 segmentations)."""
    max_len = max(len(p) for p in costs)
    lp = {p: -c / 8 for p, c in costs.items()}
    segs = []

    def rec(j, cur):
        if j == len(word):
            segs.append(list(cur))
            return
        for k in range(1, min(max_len, len(word) - j) + 1):
            p = word[j:j + k]
            if p in costs:
                cur.append(p)
                rec(j + k, cur)
                cur.pop()

    rec(0, [])
    weights = [2.0 ** sum(lp[p] for p in s) for s in segs]
    tot = sum(weights)
    out = {}
    for s, w in zip(segs, weights):
        for p in s:
            out[p] = out.get(p, 0.0) + w / tot
    return out


def test_em_lattice_matches_bruteforce_enumeration():
    from apache_beam_spark.operators.unigram import _expected_counts_word

    costs = {"t": 8, "h": 9, "e": 7, "th": 11, "he": 12, "the": 13,
             "a": 8, "b": 9, "ab": 10, "s": 8, "c": 9, "n": 8,
             "sc": 11, "an": 9, "scan": 15}
    max_len = max(len(p) for p in costs)
    for word in ["the", "thethe", "aab", "scan", "scanscan", "ban",
                 "t", "heath"]:
        got = _expected_counts_word(word, costs, max_len)
        want = _ref_expected_counts_bruteforce(word, costs)
        assert set(got) == set(want), word
        for p in want:
            assert got[p] == pytest.approx(want[p], abs=1e-9), (word, p)
        # expectations are per-occurrence: total equals the expected
        # token count, which lies within [min, max] segmentation length
        total = sum(got.values())
        assert 1.0 - 1e-9 <= total <= len(word) + 1e-9


def _ref_train_full_em(texts, vocab_size, rounds, max_piece_len,
                       seed_multi):
    """Sequential mirror of the full-EM trainer: same seed, same
    per-word expected counts (the lattice itself is pinned against
    brute-force enumeration above), same int64 * 2^20 quantization
    BEFORE summation, same prune/requantize M-step."""
    from apache_beam_spark.operators.unigram import (
        _EM_SCALE, _expected_counts_word)

    wv = _ref_word_vocab(texts)
    singles, multi = Counter(), Counter()
    for w, c in wv.items():
        for i in range(len(w)):
            singles[w[i]] += c
            for ln in range(2, max_piece_len + 1):
                if i + ln > len(w):
                    break
                multi[w[i:i + ln]] += c
    top = sorted(multi.items(), key=lambda kv: (-kv[1], kv[0]))[:seed_multi]
    seed = {**dict(singles), **dict(top)}
    single_set = set(singles)
    costs = _ref_quantize(seed)
    counts = dict(seed)
    for _ in range(max(1, rounds)):
        ml = max(len(p) for p in costs)
        counts = Counter()
        for w, c in wv.items():
            for p, e in _expected_counts_word(w, costs, ml).items():
                counts[p] += int(round(e * c * _EM_SCALE))
        counts = dict(counts)
        for ch in single_set:
            counts.setdefault(ch, 0)
        keep_multi = sorted(
            ((p, c) for p, c in counts.items() if len(p) > 1 and c > 0),
            key=lambda kv: (-kv[1], kv[0]))[:max(0, vocab_size
                                                 - len(single_set))]
        kept = {p: max(c, 1) for p, c in
                [(s, counts.get(s, 0)) for s in single_set] + keep_multi}
        costs = _ref_quantize(kept)
        counts = {p: counts.get(p, 0) for p in costs}
    return sorted(((p, costs[p],
                    (counts.get(p, 0) + _EM_SCALE // 2) // _EM_SCALE)
                   for p in costs),
                  key=lambda t: (t[1], t[0]))


def test_full_em_train_matches_sequential_reference(spark):
    got = [(r["piece"], r["cost"], r["cnt"]) for r in
           unigram_train(_docs(spark, CORPUS), vocab_size=24, rounds=3,
                         max_piece_len=4, seed_multi=32, em="full")
           .orderBy("cost", "piece").collect()]
    want = _ref_train_full_em(CORPUS, 24, 3, 4, 32)
    assert got == want


def test_full_em_differs_from_hard_em_where_lattice_is_ambiguous(spark):
    """Full EM credits EVERY segmentation, hard EM only the Viterbi
    one — on an ambiguity-heavy corpus the learned tables diverge
    (if they never did, the full-EM path would be dead code)."""
    texts = ["abab abab ab aba bab", "ab ab abab aba", "bab aba abab"]
    hard = {(r["piece"], r["cost"]) for r in
            unigram_train(_docs(spark, texts), vocab_size=6, rounds=3,
                          max_piece_len=3, seed_multi=8).collect()}
    full = {(r["piece"], r["cost"]) for r in
            unigram_train(_docs(spark, texts), vocab_size=6, rounds=3,
                          max_piece_len=3, seed_multi=8,
                          em="full").collect()}
    assert hard != full


def test_full_em_bad_mode_raises(spark):
    with pytest.raises(ValueError, match="em must be"):
        unigram_train(_docs(spark, CORPUS), em="soft")
