"""Production-vocabulary tokenizer encode paths (VERDICT r7 item 2).

Both tokenizers' demo-oracled encode plans are vocabulary-dimension
bounded: the BPE replace chain is plan-DEPTH-linear in the merge list,
the unigram ``create_map`` literal is plan-SIZE-linear in the piece
table.  The production paths (broadcast merge-rank dict / broadcast
piece table + vectorized mapInPandas) must (a) agree exactly with the
Column paths on chain-eligible vocabularies — so the oracled queries
keep their bit-identical story — and (b) keep plan size CONSTANT in
vocabulary so a 30k-entry production vocabulary compiles and runs.
"""

from __future__ import annotations

import itertools
import string

import pytest

from apache_beam_spark.operators.bpe import (
    bpe_encode_rank,
    bpe_encode_token_counts,
)
from apache_beam_spark.operators.unigram import unigram_segment
from apache_beam_spark.plans import plan_string
from apache_beam_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"

DEMO_MERGES = [("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
               ("e", "r"), ("o", "n"), ("r", "e"), ("a", "t")]
DEMO_PIECES = {
    "ta": 12, "ble": 15, "scan": 18, "row": 14, "er": 9, "in": 9,
    "st": 10, "ue": 11, "val": 16, "cust": 20, "win": 14, "dow": 14,
    "join": 17, "or": 9, "der": 13,
    "a": 5, "b": 6, "c": 6, "d": 6, "e": 4, "f": 14,
}


def _synthetic_merges(n: int) -> list:
    """A structurally-valid n-entry merge list over a-z: every pair of
    singles, then (pair, single) and (single, pair) extensions."""
    ls = string.ascii_lowercase
    out = [(a, b) for a, b in itertools.product(ls, ls)]
    out += [(a + b, c) for (a, b), c in
            itertools.product(itertools.product(ls, ls), ls)]
    out += [(a, b + c) for a, (b, c) in
            itertools.product(ls, itertools.product(ls, ls))]
    assert len(out) >= n
    return out[:n]


def _synthetic_pieces(n: int) -> dict:
    """An n-entry piece->cost table: all singles (coverage) + 2- and
    3-char combos with deterministic small costs."""
    ls = string.ascii_lowercase
    pieces = {c: 5 for c in ls}
    for a, b in itertools.product(ls, ls):
        pieces[a + b] = 7 + (ord(a) + ord(b)) % 5
    for a, b, c in itertools.product(ls, ls, ls):
        if len(pieces) >= n:
            break
        pieces[a + b + c] = 9 + (ord(a) + ord(b) + ord(c)) % 7
    return pieces


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ------------------------------------------------------------------ BPE

def test_bpe_rank_equals_replace_chain_on_demo_vocab(spark):
    """The broadcast merge-rank encoder and the Column replace chain
    agree row-for-row on the demo vocabulary + real corpus — the pin
    that lets bpe_token_counts keep its bit-identical oracle while the
    production path exists."""
    docs = load_table(spark, "documents", SF)
    chain = bpe_encode_token_counts(docs, DEMO_MERGES)
    rank = bpe_encode_rank(docs, DEMO_MERGES)
    assert _rows(chain) == _rows(rank)


def test_bpe_rank_handles_back_to_back_and_rank_order(spark):
    """Hand-checked micro-cases: self-merges collapse runs greedily
    (aaa -> aa,a) and a lower-rank merge wins over a later one."""
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "abab"), (3, "banana"), (4, "")],
        "doc_id long, text string")
    merges = [("a", "a"), ("a", "b"), ("a", "n")]
    got = {r["doc_id"]: r["n_tokens"]
           for r in bpe_encode_rank(df, merges).collect()}
    # aaa -> [aa, a]; abab -> [ab, ab]; banana -> b,an,an,a -> 4
    assert got == {1: 2, 2: 2, 3: 4, 4: 0}
    chain = {r["doc_id"]: r["n_tokens"]
             for r in bpe_encode_token_counts(df, merges).collect()}
    assert chain == got


def test_bpe_encode_dispatches_above_chain_ceiling(spark):
    """bpe_encode_token_counts must route vocabularies past the chain
    ceiling to the rank encoder: plan size constant in vocabulary (no
    per-merge replace nodes), and the 30k-merge plan is no bigger than
    the 300-merge plan."""
    docs = load_table(spark, "documents", SF)
    p_chain = plan_string(bpe_encode_token_counts(docs, DEMO_MERGES))
    assert "replace" in p_chain.lower()
    p300 = plan_string(
        bpe_encode_token_counts(docs, _synthetic_merges(300)))
    p30k = plan_string(
        bpe_encode_token_counts(docs, _synthetic_merges(30_000)))
    assert "replace" not in p30k.lower()
    # plan size must not grow with vocabulary (100x merges, same plan)
    assert abs(len(p30k) - len(p300)) < 0.1 * len(p300)


def test_bpe_rank_30k_vocab_encodes_real_corpus(spark):
    """A production-size (30k-merge) vocabulary encodes the documents
    table end-to-end — the regime where the replace chain would blow
    JVM codegen limits — with sane token counts (>= 1 token per word,
    <= chars per word) and zero-token empty docs."""
    docs = load_table(spark, "documents", SF)
    merges = _synthetic_merges(30_000)
    out = bpe_encode_rank(docs, merges)
    rows = out.collect()
    assert len(rows) == docs.count()
    n_tok = {r["doc_id"]: r["n_tokens"] for r in rows}
    chars = {r["doc_id"]: len(r["text"] or "")
             for r in docs.select("doc_id", "text").collect()}
    assert all(0 <= n_tok[d] <= max(1, chars[d]) for d in n_tok)
    assert sum(n_tok.values()) > 0


# -------------------------------------------------------------- unigram

def test_unigram_broadcast_equals_literal_segment(spark):
    """Forcing broadcast mode (max_literal_pieces=0) reproduces the
    literal create_map path bit-for-bit on the demo piece table — the
    packed int64 objective is the same math in both engines."""
    docs = load_table(spark, "documents", SF)
    lit = unigram_segment(docs, DEMO_PIECES, unk_cost=14)
    bc = unigram_segment(docs, DEMO_PIECES, unk_cost=14,
                         max_literal_pieces=0)
    assert _rows(lit) == _rows(bc)


def test_unigram_large_vocab_plan_constant_and_runs(spark):
    """A 30k-piece table must not ride the plan: broadcast mode keeps
    plan size constant in vocabulary (vs the literal path, whose plan
    embeds every piece) and segments the corpus end-to-end."""
    docs = load_table(spark, "documents", SF)
    p1k = plan_string(unigram_segment(docs, _synthetic_pieces(1000),
                                      unk_cost=14))
    p30k = plan_string(unigram_segment(docs, _synthetic_pieces(30_000),
                                       unk_cost=14))
    assert abs(len(p30k) - len(p1k)) < 0.1 * len(p1k)

    out = unigram_segment(docs, _synthetic_pieces(30_000), unk_cost=14)
    rows = out.collect()
    assert len(rows) == docs.count()
    assert all(r["n_tokens"] >= 0 and r["total_cost"] >= 0 for r in rows)
    assert sum(r["n_tokens"] for r in rows) > 0


def test_unigram_broadcast_word_length_guard():
    """The Python DP keeps the Column path's loud length guard."""
    from apache_beam_spark.operators.unigram import _viterbi_bests_py

    with pytest.raises(ValueError, match="longer than"):
        _viterbi_bests_py("x" * 5000, {"x": 1}, 14, 1)
