"""Corpus-level clone-flood probe: the one input that chooses every
near-dup miner's plan.

Each miner has two plans with identical output:

* **direct** — mine the corpus as it is;
* **collapse** — map every exact-clone group to its min-id
  representative, mine at representative granularity, then re-expand
  (``dedup/buckets.expand_rep_pairs``).  It is the only plan that
  scales on exact-copy floods (SCALING.md round 6, 10x copies: direct
  19.6 s, collapse 6.9 s), while on clean corpora its extra window,
  semi-join and expansion stages cost more than they save.

No caller picks between them.  The text miners (``ngram_jaccard_pairs``,
``ngram_containment_pairs``, ``minhash_lsh_pairs``, ``simhash_dedup``)
call ``should_collapse``, which trips on either flood shape: a clone
group wider than ``MAX_CLONE_WIDTH``, or clones making up more than
``CLONE_FRACTION`` of the corpus.  ``embedding_near_dup_pairs``
collapses when its memoized ``(rows, distinct vectors)`` probe finds
any exact duplicate.

Why one text probe serves four miners: every miner's clone
equivalence is a COARSENING of token-stream identity —

    identical token stream  =>  identical shingle multiset
                            =>  identical (max_df-pruned) shingle set
                            =>  identical MinHash signature
                            =>  identical SimHash

so ONE probe over ``xxhash64(concat_ws(' ', word_tokens(text)))``
answers the flood question for all of them, straight off the source
table (one scan, one narrow hash agg — no shingling, no windows, no
miner-internal cache materialization), and the result is MEMOIZED per
logical plan (``DataFrame.semanticHash()``), so the first family
member pays ~one small job and the rest of the suite reads a dict.

Bias and safety: token-stream grouping REFINES each miner's own clone
grouping, so the probe can only under-count clones that arise from the
miner's extra normalization (e.g. two docs identical only after max_df
pruning).  Under-counting errs toward the DIRECT plan, which is always
correct — the probe chooses a physical strategy, never the answer
(both plans' outputs are asserted equal on a clone flood in
tests/test_ngram_modes.py) — and the over-cap bucket discipline
(``dedup/buckets.bucket_pairs``: chunk + triangle-split, never drop)
still bounds per-task width if an exotic flood slips past the probe.
The flood shape the collapse exists for — exact-copy boilerplate at
crawl scale (SCALING.md r5) — is token-stream-identical by
construction and always detected.

Memo scope: per process, keyed by the canonicalized plan hash.  A
plan-hash collision (or a file mutated in place under an unchanged
path) can only mis-route the plan CHOICE, not the answer.  Call
``clear_probe_memo()`` after rewriting a table a memoized plan reads.
"""

from __future__ import annotations

import threading
from typing import Dict, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apache_beam_spark.functions.text import word_tokens

_LOCK = threading.Lock()
_MEMO: Dict[Tuple[int, str], object] = {}

#: collapse when one token-stream clone group is wider than this
MAX_CLONE_WIDTH = 32
#: collapse when non-representative clones exceed this share of docs
CLONE_FRACTION = 0.05


def memoize_plan_stat(df: DataFrame, kind: str, compute):
    """Memoize an eager plan-build-time probe result, keyed by the
    frame's canonicalized plan hash + a probe kind tag.  ``compute``
    runs at most once per (plan, kind) per process; probes elsewhere
    (``similarity/knn.py``'s vector-dup probe) share this registry so
    ``clear_probe_memo`` drains everything."""
    key = (df.semanticHash(), kind)
    with _LOCK:
        if key in _MEMO:
            return _MEMO[key]
    val = compute()
    with _LOCK:
        _MEMO[key] = val
    return val


def corpus_clone_stats(df: DataFrame, text_col: str = "text") -> Tuple[int, float]:
    """(widest token-stream-identical group, fraction of docs that are
    non-representative members of one) — memoized per logical plan.

    The key hashes the token STREAM (``word_tokens``: lower-cased
    ``[\\p{L}\\p{N}_']+`` runs), not the raw bytes, so whitespace /
    punctuation / case variants of the same boilerplate — the common
    crawl flood — group together exactly as they do inside the miners.
    """

    def compute() -> Tuple[int, float]:
        from apache_beam_spark.plans.partitioning import parallelize_narrow

        # the tokenize+hash is the probe's CPU (a regex pass over every
        # byte of text); a single-row-group parquet source otherwise
        # scans as ONE task and runs it serial (optimization r13,
        # guide §2) — fan out like the miners it fronts for
        src = parallelize_narrow(df.select(F.col(text_col)), weight=8)
        row = (src.select(F.xxhash64(
                   F.concat_ws(" ", word_tokens(F.col(text_col)))).alias("__k__"))
               .groupBy("__k__").agg(F.count(F.lit(1)).alias("__c__"))
               .agg(F.max("__c__").alias("wmax"),
                    F.sum(F.col("__c__") - 1).alias("clones"),
                    F.sum("__c__").alias("docs")).first())
        if not row or not row["docs"]:
            return (1, 0.0)
        return (int(row["wmax"]), float(row["clones"]) / float(row["docs"]))

    return memoize_plan_stat(df.select(F.col(text_col)), "__clones__", compute)


def should_collapse(df: DataFrame, text_col: str) -> bool:
    """Trip on either flood shape: one degenerate group (width above
    ``MAX_CLONE_WIDTH``) or pervasive narrow duplication (clone share
    above ``CLONE_FRACTION``) — a corpus of 10x exact copies has width
    10 but pays ~w^2 candidate work on EVERY doc, which rep-collapse
    cuts ~8x (measured, SCALING.md round 5)."""
    wmax, frac = corpus_clone_stats(df, text_col)
    return wmax > MAX_CLONE_WIDTH or frac > CLONE_FRACTION


def clear_probe_memo() -> None:
    """Drop every memoized probe result (e.g. after overwriting a table
    a memoized plan reads, or between unrelated test corpora)."""
    with _LOCK:
        _MEMO.clear()
