"""Text-analysis column functions for training-data pipelines.

All pure Column expressions (JVM-side, codegen) — no Python in the hot
path.  Designed for the ``documents`` table (doc_id, text, lang, source,
n_chars) but applicable to any string column.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

#: token = word chars incl. unicode letters, or a single non-space symbol —
#: a BPE-ish pre-tokenization split (GPT-2 style word/punct boundary).
TOKEN_PATTERN = r"[\p{L}\p{N}_']+|[^\p{L}\p{N}\s]"

_STOPWORDS = [
    "the", "of", "and", "a", "to", "in", "is", "it", "that", "was", "for",
    "on", "as", "with", "at", "by", "an", "be", "this", "are", "or", "not",
]


def tokens(col: Column) -> Column:
    """Tokenize: whitespace+punctuation boundary regex extract-all."""
    return F.regexp_extract_all(col, F.lit(TOKEN_PATTERN), 0)


def word_tokens(col: Column) -> Column:
    """Lower-cased word tokens only (no punctuation)."""
    return F.regexp_extract_all(F.lower(col), F.lit(r"[\p{L}\p{N}_']+"), 0)


def bigrams(col: Column) -> Column:
    """Adjacent word-token pairs as struct(w1, w2) — linear in doc
    length (zip with the shifted array), unlike a per-doc self-join.
    Basis for collocation/PMI extraction in a training-data pipeline."""
    t = word_tokens(col)
    shifted = F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0)))
    pairs = F.zip_with(t, shifted,
                       lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    return F.filter(pairs, lambda p: p["w2"].isNotNull())


def stopword_ratio(col: Column) -> Column:
    w = word_tokens(col)
    sw = F.filter(w, lambda t: t.isin(_STOPWORDS))
    return F.when(F.size(w) > 0, F.size(sw) / F.size(w)).otherwise(F.lit(0.0))


def punct_ratio(col: Column) -> Column:
    n_punct = F.length(F.regexp_replace(col, r"[\p{L}\p{N}\s]", ""))
    return F.when(F.length(col) > 0, n_punct / F.length(col)).otherwise(F.lit(0.0))


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: penalize extreme punctuation,
    very short docs, and absent stopwords (gopher-rules style)."""
    len_ok = F.when(F.length(col) >= 50, F.lit(1.0)).otherwise(F.length(col) / 50.0)
    punct_ok = F.lit(1.0) - F.least(punct_ratio(col) * 2, F.lit(1.0))
    sw_ok = F.least(stopword_ratio(col) * 5, F.lit(1.0))
    return F.round((len_ok + punct_ok + sw_ok) / 3.0, 6)


#: language-ID: tiny trigram/stopword heuristic over a closed language set.
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "und", "die", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "de", "que", "los", "es"],
}


def lang_id(col: Column) -> Column:
    """N-gram/stopword-marker language guess over {en,de,fr,es}; 'und'
    (undetermined) when no marker hits.  Pure Column expr: per-language
    marker hit-count via array intersection, argmax via map_from +
    greatest."""
    w = word_tokens(col)
    scores = [
        (lang, F.size(F.array_intersect(w, F.array(*[F.lit(m) for m in markers]))))
        for lang, markers in _LANG_MARKERS.items()
    ]
    best = F.greatest(*[s for _, s in scores])
    result = F.lit("und")
    # reversed so earlier languages win ties (en first)
    for lang, s in reversed(scores):
        result = F.when((best > 0) & (s == best), F.lit(lang)).otherwise(result)
    return result


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of normalized text (lower, collapsed
    whitespace) — stable across engines for oracle checks."""
    normalized = F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")
    return F.md5(normalized)


def shingles(col: Column, k: int = 3) -> Column:
    """Word k-shingles (arrays of k consecutive words, space-joined).

    Built by zipping the token array with its own shifted copies —
    shifted slices are evaluated once per row.  (The index-transform
    formulation ``transform(idx, i -> slice(w, i+1, k))`` re-evaluates
    the tokenization per element — O(words²) regex work per row.)
    Entries past n-k+1 come out null from the length-mismatched zips and
    are filtered.
    """
    w = word_tokens(col)
    n = F.size(w)
    out = w
    for i in range(1, k):
        out = F.zip_with(out, F.slice(w, i + 1, n),
                         lambda a, b: F.concat(a, F.lit(" "), b))
    out = F.filter(out, lambda x: x.isNotNull())
    return F.when(n >= k, out).otherwise(F.array(F.concat_ws(" ", w)))


def char_ngrams(col: Column, n: int = 5) -> Column:
    """Character n-grams of the normalized text.

    Same shifted-zip construction as :func:`shingles`: the char array is
    zipped with its own shifted slices, so normalization + split run a
    constant number of times per row.  (The index-transform formulation
    ``transform(idx, i -> substr(s, i, n))`` captures the normalization
    expression inside the lambda and re-evaluates the regexp for every
    element — O(len²) interpreted work per doc.)
    """
    s = F.regexp_replace(F.lower(col), r"\s+", " ")
    ln = F.length(s)
    chars = F.split(s, "")
    out = chars
    for i in range(1, n):
        out = F.zip_with(out, F.slice(chars, i + 1, ln),
                         lambda a, b: F.concat(a, b))
    out = F.filter(out, lambda x: x.isNotNull())
    return (F.when(col.isNull(), F.lit(None).cast("array<string>"))
            .when(ln >= n, out).otherwise(F.array(s)))


def syllable_count(col: Column) -> Column:
    """Vowel-group syllable approximation over the whole text (the
    classic readability-formula estimator): count of maximal
    ``[aeiouy]+`` runs in the lowercased text."""
    return F.size(F.regexp_extract_all(F.lower(col), F.lit("[aeiouy]+"),
                                       F.lit(0)))


def sentence_count(col: Column) -> Column:
    """Terminator-run sentence estimate: maximal ``[.!?]+`` runs,
    floored at 1 (a fragment is one sentence)."""
    return F.greatest(
        F.size(F.regexp_extract_all(col, F.lit("[.!?]+"), F.lit(0))),
        F.lit(1))


def flesch_reading_ease(col: Column) -> Column:
    """Flesch reading ease: 206.835 - 1.015*(words/sentences)
    - 84.6*(syllables/words); NULL for wordless text (no 0/0)."""
    words = F.size(word_tokens(col)).cast("double")
    sents = sentence_count(col).cast("double")
    syls = syllable_count(col).cast("double")
    return F.when(words > 0, F.round(
        F.lit(206.835) - F.lit(1.015) * (words / sents)
        - F.lit(84.6) * (syls / words), 6))


def char_entropy(col: Column) -> Column:
    """Shannon entropy (bits/char) of the character distribution — the
    SQL-expressible stand-in for a compression-ratio quality signal
    (low-entropy text is repetitive boilerplate; Gopher-family rules
    gate on it).  Pure HOFs, O(len x alphabet) per row: sorted distinct
    chars -> filter-count each -> fold -sum(p*log2 p) in SORTED char
    order, so the floating-point summation order is identical in every
    engine (the oracle folds the same sorted list)."""
    chars = F.regexp_extract_all(col, F.lit("[\\s\\S]"), F.lit(0))
    n = F.size(chars).cast("double")
    uniq = F.array_sort(F.array_distinct(chars))
    probs = F.transform(
        uniq, lambda c: F.size(F.filter(chars, lambda x: x == c))
        .cast("double") / n)
    return F.when(n > 0, F.round(
        -F.aggregate(probs, F.lit(0.0),
                     lambda acc, p: acc + p * F.log2(p)), 6))


def nfc_normalize(col: Column) -> Column:
    """Unicode NFC normalization (corpus-prep hygiene: decomposed
    sequences and composed chars must dedup/fingerprint identically).
    No Spark builtin exists, so this is an Arrow-batched pandas UDF
    over ``unicodedata`` — the one text function here that leaves the
    JVM; keep it out of hot joins and normalize ONCE at ingest."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(lambda x: unicodedata.normalize("NFC", x)
                     if x is not None else None)

    return _nfc(col)
