"""Property-style tests (reference methodology §5.5: exhaustive
source-split / coder-law property checks — here, randomized
equivalence against independent reference implementations).

- asof_join ≡ pandas.merge_asof (backward) on random keyed event sets
- range_join ≡ brute-force cross-filter
- shingles: count/width laws on random text
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from apache_beam_spark.operators.asof import asof_join
from apache_beam_spark.operators.rangejoin import range_join

# small, fast cases: a handful of keys, seconds-scale timestamps
_key = st.sampled_from(["k1", "k2", "k3"])
_sec = st.integers(min_value=0, max_value=3600)


def _to_ts(s):
    return pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=s)


@st.composite
def _events(draw, min_size=0, max_size=12):
    rows = draw(st.lists(st.tuples(_key, _sec), min_size=min_size,
                         max_size=max_size))
    # unique (key, ts): duplicate right-side timestamps make the match
    # nondeterministic in BOTH implementations (tie-break undefined)
    rows = list({(k, s) for k, s in rows})
    return rows


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(left=_events(min_size=1), right=_events(min_size=1))
def test_asof_matches_pandas_merge_asof(spark, left, right):
    lpdf = pd.DataFrame([{"k": k, "lts": _to_ts(s), "lid": i}
                         for i, (k, s) in enumerate(left)])
    rpdf = pd.DataFrame([{"k": k, "rts": _to_ts(s), "rid": i}
                         for i, (k, s) in enumerate(right)])

    expected = pd.merge_asof(
        lpdf.sort_values("lts"), rpdf.sort_values("rts"),
        left_on="lts", right_on="rts", by="k", direction="backward")
    want = {int(r.lid): (None if pd.isna(r.rid) else int(r.rid))
            for r in expected.itertuples()}

    ldf = spark.createDataFrame(lpdf)
    rdf = spark.createDataFrame(rpdf)
    out = asof_join(ldf, rdf, on="k", left_ts="lts", right_ts="rts",
                    right_cols=["rid"])
    got = {r["lid"]: r["rid"] for r in out.collect()}
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(left=_events(min_size=1, max_size=8), right=_events(min_size=1, max_size=8),
       lo=st.integers(-600, 600), width=st.integers(0, 900))
def test_range_join_matches_bruteforce(spark, left, right, lo, width):
    hi = lo + width
    lpdf = pd.DataFrame([{"k": k, "lts": _to_ts(s), "lid": i}
                         for i, (k, s) in enumerate(left)])
    rpdf = pd.DataFrame([{"k": k, "rts": _to_ts(s), "rid": i}
                         for i, (k, s) in enumerate(right)])

    want = set()
    for lrow in lpdf.itertuples():
        for rrow in rpdf.itertuples():
            d = (rrow.rts - lrow.lts).total_seconds()
            if rrow.k == lrow.k and lo <= d <= hi:
                want.add((lrow.lid, rrow.rid))

    out = range_join(spark.createDataFrame(lpdf), spark.createDataFrame(rpdf),
                     on="k", left_ts="lts", right_ts="rts",
                     lower=f"{lo} seconds", upper=f"{hi} seconds")
    got = {(r["lid"], r["rid"]) for r in out.collect()}
    assert got == want


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(words=st.lists(st.text(alphabet="abcxyz", min_size=1, max_size=5),
                      min_size=0, max_size=10),
       k=st.integers(1, 4))
def test_shingles_laws(spark, words, k):
    from apache_beam_spark.functions.text import shingles

    text = " ".join(words)
    df = spark.createDataFrame([(text,)], ["t"])
    out = df.select(shingles(F.col("t"), k).alias("sh")).first()["sh"]
    n = len(words)
    if n >= k:
        assert len(out) == n - k + 1          # count law
        assert all(len(s.split(" ")) == k for s in out)  # width law
    else:
        assert out == [" ".join(words)]       # short-doc fallback


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(text=st.text(alphabet="abC xy\tZ", min_size=0, max_size=24),
       n=st.integers(2, 5))
def test_char_ngrams_matches_python_reference(spark, text, n):
    import re

    from apache_beam_spark.functions.text import char_ngrams

    df = spark.createDataFrame([(text,)], ["t"])
    out = df.select(char_ngrams(F.col("t"), n).alias("g")).first()["g"]
    s = re.sub(r"\s+", " ", text.lower())
    want = ([s[i:i + n] for i in range(len(s) - n + 1)]
            if len(s) >= n else [s])
    assert out == want


# ---------------------------------------------------------------------
# trigger state machine invariants (random transcripts)

from hypothesis import given, settings, strategies as st


def _random_trigger(draw):
    from apache_beam_spark.streaming.trigger_machine import (
        AfterAll, AfterEach, AfterFirst, AfterPane, AfterWatermark,
        OrFinally, Repeatedly)

    leaf = st.sampled_from([AfterPane(1), AfterPane(2), AfterPane(3),
                            AfterWatermark()])
    t1, t2 = draw(leaf), draw(leaf)
    combo = draw(st.sampled_from(["leaf", "repeat", "orfinally", "first",
                                  "all", "each"]))
    if combo == "leaf":
        return t1
    if combo == "repeat":
        return Repeatedly(t1)
    if combo == "orfinally":
        return OrFinally(Repeatedly(t1), AfterWatermark())
    if combo == "first":
        return AfterFirst(t1, t2)
    if combo == "all":
        return AfterAll(t1, t2)
    return AfterEach(t1, t2)


@settings(max_examples=60, deadline=None)
@given(data=st.data(),
       events=st.lists(
           st.one_of(st.integers(0, 99).map(lambda v: ("element", v)),
                     st.integers(0, 2000).map(lambda w: ("watermark", w))),
           max_size=30))
def test_trigger_transcript_invariants(data, events):
    """Hold for ANY composite trigger and ANY event sequence:
    pane indices are consecutive, accumulating pane values are
    prefix-monotone, every input lands in a pane value-set or dropped
    (never both), and drops only happen after the window closed."""
    from apache_beam_spark.streaming.trigger_machine import run_transcript

    trig = _random_trigger(data.draw)
    r = run_transcript(trig, 1000, events, accumulating=True)
    panes = r["panes"]
    assert [p["index"] for p in panes] == list(range(len(panes)))
    for a, b in zip(panes, panes[1:]):
        assert b["values"][:len(a["values"])] == a["values"]  # prefix order
    n_elems = sum(1 for e in events if e[0] == "element")
    covered = (len(panes[-1]["values"]) if panes else 0)
    # every element is either in the accumulated tail, dropped, or
    # still buffered awaiting a fire — no double counting
    assert covered + len(r["dropped"]) <= n_elems
    if r["dropped"]:
        assert r["closed"]
    # timing order: EARLY* then at most one ON_TIME then LATE*
    timings = [p["timing"] for p in panes]
    if "ON_TIME" in timings:
        i = timings.index("ON_TIME")
        assert all(t == "EARLY" for t in timings[:i])
        assert all(t == "LATE" for t in timings[i + 1:])
        assert timings.count("ON_TIME") == 1
    else:
        assert all(t == "EARLY" for t in timings)


# ---------------------------------------------------------------------------
# connected components ≡ union-find; packing invariants
# ---------------------------------------------------------------------------

def _union_find_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node id in the component
    comp = {}
    for n in nodes:
        r = find(n)
        comp.setdefault(r, []).append(n)
    return {n: min(members) for r, members in comp.items() for n in members}


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=st.lists(st.tuples(st.integers(0, 25), st.integers(0, 25)),
                      max_size=30))
def test_connected_components_matches_union_find(spark, edges):
    from apache_beam_spark.dedup.components import connected_components

    edges = [(a, b) for a, b in edges if a != b]
    nodes = sorted({n for e in edges for n in e} | {0, 25})
    e = spark.createDataFrame(edges or [(0, 0)], "src long, dst long") \
        if edges else spark.createDataFrame([], "src long, dst long")
    n = spark.createDataFrame([(x,) for x in nodes], "id long")
    got = {r["node"]: r["comp"]
           for r in connected_components(e, nodes=n).collect()}
    assert got == _union_find_components(edges, nodes)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=st.lists(st.tuples(st.integers(0, 25), st.integers(0, 25)),
                      max_size=30))
def test_two_phase_cc_matches_union_find(spark, edges):
    from apache_beam_spark.dedup.components import (
        connected_components_two_phase,
    )

    edges = [(a, b) for a, b in edges if a != b]
    nodes = sorted({n for e in edges for n in e} | {0, 25})
    e = spark.createDataFrame(edges or [(0, 0)], "src long, dst long") \
        if edges else spark.createDataFrame([], "src long, dst long")
    n = spark.createDataFrame([(x,) for x in nodes], "id long")
    got = {r["node"]: r["comp"]
           for r in connected_components_two_phase(e, nodes=n).collect()}
    assert got == _union_find_components(edges, nodes)


def _set_driver_max_edges(monkeypatch, branch):
    """``driver`` keeps the module's bound (these graphs fit it: the
    driver union-find runs); ``distributed`` sets it to 0, so every
    non-empty edge list takes the hash-min + contraction path."""
    from apache_beam_spark.dedup import components

    if branch == "distributed":
        monkeypatch.setattr(components, "_DRIVER_MAX_EDGES", 0)


@pytest.mark.parametrize("branch", ["driver", "distributed"])
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=st.lists(st.tuples(st.integers(0, 25), st.integers(0, 25)),
                      max_size=30))
def test_auto_cc_matches_union_find(spark, monkeypatch, branch, edges):
    """The auto CC must be result-identical to union-find whichever
    branch and phase finishes the graph; on the distributed branch
    hashmin_rounds=1 forces the contraction + two-phase handoff on
    almost every non-trivial input."""
    from apache_beam_spark.dedup.components import connected_components_auto

    _set_driver_max_edges(monkeypatch, branch)
    edges = [(a, b) for a, b in edges if a != b]
    nodes = sorted({n for e in edges for n in e} | {0, 25})
    e = spark.createDataFrame(edges or [(0, 0)], "src long, dst long") \
        if edges else spark.createDataFrame([], "src long, dst long")
    n = spark.createDataFrame([(x,) for x in nodes], "id long")
    got = {r["node"]: r["comp"]
           for r in connected_components_auto(
               e, nodes=n, hashmin_rounds=1).collect()}
    assert got == _union_find_components(edges, nodes)


@pytest.mark.parametrize("branch", ["driver", "distributed"])
def test_auto_cc_high_diameter_chain(spark, monkeypatch, branch):
    """A 60-node path graph (diameter 59): pure hash-min would need ~60
    rounds; the auto CC must finish exactly — on the distributed branch
    the switch must kick in after hashmin_rounds — with every node
    labeled 0."""
    from apache_beam_spark.dedup.components import connected_components_auto

    _set_driver_max_edges(monkeypatch, branch)
    e = spark.createDataFrame([(i, i + 1) for i in range(59)],
                              "src long, dst long")
    got = connected_components_auto(e, hashmin_rounds=3)
    rows = got.collect()
    assert len(rows) == 60
    assert all(r["comp"] == 0 for r in rows)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(sizes=st.lists(st.integers(1, 30), min_size=1, max_size=25),
       cap=st.integers(5, 40))
def test_packing_invariants(spark, sizes, cap):
    """For ANY input: per-shard bins are contiguous from 0 and filled in
    id order; no bin with >1 member exceeds the cap; every row appears
    exactly once."""
    import collections

    from apache_beam_spark.operators.packing import pack_greedy

    rows = [(i, s) for i, s in enumerate(sizes)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    out = pack_greedy(df, capacity=cap, n_shards=3).collect()
    assert sorted(r["doc_id"] for r in out) == [i for i, _ in rows]
    by_shard = collections.defaultdict(list)
    for r in out:
        by_shard[r["shard"]].append(r)
    fill = collections.Counter()
    members = collections.Counter()
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r["doc_id"])
        bins = [r["bin"] for r in rs]
        assert bins[0] == 0
        assert all(b2 - b1 in (0, 1) for b1, b2 in zip(bins, bins[1:]))
        for r in rs:
            fill[(shard, r["bin"])] += r["n_chars"]
            members[(shard, r["bin"])] += 1
    for key, tot in fill.items():
        if members[key] > 1:
            assert tot <= cap


# ---- round-3 differential properties -------------------------------------


@st.composite
def _changelog(draw):
    n = draw(st.integers(min_value=0, max_value=10))
    rows = []
    for i in range(n):
        rows.append((draw(st.integers(min_value=1, max_value=4)),   # id
                     draw(st.integers(min_value=0, max_value=20)),  # seq
                     f"p{i}",
                     draw(st.sampled_from(["U", "U", "D"]))))
    return rows


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(base=st.lists(st.tuples(st.integers(1, 4), st.text(
    alphabet="ab", min_size=1, max_size=3)), max_size=4,
    unique_by=lambda r: r[0]), changes=_changelog())
def test_apply_changes_matches_dict_model(spark, base, changes):
    """apply_changes ≡ a python dict fold: latest (seq, idx) change
    per key wins; D removes, U upserts; untouched base keys survive."""
    from apache_beam_spark.operators.cdc import apply_changes

    base_df = spark.createDataFrame(
        [(i, 0, p, -1) for i, p in base] or [(99, 0, "x", -1)],
        "id long, seq long, payload string, tb long")
    if not base:
        base_df = base_df.filter("id < 0")
    ch_rows = [(i, s, p, o, idx) for idx, (i, s, p, o) in enumerate(changes)]
    ch_df = spark.createDataFrame(
        ch_rows or [(99, 0, "x", "U", 0)],
        "id long, seq long, payload string, op string, tb long")
    if not changes:
        ch_df = ch_df.filter("id < 0")

    got = {r["id"]: r["payload"]
           for r in apply_changes(base_df, ch_df, keys=["id"],
                                  seq_col="seq", tiebreak="tb").collect()}

    model = {i: p for i, p in base}
    latest = {}
    for idx, (i, s, p, o) in enumerate(changes):
        if i not in latest or (s, idx) > latest[i][:2]:
            latest[i] = (s, idx, p, o)
    for i, (_, _, p, o) in latest.items():
        if o == "D":
            model.pop(i, None)
        else:
            model[i] = p
    assert got == model


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(events=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 99)),
                       min_size=1, max_size=20))
def test_rate_limit_batch_matches_model(spark, events):
    """rate_limit_batch ≡ the python token-bucket model on random
    (key, ts) streams (ids unique, ties broken by id)."""
    from apache_beam_spark.streaming.stateful import rate_limit_batch

    MAX, WIN = 2, 10_000
    rows = [(str(k), (pd.Timestamp("2024-01-01")
             + pd.Timedelta(milliseconds=t * 500)).to_pydatetime(), i)
            for i, (k, t) in enumerate(events)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, event_id long")
    got = sorted((r["k"], r["event_id"], r["seq"])
                 for r in rate_limit_batch(
                     df, key="k", event_time="ts", id_col="event_id",
                     window_ms=WIN, max_per_window=MAX).collect())

    bucket, admitted = {}, []
    for k, ts, i in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        ms = int(ts.timestamp() * 1000)
        w = ms // WIN * WIN
        c = bucket.get((k, w), 0)
        if c < MAX:
            bucket[(k, w)] = c + 1
            admitted.append((k, i, c + 1))
    assert got == sorted(admitted)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(weights=st.lists(st.integers(0, 500), min_size=1, max_size=15),
       n=st.integers(1, 8))
def test_weighted_sample_matches_md5_model(spark, weights, n):
    """weighted_sample ≡ the python Efraimidis-Spirakis model with the
    identical md5-uniform arithmetic."""
    import hashlib
    import math

    from apache_beam_spark.operators.shuffle import weighted_sample

    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(weights)], "doc_id long, n_chars long")
    got = [r["doc_id"] for r in weighted_sample(
        df, weight_col="n_chars", n=n).collect()]

    def key(i, w):
        h = hashlib.md5(f"ws1:{i}".encode()).hexdigest()
        u = (int(h[:8], 16) + 1) / 4294967296.0
        return math.log(u) / max(float(w), 1.0)

    exp = sorted(range(len(weights)),
                 key=lambda i: (-key(i, weights[i]), i))[:n]
    assert got == exp


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(texts=st.lists(st.text(alphabet="ab ", max_size=60),
                      min_size=1, max_size=5),
       chunk=st.integers(2, 8), overlap=st.integers(0, 6))
def test_sliding_chunks_matches_python_model(spark, texts, chunk, overlap):
    """sliding_chunks ≡ a python splitter: same chunk texts, indexes
    and word counts on arbitrary whitespace-noisy input."""
    import math
    import re

    from apache_beam_spark.dedup.chunks import sliding_chunks

    if overlap >= chunk:
        return
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = sorted((r["doc_id"], r["chunk_idx"], r["chunk_text"], r["n_words"])
                 for r in sliding_chunks(
                     df, chunk_words=chunk, overlap_words=overlap).collect())

    step = chunk - overlap
    exp = []
    for i, t in enumerate(texts):
        toks = re.findall(r"[^\s]+", t.lower())
        n = len(toks)
        n_chunks = max(math.ceil((n - overlap) / step), 1)
        for ci in range(n_chunks):
            piece = toks[ci * step: ci * step + chunk]
            if len(piece) >= 1:
                exp.append((i, ci, " ".join(piece), len(piece)))
    assert got == sorted(exp)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(rows=st.lists(st.tuples(st.integers(0, 47), st.sampled_from("xy"),
                               st.integers(-50, 50)),
                     min_size=1, max_size=25),
       split=st.integers(0, 24))
def test_merge_rollups_equals_direct_rollup(spark, rows, split):
    """Incremental refresh law on random data: rollup(all) ==
    merge(rollup(first part), rollup(rest)) for every split point."""
    from apache_beam_spark.operators.rollup import (
        merge_rollups, rollup_windows)

    def df(rs):
        data = [(k, (pd.Timestamp("2024-01-01")
                     + pd.Timedelta(hours=h)).to_pydatetime(), float(v))
                for h, k, v in rs]
        d = spark.createDataFrame(
            data or [("x", pd.Timestamp("2024-01-01").to_pydatetime(), 0.0)],
            "k string, ts timestamp, v double")
        return d if rs else d.filter("v > 1")

    aggs = {"s": "sum:v", "n": "count", "m": "max:v"}
    split = min(split, len(rows))
    a = rollup_windows(df(rows[:split]), "ts", ["k"], aggs,
                       ["1 hour", "1 day"])["1 day"]
    b = rollup_windows(df(rows[split:]), "ts", ["k"], aggs,
                       ["1 hour", "1 day"])["1 day"]
    merged = merge_rollups(a, b, ["k"], aggs)
    direct = rollup_windows(df(rows), "ts", ["k"], aggs,
                            ["1 hour", "1 day"])["1 day"]
    canon = lambda d: sorted(  # noqa: E731
        (r["window"].start, r["k"], r["s"], r["n"], r["m"])
        for r in d.collect())
    assert canon(merged) == canon(direct)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(texts=st.lists(st.text(alphabet="abc x", max_size=30),
                      min_size=1, max_size=4))
def test_char_entropy_matches_python(spark, texts):
    """char_entropy ≡ the python Shannon entropy with the identical
    sorted-char fold order."""
    import math

    from apache_beam_spark.functions.text import char_entropy

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, text string")
    got = {r["i"]: r["e"] for r in df.select(
        "i", char_entropy(F.col("text")).alias("e")).collect()}
    for i, t in enumerate(texts):
        if not t:
            assert got[i] is None
            continue
        n = len(t)
        acc = 0.0
        for ch in sorted(set(t)):
            p = t.count(ch) / n
            acc = acc + p * math.log2(p)
        assert got[i] == pytest.approx(round(-acc, 6), abs=1e-9)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(texts=st.lists(st.text(alphabet="ab ", min_size=1, max_size=30),
                      min_size=1, max_size=5))
def test_bm25_matches_python_model(spark, texts):
    """bm25_topk ≡ a python BM25 with the same Lucene idf, ranking and
    tiebreaks on random corpora."""
    import math
    import re

    from apache_beam_spark.operators.retrieval import bm25_topk

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    got = [(r["doc_id"], r["score"], r["rank"]) for r in
           bm25_topk(df, ["a", "ab"], k=10).collect()]

    toks = [re.findall(r"[ab]+", t.lower()) for t in texts]
    N = len(texts)
    avgdl = sum(len(t) for t in toks) / N
    terms = ["a", "ab"]
    dfreq = {q: sum(1 for t in toks if q in t) for q in terms}
    scores = {}
    for i, t in enumerate(toks):
        s = 0.0
        for q in terms:
            tf = t.count(q)
            if tf == 0:
                continue
            idf = math.log(1.0 + (N - dfreq[q] + 0.5) / (dfreq[q] + 0.5))
            s += idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75
                                               * len(t) / avgdl))
        if s > 0 or any(q in t for q in terms):
            scores[i] = s
    exp = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [(d, r) for d, _, r in got] == \
        [(d, i + 1) for i, (d, _) in enumerate(exp)]
    for (d1, s1, _), (d2, s2) in zip(got, exp):
        assert s1 == pytest.approx(round(s2, 6), abs=1e-6)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(r1=st.lists(st.integers(0, 9), max_size=6, unique=True),
       r2=st.lists(st.integers(0, 9), max_size=6, unique=True))
def test_rrf_fuse_matches_model(spark, r1, r2):
    from apache_beam_spark.operators.retrieval import rrf_fuse

    def rank_df(ids):
        rows = [(d, i + 1) for i, d in enumerate(ids)]
        d = spark.createDataFrame(rows or [(99, 1)], "doc_id long, rank int")
        return d if rows else d.filter("doc_id < 0")

    if not r1 and not r2:
        return
    got = [(r["doc_id"], r["rrf_score"], r["fused_rank"]) for r in
           rrf_fuse([rank_df(r1), rank_df(r2)], k=60, top=5).collect()]

    model = {}
    for ids in (r1, r2):
        for i, d in enumerate(ids):
            model[d] = model.get(d, 0.0) + 1.0 / (60 + i + 1)
    exp = sorted(model.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [(d, r) for d, _, r in got] == \
        [(d, i + 1) for i, (d, _) in enumerate(exp)]
    for (_, s, _), (_, es) in zip(got, exp):
        assert s == pytest.approx(round(es, 6), abs=1e-9)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(texts=st.lists(st.text(alphabet="aeo tx.!?", max_size=40),
                      min_size=1, max_size=4))
def test_flesch_matches_python(spark, texts):
    import re

    from apache_beam_spark.functions.text import flesch_reading_ease

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, text string")
    got = {r["i"]: r["f"] for r in df.select(
        "i", flesch_reading_ease(F.col("text")).alias("f")).collect()}
    for i, t in enumerate(texts):
        words = len(re.findall(r"[\w']+", t.lower()))
        if words == 0:
            assert got[i] is None
            continue
        sents = max(len(re.findall(r"[.!?]+", t)), 1)
        syls = len(re.findall(r"[aeiouy]+", t.lower()))
        exp = 206.835 - 1.015 * (words / sents) - 84.6 * (syls / words)
        assert got[i] == pytest.approx(round(exp, 6), abs=1e-6)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(old=st.lists(st.tuples(st.integers(1, 5), st.text("ab", max_size=2)),
                    max_size=5, unique_by=lambda r: r[0]),
       new=st.lists(st.tuples(st.integers(1, 5), st.text("ab", max_size=2)),
                    max_size=5, unique_by=lambda r: r[0]))
def test_derive_changes_matches_set_model(spark, old, new):
    """derive_changes ≡ the set model: I for new-only keys, D for
    old-only, U only where the value actually changed."""
    from apache_beam_spark.operators.cdc import derive_changes

    def df(rows):
        d = spark.createDataFrame(rows or [(9, "x")],
                                  "id long, payload string")
        return d if rows else d.filter("id < 0")

    got = {r["id"]: (r["op"], r["payload"]) for r in
           derive_changes(df(old), df(new), keys=["id"]).collect()}
    om, nm = dict(old), dict(new)
    exp = {}
    for i in nm:
        if i not in om:
            exp[i] = ("I", nm[i])
        elif om[i] != nm[i]:
            exp[i] = ("U", nm[i])
    for i in om:
        if i not in nm:
            exp[i] = ("D", om[i])
    assert got == exp


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(docs=st.lists(st.tuples(st.sampled_from("pqr"),
                               st.integers(1, 40)),
                     min_size=1, max_size=12),
       total=st.integers(100, 5000))
def test_temperature_budgets_matches_python(spark, docs, total):
    """temperature_budgets ≡ the python sqrt-share model (T=2), and
    the budgets never exceed the total."""
    import math

    from apache_beam_spark.operators.mixing import temperature_budgets

    rows = [(i, "w " * n, s) for i, (s, n) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = temperature_budgets(df, total_budget=total, temperature=2.0)

    counts = {}
    for s, n in docs:
        counts[s] = counts.get(s, 0) + n
    scaled = {s: math.sqrt(float(t)) for s, t in counts.items()}
    z = sum(scaled[s] for s in sorted(scaled))
    exp = {s: int(total * v / z) for s, v in scaled.items()}
    assert got == exp
    assert sum(got.values()) <= total
