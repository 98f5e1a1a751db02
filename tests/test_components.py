"""Connected components (dedup/components.py): correctness on known
graph shapes, singleton handling, and iteration/convergence behavior."""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_beam_spark.dedup.components import connected_components, dup_clusters


def _cc(spark, edges, nodes=None, **kw):
    e = spark.createDataFrame(edges, "src long, dst long")
    n = spark.createDataFrame([(x,) for x in nodes], "id long") if nodes else None
    out = connected_components(e, nodes=n, **kw)
    return {r["node"]: r["comp"] for r in out.collect()}


def test_two_components(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_chain_diameter(spark):
    # a 9-node path needs several propagation rounds (diameter 8)
    got = _cc(spark, [(i, i + 1) for i in range(1, 9)])
    assert set(got.values()) == {1} and len(got) == 9


def test_singletons_from_node_universe(spark):
    got = _cc(spark, [(1, 2)], nodes=[1, 2, 3, 4])
    assert got == {1: 1, 2: 1, 3: 3, 4: 4}


def test_edge_listed_both_directions_ok(spark):
    got = _cc(spark, [(1, 2), (2, 1), (2, 3)])
    assert set(got.values()) == {1}


def test_dup_clusters_representative(spark):
    pairs = spark.createDataFrame([(5, 9), (9, 7)], "id_a long, id_b long")
    ids = spark.createDataFrame([(x,) for x in (1, 5, 7, 9)], "doc_id long")
    out = dup_clusters(pairs, ids)
    rows = {r["doc_id"]: r["component"] for r in out.collect()}
    assert rows == {1: 1, 5: 5, 7: 5, 9: 5}
    kept = [d for d, c in rows.items() if d == c]
    assert sorted(kept) == [1, 5]


def test_no_edges(spark):
    e = spark.createDataFrame([], "src long, dst long")
    n = spark.createDataFrame([(1,), (2,)], "id long")
    out = connected_components(e, nodes=n)
    assert {r["node"]: r["comp"] for r in out.collect()} == {1: 1, 2: 2}


def test_two_phase_matches_hash_min(spark):
    from apache_beam_spark.dedup.components import connected_components_two_phase

    edges = [(1, 2), (2, 3), (10, 11), (11, 12), (3, 10), (20, 21)]
    e = spark.createDataFrame(edges, "src long, dst long")
    n = spark.createDataFrame([(x,) for x in range(1, 25)], "id long")
    got = {r["node"]: r["comp"]
           for r in connected_components_two_phase(e, nodes=n).collect()}
    exp = {r["node"]: r["comp"]
           for r in connected_components(e, nodes=n).collect()}
    assert got == exp


def test_two_phase_long_chain(spark):
    """A 64-node path: hash-min needs ~63 rounds; two-phase must
    converge well inside its O(log^2 n) bound (max_iter=12 suffices)."""
    from apache_beam_spark.dedup.components import connected_components_two_phase

    e = spark.createDataFrame([(i, i + 1) for i in range(64)],
                              "src long, dst long")
    got = connected_components_two_phase(e, max_iter=12).collect()
    assert len(got) == 65 and {r["comp"] for r in got} == {0}


def test_containment_finds_subsumed_doc(spark):
    """A short doc whose shingles all appear in a long doc is flagged
    with containment 1.0; the reverse direction is not."""
    from apache_beam_spark.dedup.ngram import ngram_containment_pairs

    long = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    short = "gamma delta epsilon zeta"
    other = "one two three four five six seven"
    df = spark.createDataFrame(
        [(1, long), (2, short), (3, other)], "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["containment"]
           for r in ngram_containment_pairs(df, threshold=0.8).collect()}
    assert got == {(2, 1): 1.0}


# ---------------------------------------------------------------------------
# null endpoints, both branches of the auto CC, adversarial edge lists
# ---------------------------------------------------------------------------

import pytest  # noqa: E402

from apache_beam_spark.dedup import components as C  # noqa: E402
from tests.test_property_based import _union_find_components  # noqa: E402

_PATHS = ("hash_min", "two_phase", "auto_driver", "auto_distributed")


def _run_path(path, monkeypatch, e, nodes=None):
    if path == "hash_min":
        return C.connected_components(e, nodes=nodes)
    if path == "two_phase":
        return C.connected_components_two_phase(e, nodes=nodes)
    if path == "auto_distributed":
        monkeypatch.setattr(C, "_DRIVER_MAX_EDGES", 0)
    return C.connected_components_auto(e, nodes=nodes)


@pytest.mark.parametrize("path", _PATHS)
def test_null_endpoint_adds_only_its_other_endpoint(spark, monkeypatch, path):
    """An edge with one null endpoint adds only its non-null endpoint as
    a node, an all-null edge adds nothing, and null is never a node —
    also when the node universe itself holds a null id."""
    e = spark.createDataFrame([(1, None), (2, 3), (None, None)],
                              "src long, dst long")
    n = spark.createDataFrame([(x,) for x in (1, 2, 3, 4, None)], "id long")
    with_universe = {r["node"]: r["comp"]
                     for r in _run_path(path, monkeypatch, e, n).collect()}
    assert with_universe == {1: 1, 2: 2, 3: 2, 4: 4}
    edges_only = {r["node"]: r["comp"]
                  for r in _run_path(path, monkeypatch, e).collect()}
    assert edges_only == {1: 1, 2: 2, 3: 2}


#: (edges, edge schema, node ids, node schema, output schema at the
#: parent of the driver branch — both branches must keep it)
_ADVERSARIAL = {
    "self_loops": ([(1, 1), (2, 2), (2, 3)], "src long, dst long",
                   [1, 2, 3, 4], "id long", "struct<node:bigint,comp:bigint>"),
    "duplicate_and_reversed": ([(5, 9), (9, 5), (5, 9), (9, 7), (7, 9)],
                               "src long, dst long", [1, 5, 7, 9], "id long",
                               "struct<node:bigint,comp:bigint>"),
    "duplicate_universe_ids": ([(2, 3)], "src long, dst long",
                               [1, 1, 2, 3, 3, 4], "id long",
                               "struct<node:bigint,comp:bigint>"),
    "empty_edges": ([], "src long, dst long", [3, 1, 2], "id long",
                    "struct<node:bigint,comp:bigint>"),
    "int_universe_bigint_edges": ([(1, 2), (4, 3), (3, 2)],
                                  "src long, dst long", [1, 2, 3, 4, 5],
                                  "id int", "struct<node:bigint,comp:int>"),
}


@pytest.mark.parametrize("branch", ["driver", "distributed"])
@pytest.mark.parametrize("case", sorted(_ADVERSARIAL))
def test_auto_cc_adversarial_edge_lists(spark, monkeypatch, branch, case):
    edges, eschema, ids, nschema, out_schema = _ADVERSARIAL[case]
    if branch == "distributed":
        monkeypatch.setattr(C, "_DRIVER_MAX_EDGES", 0)
    e = spark.createDataFrame(edges, eschema)
    n = spark.createDataFrame([(x,) for x in ids], nschema)
    out = C.connected_components_auto(e, nodes=n)
    assert out.schema.simpleString() == out_schema
    rows = out.collect()
    assert len(rows) == len({r["node"] for r in rows})  # one row per node
    assert {r["node"]: r["comp"] for r in rows} == \
        _union_find_components(edges, ids)


def test_dup_clusters_build_submits_at_most_two_jobs(spark):
    """Building dup_clusters on a driver-sized graph runs only the edge
    probe (the hash-min build ran 33 jobs of checkpoint stages and
    convergence collects on this graph)."""
    sc = spark.sparkContext
    pairs = spark.createDataFrame([(5, 9), (9, 7), (11, 12)],
                                  "id_a long, id_b long")
    ids = spark.createDataFrame([(x,) for x in (1, 5, 7, 9, 11, 12)],
                                "doc_id long")
    group = "dup-clusters-build-jobs"
    sc.setJobGroup(group, "dup_clusters build")
    try:
        out = dup_clusters(pairs, ids)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2
    assert {r["doc_id"]: r["component"] for r in out.collect()} == {
        1: 1, 5: 5, 7: 5, 9: 5, 11: 11, 12: 11}


def _leaf_classes(plan):
    kids = plan.children()
    if kids.size() == 0:
        return [plan.getClass().getSimpleName()]
    return [c for i in range(kids.size())
            for c in _leaf_classes(kids.apply(i))]


def test_distributed_branch_reads_cached_edge_frame(spark, monkeypatch):
    """On the distributed branch every leaf of the symmetric edge frame
    is the cached (u, v) projection the probe read, so the upstream
    edge DAG is not computed again by the propagation rounds."""
    seen = []
    loop = C._hashmin_loop

    def spy(sym, labels, max_rounds):
        seen.append(sym)
        return loop(sym, labels, max_rounds)

    monkeypatch.setattr(C, "_DRIVER_MAX_EDGES", 0)
    monkeypatch.setattr(C, "_hashmin_loop", spy)
    e = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "src long, dst long")
    got = {r["node"]: r["comp"]
           for r in C.connected_components_auto(e).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    (sym,) = seen
    leaves = _leaf_classes(sym._jdf.queryExecution().optimizedPlan())
    assert leaves and set(leaves) == {"InMemoryRelation"}
