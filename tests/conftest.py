from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from apache_beam_spark.engine import get_spark

    s = get_spark("apache_beam_spark-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture
def pin_plan(monkeypatch):
    """``pin_plan(collapse)`` pins every near-dup miner's plan through
    its probe, for the rest of the test: the text miners via the
    ``dedup/probe.py`` clone-policy constants, ``embedding_near_dup_pairs``
    via its vector probe's duplicate count (row count kept, so the auto
    geometry is unchanged)."""
    from apache_beam_spark.dedup import probe
    from apache_beam_spark.similarity import knn

    stats = knn._vector_clone_stats

    def pin(collapse: bool) -> None:
        monkeypatch.setattr(probe, "MAX_CLONE_WIDTH",
                            0 if collapse else float("inf"))
        monkeypatch.setattr(probe, "CLONE_FRACTION",
                            -1.0 if collapse else 1.0)

        def pinned(src, grp_keys):
            n, _ = stats(src, grp_keys)
            return (n, n - 1 if collapse else n)

        monkeypatch.setattr(knn, "_vector_clone_stats", pinned)

    return pin
