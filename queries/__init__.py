"""The query registry: each query is declared once, by decorating its
builder with its DuckDB oracle and its benchmark membership.

A query's name is its builder's name without the leading underscore;
its family is the module it lives in.  ``__spark_entry__.queries()``
and ``oracle_sql()``, ``bench.HEADLINE``, scale_check's rows and
docs/QUERIES.md are all read from ``REGISTRY``.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass


@dataclass(frozen=True)
class Query:
    build: Callable
    #: DuckDB SQL of the value oracle; a function returning it when the
    #: text needs an import the entry module must not pay for; None for
    #: a documented rows-only query
    oracle: str | Callable[[], str] | None
    #: member of bench.HEADLINE (and so of scale_check's rows)
    headline: bool
    #: a scale_check row outside the headline
    scale: bool

    def oracle_sql(self) -> str | None:
        return self.oracle() if callable(self.oracle) else self.oracle


REGISTRY: dict[str, Query] = {}


def register(name: str, build: Callable, oracle=None, headline=False,
             scale=False) -> Callable:
    if name in REGISTRY:
        raise ValueError(f"query {name!r} is already registered")
    REGISTRY[name] = Query(build, oracle, headline, scale)
    return build


def query(oracle=None, headline=False, scale=False):
    """Register the decorated ``_name(spark, sf_dir)`` as query ``name``."""
    def decorate(build):
        return register(build.__name__.removeprefix("_"), build, oracle,
                        headline, scale)
    return decorate


def oracle_of(name: str) -> str:
    """The oracle of an already registered query, for twins that answer
    to the same SQL."""
    return REGISTRY[name].oracle_sql()


def headline() -> list[str]:
    return [name for name, q in REGISTRY.items() if q.headline]


def scale_rows() -> list[str]:
    return [name for name, q in REGISTRY.items() if q.headline or q.scale]


# one module per family; importing them fills REGISTRY, in this order
# (oracle_of reads queries registered by an earlier family)
from queries import (  # noqa: E402,F401
    tpch, beam, streaming, text, dedup, embeddings, llm_data, analytics,
    multimodal)
