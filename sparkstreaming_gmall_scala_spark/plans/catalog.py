"""The query catalog: every operator the engine claims is registered here
as a (PySpark builder, DuckDB oracle SQL) pair.

This is the engine's equivalent of the reference's nine hand-authored app
main()s (reference: SURVEY.md §3.4) — but declarative: each entry is a pure
function (SparkSession, sf_dir) -> DataFrame whose plan Catalyst optimizes,
plus the ANSI-SQL statement DuckDB runs on the same parquet files for the
correctness gate. Queries with no SQL-expressible oracle set ``oracle=None``
and are covered by pytest semantics tests instead.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    builder: Builder
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
) -> Callable[[Builder], Builder]:
    """Decorator: register a query builder under ``name``."""

    def deco(fn: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(
            name=name, builder=fn, oracle=oracle, doc=fn.__doc__ or "",
            tags=tags,
        )
        return fn

    return deco


def load_all() -> dict[str, Query]:
    """Import every plans module so its decorators populate REGISTRY."""
    from . import llm, parity, scale, streaming_analog, temporal, tpch  # noqa: F401

    return REGISTRY
