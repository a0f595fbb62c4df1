"""Central query registry — the SURVEY.md §2 contract surface.

Each operator module registers its queries with :func:`register`; the
``plans.catalog`` module imports every operator module so that
``all_queries()`` / ``all_oracles()`` see the full inventory. The driver
contract (``__spark_entry__.py``) is a thin re-export of these dicts.

``all_queries()`` returns operators in registration order, which the
import order in ``plans.catalog`` fixes; no file on disk affects it.

Discipline enforced by convention here (SURVEY.md §5):
- every computed column is aliased identically in Spark code and oracle SQL;
- doubles are rounded (2dp money, 6dp similarity) before they reach a hash;
- every window/limit has a total-order tie-break on a unique key;
- ``events.ts`` is µs-truncated on both engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str,
             oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``name``; ``oracle`` is the DuckDB SQL twin.

    ``oracle=None`` marks a rows-only operator (LSH internals, watermark
    semantics, …) — the driver records a weaker check for those.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query registration: {name}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle.strip()
        return fn

    return deco


def all_queries() -> dict[str, QueryFn]:
    """Every registered operator, in registration order."""
    from manual_data_ingest_spark.plans import catalog  # noqa: F401 — triggers registration

    return dict(_QUERIES)


def all_oracles() -> dict[str, str]:
    from manual_data_ingest_spark.plans import catalog  # noqa: F401

    return dict(_ORACLES)
