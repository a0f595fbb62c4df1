"""Perf-regression smoke guards (SURVEY §6 discipline).

Bounds are GENEROUS (an order of magnitude above measured) — they exist
to catch accidental complexity regressions (a lost broadcast, an
expression blow-up, an O(n²) slip like the 30× CollapseProject incident
recorded in the similarity module), not to benchmark. Real numbers live
in bench.py / BASELINE.md.
"""

from __future__ import annotations

import time

import pytest

import __spark_entry__ as E
from tests.conftest import SF_ORACLE

# (query, generous bound in seconds at sf0.01 on local[8])
BOUNDS = [
    ("flagship_q3", 15),
    ("dedup_near_jaccard", 20),
    ("sim_threshold_pairs", 20),
    ("text_fingerprint", 15),
    ("pipeline_llm_prep", 15),
    ("dedup_simhash", 20),
]


@pytest.mark.parametrize("name,bound", BOUNDS)
def test_query_completes_within_bound(spark, name, bound):
    fn = E.queries()[name]
    fn(spark, SF_ORACLE).count()  # warmup (codegen/plan)
    t0 = time.perf_counter()
    fn(spark, SF_ORACLE).count()
    elapsed = time.perf_counter() - t0
    assert elapsed < bound, f"{name} took {elapsed:.1f}s (bound {bound}s)"
