#!/usr/bin/env python
"""Capture .explain("formatted") for headline queries into plans/$PLANS_ROUND/.

Usage: python3 tools/capture_plans.py <suffix> [name ...]
Writes plans/<round>/<query>_<suffix>.txt (round from $PLANS_ROUND, default r13) for each query (default: the
bench.py HEADLINE set) under the bench session config. Judge-facing
evidence for OPTIMIZATION_r12.md — plan text only, no timing, so it can
run beside other work.
"""
from __future__ import annotations

import os
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from bench import HEADLINE, bench_session  # noqa: E402


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:] or HEADLINE

    import __spark_entry__ as E

    spark, sf_dir = bench_session("mdis-plan-capture")
    qs = E.queries()
    out_dir = Path(_REPO) / "plans" / os.environ.get("PLANS_ROUND", "r13")
    out_dir.mkdir(parents=True, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        if df.isStreaming:
            text = ("(streaming plan — explain of the logical streaming "
                    "DataFrame)\n" + df._jdf.queryExecution().toString())
        else:
            text = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        (out_dir / f"{name}_{suffix}.txt").write_text(text)
        print(f"wrote {name}_{suffix}.txt ({len(text)} bytes)")


if __name__ == "__main__":
    main()
