#!/usr/bin/env python
"""Static bounded-partition window lint (r10 verdict task 3).

The r10 round closed the bounded-partition window class by a MANUAL
sweep of every ``Window.partitionBy`` site: a window partitioned by a
HANDFUL of keys (event_type / source / lang / label) over an
entity-scale relation runs one task per key and never plans a
SinglePartition, so tools/plan_audit.py cannot see it (an Exchange
exists — just a tiny one). This tool mechanizes that sweep so the
classification can't silently regress:

Every ``Window.partitionBy(...)`` call in the package is located by
AST and classified:

- **entity**: any partition key is an entity-scale column (distinct
  count grows with the data) — the native window already parallelizes.
- **block**: any key is a rank/value-block subkey (``_bkt`` /
  ``_fbkt`` / ``_rbkt`` / ``bucket`` / ``b``) or a hash/mod expression
  — the r8-r11 primitives' blocked shape.
- **whitelisted**: a hand-audited site whose keys are bounded BUT
  whose INPUT is bounded too (day/dim-grain rollups, value-grid
  rollups, constant-k top-k with WindowGroupLimit pushdown, bounded
  input contracts, offsets-over-aggregate) — each entry carries its
  justification, and the check is two-way: a whitelist entry with no
  matching live site is reported STALE so the list can only shrink.
- anything else **FLAGS** — a new bounded-key window over unbounded
  input must either ride a blocked primitive or earn a justified
  whitelist entry in review.

Exit 1 on any flag or stale entry.  Usage: python tools/window_audit.py
"""

from __future__ import annotations

import ast
import glob
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "manual_data_ingest_spark")

#: entity-scale partition keys: distinct count grows with the data, so
#: the native window spreads across tasks by itself. (`probe_id`/`pid`/
#: `probe_pk` are the probe contracts: the probe SET is bounded, but
#: every probe-partitioned window here sits over per-probe candidate
#: sets with a rank<=k filter — WindowGroupLimit pushdown keeps each
#: mapper's state at k rows, the same reason constant-k top-k is safe.)
ENTITY_KEYS = {
    "o_custkey", "c_custkey", "user_id", "doc_id", "event_id", "vec_id",
    "neighbor_id", "src", "node", "dirty_id", "fuzzy_key", "probe_pk",
    "l_suppkey", "p_partkey", "o_orderkey", "l_orderkey", "h", "chunk",
    "chunk_md5", "probe_id", "pid",
}

#: block subkeys minted by the distributed-window primitives
#: (functions/ranking.py) or explicit shard/bucket assignments — their
#: presence means the partition was deliberately subdivided.
BLOCK_KEYS = {"_bkt", "_fbkt", "_rbkt", "bucket", "b", "epoch"}

#: hand-audited bounded-key sites: (relpath, owner, sorted-keys tuple)
#: -> justification. Owner is the registered op when the site is inside
#: one, else the enclosing function name.
WHITELIST = {
    ("functions/text.py", "text_ngrams", ("lang",)):
        "per-(lang,bigram) COUNT rollup + rn<=5 → WindowGroupLimit "
        "partial top-k",
    ("operators/aggregates.py", "agg_quantile_sketch_merge", ()):
        "offsets over a per-bucket aggregate (plan_audit's "
        "SinglePartition-above-aggregate exemption)",
    ("operators/aggregates.py", "agg_histogram_sketch_bins", ()):
        "offsets over sketch-bin aggregate",
    ("operators/aggregates.py", "agg_benford_deviation", ()):
        "9-row first-digit aggregate",
    ("operators/aggregates.py", "agg_abc_classification", ()):
        "offsets over bounded class aggregate (running-sum primitive "
        "carries the data-scale pass)",
    ("operators/aggregates.py", "agg_lorenz_curve", ("segment",)):
        "segment×decile rollup (≤ |segments|×10 rows)",
    ("operators/aggregates.py", "agg_spearman", ("l_returnflag",)):
        "exact per-flag rank: the exact-answer reference beside "
        "agg_spearman_grid's grid-binned rho",
    ("operators/aggregates.py", "agg_spearman",
     ("col", "l_returnflag")):
        "exact per-flag tie counts (same exact-reference arm)",
    ("operators/aggregates.py", "agg_spearman_grid", ("flag",)):
        "grid-binned rank rollup (bounded value grid)",
    ("operators/aggregates.py", "agg_spearman_grid", ("col", "flag")):
        "grid-binned tie counts (bounded value grid)",
    ("operators/aggregates.py", "agg_mode_deterministic",
     ("l_returnflag",)):
        "per-(flag,value) count rollup (l_quantity's 1..50 domain)",
    ("operators/aggregates.py", "agg_percentile_weighted", ("rf",)):
        "value-grid rollup (grid-binned weights)",
    ("operators/aggregates.py", "agg_percentile_weighted",
     ("q", "rf")):
        "flag×quantile grid (bounded)",
    ("operators/aggregates.py", "agg_gapfill_interp", ("n_nationkey",)):
        "dim(25)×date-series gapfill rollup",
    ("operators/ingest.py", "ingest_missing_hours_report",
     ("event_type",)):
        "hour-series rollup (type×hour rows)",
    ("operators/ingest.py", "ingest_volume_anomaly", ("event_type",)):
        "day-grain rollup input",
    ("operators/ml.py", "ml_ece", ()):
        "bin-weight total over the 10-row confidence-bin aggregate",
    ("operators/ml.py", "ml_lift_chart", ()):
        "offsets over decile aggregate",
    ("operators/ml.py", "ml_threshold_sweep", ()):
        "offsets over threshold-grid aggregate",
    ("operators/ml.py", "sim_pq_adc_topk", ("label",)):
        "IVF-list-bounded ADC candidates + rank<=k pushdown",
    ("operators/ml.py", "ml_precision_at_k", ("label",)):
        "probe derivation: rn==1 per label → WindowGroupLimit",
    ("operators/ml.py", "ml_ndcg_at_k", ("label",)):
        "probe derivation: rn==1 per label → WindowGroupLimit",
    ("operators/ml.py", "ml_conformal_interval", ("tbin",)):
        "single target quantile bin (bin-width-bounded rows)",
    ("operators/reshape.py", "sample_neyman_allocation", ()):
        "strata-count aggregate (bounded)",
    ("operators/similarity.py", "sim_topk", ("label",)):
        "probe derivation: rn==1 per label → WindowGroupLimit",
    ("operators/similarity.py", "_lsh_probe_derivation", ("label",)):
        "probe derivation: rn==1 per label → WindowGroupLimit",
    ("operators/similarity.py", "sim_ann_ivf", ("label",)):
        "probe derivation: rn==1 per label → WindowGroupLimit",
    ("operators/similarity.py", "sim_ann_ivf_pruned", ("label",)):
        "probe derivation: rn==1 per label → WindowGroupLimit",
    ("operators/similarity.py", "sim_quantize_int8", ("label",)):
        "probe derivation: rn==1 per label → WindowGroupLimit",
    ("operators/similarity.py", "sim_mmr_diversify", ("label",)):
        "probe derivation: rn==1 per label → WindowGroupLimit",
    ("operators/similarity.py", "sim_rrf_fusion", ("label",)):
        "probe derivation: rn==1 per label → WindowGroupLimit",
    ("operators/windows.py", "agg_markov_transition", ("prev_type",)):
        "type×type transition-count rollup (≤25 cells)",
    ("operators/windows.py", "agg_cusum_changepoint", ("event_type",)):
        "day-grain rollup input",
    ("operators/windows.py", "win_max_drawdown", ("event_type",)):
        "day-grain rollup input",
    ("operators/windows.py", "win_wma", ("event_type",)):
        "day-grain rollup input",
    ("operators/windows.py", "win_rsi", ("event_type",)):
        "day-grain rollup input",
    ("operators/windows.py", "win_rolling_regression", ("event_type",)):
        "day-grain rollup input",
    ("operators/windows.py", "win_range_duration", ("l_returnflag",)):
        "day-grain rollup input",
    ("operators/windows.py", "agg_cohort_ltv_curve", ("cohort_week",)):
        "week-grain cohort rollup",
    ("operators/windows.py", "win_interval_coalesce", ("sk",)):
        "bounded input contract (l_suppkey <= 20 filter)",
    ("plans/pipelines.py", "pipeline_llm_prep", ("_norm_key",)):
        "md5 digest dedup key (cardinality = distinct normalized "
        "texts; the hash moved one projection upstream in r12 so the "
        "exchange carries scores, not text — AST classifier cannot "
        "see md5 through the alias) + rn==1 → WindowGroupLimit",
    ("plans/pipelines.py", "pipeline_eval_pack", ("lang",)):
        "rk<=10 → WindowGroupLimit partial top-k",
    ("plans/pipelines.py", "pipeline_preference_pairs", ("lang",)):
        "rank<=3 → WindowGroupLimit (4 nodes plan-asserted, "
        "tests/test_plans.py)",
    ("plans/pipelines.py", "pipeline_filter_funnel", ()):
        "funnel-stage count aggregate (≤5 rows)",
    ("streaming/ops.py", "stream_topk_windowed", ("window_start",)):
        "windows×types rollup (bounded per batch window)",
}

#: pins for the r10/r11 distributed-window rewrites: these ops (or the
#: shared primitive) must keep a BLOCK subkey in at least one window —
#: if a refactor drops the blocking, the pin fails even though no
#: bounded-key site appears (the site might just have been deleted).
BLOCK_PINS = {
    ("operators/windows.py", "win_rolling_median"),
    ("operators/windows.py", "win_rolling_mad"),
    ("operators/windows.py", "win_gap_distribution"),
    ("operators/windows.py", "win_twap"),
    ("operators/windows.py", "win_trailing_range_type"),
    ("functions/ranking.py", "with_exact_global_rank"),
    ("functions/ranking.py", "with_exact_partitioned_rank"),
    ("functions/ranking.py", "with_exact_running_sum"),
    ("functions/ranking.py", "with_exact_running_max"),
}


def _sites():
    out = []
    for path in sorted(glob.glob(PKG + "/**/*.py", recursive=True)):
        rel = os.path.relpath(path, PKG)
        tree = ast.parse(open(path).read())
        funcs = []
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                op = None
                for d in node.decorator_list:
                    if (isinstance(d, ast.Call)
                            and getattr(d.func, "id", "") == "register"
                            and d.args
                            and isinstance(d.args[0], ast.Constant)):
                        op = d.args[0].value
                funcs.append((node.lineno, node.end_lineno, node.name, op))

        def owner(ln):
            containing = [f for f in funcs if f[0] <= ln <= f[1]]
            regs = [f for f in containing if f[3]]
            if regs:  # nearest enclosing REGISTERED op
                return max(regs, key=lambda f: f[0])[3]
            if containing:  # innermost plain function (module helper)
                return max(containing, key=lambda f: f[0])[2]
            return "<module>"

        for node in ast.walk(tree):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "partitionBy"
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "Window"):
                continue
            keys, exprs = [], []
            for a in node.args:
                if isinstance(a, ast.Constant):
                    keys.append(str(a.value))
                else:
                    exprs.append(ast.unparse(a))
            out.append((rel, node.lineno, owner(node.lineno),
                        tuple(keys), tuple(exprs)))
    return out


#: hash/bucketing functions whose presence in a partitionBy EXPRESSION
#: marks the window as block-partitioned (bounded by construction)
_HASH_FUNCS = ("crc32", "conv", "hash", "md5", "pmod", "sha1", "sha2",
               "xxhash64")
#: SQL-text fallback for F.expr("...") string payloads: a hash-func
#: CALL (name followed by '(') or a modulo OPERATOR in value context —
#: NOT any substring, so 'my_hash_col' or a '%' inside a LIKE pattern
#: no longer auto-exempts a window (r11 advice: the old substring match
#: was a false-negative generator in the exact tool meant to catch them)
import re as _re

_SQL_BLOCK_RE = _re.compile(
    r"(?:\b(?:" + "|".join(_HASH_FUNCS) + r")\s*\()"
    r"|(?:[\w)\]]\s*%\s*[\w(])")


def _expr_is_block(src: str) -> bool:
    """AST-level block detection for an unparsed partitionBy expression:
    a Mod BinOp or a call to a hash/bucket function counts; string
    constants inside (F.expr payloads) fall back to call/operator-shaped
    regexes. Plain identifiers that merely CONTAIN 'hash' or '%' do not
    match."""
    try:
        tree = ast.parse(src, mode="eval")
    except SyntaxError:
        return bool(_SQL_BLOCK_RE.search(src))
    for n in ast.walk(tree):
        if isinstance(n, ast.BinOp) and isinstance(n.op, ast.Mod):
            return True
        if isinstance(n, ast.Call):
            f = n.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(
                f, "id", "")
            if name in _HASH_FUNCS:
                return True
        if (isinstance(n, ast.Constant) and isinstance(n.value, str)
                and _SQL_BLOCK_RE.search(n.value)):
            return True
    return False


def classify(keys, exprs):
    if any(k in ENTITY_KEYS for k in keys):
        return "entity"
    if any(k in BLOCK_KEYS for k in keys):
        return "block"
    for e in exprs:
        if _expr_is_block(e):
            return "block"
        if e.startswith("*"):
            # splatted caller keys next to a block literal are covered
            # above; a bare splat (the primitives' offsets-over-counts
            # windows) is bounded by construction
            return "splat-counts"
    if exprs and not keys:
        return "expr"
    return "bounded"


def main() -> None:
    sites = _sites()
    flagged, used = [], set()
    for rel, ln, op, keys, exprs in sites:
        cls = classify(keys, exprs)
        if cls in ("entity", "block", "splat-counts"):
            continue
        wkey = (rel, op, tuple(sorted(keys + exprs)))
        if wkey in WHITELIST:
            used.add(wkey)
            continue
        flagged.append((rel, ln, op, keys + exprs, cls))
    stale = sorted(set(WHITELIST) - used)
    pins_ok, pins_bad = [], []
    by_owner = {}
    for rel, ln, op, keys, exprs in sites:
        by_owner.setdefault((rel, op), []).append(keys + exprs)
    for pin in sorted(BLOCK_PINS):
        keysets = by_owner.get(pin, [])
        ok = any(any(k in BLOCK_KEYS for k in ks) for ks in keysets)
        (pins_ok if ok else pins_bad).append(pin)
    for rel, ln, op, keys, cls in flagged:
        print(f"FLAG {rel}:{ln} [{op}] partitionBy{keys} ({cls}) — "
              "bounded keys over unaudited input: block it or "
              "whitelist with justification")
    for wkey in stale:
        print(f"STALE-WHITELIST {wkey}")
    for pin in pins_bad:
        print(f"PIN-BROKEN {pin}: no block-subkey window remains")
    print(f"SUMMARY: {len(sites)} sites, {len(flagged)} flagged, "
          f"{len(stale)} stale whitelist entries, "
          f"{len(pins_ok)}/{len(BLOCK_PINS)} block pins hold")
    sys.exit(1 if (flagged or stale or pins_bad) else 0)


if __name__ == "__main__":
    main()
