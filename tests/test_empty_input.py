"""Empty-input robustness: operators must not CRASH on 0-row tables.

A 100 TB pipeline meets empty inputs constantly — a backfill window with
no data, a partition with no late events, a tenant with no documents. An
operator that throws (instead of returning an empty/NULL-graded result)
kills the whole job. The fast tier re-runs the operators that originally
FAILED the all-empty sweep — the regression set — plus one
representative per structural family; the slow
`test_every_query_runs_on_empty_tables` collects every registered
operator on the same empty fixture (tools/round_gates.sh runs the slow
tier). The NULL-injected and other mutated fixtures are checked
hash-exact over every operator by the tools/sweep.py rows in that gate;
the fast NULL panel here is their per-commit regression net.

Original failure classes (all fixed, each annotated at the fix site):
- write-then-readback schema inference: zero part files → explicit
  `.schema(...)` on read-back (sink_partitioned, sink_merge_upsert,
  scan_manifest_pruned, pipeline_ingest_register, and the since-deleted
  partitioned IVF index)
- ANSI DIVIDE_BY_ZERO on count denominators → `when(n > 0, ...)`
  (win_funnel_steps, ingest_dq_suite, ingest_gdpr_erasure)
- driver-side 1/0 on an empty node set → early empty return
  (graph_pagerank)
- footer stats of an empty row group → skip stat-less groups
  (scan_footer_stats)
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

#: fast tier: the ten originally-failing ops + structural-family
#: representatives
FAST_PROBES = [
    # regression set
    "sink_partitioned", "sink_merge_upsert", "scan_manifest_pruned",
    "pipeline_ingest_register", "sim_ann_ivf", "win_funnel_steps",
    "ingest_dq_suite", "ingest_gdpr_erasure", "graph_pagerank",
    "scan_footer_stats",
    # family representatives
    "flagship_q3", "agg_pricing_summary", "win_rank_trio",
    "dedup_near_minhash", "dedup_simhash_wide", "dedup_embedding_ann",
    "sim_topk", "text_quality",
    "pipeline_llm_prep", "stream_session", "agg_ks_test",
    "pipeline_bpe_train",
]


@pytest.fixture(scope="module")
def empty_dir(tmp_path_factory):
    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.001"
    dst = str(tmp_path_factory.mktemp("mdis_empty"))
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            t = pq.read_table(f"{src}/{f}")
            pq.write_table(t.slice(0, 0), f"{dst}/{f}")
    return dst


@pytest.mark.parametrize("name", FAST_PROBES)
def test_no_crash_on_empty_tables(spark, empty_dir, name):
    import __spark_entry__ as E

    rows = E.queries()[name](spark, empty_dir).collect()
    assert isinstance(rows, list)  # any row count is fine; crashing is not


@pytest.mark.slow  # every registered op; tools/round_gates.sh runs it
def test_every_query_runs_on_empty_tables(spark, empty_dir):
    """Every registered query collects on the 0-row fixture. One failure
    message lists every broken operator, not just the first."""
    import __spark_entry__ as E

    failures = []
    for name, fn in E.queries().items():
        try:
            fn(spark, empty_dir).collect()
        except Exception as exc:  # collect all, report once
            failures.append(f"{name}: {type(exc).__name__}: {exc}")
    assert not failures, "\n".join(failures)


#: fast tier: operators that originally crashed the NULL-injection
#: sweep (10% NULLs in every non-key column): np.stack over None
#: vectors, None media buffers, NULL map keys, zero-weight groups,
#: collect_list-vs-count(*) index overruns in the sketches, None
#: manifest stats
FAST_NULL_PROBES = [
    "sim_topk", "sim_threshold_pairs", "sim_quantize_int8",
    "dedup_simhash_wide", "dedup_embedding_ann",
    "multimodal_decode", "multimodal_frame_sample", "multimodal_audio_stub",
    "agg_quantile_sketch_merge", "agg_histogram_sketch_bins",
    "map_ops", "map_transform_filter", "scan_binaryfile",
    "scan_manifest_pruned", "udf_grouped_agg", "ml_pca_power",
]


@pytest.mark.parametrize("probes", [FAST_PROBES, FAST_NULL_PROBES],
                         ids=["empty", "nulls"])
def test_probe_lists_name_each_op_once(probes):
    """A repeated name runs the same probe twice under ``name0``/``name1``
    ids; each op belongs in a panel once."""
    assert sorted(n for n in set(probes) if probes.count(n) > 1) == []


@pytest.fixture(scope="module")
def nulls_dir(tmp_path_factory):
    """Every non-key column gets a NULL on every 10th row."""
    from tools.sweep import build

    return build("nulls", str(tmp_path_factory.mktemp("mdis_nulls")))


@pytest.mark.parametrize("name", FAST_NULL_PROBES)
def test_no_crash_on_null_cells(spark, nulls_dir, name):
    import __spark_entry__ as E

    rows = E.queries()[name](spark, nulls_dir).collect()
    assert isinstance(rows, list)


@pytest.fixture(scope="module")
def unicode_dir(tmp_path_factory):
    """Non-ASCII text appended to every 7th document: accents, CJK,
    Cyrillic, emoji (astral-plane codepoints), an embedded tab."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.001"
    dst = str(tmp_path_factory.mktemp("mdis_unicode"))
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            shutil.copy(f"{src}/{f}", f"{dst}/{f}")
    t = pq.read_table(f"{dst}/documents.parquet")
    texts = t.column("text").to_pylist()
    extra = ["héllo wörld", "日本語 テスト",
             "emoji \U0001f680\U0001f525 test", "综合 数据 管理",
             "naïve café déjà-vu", "кириллица тест", "plain", "tab\tchar"]
    for i in range(len(texts)):
        if i % 7 == 2:
            texts[i] = (texts[i] or "") + " " + extra[i % len(extra)]
    cols = {n: t.column(n) for n in t.column_names}
    cols["text"] = pa.array(texts, type=pa.string())
    pq.write_table(pa.table(cols), f"{dst}/documents.parquet")
    return dst


def test_text_family_oracle_exact_on_unicode(spark, unicode_dir):
    """Beyond no-crash: the text/dedup family must stay HASH-EXACT vs
    the DuckDB oracle on non-ASCII input — string length semantics
    (codepoints vs bytes), regex classes, md5-of-UTF-8, and case
    mapping are all classic cross-engine divergence points. A swept
    subset (the codepoint-sensitive operators) runs the full oracle
    comparison on the unicode fixture."""
    from tests.oracle_check import run_all

    names = ["text_stats", "text_wordcount", "text_ngrams", "text_lang_id",
             "text_token_bpe", "text_fingerprint", "dedup_exact",
             "pipeline_bpe_train",
             # r8: multiline-CSV quoting must survive non-ASCII text
             # (the unicode fixture embeds a literal TAB too)
             "scan_csv_multiline"]
    results = run_all(sf_dir=unicode_dir, only=names, spark=spark)
    bad = [r.name for r in results if not r.ok]
    assert not bad, bad


#: Aggregate-total operators whose empty-input answer is a SINGLE row
#: with SQL NULL semantics (sum over zero rows is NULL, count is 0) —
#: the no-crash probe can't see a NULL-vs-0.0 divergence, so these are
#: held hash-exact on the EMPTY fixture too (r6 advisor, medium:
#: stream_observed_metrics coalesced an absent cents sum to 0.0).
EMPTY_ORACLE_EXACT = [
    "stream_observed_metrics", "agg_pricing_summary", "agg_boolean",
]


def test_empty_semantics_oracle_exact(spark, empty_dir):
    from tests.oracle_check import run_all

    results = run_all(sf_dir=empty_dir, only=EMPTY_ORACLE_EXACT,
                      spark=spark)
    bad = [(r.name, r.detail[:120]) for r in results if not r.ok]
    assert len(results) == len(EMPTY_ORACLE_EXACT)
    assert not bad, bad


def test_binaryfile_empty_string_doc_oracle_exact(spark, tmp_path):
    """An EMPTY-STRING (non-NULL) document writes a zero-byte file,
    which Spark's file sources SKIP — so scan_binaryfile's contract is
    `text IS NOT NULL AND text <> ''` on BOTH engines (r7 advisor: the
    fixture shim now skips empty-string docs and the oracle mirrors the
    filter; this probe pins the contract on a fixture that actually
    CONTAINS an empty-string doc — the stock fixtures have none)."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.oracle_check import run_all

    src = "/root/testdata/sf0.001"
    dst = str(tmp_path / "emptystr")
    os.makedirs(dst)
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            shutil.copy(f"{src}/{f}", f"{dst}/{f}")
    t = pq.read_table(f"{dst}/documents.parquet")
    texts = t.column("text").to_pylist()
    texts[0] = ""  # one empty-string doc: zero bytes on the mount
    cols = [t.column(c) if c != "text" else pa.array(texts, pa.string())
            for c in t.column_names]
    pq.write_table(pa.table(cols, names=t.column_names),
                   f"{dst}/documents.parquet")
    results = run_all(sf_dir=dst, only=["scan_binaryfile"], spark=spark)
    assert results and all(r.ok for r in results), [
        (r.name, r.detail[:120]) for r in results if not r.ok]


def test_tight_json_guard_symmetry(spark, tmp_path):
    """PINNED (r9 advice): the tight-JSON guard must be the SAME
    predicate on both engines. The r8 contract was regex-only on Spark
    but regex+json_valid on the oracle, so '{"k":55} junk}' (Jackson
    leniently extracts 55; yyjson says invalid) diverged. The strict
    flat-object grammar regex closes the class: every lenient-parse
    payload NULLs on BOTH sides, every historical payload still parses.
    Runs the three registered JSON consumers against their registered
    oracles on a fixture made ENTIRELY of boundary payloads."""
    import duckdb

    from manual_data_ingest_spark.registry import all_oracles, all_queries
    from tests.oracle_check import compare

    payloads = [
        '{"k": 69}', '{"k":55}', '  {"k": 7, "s": "ab"}  ', '{}',
        '{"a": -1.5e-3, "b": null, "k": 99}',
        '{"k":55} junk}', '{"k":55}{"x":1}', '{"k":55,}', '{"k":55}}',
        '{"a":{"b":2}}', "{'k':55}", '{"k":}', '{broken', 'null',
        # brace inside a string VALUE passes the grammar (valid JSON,
        # parsed identically) — keyed "s" because the fixture contract
        # types $.k as int on both engines
        '{"s":"a}b", "k": 3}', '{"k": [1,2]}', '{"k": 69} héllo', None,
        # duplicate extracted key: grammar-valid but the engines split
        # three ways (from_json last-wins, variant rejects, yyjson
        # first-wins) — the key-once contract leg NULLs it for the
        # from_json/variant consumers; get_json_object stays
        # first-wins-aligned with the oracle
        '{"k":1,"k":2}', '{"k": 7, "s": "x", "k": 8}',
        # r10 (r9 advice, medium): regex-accepted-but-INVALID JSON under
        # the r9 grammar — a leading-zero number and a raw control char
        # inside a string (both RFC-invalid; yyjson throws, Jackson
        # NULLs). The tightened grammar must reject both so the guard
        # NULLs them symmetrically instead of aborting the oracle.
        # (valid-JSON positives ride non-k keys: the fixture contract
        # types $.k as int on both engines)
        '{"k": 012}', '{"s":"a\nb", "k": 4}', '{"k": 0}',
        '{"a": 0.5, "k": 11}', '{"a": -0.5e2, "k": 12}',
    ]
    import datetime as dt

    rows = [(i, dt.datetime(2024, 1, 1) + dt.timedelta(hours=i), i % 3,
             "click", 1.0, p) for i, p in enumerate(payloads)]
    sf_dir = str(tmp_path / "sf_json")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    ).coalesce(1).write.parquet(f"{sf_dir}/events.parquet")

    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{sf_dir}/events.parquet/*.parquet')")
    for name in ("json_extract", "json_schema_parse", "variant_funcs"):
        res = compare(name, all_queries()[name](spark, sf_dir),
                      con, all_oracles()[name])
        assert res.ok, (name, res.detail)


def test_numeric_envelope_negative_median_and_big_price(spark, tmp_path):
    """PINNED (r9 advice): two envelope cases the numeric sweep's 8%
    negation / bounded magnitudes never reach. (a) a group whose
    discrete median is NEGATIVE — agg_approx_quantile's relative bound
    threshold must use |quantile| or approx_ok goes false on an EXACT
    sketch answer; (b) o_totalprice ≥ $30.4M — agg_corr_covar's
    c*c / c*y co-moments overflow BIGINT/long unless both engines cast
    before multiplying. Registered ops vs registered oracles."""
    import datetime as dt

    import duckdb

    from manual_data_ingest_spark.registry import all_oracles, all_queries
    from tests.oracle_check import compare

    rows = []
    # group 'N': all-negative prices -> negative discrete median
    for i, p in enumerate([-10.0, -20.0, -30.0, -40.0, -50.0, -60.0, -70.0]):
        rows.append((i, 100 + i, "N", p,
                     dt.datetime(2024, 1, 1) + dt.timedelta(days=i), "3-MEDIUM"))
    # group 'B': price cents past 3.04e9 (c*c and c*y overflow int64)
    for i, p in enumerate([40_000_000.0, 41_000_000.0, 42_000_000.0]):
        rows.append((100 + i, 200 + i, "B", p,
                     dt.datetime(2024, 2, 1) + dt.timedelta(days=i), "1-URGENT"))
    sf_dir = str(tmp_path / "sf_envelope")
    spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderstatus string, "
              "o_totalprice double, o_orderdate timestamp, "
              "o_orderpriority string"
    ).coalesce(1).write.parquet(f"{sf_dir}/orders.parquet")

    con = duckdb.connect()
    con.execute("CREATE VIEW orders AS SELECT * FROM "
                f"read_parquet('{sf_dir}/orders.parquet/*.parquet')")
    for name in ("agg_approx_quantile", "agg_corr_covar"):
        res = compare(name, all_queries()[name](spark, sf_dir),
                      con, all_oracles()[name])
        assert res.ok, (name, res.detail)
    # and the negative-median group really exercises the bound: Spark
    # must report approx_ok TRUE there (the oracle hard-codes TRUE)
    got = {r.o_orderstatus: r.approx_ok for r in
           all_queries()["agg_approx_quantile"](spark, sf_dir).collect()}
    assert got == {"N": True, "B": True}, got
