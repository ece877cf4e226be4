"""Tests of the benchmark itself. Run from the repository root:

    python -m pytest perfbench -q -p no:cacheprovider

All but the span arithmetic need the engine's default input directory
(``catalog.DEFAULT_SF_DIR``); the Spark tests start their own session.
"""

from __future__ import annotations

import hashlib
import os
import re
import sys
import tempfile

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import corpus  # noqa: E402
import run  # noqa: E402
from spans import Span, self_times  # noqa: E402
from workloads import CORPUS_COPIES, OPERATORS, WORKLOADS, Workload  # noqa: E402

from streaming_data_lake_spark.catalog import DEFAULT_SF_DIR, table_path  # noqa: E402

# The query families the workloads are drawn from, with the input each
# family is checked on (corpus copies).
FAMILIES = {
    "lake_query": (1, [
        "pricing_summary", "revenue_by_region", "monthly_nation_revenue",
        "top_busiest_hours", "funnel_conversion_daily", "sliding_window_metrics",
        "interval_join_click_view", "latest_event_per_user_type",
        "event_quality_spine_hourly", "asof_view_within_6h", "bucketed_colocated_join",
        "user_rolling_7day_value", "rollup_revenue_levels", "hll_distinct_users_daily",
        "bloom_semi_join_prune", "consistent_hash_sample", "sql_over_views_adhoc",
        "large_orders_having", "price_outliers_zscore", "range_band_pricing",
        "cube_device_day_metrics", "topn_customers_per_nation",
        "scd2_point_in_time_enrichment", "funnel_leakage_daily",
    ]),
    "corpus_x4": (CORPUS_COPIES, [q for qs in OPERATORS.values() for q in qs
                                  if q not in ("hll_distinct_users_daily", "bloom_semi_join_prune")]),
    "lake_ingest": (1, [
        "streaming_upsert_hourly", "streaming_funnel_daily", "streaming_sessionize",
        "streaming_clean_events", "streaming_fanout_ingest", "streaming_interval_join_daily",
        "materialize_incremental_clean_events", "materialize_dim_change_repair",
        "materialize_funnel_exists_repair", "maintenance_compaction",
        "two_level_overlay_maintenance",
    ]),
}

needs_input = pytest.mark.skipif(not os.path.isdir(DEFAULT_SF_DIR), reason="no input directory")


@pytest.fixture
def bench_env(monkeypatch, tmp_path):
    """Run the benchmark from a scratch directory and restore the
    environment variables it sets."""
    monkeypatch.chdir(tmp_path)
    for key, sub in (("SPARK_GRAFT_STREAM_SCRATCH", "scratch"), ("SPARK_GRAFT_ARTIFACTS", "artifacts"),
                     ("TMPDIR", "tmp")):
        os.makedirs(tmp_path / sub)
        monkeypatch.setenv(key, str(tmp_path / sub))
    monkeypatch.setattr(tempfile, "tempdir", None)
    yield tmp_path


def _digest(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


# -- corpus generator --------------------------------------------------------
@needs_input
def test_corpus_is_deterministic_per_seed(tmp_path):
    a = corpus.build(DEFAULT_SF_DIR, str(tmp_path / "a"), 4, seed=7)
    b = corpus.build(DEFAULT_SF_DIR, str(tmp_path / "b"), 4, seed=7)
    c = corpus.build(DEFAULT_SF_DIR, str(tmp_path / "c"), 4, seed=8)
    for name in corpus.CORPUS_TABLES:
        assert _digest(table_path(a, name)) == _digest(table_path(b, name))
        assert _digest(table_path(a, name)) != _digest(table_path(c, name))
    assert os.path.realpath(table_path(a, "orders")) == os.path.realpath(
        table_path(DEFAULT_SF_DIR, "orders"))


@needs_input
def test_corpus_copies_keep_ids_vocabulary_and_cosines_apart(tmp_path):
    out = corpus.build(DEFAULT_SF_DIR, str(tmp_path / "x"), 3, seed=1)
    src_docs = pq.read_table(table_path(DEFAULT_SF_DIR, "documents"))
    docs = pq.read_table(table_path(out, "documents"))
    n = src_docs.num_rows
    assert docs.num_rows == 3 * n
    assert docs.slice(0, n).to_pylist() == src_docs.replace_schema_metadata(None).to_pylist()
    ids = docs.column("doc_id").to_numpy()
    assert len(set(ids)) == len(ids)
    vocab = [{w for t in docs.column("text").slice(c * n, n).to_pylist() if t for w in t.split(" ")}
             for c in range(3)]
    assert not (vocab[0] & vocab[1]) and not (vocab[0] & vocab[2]) and not (vocab[1] & vocab[2])
    assert docs.column("n_chars").to_pylist() == [
        None if t is None else len(t) for t in docs.column("text").to_pylist()]

    emb = pq.read_table(table_path(out, "embeddings"))
    m = emb.num_rows // 3
    vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)

    def cos(v):
        u = v[:50] / np.linalg.norm(v[:50], axis=1, keepdims=True)
        return u @ u.T

    for c in (1, 2):
        np.testing.assert_allclose(cos(vecs[c * m:(c + 1) * m]), cos(vecs[:m]), atol=1e-6)
        assert not np.allclose(vecs[c * m:c * m + 50], vecs[:50])


# -- spans -------------------------------------------------------------------
def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span("fn", 0.0, 10.0, None, 0),
        Span("a", 1.0, 4.0, 0, 0),
        Span("b", 3.0, 5.0, 0, 0),   # overlaps a: covered 1..5
        Span("c", 9.0, 12.0, 0, 0),  # clipped to the parent: 9..10
        Span("d", 2.0, 3.0, 1, 0),
    ]
    assert self_times(spans) == pytest.approx([5.0, 2.0, 2.0, 3.0, 1.0])


def test_benchmark_json_lists_what_the_benchmark_reports():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = run.json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    family_queries = {q for _, qs in FAMILIES.values() for q in qs}
    assert set(run.ALL_QUERIES) <= family_queries
    seen = [q for qs in OPERATORS.values() for q in qs]
    assert len(seen) == len(set(seen))


# -- correctness gate ------------------------------------------------------
@needs_input
def test_wrong_or_raising_query_fails_the_run(bench_env, monkeypatch, capsys):
    from streaming_data_lake_spark.queries import Query, all_queries

    real = all_queries()["pricing_summary"]

    def wrong(spark, sf_dir):
        return real.fn(spark, sf_dir).limit(1)

    def boom(spark, sf_dir):
        raise RuntimeError("deliberate failure")

    queries = {
        "pricing_summary": Query("pricing_summary", wrong, real.oracle),
        "boom": Query("boom", boom, None),
    }
    monkeypatch.setitem(run.WORKLOADS, "wrong", Workload("wrong", ("pricing_summary", "boom")))
    execute = run.execute
    monkeypatch.setattr(run, "execute", lambda *a: execute(*a, queries=queries))

    code = run.main(["--workload", "wrong", "--seed", "1", "--seconds", "0.1", "--trace", "0"])

    out = capsys.readouterr().out.strip().splitlines()
    result = run.json.loads(out[-1])
    assert code == 1
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is False
    # prime: 2 ops, one raised and one failed its oracle; timed: two
    # passes (MIN_PASSES) of 2 ops, one raising in each
    assert result["attempted"] == 2 + 2 * run.MIN_PASSES
    assert result["failed"] == 2 + run.MIN_PASSES
    record = run.json.loads(out[-2])
    assert record["fail_ratio"] == pytest.approx((2 + run.MIN_PASSES) / (2 + 2 * run.MIN_PASSES))
    assert {(e["query"], e["phase"]) for e in record["errors"]} == {
        ("pricing_summary", "oracle"), ("boom", "prime"), ("boom", "timed")}


# -- full output ---------------------------------------------------------------
def _last_plan(spark) -> str:
    store = spark._jsparkSession.sharedState().statusStore()
    return store.executionsList().last().physicalPlanDescription()


@needs_input
@pytest.mark.parametrize("name", ["pricing_summary", "token_counts"])
def test_timed_action_is_a_noop_write_of_every_output_column(bench_env, name):
    from streaming_data_lake_spark.queries import all_queries

    w = Workload("lake_query", (name,), CORPUS_COPIES)
    bench = run.Run(w, seed=1, seconds=0.0, trace=False)
    try:
        bench.start(w.input_dir(DEFAULT_SF_DIR, str(bench_env), 1))
        bench._op(0, name, traced=False)
        assert not bench.errors and len(bench.samples) == 1
        plan = _last_plan(bench.spark)
        node, idx = re.search(r"== Physical Plan ==\n(\w+) \((\d+)\)", plan).groups()
        written, target = re.search(
            rf"\({idx}\) {node}\s*\nInput \[\d+\]: \[(.*?)\]\nArguments: (\w+)", plan).groups()
        assert target == "NoopWrite"
        cols = all_queries()[name].fn(bench.spark, bench.input_dir).columns
        assert [re.sub(r"#\d+L?$", "", c) for c in written.split(", ")] == cols

        # The check can see pruning: a count() plan drops output columns.
        all_queries()[name].fn(bench.spark, bench.input_dir).count()
        count_plan = _last_plan(bench.spark)
        assert [c for c in cols if not re.search(rf"\b{re.escape(c)}#\d+", count_plan)]
    finally:
        bench.stop()


# -- every query of the full families is oracle-green on its input -------------
@needs_input
@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_every_family_query_matches_its_oracle(bench_env, family):
    copies, queries = FAMILIES[family]
    w = Workload(family, tuple(queries), copies)
    bench = run.Run(w, seed=1, seconds=0.0, trace=False)
    try:
        bench.start(w.input_dir(DEFAULT_SF_DIR, str(bench_env), 1))
        _, outputs = bench.prime()
        bench.check(outputs)
    finally:
        bench.stop()
    assert bench.errors == []
