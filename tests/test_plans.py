"""Physical-plan shape tests: the scale contract (SURVEY §4). These
assert the properties that make the engine viable at 100 TB —
filter/column pushdown into parquet scans, broadcast joins for small
sides, and zero Python UDFs in hot paths (whole-stage codegen) — so a
regression that silently de-optimizes a plan fails CI, not a cluster."""

from __future__ import annotations

import contextlib
import io
import os
import sys

import pyspark.sql.functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rust_vector_search_spark.operators.knn import knn_exact  # noqa: E402
from rust_vector_search_spark.plans import QUERIES  # noqa: E402

from conftest import SF_SMOKE  # noqa: E402


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_no_notimplementederror_stubs_in_package():
    """Every error surface is intentional: unsupported inputs raise typed
    ValueErrors, never NotImplementedError stubs (VERDICT r5 item 7)."""
    import pathlib

    pkg = pathlib.Path(__file__).parent.parent / "rust_vector_search_spark"
    hits = [
        str(p) for p in pkg.rglob("*.py") if "NotImplementedError" in p.read_text()
    ]
    assert not hits, f"NotImplementedError stubs remain in: {hits}"


def test_q6_filter_pushdown(spark):
    plan = plan_of(QUERIES["q6_forecast_revenue"](spark, SF_SMOKE))
    assert "PushedFilters" in plan
    # shipdate + discount + quantity predicates reach the parquet scan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]
    assert "l_discount" in plan.split("PushedFilters")[1][:400]


def test_q6_column_pruning(spark):
    plan = plan_of(QUERIES["q6_forecast_revenue"](spark, SF_SMOKE))
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "l_extendedprice" in read_schema
    # untouched wide columns are NOT read
    assert "l_returnflag" not in read_schema
    assert "l_partkey" not in read_schema


def test_knn_broadcasts_queries(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plan = plan_of(knn_exact(emb, q, k=10))
    assert "Broadcast" in plan  # query side broadcast, corpus stays distributed
    assert "SortMergeJoin" not in plan


def test_hot_paths_have_no_python_udf(spark):
    """Distance math must stay JVM-side (higher-order functions), never
    row-at-a-time Python (SURVEY §2.2 UDF row: zero UDFs in hot path)."""
    for name in ("knn_exact_euclidean", "ann_ivf_topk", "dedup_minhash_lsh_pairs",
                 "q1_pricing_summary", "dedup_simhash_pairs",
                 # r6b: layout bit-math, CDC windows, and label-filtered
                 # mining are pure Catalyst too
                 "zorder_layout_stats", "scd2_customer_order_history",
                 "hard_negative_pairs"):
        plan = plan_of(QUERIES[name](spark, SF_SMOKE))
        assert "BatchEvalPython" not in plan, f"{name} fell off the JVM path"
        assert "PythonUDF" not in plan, f"{name} fell off the JVM path"


def test_multimodal_uses_arrow_batches(spark):
    """The one deliberate Python crossing must be Arrow-batched
    mapInPandas, not row-at-a-time UDF."""
    for name in (
        "multimodal_binary_features",
        "multimodal_audio_features",
        "multimodal_video_frame_sample",
        "multimodal_png_features",
    ):
        plan = plan_of(QUERIES[name](spark, SF_SMOKE))
        assert "MapInPandas" in plan or "ArrowEvalPython" in plan, name
        assert "BatchEvalPython" not in plan, name
        # the codec pipeline is embarrassingly parallel: no shuffle may
        # appear between the encode and decode MapInPandas stages
        assert "hashpartitioning" not in plan, name


def test_simhash_fingerprint_is_shuffle_free(spark):
    """The SimHash fingerprint folds per row (one aggregate expression,
    word-hash array evaluated once) — no explode → groupBy wordcount
    shuffle, no join, no Python. At 100 TB that is the difference
    between a map-only pass and a corpus-wide exchange."""
    from rust_vector_search_spark.operators.dedup import simhash
    from rust_vector_search_spark.sources import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    plan = plan_of(simhash(docs))
    assert "hashpartitioning" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_repetition_score_is_shuffle_free(spark):
    """doc_repetition_score claims zero computation shuffles: per-doc
    HOF folds only — no hash-partitioned Exchange, no join, no Python.
    (The single RoundRobin Exchange in the plan is load_table's
    single-file-fixture ingest parallelizer, not operator work.)"""
    plan = plan_of(QUERIES["doc_repetition_score"](spark, SF_SMOKE))
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_dim_joins_broadcast(spark):
    plan = plan_of(QUERIES["q5_region_nation_revenue"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan


def test_partial_plus_final_aggregation(spark):
    """Map-side partial aggregation must precede the exchange — the
    shape that keeps a 100 TB groupBy's shuffle proportional to group
    count, not row count. (AQE's pre-execution explain hides codegen
    annotation, so we assert the agg/exchange/agg sandwich.)"""
    plan = plan_of(QUERIES["q1_pricing_summary"](spark, SF_SMOKE))
    agg_then_exchange = plan.find("HashAggregate")
    exchange = plan.find("Exchange")
    assert agg_then_exchange != -1 and exchange != -1
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_corpus_as_queries_rerank_not_broadcast(spark, monkeypatch):
    """VERDICT r2 #1: the flagship all-pairs path passes the WHOLE corpus
    as queries — the re-rank must NOT broadcast the query side once the
    queries are over the query gate (corpus-sized broadcast =
    100x-scale OOM), while a query set under it still gets the
    broadcast fast path. Differential assertion with auto-broadcast off
    so only explicit hints can broadcast. Over the gate: the query gate
    is 0, so the fixture corpus is over it and the search takes the
    Spark plan. Under it: the node gate is 0 instead, which also turns
    the one-pass kernel off."""
    from rust_vector_search_spark.operators.index import build_rp_forest
    from rust_vector_search_spark.operators.search import search_rp_forest

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    corpus_q = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    forest = build_rp_forest(emb, num_trees=2, max_node_size=8, seed=42)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        with monkeypatch.context() as m:
            m.setenv("SPARK_GRAFT_BC_QUERIES_MB", "0")
            gated = plan_of(
                search_rp_forest(forest, emb, corpus_q, k=3, backfill=False)
            )
        with monkeypatch.context() as m:
            m.setenv("SPARK_GRAFT_BC_NODES_MB", "0")
            hinted = plan_of(
                search_rp_forest(forest, emb, corpus_q, k=3, backfill=False)
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" not in gated, gated[:2000]
    assert "BroadcastNestedLoop" not in gated
    assert "BroadcastHashJoin" in hinted  # the bounded-batch fast path survives


def test_ivf_int8_scan_is_cell_equijoin(spark):
    """VERDICT r5 item 3: the int8 prefilter must reach the code table
    through a cell EQUI-join, never a crossJoin/nested-loop over all
    codes. The only nested-loop joins allowed in the whole plan are the
    two tiny centroid-assignment broadcasts (|C| ~ sqrt(N) rows); the
    code-scoring side must hash-join on cell."""
    import re

    from rust_vector_search_spark.plans import QUERIES

    plan = plan_of(QUERIES["ann_ivf_int8_topk"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    # formatted explain prints each node twice (tree + detail) — count
    # the "(n) NodeName" detail headers, one per physical node
    nlj = re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M)
    # centroid assignment: corpus x cents + queries x cents, nothing else
    assert len(nlj) <= 2, plan[:3000]
    # the probe list joins the code table on the cell key (equi-join)
    assert re.search(r"^\(\d+\) \w*HashJoin", plan, re.M), plan[:3000]
    assert "cell" in plan, plan[:3000]


def test_backfill_has_no_nested_loop_join(spark, monkeypatch):
    """VERDICT r1 #3: the sibling-subtree backfill must plan as an
    equi-join (ancestor-prefix keys), never BroadcastNestedLoopJoin —
    O(|leaves| x |underfull|) is a scale-killer on skewed corpora. The
    query gate is set to 0 so the search takes the Spark plan (over the
    gate), not the one-pass kernel."""
    from rust_vector_search_spark.operators.index import build_rp_forest
    from rust_vector_search_spark.operators.search import search_rp_forest

    monkeypatch.setenv("SPARK_GRAFT_BC_QUERIES_MB", "0")

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    forest = build_rp_forest(emb, num_trees=4, max_node_size=8, seed=42)
    # k > leaf size so the backfill path is exercised, not pruned
    plan = plan_of(search_rp_forest(forest, emb, q, k=16, backfill=True))
    assert "Window" in plan, plan[:2000]  # the Spark plan's top-k window
    assert "NestedLoop" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan


def test_decontaminate_match_is_broadcast_semi_join(spark):
    """The contamination match must plan as a BROADCAST left-semi join on
    the window hash (benchmark suites are MBs against a 100-TB train
    corpus — the train side must never shuffle to find overlap), with no
    Python in the plan and no sort-merge exchange for the match."""
    plan = plan_of(QUERIES["decontaminate_spans"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "Python" not in plan, plan[:2000]


def test_trailing_range_window_single_exchange(spark):
    """The RANGE-frame feature window is one exchange on user_id — no
    self-join, no explode (the naive trailing-window rewrites)."""
    plan = plan_of(QUERIES["events_trailing_10min"](spark, SF_SMOKE))
    assert "Join" not in plan, plan[:2000]
    assert "Generate" not in plan, plan[:2000]  # no explode rewrite
    # exactly one hash exchange (the user_id window); the round-robin
    # above it is the fixture loader's, not the query's
    assert plan.count("hashpartitioning") == 1, plan[:2000]
    assert "Python" not in plan, plan[:2000]


def test_all_pairs_leaflocal_is_one_grouped_numpy_kernel(spark):
    """The leaf-local all-pairs scores every leaf in ONE grouped-map
    kernel (``FlatMapGroupsInPandas``): no ``Generate`` exploding
    per-leaf pair arrays (the interpreted higher-order-function form it
    replaced) and no row-at-a-time Python UDF. Its whole call, eager
    probes included, stays within the job count measured when the
    kernel landed (23 on the committed fixture, as before it)."""
    import re

    from conftest import SF_ORACLE

    sc = spark.sparkContext
    group = "all-pairs-leaflocal-plan"
    sc.setJobGroup(group, group)
    try:
        df = QUERIES["ann_all_pairs_leaflocal"](spark, SF_ORACLE)
        plan = plan_of(df)
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(re.findall(r"^\(\d+\) FlatMapGroupsInPandas", plan, re.M)) == 1, plan
    assert "Generate" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert rows
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 23, jobs
