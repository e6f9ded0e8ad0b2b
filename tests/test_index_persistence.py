"""Index persistence: the forest is a table (SURVEY §1.1) — save/load
round-trip must preserve structure and search results. A NEW capability
vs the reference, whose index dies with the process (src/lib.rs:15-19)."""

from __future__ import annotations

import os
import sys

import pyspark.sql.functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rust_vector_search_spark.operators.index import (  # noqa: E402
    build_rp_forest,
    load_index,
    save_index,
)
from rust_vector_search_spark.operators.search import search_rp_forest  # noqa: E402

from conftest import SF_SMOKE  # noqa: E402


def test_save_load_roundtrip(spark, tmp_path):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    forest = build_rp_forest(emb, num_trees=4, max_node_size=32, seed=42)
    before = {
        (r.query_id, r.vec_id, r.rnk)
        for r in search_rp_forest(forest, emb, q, k=5).collect()
    }

    path = str(tmp_path / "idx")
    save_index(forest, path)
    loaded = load_index(spark, path, num_trees=4, max_node_size=32, seed=42)

    assert loaded.leaves.count() == forest.leaves.count()
    assert loaded.nodes.count() == forest.nodes.count()
    after = {
        (r.query_id, r.vec_id, r.rnk)
        for r in search_rp_forest(loaded, emb, q, k=5).collect()
    }
    assert before == after


def test_partitioned_by_tree(spark, tmp_path):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    forest = build_rp_forest(emb, num_trees=3, max_node_size=64, seed=1)
    path = str(tmp_path / "idx2")
    save_index(forest, path)
    # partition pruning: tree_id dirs exist on disk
    dirs = {d for d in os.listdir(f"{path}/leaves") if d.startswith("tree_id=")}
    assert dirs == {"tree_id=0", "tree_id=1", "tree_id=2"}


def _search_rows(df):
    return sorted(
        (r.query_id, r.vec_id, float.hex(r.dist), r.rnk) for r in df.collect()
    )


def test_fixture_search_join_and_broadcast_routes_agree(spark, monkeypatch):
    """Every search plan the size gates pick — the one-pass kernel, and
    the Spark plan over the broadcast node map, the tree-local descent
    and the Catalyst join chain — must return the same rows over the
    committed index fixture, dist bits included: each sums n·x and the
    re-rank distance in the DuckDB oracle's left-fold order."""
    import pyspark.sql.functions as F

    from rust_vector_search_spark.operators.index import load_index
    from rust_vector_search_spark.operators.search import search_rp_forest
    from rust_vector_search_spark.sources import load_table

    fixture = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "data",
        "index_fixture",
    )
    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    forest = load_index(spark, fixture, num_trees=50, max_node_size=5, seed=42)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    kw = dict(k=10, spill_margin=0.0375, max_spills=2)
    got = {}
    for name, nodes_mb, queries_mb in (
        ("one-pass", "256", "256"),
        ("broadcast map", "256", "0"),
        ("tree-local", "0", "256"),
        ("join chain", "0", "0"),
    ):
        monkeypatch.setenv("SPARK_GRAFT_BC_NODES_MB", nodes_mb)
        monkeypatch.setenv("SPARK_GRAFT_BC_QUERIES_MB", queries_mb)
        got[name] = _search_rows(search_rp_forest(forest, emb, q, **kw))
    assert got["one-pass"]
    for name, rows in got.items():
        assert rows == got["one-pass"], name


def test_tree_local_route_agrees_with_join_chain(spark, monkeypatch):
    """The r8 deep-index route — node table tree-sharded through ONE
    exchange, queries broadcast, per-tree local numpy descent — must
    route identically to the join-chain (and hence to the broadcast
    map, by the test above), spills included. Forced by disabling the
    node-map broadcast gate so the router falls through to the
    tree-local path, then the query gate too for the join chain
    (pinned: the routed triples, not just final top-k)."""
    import pyspark.sql.functions as F

    from rust_vector_search_spark.operators.index import load_index
    from rust_vector_search_spark.operators.search import route_queries
    from rust_vector_search_spark.sources import load_table

    fixture = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "data",
        "index_fixture",
    )
    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    forest = load_index(spark, fixture, num_trees=50, max_node_size=5, seed=42)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    monkeypatch.setenv("SPARK_GRAFT_BC_NODES_MB", "0")
    tree_local = {
        (r.query_id, r.tree_id, r.leaf_path)
        for r in route_queries(
            forest, q, spill_margin=0.0375, max_spills=2, n_queries=5
        ).collect()
    }
    monkeypatch.setenv("SPARK_GRAFT_BC_QUERIES_MB", "0")
    join_chain = {
        (r.query_id, r.tree_id, r.leaf_path)
        for r in route_queries(
            forest, q, spill_margin=0.0375, max_spills=2, n_queries=5
        ).collect()
    }
    assert tree_local == join_chain and len(tree_local) > 0


def test_batched_build_bit_identical_to_monolithic(spark, tmp_path):
    """build_rp_forest_batched (bounded-scratch path for the 1M-vector
    wiki-news target, BASELINE.md §1M attempt) must emit EXACTLY the
    forest the monolithic build emits: tree hashes are salted with the
    absolute tree_id, so batch boundaries cannot leak into geometry."""
    from rust_vector_search_spark.operators.index import build_rp_forest_batched

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    mono = build_rp_forest(
        emb, num_trees=7, max_node_size=8, seed=42, local_threshold=64
    )
    batched = build_rp_forest_batched(
        emb,
        str(tmp_path / "bidx"),
        num_trees=7,
        max_node_size=8,
        seed=42,
        local_threshold=64,
        tree_batch_size=3,  # 3 + 3 + 1: exercises a ragged final batch
        compact=False,  # bit-identity needs doubles; encoding tested apart
    )

    def node_set(f):
        return {
            (r.tree_id, r.node_path, tuple(r.coeffs), r.constant)
            for r in f.nodes.collect()
        }

    def leaf_set(f):
        return {(r.tree_id, r.leaf_path, r.vec_id) for r in f.leaves.collect()}

    assert node_set(batched) == node_set(mono)
    assert leaf_set(batched) == leaf_set(mono)
    assert batched.max_depth == mono.max_depth
    assert batched.node_count == mono.node_count
    assert batched.dim == mono.dim


def _plans_run_by(spark, call):
    """``call()``'s result and the physical plans of the SQL executions
    it ran, read from the session's SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()

    def _executions():
        ex = store.executionsList()
        return {ex.apply(i).executionId(): ex.apply(i) for i in range(ex.size())}

    before = set(_executions())
    out = call()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return out, [
        e.physicalPlanDescription()
        for i, e in sorted(_executions().items())
        if i not in before
    ]


def test_persisted_index_lvl_filter_pushes_into_scan(
    spark, tmp_path, monkeypatch
):
    """VERDICT r7 #2: the POINT of the persisted `lvl` column is that the
    join-chain descent's per-level equality filter reaches the parquet
    scan (`PushedFilters: EqualTo(lvl, d)` → row-group min/max pruning
    over lvl-clustered row groups), so a depth-d search reads ~1/d of
    the node table per level instead of all of it d times. Pinned on the
    EXECUTED join-chain plan over a saved index, not a commit message."""
    import contextlib
    import io
    import re

    from rust_vector_search_spark.operators.search import route_queries

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    forest = build_rp_forest(emb, num_trees=2, max_node_size=16, seed=7)
    path = str(tmp_path / "lvlidx")
    save_index(forest, path)
    loaded = load_index(spark, path, num_trees=2, max_node_size=16, seed=7)
    assert "lvl" in loaded.nodes.columns  # save_index materializes it

    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # force the join-chain (deep-index) route: gate the broadcast map off
    monkeypatch.setenv("SPARK_GRAFT_BC_NODES_MB", "0")
    routed = route_queries(loaded, q, spill_margin=0.0)

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        routed.explain("formatted")
    plan = buf.getvalue()
    pushed = re.findall(r"PushedFilters: \[[^\]]*EqualTo\(lvl,\d+\)[^\]]*\]", plan)
    # one pushed per-level equality per descent level (depth ≥ 2 here)
    assert len(pushed) >= 2, f"lvl equality not pushed into the scan:\n{plan[:2000]}"

    # the deep-index bounded-batch route is tree-local — no per-level
    # joins at all, zero SortMergeJoin. Over a PERSISTED index it is one
    # mapInPandas over the tree ids, each task reading its trees' node
    # directories. The route runs eagerly and returns checkpointed rows,
    # so the plans checked are the ones its jobs executed.
    routed_tl, plans = _plans_run_by(
        spark, lambda: route_queries(loaded, q, spill_margin=0.0, n_queries=5)
    )
    plan_tl = "\n".join(plans)
    assert "SortMergeJoin" not in plan_tl, plan_tl[:2000]
    assert "MapInPandas" in plan_tl, plan_tl[:2000]
    # one task per tree: min(num_trees, 2 × parallelism) partitions
    assert routed_tl.rdd.getNumPartitions() == loaded.num_trees
    # and the search itself still works over that route (the node
    # gate is still off, so it routes tree-local)
    after = _search_rows(search_rp_forest(loaded, emb, q, k=5))
    monkeypatch.delenv("SPARK_GRAFT_BC_NODES_MB")
    before = _search_rows(search_rp_forest(forest, emb, q, k=5))
    assert before == after


def test_forest_stats_track_max_tree_nodes(spark, tmp_path):
    """ADVICE r8: the tree-local route holds one whole tree per task, so
    its memory gate needs the LARGEST tree's node count, not the mean —
    computed in the build/load stats scan and persisted across save/load."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    forest = build_rp_forest(emb, num_trees=3, max_node_size=8, seed=11)
    per_tree = {
        r.tree_id: r["count"]
        for r in forest.nodes.groupBy("tree_id").count().collect()
    }
    assert forest.max_tree_nodes == max(per_tree.values())
    assert forest.node_count == sum(per_tree.values())

    path = str(tmp_path / "mtidx")
    save_index(forest, path)
    loaded = load_index(spark, path, num_trees=3, max_node_size=8, seed=11)
    assert loaded.max_tree_nodes == forest.max_tree_nodes


def _triples(routed):
    return {(r.query_id, r.tree_id, r.leaf_path) for r in routed.collect()}


def test_tree_local_chunked_branches_agree_with_join_chain(spark, monkeypatch):
    """VERDICT r8 #5: when num_trees exceeds 2 × parallelism, each task
    of the persisted-layout route descends several trees, one after
    another (the 50-tree fixture on the tests' local[8] session runs 16
    tasks) — routed triples must be identical to the join chain's,
    every tree must contribute, and the scheduler fan-out must be
    min(num_trees, 2 × parallelism), not the tree count."""
    from rust_vector_search_spark.operators.search import route_queries
    from rust_vector_search_spark.sources import load_table

    fixture = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "data",
        "index_fixture",
    )
    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    forest = load_index(spark, fixture, num_trees=50, max_node_size=5, seed=42)
    par = spark.sparkContext.defaultParallelism
    assert forest.num_trees > 2 * par  # several trees per task
    q = emb.filter(F.col("vec_id").between(5, 8)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    kw = dict(spill_margin=0.0375, max_spills=2, n_queries=4)
    monkeypatch.setenv("SPARK_GRAFT_BC_NODES_MB", "0")  # force tree-local
    chunked = route_queries(forest, q, **kw)
    assert chunked.rdd.getNumPartitions() == min(forest.num_trees, 2 * par)
    got = _triples(chunked)
    monkeypatch.setenv("SPARK_GRAFT_BC_QUERIES_MB", "0")  # the join chain
    want = _triples(route_queries(forest, q, **kw))
    assert got == want and len(got) > 0
    # every tree contributes: the per-task tree loop must not drop trees
    assert {t for (_, t, _) in got} == set(range(forest.num_trees))


def test_compact_index_past_the_gate_agrees_on_every_engine(
    spark, tmp_path, monkeypatch
):
    """Past the node gate the tree-local engines read a compact index's
    float32 coeffs straight from its node directories; they upcast
    exactly, so the tree-local route reaches the join chain's leaves,
    the tree-local spill engine emits the Catalyst chain's spill set
    (same forest without its path), and search returns the same rows,
    dist bits included, over the tree-local route, the join chain and
    the in-gate one-pass kernel."""
    import dataclasses

    from rust_vector_search_spark.operators.search import (
        _self_spill_routes,
        resolve_spill_margin,
        route_queries,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    path = str(tmp_path / "cmp")
    save_index(build_rp_forest(emb, num_trees=4, max_node_size=8, seed=21), path)
    loaded = load_index(spark, path, num_trees=4, max_node_size=8, seed=21)
    assert dict(loaded.nodes.dtypes)["coeffs"] == "array<float>"
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    margin = resolve_spill_margin(
        emb.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
    )

    def _spills(forest):
        return {
            (r.rep_id, r.tree_id, r.leaf_path)
            for r in _self_spill_routes(
                forest, emb, margin, "vec_id", "embedding"
            ).collect()
        }

    def _search():
        return _search_rows(
            search_rp_forest(loaded, emb, q, k=5, spill_margin=margin)
        )

    one_pass = _search()
    monkeypatch.setenv("SPARK_GRAFT_BC_NODES_MB", "0")
    tree_local = _triples(
        route_queries(loaded, q, spill_margin=margin, n_queries=8)
    )
    tree_local_rows = _search()
    spills = _spills(loaded)
    catalyst_spills = _spills(dataclasses.replace(loaded, path=None))
    monkeypatch.setenv("SPARK_GRAFT_BC_QUERIES_MB", "0")
    join_chain = _triples(
        route_queries(loaded, q, spill_margin=margin, n_queries=8)
    )
    join_chain_rows = _search()
    assert tree_local == join_chain and len(tree_local) > 8 * 4
    assert spills == catalyst_spills and len(spills) > 0
    assert tree_local_rows == join_chain_rows == one_pass and one_pass


def test_tree_local_route_keeps_a_tree_with_no_inner_node(
    spark, tmp_path, monkeypatch
):
    """A persisted tree with no nodes/tree_id=T directory is a tree
    with no inner node: the tree-local route must put every query on
    its root leaf "", as the join chain does."""
    import shutil

    import pytest

    from rust_vector_search_spark.operators.search import route_queries

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    path = str(tmp_path / "rootleaf")
    save_index(build_rp_forest(emb, num_trees=2, max_node_size=8, seed=3), path)
    shutil.rmtree(f"{path}/nodes/tree_id=1")
    with pytest.warns(RuntimeWarning, match="tree partitions"):
        loaded = load_index(spark, path, num_trees=2, max_node_size=8, seed=3)
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    kw = dict(spill_margin=0.0375, max_spills=2, n_queries=4)
    monkeypatch.setenv("SPARK_GRAFT_BC_NODES_MB", "0")
    tree_local = _triples(route_queries(loaded, q, **kw))
    monkeypatch.setenv("SPARK_GRAFT_BC_QUERIES_MB", "0")
    join_chain = _triples(route_queries(loaded, q, **kw))
    assert tree_local == join_chain
    assert {(i, p) for i, t, p in tree_local if t == 1} == {
        (i, "") for i in range(4)
    }
    assert {t for _, t, _ in tree_local} == {0, 1}


def test_compact_index_halves_coeffs_and_preserves_search(spark, tmp_path):
    """r9: save_index(compact=True) stores hyperplane coeffs as
    array<float> — the node-table read dominates deep-index search
    (250k probe), so the cast halves the dominant cost. f32-rounded
    normals are the reference's own precision (src/vector.rs:5); on the
    fixture corpus every side decision survives the rounding, so the
    search result is identical to the full-precision index."""
    from pyspark.sql.types import ArrayType, FloatType

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    forest = build_rp_forest(emb, num_trees=4, max_node_size=8, seed=21)
    full_p = str(tmp_path / "full")
    cmp_p = str(tmp_path / "cmp")
    save_index(forest, full_p, compact=False)
    save_index(forest, cmp_p)  # r10: compact is the DEFAULT

    loaded_full = load_index(spark, full_p, num_trees=4, max_node_size=8, seed=21)
    loaded_cmp = load_index(spark, cmp_p, num_trees=4, max_node_size=8, seed=21)
    ctype = dict(loaded_cmp.nodes.dtypes)["coeffs"]
    assert ctype == "array<float>", ctype
    ftype = dict(loaded_full.nodes.dtypes)["coeffs"]
    assert ftype == "array<double>", ftype  # the bit-replay escape hatch
    assert loaded_cmp.dim == loaded_full.dim

    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    a = {
        (r.query_id, r.vec_id, r.rnk)
        for r in search_rp_forest(loaded_full, emb, q, k=5).collect()
    }
    b = {
        (r.query_id, r.vec_id, r.rnk)
        for r in search_rp_forest(loaded_cmp, emb, q, k=5).collect()
    }
    assert a == b and len(a) > 0


def test_health_baseline_saved_and_loaded(spark, tmp_path):
    """save_index persists the FRESH build's per-tree health summary at
    {path}/health and load_index rehydrates it — the rebuild trigger's
    denominator (VERDICT r10 #2). A just-saved fresh index must read
    fill_vs_fresh ≈ 1.0 with the trigger quiet."""
    from rust_vector_search_spark.operators.index import (
        forest_health_vs_fresh,
        needs_rebuild,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    forest = build_rp_forest(emb, num_trees=4, max_node_size=8, seed=42)
    # unsaved in-memory forest: no baseline — surfaced, not guessed
    v0 = needs_rebuild(forest)
    assert v0["fresh_fill"] is None and v0["fill_vs_fresh"] is None
    assert v0["needs_rebuild"] is False

    path = str(tmp_path / "idx_h")
    save_index(forest, path)
    assert os.path.isdir(f"{path}/health")
    # save_index assigns the recorded baseline back onto the object: a
    # later maintenance re-save of THIS forest must hit the
    # carry-forward branch, not re-record post-maintenance health
    assert forest.fresh_health is not None
    loaded = load_index(spark, path, num_trees=4, max_node_size=8, seed=42)
    assert loaded.fresh_health is not None
    assert {r["tree_id"] for r in loaded.fresh_health} == {0, 1, 2, 3}

    v1 = needs_rebuild(loaded)
    assert v1["fresh_fill"] is not None
    assert abs(v1["fill_vs_fresh"] - 1.0) < 1e-9
    assert v1["needs_rebuild"] is False
    rows = forest_health_vs_fresh(loaded).collect()
    assert all(abs(r.fill_vs_fresh - 1.0) < 1e-9 for r in rows)
    assert all(not r.needs_rebuild for r in rows)


def test_health_baseline_carries_through_maintenance(spark, tmp_path):
    """The baseline must survive delete → re-save VERBATIM (a
    maintenance save that overwrote it with post-maintenance health
    would silently reset the trigger's ratio to 1.0). Deleting x% of
    vectors drops pre-prune fill to (1−x)× of fresh, so the measured
    rule (fire below 0.5× — ~0.42× left recall 0.896, ~0.76× pruned
    back to 1.000) maps directly onto deletion fractions here."""
    from rust_vector_search_spark.operators.index import (
        delete_vectors,
        needs_rebuild,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    n = emb.count()
    forest = build_rp_forest(emb, num_trees=3, max_node_size=8, seed=7)
    path = str(tmp_path / "idx_m")
    save_index(forest, path)
    loaded = load_index(spark, path, num_trees=3, max_node_size=8, seed=7)
    base = loaded.fresh_health

    # the 0.76x analog: delete 25% -> fill_vs_fresh ~0.75, quiet
    light = delete_vectors(
        loaded, emb.filter(F.col("vec_id") % 4 == 0).select("vec_id")
    )
    v_light = needs_rebuild(light)
    assert 0.7 < v_light["fill_vs_fresh"] < 0.8
    assert v_light["needs_rebuild"] is False

    # the 0.42x analog: delete 60% -> fill_vs_fresh ~0.40, JUST past
    # the 0.5 knee — pins the near-threshold firing, not a far-past-it
    # point a drifted threshold would still pass
    heavy = delete_vectors(
        loaded, emb.filter(F.col("vec_id") % 5 < 3).select("vec_id")
    )
    v_heavy = needs_rebuild(heavy)
    assert 0.35 < v_heavy["fill_vs_fresh"] < 0.45
    assert v_heavy["needs_rebuild"] is True

    # re-save the maintained forest: baseline carried forward verbatim
    path2 = str(tmp_path / "idx_m2")
    save_index(heavy, path2)
    reloaded = load_index(spark, path2, num_trees=3, max_node_size=8, seed=7)
    assert reloaded.fresh_health == base
    v_re = needs_rebuild(reloaded)
    assert v_re["needs_rebuild"] is True
    assert abs(v_re["fill_vs_fresh"] - v_heavy["fill_vs_fresh"]) < 1e-9

    # re-saving a baseline-less LOADED index (pre-r11 layout) warns
    # that the recorded baseline is a re-anchor, not a fresh build
    import warnings

    import dataclasses

    pre_r11 = dataclasses.replace(reloaded, fresh_health=None)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        save_index(pre_r11, str(tmp_path / "idx_m3"))
    assert any(
        issubclass(w.category, RuntimeWarning)
        and "no health baseline" in str(w.message)
        for w in caught
    )
    assert pre_r11.fresh_health is not None  # re-anchored to current


def test_clustered_delete_drained_leaves_detected(spark, tmp_path):
    """ADVICE r11 (medium): clustered deletion that empties WHOLE leaves
    (a tenant/region takedown) drops the drained leaves out of the leaf
    table entirely, so the naive per-surviving-leaf fill barely moves —
    the drift pattern the trigger targets would read healthy. The
    trigger must keep drained leaves in the denominator (their
    hyperplanes still route queries into them) and fire."""
    from rust_vector_search_spark.operators.index import (
        delete_vectors,
        forest_health_stats,
        forest_health_vs_fresh,
        needs_rebuild,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    forest = build_rp_forest(emb, num_trees=1, max_node_size=8, seed=42)
    save_index(forest, str(tmp_path / "idx_cd"))
    base = forest.fresh_health[0]

    # victim selection: whole leaves (path-ordered — arbitrary w.r.t.
    # occupancy) until ~60% of members are covered; every victim leaf
    # drains COMPLETELY, every survivor is untouched
    target = 0.6 * base["n_vectors"]
    victims, covered = [], 0
    for r in (
        forest.leaves.groupBy("leaf_path")
        .count()
        .orderBy("leaf_path")
        .collect()
    ):
        if covered >= target:
            break
        victims.append(r["leaf_path"])
        covered += r["count"]
    victim_ids = forest.leaves.filter(
        F.col("leaf_path").isin(victims)
    ).select("vec_id")
    maimed = delete_vectors(forest, victim_ids)

    # the naive surviving-leaf fill is blind: survivors are untouched,
    # so fill_ratio over NON-EMPTY leaves stays near the fresh value
    naive = forest_health_stats(maimed).collect()[0]
    assert naive.fill_ratio / base["fill_ratio"] > 0.85

    # ...but the trigger sees the drained leaves and fires
    v = needs_rebuild(maimed)
    assert 0.25 < v["fill_vs_fresh"] < 0.45
    assert v["needs_rebuild"] is True
    row = forest_health_vs_fresh(maimed).collect()[0]
    assert 0.25 < row.fill_vs_fresh < 0.45
    assert bool(row.needs_rebuild) is True

    # the EXTREME case: delete everything — the tree has no surviving
    # leaf rows at all, so a left join would drop it from the per-tree
    # surface entirely and 'no rows' would read as healthy; the full
    # outer join brings it back as an all-zero row that FIRES
    dead = delete_vectors(forest, forest.leaves.select("vec_id"))
    v_dead = needs_rebuild(dead)
    assert v_dead["fill_vs_fresh"] == 0.0
    assert v_dead["needs_rebuild"] is True
    dead_rows = forest_health_vs_fresh(dead).collect()
    assert len(dead_rows) == 1
    assert dead_rows[0].n_vectors == 0
    assert dead_rows[0].fill_vs_fresh == 0.0
    assert bool(dead_rows[0].needs_rebuild) is True


def test_save_warns_for_baselineless_descendant(spark, tmp_path):
    """ADVICE r11 (low): the realistic pre-r11 migration path
    load → delete/prune → save. Maintenance ops return path=None, so
    the re-anchor warning cannot key on path alone — the
    loaded_without_baseline provenance bit must carry through, or the
    POST-maintenance health is silently stamped as the fresh
    baseline."""
    import shutil
    import warnings

    from rust_vector_search_spark.operators.index import (
        delete_vectors,
        prune_underfull_subtrees,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    forest = build_rp_forest(emb, num_trees=2, max_node_size=8, seed=7)
    path = str(tmp_path / "idx_pre")
    save_index(forest, path)
    shutil.rmtree(f"{path}/health")  # simulate a pre-r11 index layout

    loaded = load_index(spark, path, num_trees=2, max_node_size=8, seed=7)
    assert loaded.fresh_health is None
    assert loaded.loaded_without_baseline is True

    maimed = prune_underfull_subtrees(
        delete_vectors(
            loaded, emb.filter(F.col("vec_id") % 5 < 3).select("vec_id")
        )
    )
    assert maimed.path is None  # prune did real work and dropped path
    assert maimed.loaded_without_baseline is True

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        save_index(maimed, str(tmp_path / "idx_pre2"))
    assert any(
        issubclass(w.category, RuntimeWarning)
        and "no health baseline" in str(w.message)
        for w in caught
    )


def test_load_refuses_marked_layout_and_warns_on_missing_tree(spark, tmp_path):
    """load_index guards on-disk input: a layout that still carries the
    in-place-write marker an interrupted write by an earlier version
    left is refused, and a layout missing one tree's node partition
    loads with a warning instead of reading as a smaller index."""
    import shutil
    import warnings

    import pytest

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").filter(
        F.col("vec_id") < 300
    )
    forest = build_rp_forest(emb, num_trees=3, max_node_size=8, seed=42)
    p = str(tmp_path / "guarded")
    save_index(forest, p, compact=False)

    open(f"{p}/_SURGERY_IN_PROGRESS", "w").close()
    with pytest.raises(ValueError, match="interrupted"):
        load_index(spark, p, 3, 8, 42)
    os.remove(f"{p}/_SURGERY_IN_PROGRESS")

    shutil.rmtree(f"{p}/nodes/tree_id=2")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        load_index(spark, p, 3, 8, 42)
    assert any("tree partitions" in str(x.message) for x in w)


def test_load_without_health_table_reads_no_health(spark, monkeypatch):
    """An index with no health/ table (the committed fixture predates
    it) loads without a baseline and without a failing read of the
    missing directory."""
    from pyspark.sql.readwriter import DataFrameReader

    fixture = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "data",
        "index_fixture",
    )
    assert not os.path.exists(f"{fixture}/health")
    read = []
    parquet = DataFrameReader.parquet

    def _recording(self, *paths, **options):
        read.extend(paths)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", _recording)
    forest = load_index(spark, fixture, num_trees=50, max_node_size=5, seed=42)
    assert read and not any(
        str(p).rstrip("/").endswith("/health") for p in read
    )
    assert forest.fresh_health is None
    assert forest.loaded_without_baseline is True
