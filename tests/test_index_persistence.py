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

from conftest import SF_ORACLE, SF_SMOKE  # noqa: E402


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


def test_fixture_search_routes_agree(spark, monkeypatch):
    """Every search plan the size gates pick — the one-pass kernel, and
    the Spark plan over the broadcast node map and over the
    tree-sharded route, with the queries under and over the query gate
    — must return the same rows over the committed index fixture, dist
    bits included: each sums n·x and the re-rank distance in the DuckDB
    oracle's left-fold order."""
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
        ("tree-sharded", "0", "256"),
        ("tree-sharded, queries over the gate", "0", "0"),
    ):
        monkeypatch.setenv("SPARK_GRAFT_BC_NODES_MB", nodes_mb)
        monkeypatch.setenv("SPARK_GRAFT_BC_QUERIES_MB", queries_mb)
        got[name] = _search_rows(search_rp_forest(forest, emb, q, **kw))
    assert got["one-pass"]
    for name, rows in got.items():
        assert rows == got["one-pass"], name


def test_tree_sharded_route_agrees_with_broadcast_map(spark, monkeypatch):
    """The route past the node gate — (query, tree) rows through ONE
    exchange, each tree's nodes read inside its task, per-tree local
    numpy descent — must route identically to the broadcast node map
    under the gate, spills included (pinned: the routed triples, not
    just final top-k)."""
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
    broadcast_map = {
        (r.query_id, r.tree_id, r.leaf_path)
        for r in route_queries(
            forest, q, spill_margin=0.0375, max_spills=2, n_queries=5
        ).collect()
    }
    monkeypatch.setenv("SPARK_GRAFT_BC_NODES_MB", "0")
    tree_local = {
        (r.query_id, r.tree_id, r.leaf_path)
        for r in route_queries(
            forest, q, spill_margin=0.0375, max_spills=2, n_queries=5
        ).collect()
    }
    assert tree_local == broadcast_map and len(tree_local) > 0


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


def test_index_layout_carries_no_lvl_column(spark, tmp_path):
    """Layouts saved by earlier versions carry a per-level ``lvl`` node
    column (the committed fixture's nodes are rewritten here with one,
    as those versions' ``save_index`` wrote it). ``load_index`` reads
    them and hands out only the columns it knows;
    ``save_index`` writes no ``lvl``; and a loaded old layout survives
    ``resplit_overgrown_leaves`` followed by ``save_index``."""
    import dataclasses
    import shutil

    from rust_vector_search_spark.operators.index import (
        resplit_overgrown_leaves,
    )

    fixture = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "data",
        "index_fixture",
    )
    old = str(tmp_path / "old")
    shutil.copytree(f"{fixture}/leaves", f"{old}/leaves")
    spark.read.parquet(f"{fixture}/nodes").withColumn(
        "lvl", F.length("node_path")
    ).write.partitionBy("tree_id").parquet(f"{old}/nodes")
    assert "lvl" in spark.read.parquet(f"{old}/nodes").columns
    loaded = load_index(spark, old, num_trees=50, max_node_size=5, seed=42)
    assert loaded.nodes.columns == [
        "tree_id", "node_path", "coeffs", "constant", "coeff_norm"
    ]

    # the 50-tree fixture has leaves of ≤ 5 members: resplit at 2
    small = resplit_overgrown_leaves(
        dataclasses.replace(loaded, max_node_size=2),
        spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet"),
    )
    assert small.node_count > loaded.node_count
    path = str(tmp_path / "resaved")
    save_index(small, path, compact=False)
    assert "lvl" not in spark.read.parquet(f"{path}/nodes").columns
    again = load_index(spark, path, num_trees=50, max_node_size=2, seed=42)

    def nodes(f):
        return sorted(
            (r.tree_id, r.node_path, tuple(r.coeffs), r.constant, r.coeff_norm)
            for r in f.nodes.collect()
        )

    def leaves(f):
        return sorted(
            (r.tree_id, r.leaf_path, r.vec_id) for r in f.leaves.collect()
        )

    assert nodes(again) == nodes(small)
    assert leaves(again) == leaves(small)
    assert again.node_count == small.node_count


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


def _fixture(spark):
    fixture = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "data",
        "index_fixture",
    )
    return load_index(spark, fixture, num_trees=50, max_node_size=5, seed=42)


def test_tree_sharded_route_runs_several_trees_per_task(spark, monkeypatch):
    """When num_trees exceeds the parallelism, each task of the
    tree-sharded route descends several trees, one after another (the
    50-tree fixture on the tests' local[8] session runs 8 tasks) —
    routed triples must be identical to the broadcast map's, every
    tree must contribute, and the fan-out must be min(num_trees,
    parallelism), not the tree count."""
    from rust_vector_search_spark.operators.search import route_queries
    from rust_vector_search_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    forest = _fixture(spark)
    par = spark.sparkContext.defaultParallelism
    assert forest.num_trees > 2 * par  # several trees per task
    q = emb.filter(F.col("vec_id").between(5, 8)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    kw = dict(spill_margin=0.0375, max_spills=2, n_queries=4)
    want = _triples(route_queries(forest, q, **kw))  # the broadcast map
    monkeypatch.setenv("SPARK_GRAFT_BC_NODES_MB", "0")
    chunked = route_queries(forest, q, **kw)
    assert chunked.rdd.getNumPartitions() == min(forest.num_trees, par)
    got = _triples(chunked)
    assert got == want and len(got) > 0
    # every tree contributes: the per-task tree loop must not drop trees
    assert {t for (_, t, _) in got} == set(range(forest.num_trees))


def test_tree_sharded_pass_assigns_trees_by_range(spark, monkeypatch):
    """Past the node gate the route and the spill engine run through
    one tree-sharded pass: its rows cross ONE exchange (no join, the
    node table is read inside the tasks) into min(num_trees,
    parallelism) tasks, and trees are assigned by range, so no task
    holds more than ⌈trees / tasks⌉ of them. Spark's hash of
    ``tree_id`` spreads the fixture's 50 trees over 8 tasks as 2 to 10
    per task."""
    import math
    import re

    from rust_vector_search_spark.operators.search import (
        _self_spill_routes,
        route_queries,
    )
    from rust_vector_search_spark.sources import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    forest = _fixture(spark)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    monkeypatch.setenv("SPARK_GRAFT_BC_NODES_MB", "0")
    for name, out in (
        ("route", route_queries(forest, q, spill_margin=0.0375)),
        ("spill", _self_spill_routes(forest, emb, 0.0375, "vec_id", "embedding")),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan, name
        by_tree = r"Exchange hashpartitioning\(\w+#\d+, \d+\), REPARTITION_BY_NUM"
        assert len(re.findall(by_tree, plan)) == 1, (name, plan)
        n = out.rdd.getNumPartitions()
        assert n == min(forest.num_trees, spark.sparkContext.defaultParallelism)
        per_task = out.groupBy(F.spark_partition_id().alias("p")).agg(
            F.countDistinct("tree_id").alias("trees")
        ).collect()
        assert sum(r.trees for r in per_task) == forest.num_trees, name
        assert max(r.trees for r in per_task) <= math.ceil(
            forest.num_trees / n
        ), (name, sorted((r.p, r.trees) for r in per_task))


def test_compact_index_past_the_gate_agrees_on_every_engine(
    spark, tmp_path, monkeypatch
):
    """Past the node gate the tree-sharded engines read a compact
    index's float32 coeffs straight from its node directories; they
    upcast exactly, so the tree-sharded route reaches the broadcast
    map's leaves, the tree-sharded spill engine emits the numpy
    engine's spill set (and the same forest without its path, whose
    nodes cogroup with the members, emits it too), and search returns
    the same rows, dist bits included, over the tree-sharded route
    with the queries under and over the query gate and the in-gate
    one-pass kernel."""
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
    broadcast_map = _triples(
        route_queries(loaded, q, spill_margin=margin, n_queries=8)
    )
    numpy_spills = _spills(loaded)
    monkeypatch.setenv("SPARK_GRAFT_BC_NODES_MB", "0")
    tree_local = _triples(
        route_queries(loaded, q, spill_margin=margin, n_queries=8)
    )
    tree_local_rows = _search()
    spills = _spills(loaded)
    cogroup_spills = _spills(dataclasses.replace(loaded, path=None))
    monkeypatch.setenv("SPARK_GRAFT_BC_QUERIES_MB", "0")
    over_gate_rows = _search()
    assert tree_local == broadcast_map and len(tree_local) > 8 * 4
    assert spills == cogroup_spills == numpy_spills and len(spills) > 0
    assert tree_local_rows == over_gate_rows == one_pass and one_pass


def test_tree_local_route_keeps_a_tree_with_no_inner_node(
    spark, tmp_path, monkeypatch
):
    """A persisted tree with no nodes/tree_id=T directory is a tree
    with no inner node, and so is an in-memory tree with no node rows:
    the tree-sharded route must put every query on its root leaf "",
    as the broadcast map does."""
    import dataclasses
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
    broadcast_map = _triples(route_queries(loaded, q, **kw))
    monkeypatch.setenv("SPARK_GRAFT_BC_NODES_MB", "0")
    tree_local = _triples(route_queries(loaded, q, **kw))
    cogrouped = _triples(
        route_queries(dataclasses.replace(loaded, path=None), q, **kw)
    )
    assert tree_local == cogrouped == broadcast_map
    assert {(i, p) for i, t, p in tree_local if t == 1} == {
        (i, "") for i in range(4)
    }
    assert {t for _, t, _ in tree_local} == {0, 1}


def test_tree_over_the_task_gate_fails_named(spark, tmp_path, monkeypatch):
    """Past the node gate one task holds one whole tree, so a tree
    whose node map is over SPARK_GRAFT_TREE_TASK_MB fails the call
    with the tree, its size and the knob named — persisted and
    in-memory forests alike."""
    import dataclasses

    import pytest

    from rust_vector_search_spark.operators.search import route_queries

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    path = str(tmp_path / "big")
    save_index(build_rp_forest(emb, num_trees=2, max_node_size=8, seed=3), path)
    loaded = load_index(spark, path, num_trees=2, max_node_size=8, seed=3)
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    monkeypatch.setenv("SPARK_GRAFT_BC_NODES_MB", "0")
    monkeypatch.setenv("SPARK_GRAFT_TREE_TASK_MB", "0")
    named = r"tree \d's node map is \d+ bytes, over SPARK_GRAFT_TREE_TASK_MB"
    for forest in (loaded, dataclasses.replace(loaded, path=None)):
        with pytest.raises(Exception, match=named):
            route_queries(forest, q).collect()


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
