"""ANN index correctness: recall vs exact kNN (mechanizing the quality
pass the reference only prints, /root/reference/src/main.rs:95-123),
leaf-size invariant (src/lib.rs:51-53), deterministic seeded rebuild
(SURVEY §1.5.5), candidate-subset invariant, and dedup-first semantics."""

from __future__ import annotations

import os
import sys

import pyspark.sql.functions as F
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rust_vector_search_spark.operators.index import build_rp_forest  # noqa: E402
from rust_vector_search_spark.operators.ivf import ivf_search  # noqa: E402
from rust_vector_search_spark.operators.knn import knn_exact  # noqa: E402
from rust_vector_search_spark.operators.search import search_rp_forest  # noqa: E402

from conftest import SF_SMOKE  # noqa: E402

K = 10


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


@pytest.fixture(scope="module")
def forest(emb):
    return build_rp_forest(emb, num_trees=16, max_node_size=32, seed=42)


def _recall(approx, exact):
    hits = exact.join(approx, ["query_id", "vec_id"], "left_semi").count()
    total = exact.count()
    return hits / total


def test_leaf_size_invariant(forest):
    sizes = forest.leaves.groupBy("tree_id", "leaf_path").count().collect()
    assert all(r["count"] <= 32 for r in sizes)


def test_every_vector_in_every_tree(forest, emb):
    n = emb.count()
    per_tree = forest.leaves.groupBy("tree_id").count().collect()
    assert len(per_tree) == 16
    assert all(r["count"] == n for r in per_tree)


def test_forest_recall(forest, emb, queries):
    approx = search_rp_forest(forest, emb, queries, k=K)
    exact = knn_exact(emb, queries, k=K)
    r = _recall(
        approx.select("query_id", "vec_id"), exact.select("query_id", "vec_id")
    )
    # 16 trees + auto multi-probe spill: measured 0.965 on this fixture
    # (0.82 without spill). Gate at 0.9 per BASELINE.md with margin.
    assert r >= 0.90, f"recall@{K} = {r}"


def test_approx_results_are_true_distances(forest, emb, queries):
    """Approximate hits must carry the same distance the exact scorer
    assigns — the re-rank is exact over the candidate subset."""
    approx = search_rp_forest(forest, emb, queries, k=K).select(
        "query_id", "vec_id", "dist"
    )
    exact_all = knn_exact(emb, queries, k=500).select(
        "query_id", "vec_id", F.col("dist").alias("ed")
    )
    joined = approx.join(exact_all, ["query_id", "vec_id"])
    bad = joined.filter(F.abs(F.col("dist") - F.col("ed")) > 0).count()
    assert bad == 0


def test_deterministic_rebuild(emb):
    f1 = build_rp_forest(emb, num_trees=3, max_node_size=32, seed=7)
    f2 = build_rp_forest(emb, num_trees=3, max_node_size=32, seed=7)
    a = {(r.tree_id, r.leaf_path, r.vec_id) for r in f1.leaves.collect()}
    b = {(r.tree_id, r.leaf_path, r.vec_id) for r in f2.leaves.collect()}
    assert a == b


def test_dedup_first_occurrence_survives(spark):
    """The reference keeps the FIRST duplicate (and buggily drops row 0,
    src/lib.rs:71 — fixed here): duplicates must collapse to min id."""
    base = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [1.0, 2.0]), (2, [3.0, 4.0]), (3, [1.0, 2.0])],
        "vec_id long, embedding array<float>",
    )
    forest = build_rp_forest(base, num_trees=2, max_node_size=4, seed=1, dedup=True)
    ids = {r.vec_id for r in forest.leaves.select("vec_id").distinct().collect()}
    assert ids == {0, 2}


def test_all_pairs_approx_recall(spark):
    """Flagship gate (VERDICT r1 #2): corpus-as-queries through the
    forest must recover ≥ 0.9 of the exact all-pairs top-3 at sf0.01."""
    from rust_vector_search_spark.plans import QUERIES

    sf = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")
    approx = QUERIES["all_pairs_approx_top3"](spark, sf).select(
        "query_id", "vec_id"
    )
    ex = QUERIES["all_pairs_top3"](spark, sf)
    # all_pairs_top3 samples vec_id % 5 == 0 queries; restrict approx to
    # the same query set for an apples-to-apples recall
    exact = ex.select("query_id", "vec_id")
    hits = exact.join(approx, ["query_id", "vec_id"], "left_semi").count()
    r = hits / exact.count()
    assert r >= 0.90, f"all-pairs approx recall@3 = {r}"


def test_ivf_recall(emb, queries):
    approx = ivf_search(emb, queries, k=K, stride=20, nprobe=8)
    exact = knn_exact(emb, queries, k=K)
    r = _recall(
        approx.select("query_id", "vec_id"), exact.select("query_id", "vec_id")
    )
    # 8 of 25 cells probed ≈ 1/3 of the corpus as candidates
    assert r >= 0.45, f"IVF recall@{K} = {r} (nprobe=8)"


def test_fast_knn_matches_hof_path(emb, queries):
    """BLAS fast path must return the same neighbor ids/ranks as the
    Catalyst HOF path (distances reassociate, ids must not)."""
    from rust_vector_search_spark.operators.knn import knn_exact_fast

    slow = knn_exact(emb, queries, k=K).select("query_id", "vec_id", "rnk")
    fast = knn_exact_fast(emb, queries, k=K).select("query_id", "vec_id", "rnk")
    a = {(r.query_id, r.vec_id, r.rnk) for r in slow.collect()}
    b = {(r.query_id, r.vec_id, r.rnk) for r in fast.collect()}
    assert a == b


def test_fast_knn_refuses_corpus_sized_query_collect(emb, monkeypatch):
    """The BLAS path collects queries to the driver; a corpus-as-queries
    caller must get a typed refusal, not a silent driver OOM (VERDICT r5
    item 4). Gate forced to 0 MB so even the fixture query set trips it."""
    from rust_vector_search_spark.operators.knn import knn_exact_fast

    monkeypatch.setenv("SPARK_GRAFT_BC_QUERIES_MB", "0")
    corpus_queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    with pytest.raises(ValueError, match="driver-collect gate"):
        knn_exact_fast(emb, corpus_queries, k=K)


def test_label_cluster_stats_consistent_with_centroids(spark):
    """The pandas-UDAF centroid must agree with the oracle-checked
    HOF/decimal centroid query (within float tolerance)."""
    import math

    from rust_vector_search_spark.plans import QUERIES

    sf = SF_SMOKE
    stats = {r.label: r for r in QUERIES["label_cluster_stats"](spark, sf).collect()}
    cents = QUERIES["label_centroids"](spark, sf).collect()
    by_label = {}
    for r in cents:
        by_label.setdefault(r.label, {})[r.pos] = r.centroid_val
    for label, poses in by_label.items():
        norm = math.sqrt(sum(v * v for v in poses.values()))
        assert math.isclose(norm, stats[label].centroid_norm, rel_tol=1e-9)


def test_self_search_numpy_engine_matches_generic_routing(emb):
    """Leaves-reuse + numpy spills must equal the generic full-descent
    routing at max_spills=1 on the routed-leaf level: same forest, same
    margin, same (query, tree, leaf) set."""
    from rust_vector_search_spark.operators.search import (
        _route_self_spills_local,
        resolve_spill_margin,
        route_queries,
    )

    forest = build_rp_forest(emb, num_trees=6, max_node_size=5, seed=7)
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    margin = resolve_spill_margin(queries)
    generic = {
        (r.query_id, r.tree_id, r.leaf_path)
        for r in route_queries(
            forest, queries, spill_margin=margin, max_spills=1
        ).collect()
    }

    leafsets = (
        forest.leaves.groupBy(F.col("vec_id").alias("rep_id"))
        .agg(F.collect_list(F.struct("tree_id", "leaf_path")).alias("tl"))
        .select(
            "rep_id",
            F.col("tl.tree_id").alias("tree_ids"),
            F.col("tl.leaf_path").alias("leaf_paths"),
        )
    )
    rep_leafsets = emb.select(
        F.col("vec_id").alias("rep_id"), F.col("embedding").alias("emb")
    ).join(leafsets, "rep_id")
    spills = {
        (r.rep_id, r.tree_id, r.leaf_path)
        for r in _route_self_spills_local(
            forest, rep_leafsets, margin, 1
        ).collect()
    }
    mains = {
        (r.vec_id, r.tree_id, r.leaf_path) for r in forest.leaves.collect()
    }
    assert mains | spills == generic


def test_spark_plan_search_counts_queries_once_and_never_the_corpus(
    spark, emb, forest, queries, monkeypatch
):
    """VERDICT r6 #5: the query count the re-rank's broadcast gate
    needs is a memoized thunk, so a search past both gates (the
    tree-sharded route, then the Spark plan) runs the query-set count
    job at most once, and never counts the corpus (the one-pass gate
    fetches it under a row limit instead). Pinned by shadowing the
    instances' ``count``."""
    from rust_vector_search_spark.operators.search import search_rp_forest

    monkeypatch.setenv("SPARK_GRAFT_BC_NODES_MB", "0")
    monkeypatch.setenv("SPARK_GRAFT_BC_QUERIES_MB", "0")
    counted = []

    def _boom_corpus():
        raise AssertionError("corpus.count() ran on the Spark plan")

    queries_guarded = queries.select("query_id", "query_vec")
    real_count = queries_guarded.count
    queries_guarded.count = lambda: counted.append(1) or real_count()
    corpus_guarded = emb.select("vec_id", "embedding")
    corpus_guarded.count = _boom_corpus
    out = search_rp_forest(
        forest, corpus_guarded, queries_guarded, k=5, spill_margin=0.0
    )
    assert "Window" in out._jdf.queryExecution().executedPlan().toString()
    assert out.count() > 0  # materializing the search is fine
    assert len(counted) == 1


def test_all_pairs_leaflocal_matches_generic_search(forest, emb):
    """all_pairs_rp_forest (the leaf-local form whose shuffle volume is
    linear in corpus × trees — no wide candidate pairs ever cross an
    exchange) must return EXACTLY what the generic search returns for
    corpus-as-queries at the same semantics (no spills, no backfill,
    self excluded): same ids, same ranks, same dist bits."""
    from rust_vector_search_spark.operators.search import all_pairs_rp_forest

    got = _hex_rows(all_pairs_rp_forest(forest, emb, k=5))
    q = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    want = _hex_rows(
        search_rp_forest(
            forest, emb, q, k=5, backfill=False, spill_margin=0.0,
            exclude_self=True,
        )
    )
    assert got == want and len(got) > 0


def test_all_pairs_leaflocal_duplicate_rows_inherit_rep_pairs(spark):
    """A corpus with byte-identical duplicate embeddings: the build
    dedups them out of the index (src/lib.rs:64-92), so a duplicate row
    must inherit its representative's neighbor list plus the
    zero-distance edge to the representative — exactly the generic
    path's view of the same index."""
    import pandas as pd

    from rust_vector_search_spark.operators.search import all_pairs_rp_forest

    base = [[float(i), float(i % 3), 1.0, 0.0] for i in range(40)]
    rows = [(i, base[i]) for i in range(40)]
    rows += [(100 + i, base[i]) for i in range(6)]  # 6 duplicate rows
    dup = spark.createDataFrame(
        pd.DataFrame({"vec_id": [r[0] for r in rows],
                      "embedding": [r[1] for r in rows]})
    )
    forest = build_rp_forest(dup, num_trees=4, max_node_size=6, seed=9)
    ap = all_pairs_rp_forest(forest, dup, k=4)
    got = {(r.query_id, r.vec_id, r.rnk) for r in ap.collect()}
    q = dup.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    want = {
        (r.query_id, r.vec_id, r.rnk)
        for r in search_rp_forest(
            forest, dup, q, k=4, backfill=False, spill_margin=0.0,
            exclude_self=True,
        ).collect()
    }
    assert got == want and len(got) > 0
    # every duplicate row ranks its representative first at distance 0
    rep_first = {(100 + i, i, 1) for i in range(6)}
    assert rep_first <= got


def test_all_pairs_leaflocal_scores_each_leaf_once_with_duplicates(spark):
    """Duplicate rows inherit their representative's pairs without a
    second pass over the leaves: the executed (AQE final) plan of a
    call on a corpus with exact duplicates runs the leaf kernel in ONE
    ``FlatMapGroupsInPandas`` node. Reading the pairs once for the
    representatives and again for their heirs would run the whole pair
    generation twice."""
    import pandas as pd

    from rust_vector_search_spark.operators.search import all_pairs_rp_forest

    base = [[float(i), float(i % 3), 1.0, 0.0] for i in range(40)]
    rows = [(i, base[i]) for i in range(40)]
    rows += [(100 + i, base[i]) for i in range(6)]
    dup = spark.createDataFrame(
        pd.DataFrame({"vec_id": [r[0] for r in rows],
                      "embedding": [r[1] for r in rows]})
    )
    forest = build_rp_forest(dup, num_trees=4, max_node_size=6, seed=9)
    ap = all_pairs_rp_forest(forest, dup, k=4, tree_batches=1)
    assert len(ap.collect()) == 46 * 4
    plan = ap._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FlatMapGroupsInPandas") == 1, final


def test_no_engine_spills_at_zero_norm_nodes(spark, monkeypatch):
    """A ``dedup=False`` build over a corpus with twin rows can take two
    identical pivots, so a node's normal has ‖n‖ = 0. No engine spills
    at such a node: the broadcast numpy engines under the node gate and
    the tree-sharded ones past it (an in-memory forest, so its nodes
    cogroup with the rows) — all-pairs' spill seeds and
    ``route_queries`` — agree, and none fails on the division."""
    import pandas as pd

    from rust_vector_search_spark.operators.search import (
        all_pairs_rp_forest,
        resolve_spill_margin,
        route_queries,
    )

    base = [[float(i), float(i % 3), 1.0, 0.0] for i in range(40)]
    rows = [(i, base[i]) for i in range(40)]
    rows += [(100 + i, base[i]) for i in range(6)]
    twins = spark.createDataFrame(
        pd.DataFrame({"vec_id": [r[0] for r in rows],
                      "embedding": [r[1] for r in rows]})
    )
    forest = build_rp_forest(
        twins, num_trees=4, max_node_size=6, seed=9, dedup=False
    )
    assert forest.path is None
    assert forest.nodes.filter(F.col("coeff_norm") == 0.0).count() > 0

    numpy_pairs = _hex_rows(
        all_pairs_rp_forest(forest, twins, k=4, spill_margin="auto")
    )
    q = twins.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    margin = resolve_spill_margin(q)
    assert margin > 0.0

    def _routed(**kw):
        return {
            (r.query_id, r.tree_id, r.leaf_path)
            for r in route_queries(forest, q, spill_margin=margin, **kw).collect()
        }

    broadcast_map = _routed()
    monkeypatch.setenv("SPARK_GRAFT_BC_NODES_MB", "0")  # tree-sharded
    sharded_pairs = _hex_rows(
        all_pairs_rp_forest(forest, twins, k=4, spill_margin="auto")
    )
    tree_local = _routed()
    assert sharded_pairs == numpy_pairs and len(numpy_pairs) == 46 * 4
    assert tree_local == broadcast_map
    assert len(tree_local) > 46 * 4


def test_all_pairs_leaf_kernel_names_null_and_ragged_vectors():
    """The leaf kernel refuses what it cannot score as ``sq_euc_dist``
    would, with the condition named rather than numpy's shape error."""
    import pandas as pd

    from rust_vector_search_spark.operators.search import _worker_kernels

    leaf_pairs = _worker_kernels()[2]
    for bad in ([1.0, 2.0], None):
        pdf = pd.DataFrame(
            {
                "tree_id": [0, 0, 0],
                "leaf_path": ["01", "01", "01"],
                "vec_id": [1, 2, 3],
                "v": [[0.0, 1.0, 2.0], [1.0, 1.0, 1.0], bad],
                "m": [True, True, True],
            }
        )
        with pytest.raises(ValueError, match="null or ragged member vectors"):
            leaf_pairs(pdf, 2)
    pdf["v"] = [[0.0, 1.0, 2.0], [1.0, 1.0, 1.0], [3.0, 0.0, 0.0]]
    assert len(leaf_pairs(pdf, 2)) == 6


def test_all_pairs_leaflocal_member_twins_no_self_match(spark):
    """Duplicate embeddings that are BOTH index members (dedup=False
    build — the shape a raw ingest produces): each twin must get its
    pairs natively from leaf co-membership, never a dist-0 SELF match
    or duplicated (query, vec) rows from the representative-expansion
    path (which is only for index-EXCLUDED rows)."""
    import pandas as pd

    from rust_vector_search_spark.operators.search import all_pairs_rp_forest

    base = [[float(i), float(i % 3), 1.0, 0.0] for i in range(40)]
    rows = [(i, base[i]) for i in range(40)]
    rows += [(100 + i, base[i]) for i in range(6)]  # member twins
    dup = spark.createDataFrame(
        pd.DataFrame({"vec_id": [r[0] for r in rows],
                      "embedding": [r[1] for r in rows]})
    )
    forest = build_rp_forest(
        dup, num_trees=4, max_node_size=6, seed=9, dedup=False
    )
    ap = all_pairs_rp_forest(forest, dup, k=4).localCheckpoint(eager=True)
    # no self matches
    assert ap.filter(F.col("query_id") == F.col("vec_id")).count() == 0
    # no duplicated (query, vec) pairs
    n_rows = ap.count()
    n_pairs = ap.select("query_id", "vec_id").distinct().count()
    assert n_rows == n_pairs
    # every query present, each twin ranks its twin first at distance 0
    assert ap.select("query_id").distinct().count() == 46
    got = {(r.query_id, r.vec_id, r.rnk) for r in ap.collect()}
    twin_first = {(100 + i, i, 1) for i in range(6)}
    assert twin_first <= got


def _hex_rows(df):
    return {
        (r.query_id, r.vec_id, float.hex(r.dist), r.rnk) for r in df.collect()
    }


def test_all_pairs_leaflocal_spill_matches_generic_search(
    forest, emb, monkeypatch
):
    """The RECALL DIAL (VERDICT r9 #1): with spill_margin > 0 the
    leaf-local all-pairs must equal the generic full-descent search at
    the same margin and max_spills=1 (no backfill, self excluded) —
    the exact-equivalence contract extended past single-probe, dist
    bits included. The spill router's numpy engine (under the node
    gate) and its tree-sharded engine (past it, for an in-memory forest
    whose nodes cogroup with the members) must both agree with it."""
    from rust_vector_search_spark.operators.search import (
        all_pairs_rp_forest,
        resolve_spill_margin,
    )

    q = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    margin = resolve_spill_margin(q)
    want = _hex_rows(
        search_rp_forest(
            forest, emb, q, k=5, backfill=False, spill_margin=margin,
            max_spills=1, exclude_self=True,
        )
    )
    for eng, nodes_mb in (("numpy", "256"), ("tree-sharded", "0")):
        monkeypatch.setenv("SPARK_GRAFT_BC_NODES_MB", nodes_mb)
        got = _hex_rows(
            all_pairs_rp_forest(forest, emb, k=5, spill_margin=margin)
        )
        assert got == want and len(got) > 0, eng
    # the dial actually moves candidates: spilled result ⊋ single-probe
    # is not guaranteed per-query, but the margin must add SOME visits —
    # assert the spill router emits rows at this corpus-derived margin
    from rust_vector_search_spark.operators.search import _self_spill_routes

    assert (
        _self_spill_routes(forest, emb, margin, "vec_id", "embedding").count()
        > 0
    )


def test_all_pairs_leaflocal_overgrown_leaf_warns(forest, emb):
    """The leaf-invariant PRECONDITION guard (VERDICT r9 #7): per-leaf
    pair cost is quadratic in leaf size, so a forest whose leaves
    outgrew max_node_size (heavy ingest without maintenance) must warn
    and point at resplit_overgrown_leaves. Simulated by shrinking the
    declared max_node_size under the real leaf sizes."""
    import dataclasses
    import warnings

    from rust_vector_search_spark.operators.search import all_pairs_rp_forest

    overgrown = dataclasses.replace(forest, max_node_size=1)
    with pytest.warns(RuntimeWarning, match="resplit_overgrown_leaves"):
        all_pairs_rp_forest(overgrown, emb, k=3)
    # a healthy forest stays silent; factor <= 0 skips the probe job
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        all_pairs_rp_forest(forest, emb, k=3)
        all_pairs_rp_forest(overgrown, emb, k=3, overgrowth_warn_factor=0)


def test_auto_tree_batches_sizing_arithmetic():
    """tree_batches="auto" (VERDICT r10 #3): B = ceil(estimated
    co-locating exchange / budget), where the estimate is |corpus| ×
    num_trees × per-row bytes (the shared _per_node_bytes estimator),
    doubled under a spill margin, capped at num_trees, floored at 1.
    Pinned at the measured r10 operating points: on the 33 GB-free
    container (budget ≈ 3.3 GB at the free/10 default) the 250k plain
    run needs B≈10 and the spill run B≈20 — reproduced here with the
    budget env set to that value."""
    import math
    from types import SimpleNamespace

    from rust_vector_search_spark.operators.search import (
        _per_node_bytes,
        auto_tree_batches,
    )

    f = SimpleNamespace(dim=300, num_trees=50, leaves=None)
    old = os.environ.get("SPARK_GRAFT_SHUFFLE_BUDGET_MB")
    os.environ["SPARK_GRAFT_SHUFFLE_BUDGET_MB"] = "3300"
    try:
        budget = 3300 * 1024 * 1024
        per_row = _per_node_bytes(f)
        # the r10 250k plain point: folklore said ">= 10"
        B, est, got_budget = auto_tree_batches(f, 250_000, 0.0)
        assert got_budget == budget
        assert est == 250_000 * 50 * per_row
        assert B == math.ceil(est / budget) == 10
        # spill margin doubles the estimate (visitor rows): ">= 20"
        B_sp, est_sp, _ = auto_tree_batches(f, 250_000, 0.35)
        assert est_sp == 2 * est
        assert B_sp == math.ceil(est_sp / budget) == 19
        # small corpus resolves to 1 (call stays lazy)
        assert auto_tree_batches(f, 600, 0.0)[0] == 1
        # cap at num_trees, never beyond
        assert auto_tree_batches(f, 10**9, 0.5)[0] == 50
        # a zero/negative budget disables batching explicitly
        os.environ["SPARK_GRAFT_SHUFFLE_BUDGET_MB"] = "0"
        assert auto_tree_batches(f, 250_000, 0.0)[0] == 1
    finally:
        if old is None:
            del os.environ["SPARK_GRAFT_SHUFFLE_BUDGET_MB"]
        else:
            os.environ["SPARK_GRAFT_SHUFFLE_BUDGET_MB"] = old


def test_auto_tree_batches_floor_and_env_validation():
    """VERDICT r11 #1: footprint-only B is wall-pathological on a
    nearly-full disk (measured: auto resolved B=81 ≈ 2 trees/chunk on a
    150-tree forest, multiplying per-chunk fixed costs into the 7,205 s
    combined-dial wall). With a DERIVED budget (free/10 heuristic) the
    chunk count is capped so every chunk keeps at least
    SPARK_GRAFT_MIN_TREES_PER_CHUNK trees, with a warning; an EXPLICIT
    env budget is a hard user constraint — honored, warn only. ADVICE
    r11 (low): malformed env values raise an error NAMING the variable
    instead of a bare int() ValueError."""
    import math
    from types import SimpleNamespace

    from rust_vector_search_spark.operators.search import (
        _per_node_bytes,
        auto_tree_batches,
    )

    f = SimpleNamespace(dim=300, num_trees=150, leaves=None)
    per_row = _per_node_bytes(f)
    old = os.environ.get("SPARK_GRAFT_SHUFFLE_BUDGET_MB")
    try:
        # DERIVED budget (env unset; no session on f ⇒ the 8 GB
        # fallback): 400k × 150 trees × 2 (spill) ≈ 280 GB estimate
        # wants B=36 < 2 trees/chunk territory — capped at
        # ceil(150/5)=30 with a warning
        os.environ.pop("SPARK_GRAFT_SHUFFLE_BUDGET_MB", None)
        est = 400_000 * 150 * per_row * 2
        b_footprint = math.ceil(est / (8 * 1024**3))
        assert b_footprint > 30  # the premise: footprint B violates the floor
        with pytest.warns(RuntimeWarning, match="capping at 30"):
            B, _, _ = auto_tree_batches(f, 400_000, 0.45)
        assert B == 30
        # floor is tunable; =1 restores pure footprint sizing, silent
        os.environ["SPARK_GRAFT_MIN_TREES_PER_CHUNK"] = "1"
        import warnings as _w

        with _w.catch_warnings():
            _w.simplefilter("error", RuntimeWarning)
            B_raw, _, _ = auto_tree_batches(f, 400_000, 0.45)
        assert B_raw == b_footprint
        del os.environ["SPARK_GRAFT_MIN_TREES_PER_CHUNK"]

        # EXPLICIT budget: honored even below the floor — warn only
        os.environ["SPARK_GRAFT_SHUFFLE_BUDGET_MB"] = "2300"
        with pytest.warns(RuntimeWarning, match="explicit"):
            B_exp, est_exp, _ = auto_tree_batches(f, 250_000, 0.45)
        assert B_exp == math.ceil(est_exp / (2300 * 1024 * 1024)) > 30

        # fractional MB accepted (int(float(...)))
        os.environ["SPARK_GRAFT_SHUFFLE_BUDGET_MB"] = "2300.5"
        assert auto_tree_batches(f, 600, 0.0)[0] == 1
        # malformed values: a named error, not a bare int() crash —
        # including "inf", whose int(float(...)) raises OverflowError
        for bad in ("8g", "inf"):
            os.environ["SPARK_GRAFT_SHUFFLE_BUDGET_MB"] = bad
            with pytest.raises(
                ValueError, match="SPARK_GRAFT_SHUFFLE_BUDGET_MB"
            ):
                auto_tree_batches(f, 250_000, 0.0)

        # the floor never DISABLES batching: a 5-tree forest over a
        # huge corpus keeps its footprint B (b_cap would be 1, which
        # would re-enable the unbatched disk-fill failure), silently
        os.environ.pop("SPARK_GRAFT_SHUFFLE_BUDGET_MB", None)
        f5 = SimpleNamespace(dim=300, num_trees=5, leaves=None)
        with _w.catch_warnings():
            _w.simplefilter("error", RuntimeWarning)
            assert auto_tree_batches(f5, 10**7, 0.0)[0] == 5
    finally:
        os.environ.pop("SPARK_GRAFT_MIN_TREES_PER_CHUNK", None)
        if old is None:
            os.environ.pop("SPARK_GRAFT_SHUFFLE_BUDGET_MB", None)
        else:
            os.environ["SPARK_GRAFT_SHUFFLE_BUDGET_MB"] = old


def test_all_pairs_leaflocal_tree_batched_matches_single_dag(forest, emb):
    """tree_batches bounds the peak shuffle footprint (one chunk's
    co-locating exchange at a time) and must be result-identical to the
    single-DAG form, dist bits included — with and without the spill
    dial, including a batch count that doesn't divide num_trees and one
    past num_trees (clamped to one tree per chunk)."""
    from rust_vector_search_spark.operators.search import (
        all_pairs_rp_forest,
        resolve_spill_margin,
    )

    single = _hex_rows(all_pairs_rp_forest(forest, emb, k=5))
    assert single
    for b in (3, 99):
        batched = _hex_rows(all_pairs_rp_forest(forest, emb, k=5, tree_batches=b))
        assert batched == single, b
    margin = resolve_spill_margin(
        emb.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
    )
    single_sp = _hex_rows(all_pairs_rp_forest(forest, emb, k=5, spill_margin=margin))
    batched_sp = _hex_rows(
        all_pairs_rp_forest(
            forest, emb, k=5, spill_margin=margin, tree_batches=5
        )
    )
    assert batched_sp == single_sp and len(single_sp) > 0


def _spill_sets(forest, emb, margin, monkeypatch):
    """``_self_spill_routes``' spill set from each of its engines, each
    reached through the node gate: numpy under it; past it, the
    tree-sharded engine reading the persisted ``forest``'s node
    directories, and cogrouping the node table of the same forest
    without its path."""
    import dataclasses

    from rust_vector_search_spark.operators.search import _self_spill_routes

    sets = {}
    for eng, nodes_mb, f in (
        ("numpy", "256", forest),
        ("treelocal", "0", forest),
        ("cogroup", "0", dataclasses.replace(forest, path=None)),
    ):
        monkeypatch.setenv("SPARK_GRAFT_BC_NODES_MB", nodes_mb)
        sets[eng] = {
            (r.rep_id, r.tree_id, r.leaf_path)
            for r in _self_spill_routes(
                f, emb, margin, "vec_id", "embedding"
            ).collect()
        }
    monkeypatch.delenv("SPARK_GRAFT_BC_NODES_MB")
    return sets


def test_self_spill_routes_tree_sharded_matches_numpy(
    spark, emb, tmp_path, monkeypatch
):
    """The spill router past the node gate (members shuffled by tree,
    each tree's nodes read inside its task from the persisted layout,
    zero node bytes through an exchange) must emit the same
    (rep_id, tree_id, leaf_path) spill set as the broadcast numpy
    engine, and as the same pass over the forest without its path
    (node table cogrouped), over the same persisted index. All three
    sum n·x in the Catalyst fold's order, so the sets are equal bit for
    bit, near-margin members included (see
    ``test_fold_sign_straddle_takes_one_side_on_every_route``)."""
    from rust_vector_search_spark.operators.index import (
        load_index,
        save_index,
    )
    from rust_vector_search_spark.operators.search import resolve_spill_margin

    forest = build_rp_forest(emb, num_trees=6, max_node_size=5, seed=7)
    path = str(tmp_path / "spill_idx")
    save_index(forest, path, compact=False)
    loaded = load_index(spark, path, num_trees=6, max_node_size=5, seed=7)
    margin = resolve_spill_margin(
        emb.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
    )
    sets = _spill_sets(loaded, emb, margin, monkeypatch)
    assert sets["treelocal"] == sets["cogroup"] == sets["numpy"]
    assert len(sets["treelocal"]) > 0
    # and the all-pairs dial rides it end-to-end: a persisted index
    # past the node gate routes its spills tree-sharded; tree_batches=3
    # exercises the chunk-scoped routing (each chunk routes spills from
    # a leaves-subset forest view). The reference is the cogrouped pass
    # (same gate, no path) and the numpy engine (under the gate).
    import dataclasses

    from rust_vector_search_spark.operators.search import all_pairs_rp_forest

    monkeypatch.setenv("SPARK_GRAFT_BC_NODES_MB", "0")
    got = _hex_rows(
        all_pairs_rp_forest(
            loaded, emb, k=5, spill_margin=margin, tree_batches=3
        )
    )
    want = _hex_rows(
        all_pairs_rp_forest(
            dataclasses.replace(loaded, path=None), emb, k=5,
            spill_margin=margin,
        )
    )
    monkeypatch.delenv("SPARK_GRAFT_BC_NODES_MB")
    assert got == want and len(got) > 0
    assert _hex_rows(
        all_pairs_rp_forest(loaded, emb, k=5, spill_margin=margin)
    ) == want


def test_spill_walk_names_an_ancestor_missing_from_the_node_map(
    spark, emb, tmp_path, monkeypatch
):
    """The level walk both numpy spill routers share looks up every
    ancestor on a member's leaf path. A leaf path whose ancestor has no
    node row (a stale or partially-written save, or nodes dropped from
    an in-memory forest) must fail with the condition named, on the
    tree-local router (node slices side-loaded from the persisted
    layout) and on the broadcast numpy router (the in-memory node
    map) alike."""
    import dataclasses
    import shutil

    import pyarrow.parquet as pq

    from rust_vector_search_spark.operators.index import (
        load_index,
        save_index,
    )
    from rust_vector_search_spark.operators.search import (
        _self_spill_routes,
        resolve_spill_margin,
    )

    forest = build_rp_forest(emb, num_trees=2, max_node_size=5, seed=7)
    margin = resolve_spill_margin(
        emb.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
    )
    named = (
        r"ValueError: spill routing: ancestor path '0' of tree 0 has no "
        r"node in the persisted layout"
    )

    # tree-local: drop node "0" of tree 0 from the persisted layout
    path = str(tmp_path / "idx")
    save_index(forest, path, compact=False)
    tree_dir = f"{path}/nodes/tree_id=0"
    nodes0 = pq.read_table(tree_dir)
    keep = [p != "0" for p in nodes0.column("node_path").to_pylist()]
    assert not all(keep)
    shutil.rmtree(tree_dir)
    os.makedirs(tree_dir)
    pq.write_table(nodes0.filter(keep), f"{tree_dir}/part-0.parquet")
    stale = load_index(spark, path, num_trees=2, max_node_size=5, seed=7)
    with monkeypatch.context() as m:
        m.setenv("SPARK_GRAFT_BC_NODES_MB", "0")  # past the node gate
        with pytest.raises(Exception, match=named):
            _self_spill_routes(
                stale, emb, margin, "vec_id", "embedding"
            ).collect()

    # numpy: drop the same node from an in-memory forest's nodes
    dropped = dataclasses.replace(
        forest,
        nodes=forest.nodes.filter(
            (F.col("tree_id") != 0) | (F.col("node_path") != "0")
        ),
    )
    with pytest.raises(Exception, match=named):
        _self_spill_routes(dropped, emb, margin, "vec_id", "embedding").collect()


def test_fold_sign_straddle_takes_one_side_on_every_route(
    spark, emb, tmp_path, monkeypatch
):
    """A query and an index member placed ON a split plane, where the
    BLAS value of n·x + c and the left fold's differ in sign: the size
    gates' every route must put them on the same side — the fold's,
    which is Catalyst's. The query (on tree 0's root plane, margin 0)
    reaches the same leaves through the broadcast map and the
    tree-sharded route, and gets the same rows from the one-pass
    search and the Spark plan over the tree-sharded route, with the
    queries under and over the query gate. The member (within the
    spill margin of the root, on the plane of the root's other child)
    gets the same spill set from the numpy engine and the tree-sharded
    engine over the persisted and the in-memory forest. The index is
    saved compact, so its coeffs are ``array<float>``."""
    import dataclasses

    import numpy as np

    from rust_vector_search_spark.operators.index import (
        load_index,
        save_index,
    )
    from rust_vector_search_spark.operators.search import (
        _worker_kernels,
        resolve_spill_margin,
        route_queries,
    )

    path = str(tmp_path / "idx")
    save_index(build_rp_forest(emb, num_trees=3, max_node_size=8, seed=5), path)
    forest = load_index(spark, path, num_trees=3, max_node_size=8, seed=5)
    k2i, C, c, norms = forest.local_nodes()
    _, fold, *_ = _worker_kernels()
    rng = np.random.default_rng(3)
    as_double = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    x0 = np.array(as_double.orderBy("vec_id").first().embedding)

    def _side(i, x):
        """(BLAS side, fold side) of n·x + c ≥ 0 at node row i."""
        blas = (x[None, :] @ C[i])[0] + c[i]
        return blas >= 0.0, fold(x[:, None], C[i][:, None])[0] + c[i] >= 0.0

    def _straddle(i, x):
        """x nudged, a few ULPs at a time, until the two sides differ."""
        for _ in range(20000):
            y = x + rng.standard_normal(len(x)) * 1e-16
            blas_up, fold_up = _side(i, y)
            if blas_up != fold_up:
                return y, fold_up
        raise AssertionError("no straddling point found")

    def _onto(rows, targets, x):
        """x moved (least-norm) so that n·x + c = target at each row."""
        N = C[rows]
        resid = np.array(targets) - (N @ x + c[rows])
        return x + N.T @ np.linalg.solve(N @ N.T, resid)

    # the query: on tree 0's root plane
    root, child = k2i[(0, "")], k2i[(0, "1")]
    q_vec, q_up = _straddle(root, _onto([root], [0.0], x0))
    q = spark.createDataFrame(
        [(10**6, q_vec.tolist())], "query_id long, query_vec array<double>"
    )
    routed, rows = {}, {}
    for name, nodes_mb, queries_mb in (
        ("one-pass / broadcast map", "256", "256"),
        ("tree-sharded", "0", "256"),
        ("tree-sharded, queries over the gate", "0", "0"),
    ):
        monkeypatch.setenv("SPARK_GRAFT_BC_NODES_MB", nodes_mb)
        monkeypatch.setenv("SPARK_GRAFT_BC_QUERIES_MB", queries_mb)
        routed[name] = {
            (r.tree_id, r.leaf_path)
            for r in route_queries(forest, q, n_queries=1).collect()
        }
        rows[name] = _hex_rows(
            search_rp_forest(forest, as_double, q, k=5, spill_margin=0.0)
        )
    monkeypatch.delenv("SPARK_GRAFT_BC_NODES_MB")
    monkeypatch.delenv("SPARK_GRAFT_BC_QUERIES_MB")
    first = routed["one-pass / broadcast map"]
    assert all(got == first for got in routed.values()), routed
    assert {p[0] for t, p in first if t == 0} == {"1" if q_up else "0"}
    assert rows["one-pass / broadcast map"] and all(
        got == rows["one-pass / broadcast map"] for got in rows.values()
    )

    # the member: inside the root's margin on the "0" side, so it
    # spills into "1", and on the plane of node (0, "1")
    margin = resolve_spill_margin(
        as_double.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
    )
    m_vec, m_up = _straddle(
        child,
        _onto([root, child], [-0.5 * margin * norms[root], 0.0], x0),
    )
    m = spark.createDataFrame(
        [(10**6, m_vec.tolist())], "vec_id long, embedding array<double>"
    )
    m_leaves = route_queries(
        forest,
        m.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")),
    ).select("tree_id", "leaf_path", F.col("query_id").alias("vec_id"))
    grown = dataclasses.replace(
        forest, leaves=forest.leaves.unionByName(m_leaves)
    )
    sets = _spill_sets(grown, as_double.unionByName(m), margin, monkeypatch)
    assert sets["treelocal"] == sets["cogroup"] == sets["numpy"]
    under_child = {
        p for (v, t, p) in sets["numpy"] if v == 10**6 and t == 0 and p[:1] == "1"
    }
    assert len(under_child) == 1
    assert under_child.pop()[1:2] == ("1" if m_up else "0")


def test_spills_reach_at_most_the_binomial_sum_of_leaves(
    emb, queries, monkeypatch
):
    """Only the spilled branch counts a spill, so the main path may
    spill again below it: a (query, tree) of depth D reaches at most
    Σ_{i=0..max_spills} C(D, i) leaves — past 2^max_spills on a wide
    margin — under the node gate and past it alike."""
    from math import comb

    from rust_vector_search_spark.operators.search import (
        resolve_spill_margin,
        route_queries,
    )

    forest = build_rp_forest(emb, num_trees=4, max_node_size=8, seed=3)
    depth = {
        r.tree_id: r.d
        for r in forest.leaves.groupBy("tree_id")
        .agg(F.max(F.length("leaf_path")).alias("d"))
        .collect()
    }
    margin = resolve_spill_margin(queries, frac=3.0)
    for nodes_mb in ("256", "0"):
        monkeypatch.setenv("SPARK_GRAFT_BC_NODES_MB", nodes_mb)
        reached = (
            route_queries(forest, queries, spill_margin=margin, max_spills=2)
            .groupBy("query_id", "tree_id")
            .count()
            .collect()
        )
        assert len(reached) == 20 * 4, nodes_mb
        assert max(r["count"] for r in reached) > 2**2, nodes_mb
        for r in reached:
            bound = sum(comb(depth[r.tree_id], i) for i in range(2 + 1))
            assert r["count"] <= bound, (nodes_mb, r)


def test_zero_node_forest_routes_and_spills_nowhere(spark, emb):
    """A corpus no larger than ``max_node_size`` builds trees with no
    inner node (``node_count == 0``). The node gate holds for an empty
    table, so the broadcast map routes every (query, tree) to the root
    leaf "", and all-pairs' spill engine finds no plane to spill across:
    the auto margin returns the same rows as no margin."""
    from rust_vector_search_spark.operators.search import (
        all_pairs_rp_forest,
        route_queries,
    )

    small = emb.filter(F.col("vec_id") < 8)
    forest = build_rp_forest(small, num_trees=3, max_node_size=8, seed=42)
    assert forest.node_count == 0
    q = small.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    routed = {
        (r.query_id, r.tree_id, r.leaf_path)
        for r in route_queries(forest, q, spill_margin=0.5).collect()
    }
    assert routed == {(i, t, "") for i in range(8) for t in range(3)}
    plain = _hex_rows(all_pairs_rp_forest(forest, small, k=3, spill_margin=0.0))
    auto = _hex_rows(all_pairs_rp_forest(forest, small, k=3, spill_margin="auto"))
    assert auto == plain and len(plain) == 8 * 3
