"""The one-pass search kernel (``search_rp_forest`` under both broadcast
gates) against the Spark plan it replaces: the same rows, dist bits
included, and the job counts that make it worth having."""

from __future__ import annotations

import os
import sys

import numpy as np
import pyspark.sql.functions as F
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rust_vector_search_spark.operators.index import (  # noqa: E402
    build_rp_forest,
    delete_vectors,
    load_index,
    needs_rebuild,
    save_index,
)
from rust_vector_search_spark.operators.search import search_rp_forest  # noqa: E402

from conftest import SF_SMOKE  # noqa: E402

TREES, LEAF, SEED = 4, 8, 42


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def saved(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("one_pass") / "idx")
    save_index(build_rp_forest(emb, num_trees=TREES, max_node_size=LEAF, seed=SEED), path)
    return path


@pytest.fixture(scope="module")
def drained(spark, saved):
    """Members of one non-root leaf of tree 0: deleting them all drains
    that leaf, so queries routed there backfill from its sibling."""
    loaded = load_index(spark, saved, TREES, LEAF, SEED)
    leaf = (
        loaded.leaves.filter((F.col("tree_id") == 0) & (F.length("leaf_path") > 0))
        .groupBy("leaf_path")
        .count()
        .orderBy(F.col("count").desc(), "leaf_path")
        .first()
    )
    rows = loaded.leaves.filter(
        (F.col("tree_id") == 0) & (F.col("leaf_path") == leaf.leaf_path)
    ).select("vec_id").collect()
    return sorted(r.vec_id for r in rows)


def _deleted(spark, saved, ids):
    loaded = load_index(spark, saved, TREES, LEAF, SEED)
    return delete_vectors(loaded, spark.createDataFrame([(i,) for i in ids], "vec_id long"))


def _as_queries(df):
    return df.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def _rows(df):
    return sorted(
        (r.query_id, r.vec_id, float.hex(r.dist), r.rnk) for r in df.collect()
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_one_pass_matches_spark_plan_bit_for_bit(spark, emb, saved, drained, monkeypatch):
    dead = sorted(set(drained) | set(range(3, 500, 11)))
    forest = _deleted(spark, saved, dead)
    as_double = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    live_q = _as_queries(emb.filter(~F.col("vec_id").isin(dead)))
    cases = {
        "10-query batch": (as_double, _as_queries(as_double.filter(F.col("vec_id") < 10)), {}),
        "corpus as queries": (as_double, _as_queries(as_double), {"k": 5}),
        "k over the leaf size, drained leaf": (
            as_double,
            _as_queries(as_double.filter(F.col("vec_id").isin(drained))),
            {"k": 3 * LEAF},
        ),
        "leaf ids missing from the corpus": (
            as_double.filter(F.col("vec_id") % 3 != 0),
            live_q.limit(20),
            {},
        ),
        "array<float> corpus": (emb, live_q.limit(20), {"exclude_self": False}),
    }
    for name, (corpus, queries, kw) in cases.items():
        fused = search_rp_forest(forest, corpus, queries, **kw)
        assert "Window" not in _plan(fused), name  # the one-pass kernel ran
        got = _rows(fused)
        with monkeypatch.context() as m:
            m.setenv("SPARK_GRAFT_BC_QUERIES_MB", "0")
            spark_plan = search_rp_forest(forest, corpus, queries, **kw)
            assert "Window" in _plan(spark_plan), name
            want = _rows(spark_plan)
        assert got, name
        assert got == want, name
    # ``forest`` now holds its collected leaf table; a fresh object of
    # the same index scans the leaves with Spark
    assert forest.cached_local_leaves() is not None
    assert needs_rebuild(forest) == needs_rebuild(_deleted(spark, saved, dead))


def _jobs_of(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_one_pass_job_counts_and_fresh_child_tables(spark, emb, saved):
    forest = _deleted(spark, saved, range(0, 500, 13))
    queries = _as_queries(emb.filter(F.col("vec_id") < 10))
    rows, n_search = _jobs_of(
        spark, "one-pass-search",
        lambda: search_rp_forest(forest, emb, queries, k=10).collect(),
    )
    assert len(rows) == 100
    assert n_search <= 13, n_search  # the Spark plan runs 20
    verdict, n_health = _jobs_of(spark, "one-pass-health", lambda: needs_rebuild(forest))
    assert n_health == 0
    assert "needs_rebuild" in verdict

    # ids deleted after the parent was searched never come back from the
    # child, which must not reuse the parent's leaf table
    found = {r.vec_id for r in rows if r.rnk <= 3}
    child = delete_vectors(
        forest, spark.createDataFrame([(i,) for i in sorted(found)], "vec_id long")
    )
    again = search_rp_forest(child, emb, queries, k=10).collect()
    assert again
    assert not {r.vec_id for r in again} & found


def test_repeated_searches_release_their_broadcasts(spark, emb, saved, monkeypatch):
    """Each one-pass search ships the corpus matrix in a broadcast; it
    is destroyed once the result is checkpointed, so a session that
    searches again and again holds none of them."""
    sc = spark.sparkContext
    made = []
    real = sc.broadcast

    def _recording(value):
        made.append(real(value))
        return made[-1]

    monkeypatch.setattr(sc, "broadcast", _recording)
    forest = load_index(spark, saved, TREES, LEAF, SEED)
    queries = _as_queries(emb.filter(F.col("vec_id") < 10))
    before = set(os.listdir(sc._temp_dir))
    for _ in range(3):
        assert len(search_rp_forest(forest, emb, queries, k=5).collect()) == 50
    assert len(made) == 3
    for bc in made:
        assert not os.path.exists(bc._path)  # the driver's pickled copy
        assert not bc._jbroadcast.isValid()  # the JVM blocks
    assert set(os.listdir(sc._temp_dir)) <= before


def test_over_gate_inputs_cost_a_bounded_fetch_and_no_count(spark, emb, saved, monkeypatch):
    """The one-pass gate bounds the leaf table (num_trees rows per
    vector) as well as the corpus, and finds a table over its bound
    with a limited fetch instead of a count job; a forest object
    remembers that its leaf table is over the bound."""
    from rust_vector_search_spark.operators import search as S

    def _boom():
        raise AssertionError("the corpus was counted")

    half = emb.filter(F.col("vec_id") % 2 == 0).select("vec_id", "embedding")
    n_half = half.count()
    half.count = _boom
    monkeypatch.setattr(S, "_one_pass_max_rows", lambda forest: n_half)

    def _inputs(forest, corpus):
        return S._one_pass_inputs(forest, corpus, "vec_id", "embedding")

    # the corpus fits the bound, the leaf table (every vector) does not
    forest = load_index(spark, saved, TREES, LEAF, SEED)
    got, jobs = _jobs_of(spark, "over-gate-1", lambda: _inputs(forest, half))
    assert got is None and jobs == 1  # the leaf fetch, stopped at the bound
    got, jobs = _jobs_of(spark, "over-gate-2", lambda: _inputs(forest, half))
    assert got is None and jobs == 0
    plan = _plan(search_rp_forest(forest, half, _as_queries(emb.limit(5))))
    assert "Window" in plan  # the Spark plan

    # a forest that fits the bound, searched with a corpus over it
    live = _deleted(spark, saved, [i for i in range(500) if i % 2])
    assert _inputs(live, half) is not None  # collects the leaf table
    full = emb.select("vec_id", "embedding")
    full.count = _boom
    got, jobs = _jobs_of(spark, "over-gate-3", lambda: _inputs(live, full))
    assert got is None and jobs == 1  # the corpus fetch, stopped at the bound


def test_worker_side_runs_where_the_package_cannot_be_imported(spark, emb, saved, tmp_path):
    """Executors need not be able to import this package
    (``__spark_entry__`` puts it on the calling process's ``sys.path``
    only), so the one-pass kernel and everything it is sent must
    unpickle and run in a python that cannot import it."""
    from pyspark import cloudpickle

    from rust_vector_search_spark.operators.search import _worker_kernels

    forest = load_index(spark, saved, TREES, LEAF, SEED)
    leaves = forest.local_leaves()
    query_matrix, *_, top_k = _worker_kernels()
    queries = _as_queries(emb.filter(F.col("vec_id") < 5)).toPandas()
    corpus = emb.orderBy("vec_id").toPandas()
    blob = cloudpickle.dumps(
        (
            query_matrix, top_k, queries, forest.local_nodes(),
            (leaves.ids, leaves.span, leaves.trees),
            corpus["vec_id"].to_numpy("int64"),
            np.stack(corpus["embedding"].to_numpy()).astype("float64"),
        )
    )
    script = (
        "import pickle, sys\n"
        "qm, top_k, q, nodes, leaves, cids, X = pickle.loads(sys.stdin.buffer.read())\n"
        "out = top_k(q['query_id'].to_numpy('int64'), qm(q), nodes, leaves, cids, X,\n"
        f"            {TREES}, 5, True, True, 0.0, 2)\n"
        "print(len(out))\n"
    )
    run = _run_without_package(script, blob, tmp_path)
    assert run.returncode == 0, run.stderr.decode()[-2000:]
    assert int(run.stdout) == 25


def _run_without_package(script, blob, cwd):
    """``script`` run on stdin ``blob`` by a python whose path cannot
    import this package."""
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != repo
    )
    return subprocess.run(
        [sys.executable, "-c", script], input=blob, capture_output=True,
        cwd=cwd, env=env, timeout=120,
    )


def test_leaf_kernel_runs_where_the_package_cannot_be_imported(spark, emb, saved, tmp_path):
    """All-pairs' leaf kernel ships to executors the same way: it and a
    leaf group's rows (members and a spill visitor) must unpickle and
    run in a python that cannot import the package, with the rows it
    returns here."""
    from pyspark import cloudpickle

    from rust_vector_search_spark.operators.search import _worker_kernels

    leaf_pairs = _worker_kernels()[2]
    forest = load_index(spark, saved, TREES, LEAF, SEED)
    leaf = forest.leaves.filter(F.col("tree_id") == 1).orderBy("leaf_path").first()
    group = (
        forest.leaves.filter(
            (F.col("tree_id") == 1) & (F.col("leaf_path") == leaf.leaf_path)
        )
        .withColumn("m", F.lit(True))
        .unionByName(
            spark.createDataFrame([(1, leaf.leaf_path, 499)], "tree_id int, leaf_path string, vec_id long")
            .withColumn("m", F.lit(False))
        )
        .join(emb.withColumnRenamed("embedding", "v"), "vec_id")
        .toPandas()
    )
    want = leaf_pairs(group, 3)
    assert len(want) and 499 in set(want["query_id"])
    script = (
        "import pickle, sys\n"
        "leaf_pairs, group = pickle.loads(sys.stdin.buffer.read())\n"
        "out = leaf_pairs(group, 3)\n"
        "print(sorted((q, v, d.hex()) for q, v, d in out.itertuples(index=False)))\n"
    )
    run = _run_without_package(script, cloudpickle.dumps((leaf_pairs, group)), tmp_path)
    assert run.returncode == 0, run.stderr.decode()[-2000:]
    assert run.stdout.decode().strip() == str(
        sorted((q, v, d.hex()) for q, v, d in want.itertuples(index=False))
    )


def test_fold_matches_catalyst_dot_bit_for_bit(spark):
    """``_worker_kernels``' ``fold`` — the n·x of every numpy descent
    and spill walk — must equal Catalyst's ``dot`` (the left fold of the
    DuckDB oracle's ``list_reduce``) bit for bit, with ``array<float>``
    coeffs as a compact index stores them: in the descent's shape (many
    rows against one normal, and a lone row), and in the level walk's
    (row against row). A BLAS product disagrees on some of these rows,
    so it cannot pass."""
    from rust_vector_search_spark.functions.vector import dot
    from rust_vector_search_spark.operators.search import _worker_kernels

    _, fold, *_ = _worker_kernels()
    rng = np.random.default_rng(11)
    for dim in (64, 300):
        C = rng.standard_normal((200, dim)).astype(np.float32)
        X = rng.standard_normal((200, dim))
        df = spark.createDataFrame(
            [(i, C[i].tolist(), X[i].tolist()) for i in range(len(X))],
            "i long, coeffs array<float>, x array<double>",
        )
        rows = df.select("i", dot("coeffs", "x").alias("d")).orderBy("i")
        want = np.array([r.d for r in rows.collect()])
        pairs = fold(C.T, X.T)  # the level walk: row i against row i
        assert [float.hex(v) for v in pairs] == [float.hex(v) for v in want], dim
        n0 = C[0].astype(np.float64)
        one_normal = df.select(
            "i", dot(F.array(*[F.lit(float(v)) for v in n0]), "x").alias("d")
        ).orderBy("i")
        want0 = [float.hex(r.d) for r in one_normal.collect()]
        assert [float.hex(v) for v in fold(X.T, C[0][:, None])] == want0, dim
        assert float.hex(fold(X[:1].T, C[0][:, None])[0]) == want0[0], dim
        blas = np.einsum("ij,ij->i", C.astype(np.float64), X)
        assert (blas != want).any(), dim  # the premise: BLAS regroups
