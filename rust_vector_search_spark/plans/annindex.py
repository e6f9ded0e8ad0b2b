"""ANN-index queries: the RP-forest path (reference parity, recall-
checked) and the deterministic IVF path (oracle-checked value-for-value).

The RP forest uses seeded xxhash64 pivot draws — deterministic across
runs of THIS engine but not expressible in DuckDB SQL, so its entries
register without an oracle (the driver records a rows-only check; recall
vs exact kNN is asserted in tests/test_ann.py, mechanizing the quality
pass the reference only prints, ``/root/reference/src/main.rs:95-123``).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.index import build_rp_forest
from ..operators.ivf import ivf_search
from ..operators.knn import knn_exact
from ..operators.search import search_rp_forest
from ..session import ensure_deterministic_session
from ..sources import load_table
from .registry import dd_dot, dd_sq_euc, register, release_driver_blocks

K = 10
N_QUERIES = 10
STRIDE = 20
NPROBE = 3


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_deterministic_session(spark)
    # every query in this module builds/searches an index — localCheckpoint
    # blocks and broadcasts from EARLIER window queries must not be the
    # reason a forest row OOMs a default-heap driver session
    release_driver_blocks(spark)
    return load_table(spark, sf_dir, "embeddings")


def _queries(emb: DataFrame) -> DataFrame:
    return emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


# --- IVF: deterministic, fully oracle-checked ANN ----------------------------

_CDIST = dd_sq_euc("e.embedding", "c.cv")
_QDIST = dd_sq_euc("q.qv", "c.cv")

@register(
    "ann_ivf_topk",
    oracle=f"""
WITH cent AS (
  SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE vec_id % {STRIDE} = 0),
assign AS (
  SELECT vec_id, c_id AS cell FROM (
    SELECT e.vec_id, c.c_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_CDIST}, c.c_id) AS crn
    FROM embeddings e, cent c) t
  WHERE crn = 1),
q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id < {N_QUERIES}),
qc AS (
  SELECT query_id, c_id AS cell FROM (
    SELECT q.query_id, c.c_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_QDIST}, c.c_id) AS crn
    FROM q, cent c) t
  WHERE crn <= {NPROBE}),
cand AS (SELECT DISTINCT qc.query_id, a.vec_id FROM qc JOIN assign a ON qc.cell = a.cell),
scored AS (
  SELECT c.query_id, c.vec_id,
         {dd_sq_euc("q.qv", "e.embedding")} AS dist
  FROM cand c
  JOIN q ON c.query_id = q.query_id
  JOIN embeddings e ON c.vec_id = e.vec_id
  WHERE c.vec_id <> c.query_id)
SELECT query_id, vec_id, dist, rnk FROM (
  SELECT query_id, vec_id, dist,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY dist, vec_id) AS BIGINT) AS rnk
  FROM scored) t
WHERE rnk <= {K}
""",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe: deterministic centroids (every {STRIDE}-th id), nearest-
    cell assignment, nprobe-cell candidate join, exact re-rank — an
    approximate-ANN plan whose every step the oracle replays exactly."""
    emb = _emb(spark, sf_dir)
    return ivf_search(
        emb, _queries(emb), k=K, stride=STRIDE, nprobe=NPROBE
    ).select("query_id", "vec_id", "dist", "rnk")


# --- int8 quantized prefilter + exact re-rank (storage scale path) -----------

_PREFILTER_K = 50

_QDOT = (
    "list_sum(list_transform(range(1, len({a}) + 1), i -> "
    "CAST({a}[i] * {b}[i] AS DOUBLE)))"
)

@register(
    "ann_int8_rerank_topk",
    oracle=f"""
WITH quant AS (
  SELECT vec_id,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
           AS scale,
         embedding
  FROM embeddings),
codes AS (
  SELECT vec_id, scale,
         CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0)
              ELSE list_transform(embedding,
                     x -> CAST(round(CAST(x AS DOUBLE) / scale, 0) AS INTEGER))
         END AS qvec
  FROM quant),
normed AS (
  SELECT vec_id, scale, qvec,
         {_QDOT.format(a='qvec', b='qvec')} AS qnorm2
  FROM codes),
pre AS (
  SELECT q.vec_id AS query_id, c.vec_id,
         ((q.scale * q.scale) * q.qnorm2 + (c.scale * c.scale) * c.qnorm2)
           - (((2.0 * q.scale) * c.scale) * {_QDOT.format(a='q.qvec', b='c.qvec')})
           AS approx_dist
  FROM normed q, normed c
  WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id),
cand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY approx_dist, vec_id) AS prn
    FROM pre) t
  WHERE prn <= {_PREFILTER_K})
SELECT query_id, vec_id, dist, rnk FROM (
  SELECT ca.query_id, ca.vec_id,
         {dd_sq_euc('q.embedding', 'e.embedding')} AS dist,
         CAST(row_number() OVER (PARTITION BY ca.query_id
                                 ORDER BY {dd_sq_euc('q.embedding', 'e.embedding')},
                                          ca.vec_id) AS BIGINT) AS rnk
  FROM cand ca
  JOIN embeddings q ON ca.query_id = q.vec_id
  JOIN embeddings e ON ca.vec_id = e.vec_id) t
WHERE rnk <= {K}
""",
)
def ann_int8_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized prefilter (4× smaller codes through the shuffle —
    the storage/bandwidth scale path) + exact re-rank over the
    prefilter_k candidate set. Quantization is rational arithmetic only
    (max/127 scale, round, integer dot), so the DuckDB oracle replays
    the prefilter BIT-exactly — an approximate-ANN plan that is still
    fully hash-checkable."""
    from ..operators.quant import int8_prefilter_topk

    emb = _emb(spark, sf_dir)
    return int8_prefilter_topk(
        emb, _queries(emb), k=K, prefilter_k=_PREFILTER_K
    ).select("query_id", "vec_id", "dist", "rnk")


# --- IVF × int8: the sub-linear composition of both scale paths ---------------

@register(
    "ann_ivf_int8_topk",
    oracle=f"""
WITH cent AS (
  SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE vec_id % {STRIDE} = 0),
assign AS (
  SELECT vec_id, c_id AS cell FROM (
    SELECT e.vec_id, c.c_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_CDIST}, c.c_id) AS crn
    FROM embeddings e, cent c) t
  WHERE crn = 1),
q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id < {N_QUERIES}),
qc AS (
  SELECT query_id, c_id AS cell FROM (
    SELECT q.query_id, c.c_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_QDIST}, c.c_id) AS crn
    FROM q, cent c) t
  WHERE crn <= {NPROBE}),
quant AS (
  SELECT vec_id,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
           AS scale,
         embedding
  FROM embeddings),
codes AS (
  SELECT vec_id, scale,
         CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0)
              ELSE list_transform(embedding,
                     x -> CAST(round(CAST(x AS DOUBLE) / scale, 0) AS INTEGER))
         END AS qvec
  FROM quant),
normed AS (
  SELECT vec_id, scale, qvec,
         {_QDOT.format(a='qvec', b='qvec')} AS qnorm2
  FROM codes),
pre AS (
  SELECT qc.query_id, c.vec_id,
         ((nq.scale * nq.scale) * nq.qnorm2 + (c.scale * c.scale) * c.qnorm2)
           - (((2.0 * nq.scale) * c.scale) * {_QDOT.format(a='nq.qvec', b='c.qvec')})
           AS approx_dist
  FROM qc
  JOIN assign a ON qc.cell = a.cell
  JOIN normed c ON a.vec_id = c.vec_id
  JOIN normed nq ON nq.vec_id = qc.query_id
  WHERE c.vec_id <> qc.query_id),
cand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY approx_dist, vec_id) AS prn
    FROM pre) t
  WHERE prn <= {_PREFILTER_K})
SELECT query_id, vec_id, dist, rnk FROM (
  SELECT ca.query_id, ca.vec_id,
         {dd_sq_euc('q.embedding', 'e.embedding')} AS dist,
         CAST(row_number() OVER (PARTITION BY ca.query_id
                                 ORDER BY {dd_sq_euc('q.embedding', 'e.embedding')},
                                          ca.vec_id) AS BIGINT) AS rnk
  FROM cand ca
  JOIN embeddings q ON ca.query_id = q.vec_id
  JOIN embeddings e ON ca.vec_id = e.vec_id) t
WHERE rnk <= {K}
""",
)
def ann_ivf_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sub-linear int8 plan (VERDICT r5 item 3): IVF cells bound the
    scan to ~nprobe/|C| of the corpus, int8 codes cut the scanned bytes
    4×, exact re-rank recovers full precision — all rational arithmetic,
    so the oracle replays cell assignment, quantization, prefilter, and
    re-rank bit-exactly. The cell restriction is an equi-join (plan-
    asserted: no crossJoin over the code table)."""
    from ..operators.quant import ivf_int8_topk

    emb = _emb(spark, sf_dir)
    return ivf_int8_topk(
        emb, _queries(emb), k=K, stride=STRIDE, nprobe=NPROBE,
        prefilter_k=_PREFILTER_K,
    ).select("query_id", "vec_id", "dist", "rnk")


# --- RP forest: reference-parity path (rows-only + recall tests) --------------

@register("ann_rp_forest_topk")
def ann_rp_forest_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k through the Annoy-style forest (O8→O9→O10→O12,
    ``src/lib.rs:81-149``) at the REFERENCE'S OWN operating point — 50
    trees, leaf ≤ 5 (``src/main.rs:141-142``), seed 42. Measured vs the
    old 16-tree/leaf-32 default at sf0.1: recall 0.97 vs 0.89, 30% vs
    45% candidate fraction, and faster end-to-end (the hybrid build
    makes many small trees cheap)."""
    emb = _emb(spark, sf_dir)
    forest = build_rp_forest(emb, num_trees=50, max_node_size=5, seed=42)
    return search_rp_forest(forest, emb, _queries(emb), k=K).select(
        "query_id", "vec_id", "dist", "rnk"
    )


@register("ann_rp_forest_recall")
def ann_rp_forest_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the forest path vs exact kNN — mechanizes the
    reference's printed-only quality pass (``src/main.rs:95-123``).
    Returns one row (n_queries, mean_recall)."""
    emb = _emb(spark, sf_dir)
    q = _queries(emb)
    forest = build_rp_forest(emb, num_trees=50, max_node_size=5, seed=42)
    approx = search_rp_forest(forest, emb, q, k=K).select("query_id", "vec_id")
    exact = knn_exact(emb, q, k=K).select("query_id", "vec_id")
    hits = exact.join(approx, ["query_id", "vec_id"], "left_semi")
    per_q = hits.groupBy("query_id").agg(
        (F.count(F.lit(1)).cast("double") / F.lit(float(K))).alias("recall")
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.avg("recall").alias("mean_recall"),
    )


# --- forest SEARCH over the committed index fixture: fully oracle-checked -----

# The index fixture: reference-geometry forest (50 trees, leaf ≤ 5, seed
# 42 — src/main.rs:141-142) built ONCE from the sf0.01 embeddings and
# committed as parquet (tools/build_index_fixture.py). The BUILD is
# seeded-random and not SQL-replayable, but the SEARCH over these fixed
# nodes/leaves is a pure function the oracle replays exactly.
_FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "data",
    "index_fixture",
)
# fixed binary-exact literal (≈ the auto margin 0.3·r/√d for the
# unit-norm 64-d fixture corpus): both engines parse the same decimal to
# the same IEEE double, so the spill comparison is bit-identical
_FIXTURE_MARGIN = 0.0375
_FIXTURE_MAX_SPILLS = 2

_W_DOT = dd_dot("n.coeffs", "q.qv")

@register(
    "ann_rp_forest_search_from_fixture",
    oracle=f"""
WITH RECURSIVE
nodes AS (SELECT CAST(tree_id AS INTEGER) AS tree_id, node_path, coeffs, constant, coeff_norm
          FROM read_parquet('{_FIXTURE_DIR}/nodes/*/*.parquet', hive_partitioning=1)),
lvs AS (SELECT CAST(tree_id AS INTEGER) AS tree_id, leaf_path, vec_id
        FROM read_parquet('{_FIXTURE_DIR}/leaves/*/*.parquet', hive_partitioning=1)),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {N_QUERIES}),
trees AS (SELECT DISTINCT tree_id FROM lvs),
walk(query_id, tree_id, path, spills) AS (
  SELECT q.query_id, t.tree_id, '', 0 FROM q, trees t
  UNION ALL
  SELECT w.query_id, w.tree_id, w.path || c.ch.bit, w.spills + c.ch.ds
  FROM walk w
  JOIN nodes n ON n.tree_id = w.tree_id AND n.node_path = w.path
  JOIN q ON q.query_id = w.query_id
  CROSS JOIN LATERAL (SELECT {_W_DOT} + n.constant AS v) s
  CROSS JOIN UNNEST(
    CASE WHEN abs(s.v) / n.coeff_norm < {_FIXTURE_MARGIN} AND w.spills < {_FIXTURE_MAX_SPILLS}
         THEN [{{'bit': CASE WHEN s.v >= 0 THEN '1' ELSE '0' END, 'ds': 0}},
               {{'bit': CASE WHEN s.v >= 0 THEN '0' ELSE '1' END, 'ds': 1}}]
         ELSE [{{'bit': CASE WHEN s.v >= 0 THEN '1' ELSE '0' END, 'ds': 0}}]
    END) AS c(ch)
),
routed AS (
  SELECT w.query_id, w.tree_id, w.path AS leaf_path FROM walk w
  WHERE NOT EXISTS (SELECT 1 FROM nodes n
                    WHERE n.tree_id = w.tree_id AND n.node_path = w.path)),
leaf_sizes AS (SELECT tree_id, leaf_path, count(*) AS leaf_n FROM lvs GROUP BY 1, 2),
underfull AS (
  SELECT r.query_id, r.tree_id,
         substr(r.leaf_path, 1, length(r.leaf_path) - 1) ||
           CASE WHEN substr(r.leaf_path, length(r.leaf_path), 1) = '1'
                THEN '0' ELSE '1' END AS sibling_prefix
  FROM routed r
  LEFT JOIN leaf_sizes s ON s.tree_id = r.tree_id AND s.leaf_path = r.leaf_path
  WHERE (s.leaf_n < {K} OR s.leaf_n IS NULL) AND length(r.leaf_path) > 0),
leaf_anc AS (
  SELECT tree_id, vec_id,
         unnest(list_transform(range(1, length(leaf_path) + 1),
                               i -> leaf_path[1:i])) AS sibling_prefix
  FROM lvs WHERE length(leaf_path) > 0),
cand AS (
  SELECT DISTINCT query_id, vec_id FROM (
    SELECT r.query_id, l.vec_id
    FROM routed r JOIN lvs l ON l.tree_id = r.tree_id AND l.leaf_path = r.leaf_path
    UNION ALL
    SELECT u.query_id, la.vec_id
    FROM underfull u
    JOIN leaf_anc la ON la.tree_id = u.tree_id AND la.sibling_prefix = u.sibling_prefix))
SELECT query_id, vec_id, dist, rnk FROM (
  SELECT c.query_id, c.vec_id, {dd_sq_euc('q.qv', 'e.embedding')} AS dist,
         CAST(row_number() OVER (PARTITION BY c.query_id
                                 ORDER BY {dd_sq_euc('q.qv', 'e.embedding')}, c.vec_id) AS BIGINT) AS rnk
  FROM cand c
  JOIN q ON q.query_id = c.query_id
  JOIN embeddings e ON e.vec_id = c.vec_id
  WHERE c.vec_id <> c.query_id) t
WHERE rnk <= {K}
""",
)
def ann_rp_forest_search_from_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The forest SEARCH path, hash-exact (VERDICT r5 item 1): routing
    descent (``src/lib.rs:105-128``), multi-probe spill, sibling-prefix
    backfill (``:122-124``), candidate union, and exact re-rank
    (``:137-148``) over the COMMITTED index fixture — every step a
    deterministic function of (nodes, leaves, queries) that the DuckDB
    oracle replays with a recursive-CTE descent over the same parquet.

    It runs on the default route (the one-pass search at this size):
    every route sums n·x and the re-rank distance in the left-fold
    order of the oracle's ``list_reduce``, so each reaches the
    oracle's leaves and distances bit for bit. The spill margin is a
    fixed binary-exact literal, so no resolved double enters the
    comparison. Pinned to sf0.01 — the fixture was built from those
    embeddings (the correctness gate's SF; other sf_dirs would search a
    non-corresponding index)."""
    from ..operators.index import load_index

    emb = _emb(spark, sf_dir)
    forest = load_index(
        spark, _FIXTURE_DIR, num_trees=50, max_node_size=5, seed=42
    )
    return search_rp_forest(
        forest,
        emb,
        _queries(emb),
        k=K,
        spill_margin=_FIXTURE_MARGIN,
        max_spills=_FIXTURE_MAX_SPILLS,
    ).select("query_id", "vec_id", "dist", "rnk")


@register(
    "ann_all_pairs_leaflocal",
    oracle=f"""
WITH lvs AS (SELECT CAST(tree_id AS INTEGER) AS tree_id, leaf_path, vec_id
             FROM read_parquet('{_FIXTURE_DIR}/leaves/*/*.parquet', hive_partitioning=1)),
reps AS (SELECT embedding AS emb, min(vec_id) AS rep_id
         FROM embeddings GROUP BY embedding),
mapping AS (SELECT e.vec_id AS row_id, r.rep_id
            FROM embeddings e JOIN reps r ON e.embedding = r.emb),
pr AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id AS cid
       FROM lvs a
       JOIN lvs b ON a.tree_id = b.tree_id AND a.leaf_path = b.leaf_path
       WHERE a.vec_id <> b.vec_id),
scored AS (SELECT p.qid, p.cid,
                  {dd_sq_euc('ea.embedding', 'eb.embedding')} AS dist
           FROM pr p
           JOIN embeddings ea ON ea.vec_id = p.qid
           JOIN embeddings eb ON eb.vec_id = p.cid),
expanded AS (
  SELECT m.row_id AS query_id, s.cid AS vec_id, s.dist
  FROM mapping m JOIN scored s ON s.qid = m.rep_id
  UNION ALL
  SELECT m.row_id, m.rep_id, 0.0 FROM mapping m WHERE m.row_id <> m.rep_id)
SELECT query_id, vec_id, dist, rnk FROM (
  SELECT query_id, vec_id, dist,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY dist, vec_id) AS BIGINT) AS rnk
  FROM expanded) t
WHERE rnk <= {K}
""",
)
def ann_all_pairs_leaflocal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs self-kNN in its LEAF-LOCAL form (the reference's
    flagship quality pass, ``src/main.rs:100-123``) over the committed
    index fixture, fully oracle-checked: a vector's candidates are its
    leaf co-members across trees (the build already routed the corpus),
    pairwise distances are computed INSIDE each bounded leaf group by
    one grouped-map numpy kernel that keeps each query's top k in the
    leaf, and only slim (query, vec, dist) triples ever cross an exchange — the shape whose shuffle volume
    stays linear in corpus × trees at 100 TB, vs the generic tail's
    candidate-pair re-rank joins that drag dim-sized embeddings
    through one exchange per join (measured disk-infeasible at the
    250k × 300-d probe). The oracle replays the same pair set with a
    leaves self-join; distances are the shared sequential fold, so the
    comparison is bit-exact. Duplicate rows would inherit their
    representative's pairs plus a zero-distance edge on BOTH sides
    (identity at sf0.01 — no exact duplicates)."""
    from ..operators.index import load_index
    from ..operators.search import all_pairs_rp_forest

    emb = _emb(spark, sf_dir)
    forest = load_index(
        spark, _FIXTURE_DIR, num_trees=50, max_node_size=5, seed=42
    )
    # warn_factor=0: the committed fixture index is a fresh build (only
    # tools/build_index_fixture.py writes it), so the leaf-size
    # invariant provably holds — skip the eager max-leaf probe job
    # (ADVICE r10). tree_batches=1: the oracle query's plan must stay
    # LAZY and host-independent (auto batching keys off free scratch
    # disk; the fixture's whole exchange is a few MB)
    return all_pairs_rp_forest(
        forest, emb, k=K, overgrowth_warn_factor=0, tree_batches=1
    ).select("query_id", "vec_id", "dist", "rnk")


@register(
    "ann_all_pairs_spill_leaflocal",
    oracle=f"""
WITH RECURSIVE
nodes AS (SELECT CAST(tree_id AS INTEGER) AS tree_id, node_path, coeffs, constant, coeff_norm
          FROM read_parquet('{_FIXTURE_DIR}/nodes/*/*.parquet', hive_partitioning=1)),
lvs AS (SELECT CAST(tree_id AS INTEGER) AS tree_id, leaf_path, vec_id
        FROM read_parquet('{_FIXTURE_DIR}/leaves/*/*.parquet', hive_partitioning=1)),
reps AS (SELECT embedding AS emb, min(vec_id) AS rep_id
         FROM embeddings GROUP BY embedding),
mapping AS (SELECT e.vec_id AS row_id, r.rep_id
            FROM embeddings e JOIN reps r ON e.embedding = r.emb),
anc AS (
  SELECT l.tree_id, l.vec_id, u.s AS s
  FROM lvs l
  CROSS JOIN UNNEST(list_transform(range(0, length(l.leaf_path)),
       i -> {{'pfx': l.leaf_path[1:i], 'bit': substr(l.leaf_path, i + 1, 1)}})) AS u(s)),
seeds AS (
  SELECT a.tree_id, a.vec_id,
         a.s.pfx || (CASE WHEN a.s.bit = '1' THEN '0' ELSE '1' END) AS path
  FROM anc a
  JOIN nodes n ON n.tree_id = a.tree_id AND n.node_path = a.s.pfx
  JOIN embeddings e ON e.vec_id = a.vec_id
  WHERE abs({dd_dot('n.coeffs', 'e.embedding')} + n.constant) / n.coeff_norm
        < {_FIXTURE_MARGIN}),
walk(vec_id, tree_id, path) AS (
  SELECT vec_id, tree_id, path FROM seeds
  UNION ALL
  SELECT w.vec_id, w.tree_id,
         w.path || (CASE WHEN s.v >= 0 THEN '1' ELSE '0' END)
  FROM walk w
  JOIN nodes n ON n.tree_id = w.tree_id AND n.node_path = w.path
  JOIN embeddings e ON e.vec_id = w.vec_id
  CROSS JOIN LATERAL (SELECT {dd_dot('n.coeffs', 'e.embedding')} + n.constant AS v) s),
spl AS (
  SELECT w.vec_id AS qid, w.tree_id, w.path AS lp FROM walk w
  WHERE NOT EXISTS (SELECT 1 FROM nodes n
                    WHERE n.tree_id = w.tree_id AND n.node_path = w.path)),
pr AS (
  SELECT DISTINCT qid, cid FROM (
    SELECT a.vec_id AS qid, b.vec_id AS cid
    FROM lvs a
    JOIN lvs b ON a.tree_id = b.tree_id AND a.leaf_path = b.leaf_path
    WHERE a.vec_id <> b.vec_id
    UNION ALL
    SELECT s.qid, l.vec_id AS cid
    FROM spl s JOIN lvs l ON l.tree_id = s.tree_id AND l.leaf_path = s.lp
    WHERE l.vec_id <> s.qid) u),
scored AS (SELECT p.qid, p.cid,
                  {dd_sq_euc('ea.embedding', 'eb.embedding')} AS dist
           FROM pr p
           JOIN embeddings ea ON ea.vec_id = p.qid
           JOIN embeddings eb ON eb.vec_id = p.cid),
expanded AS (
  SELECT m.row_id AS query_id, s.cid AS vec_id, s.dist
  FROM mapping m JOIN scored s ON s.qid = m.rep_id
  UNION ALL
  SELECT m.row_id, m.rep_id, 0.0 FROM mapping m WHERE m.row_id <> m.rep_id)
SELECT query_id, vec_id, dist, rnk FROM (
  SELECT query_id, vec_id, dist,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY dist, vec_id) AS BIGINT) AS rnk
  FROM expanded) t
WHERE rnk <= {K}
""",
)
def ann_all_pairs_spill_leaflocal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The leaf-local all-pairs WITH the multi-probe recall dial
    engaged (VERDICT r9 #1), fully oracle-checked: on top of the leaf
    co-member pairs, every index member whose ancestor split plane lies
    within ``spill_margin`` geometric distance seeds the sibling branch
    and descends it to a leaf (max_spills=1 — a spill cannot re-spill),
    gaining that leaf's members as extra candidates while the pair math
    stays inside bounded leaf-local groups. This is the reference's
    flagship quality pass (``src/main.rs:100-123``) at TUNABLE recall
    in the shape whose shuffle stays linear in corpus × trees.

    The oracle replays the spill router exactly: seeds from each
    member's own root-to-leaf ancestor chain (|n·x + c|/‖n‖ < margin,
    the same abs/divide — bit-identical for positive norms), a
    recursive-CTE descent of the seeded sibling branches (main bit
    only — no re-spill), then the union of main + spilled pairs through
    the shared sequential-fold distance and (dist, vec_id) top-k
    window. It runs the default spill engine (the numpy level walk at
    this size), whose n·x is the oracle's ``list_reduce`` left fold, so
    it seeds the oracle's spills bit for bit. Pinned to sf0.01 (the
    fixture's corpus)."""
    from ..operators.index import load_index
    from ..operators.search import all_pairs_rp_forest

    emb = _emb(spark, sf_dir)
    forest = load_index(
        spark, _FIXTURE_DIR, num_trees=50, max_node_size=5, seed=42
    )
    # warn_factor=0: fresh-build fixture index, invariant provably
    # holds — skip the eager max-leaf probe job (ADVICE r10).
    # tree_batches=1: lazy, host-independent plan (see above)
    return all_pairs_rp_forest(
        forest, emb, k=K, spill_margin=_FIXTURE_MARGIN,
        overgrowth_warn_factor=0, tree_batches=1,
    ).select("query_id", "vec_id", "dist", "rnk")


# --- FLAGSHIP: approximate all-pairs self-kNN through the forest --------------

@register("all_pairs_approx_top3")
def all_pairs_approx_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship workload (``src/main.rs:100-123``):
    ``search_approximate`` over the WHOLE corpus — every vector is a
    query against the forest, k=3. This is the shape a 100 TB dedup
    pipeline actually runs: corpus-as-queries, candidates from routed
    leaves (+ sibling backfill + multi-probe spill), exact re-rank on
    the candidate set only. Rows-only (seeded build not SQL-replayable);
    recall ≥ 0.9 vs the exact ``all_pairs_top3`` is asserted in
    tests/test_ann.py::test_all_pairs_approx_recall.

    Under the broadcast gates (the fixture scales) the search is the
    one-pass kernel: every corpus row descends, gathers and re-ranks
    its candidates in one mapInPandas pass against a broadcast corpus
    matrix. Over the gates the Spark plan runs, and its re-rank
    shuffle-hash-joins on query_id: the query set IS the corpus
    (~2.4 TB at 1e9×300-d), far past the query broadcast gate.
    ``all_pairs_rp_forest`` (leaf-local, candidates from the build's
    own routing) is the join-chain-scale corpus shape."""
    emb = _emb(spark, sf_dir)
    forest = build_rp_forest(emb, num_trees=50, max_node_size=5, seed=42)
    corpus_queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return search_rp_forest(
        forest, emb, corpus_queries, k=3, max_spills=1,
    ).select("query_id", "vec_id", "dist", "rnk")


# --- MLlib BucketedRandomProjectionLSH baseline (SURVEY §7.1 M2 fallback) ------

@register("ann_mllib_brp_topk")
def ann_mllib_brp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib's built-in random-projection LSH as a comparison point for
    the hand-built forest (SURVEY §7.1 M2). Seeded → deterministic for
    THIS engine, but the hash family isn't SQL-expressible → rows-only.
    Returns (query_id, vec_id, dist, rnk)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql.window import Window

    emb = _emb(spark, sf_dir).withColumn(
        "features", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    model = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=2.0,
        numHashTables=8,
        seed=42,
    ).fit(emb)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("features").alias("qf")
    )
    joined = model.approxSimilarityJoin(
        emb.select("vec_id", "features"),
        queries.withColumnRenamed("qf", "features"),
        float("inf"),
        distCol="euc",
    ).select(
        F.col("datasetB.query_id").alias("query_id"),
        F.col("datasetA.vec_id").alias("vec_id"),
        (F.col("euc") * F.col("euc")).alias("dist"),
    ).filter(F.col("vec_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("vec_id").asc()
    )
    return (
        joined.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= K)
    )


# --- index persistence: search FROM the Parquet-persisted form ----------------

@register("ann_search_from_persisted_index")
def ann_search_from_persisted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'index is a table' claim round-tripped (SURVEY §1.1): build →
    ``save_index`` (Parquet, partitioned by tree_id) → ``load_index``
    from disk → search through the LOADED forest. A production ANN
    deployment never rebuilds per query — it searches a persisted index;
    this is that path. Rows-only (seeded build not SQL-replayable);
    tests/test_index_persistence.py asserts loaded-search ≡
    direct-search bit-for-bit."""
    import tempfile

    from ..operators.index import load_index, save_index

    emb = _emb(spark, sf_dir)
    forest = build_rp_forest(emb, num_trees=8, max_node_size=32, seed=42)
    path = tempfile.mkdtemp(prefix="rp_index_")
    save_index(forest, path)
    loaded = load_index(spark, path, num_trees=8, max_node_size=32, seed=42)
    return search_rp_forest(loaded, emb, _queries(emb), k=K).select(
        "query_id", "vec_id", "dist", "rnk"
    )


# --- the index is a table: structure statistics (rows-only) -------------------

@register("ann_index_stats")
def ann_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Queryability of the persisted index (SURVEY §1.1: 'the index is
    itself a queryable table'): per-tree leaf count, depth range,
    occupancy — plus the r10 ROUTING-QUALITY columns (overgrown_leaves,
    fill_ratio, occupancy_gini) that operationalize the
    rebuild-vs-maintain decision (VERDICT r9 #4; thresholds tied to
    measured recall in the 250k lifecycle probe, see
    ``operators.index.forest_health_stats``) — and, since r11, the
    trigger's own columns (``fill_vs_fresh``, ``needs_rebuild``)
    computed against the persisted fresh-build baseline
    (``forest_health_vs_fresh``; a just-built forest compares to
    itself: ratio 1.0, trigger quiet)."""
    from ..operators.index import forest_health_vs_fresh

    emb = _emb(spark, sf_dir)
    forest = build_rp_forest(emb, num_trees=8, max_node_size=32, seed=42)
    return forest_health_vs_fresh(forest)


# --- IVF × PQ: the billion-scale memory composition (Jégou et al. 2011) -------

_M = 8          # subspaces
_SUB_DIM = 8    # dims per subspace (64-d fixtures)
_CB_STRIDE = 32  # codebook = subvectors of every 32nd id (deterministic)

# shared DuckDB CTE text: per-subspace codebooks + encode (argmin, ties
# to the smaller centroid id) + per-query subspace-distance LUT — the
# exact twins of operators/pq.pq_codebook / pq_encode / pq_lut
_PQ_CTES = f"""
subsp AS (SELECT UNNEST(range(0, {_M})) AS j),
cb AS (
  SELECT t.j, e.vec_id AS c_id,
         CAST(row_number() OVER (PARTITION BY t.j ORDER BY e.vec_id) AS INTEGER)
           AS pos,
         list_slice(e.embedding, t.j*{_SUB_DIM} + 1, t.j*{_SUB_DIM} + {_SUB_DIM})
           AS cv
  FROM embeddings e, subsp t
  WHERE e.vec_id % {_CB_STRIDE} = 0),
subv AS (
  SELECT e.vec_id, t.j,
         list_slice(e.embedding, t.j*{_SUB_DIM} + 1, t.j*{_SUB_DIM} + {_SUB_DIM})
           AS sv
  FROM embeddings e, subsp t),
enc AS (
  SELECT vec_id, j, pos FROM (
    SELECT s.vec_id, s.j, c.pos,
           row_number() OVER (PARTITION BY s.vec_id, s.j
                              ORDER BY {dd_sq_euc('s.sv', 'c.cv')}, c.c_id) AS rn
    FROM subv s JOIN cb c ON s.j = c.j) t
  WHERE rn = 1),
q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id < {N_QUERIES}),
lut AS (
  SELECT q.query_id, c.j, c.pos,
         {dd_sq_euc(f"list_slice(q.qv, c.j*{_SUB_DIM} + 1, c.j*{_SUB_DIM} + {_SUB_DIM})", "c.cv")}
           AS sd
  FROM q, cb c)"""

# exact re-rank tail shared by both PQ oracles (identical to the int8 tail)
_PQ_TAIL = f"""
cand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY approx_dist, vec_id) AS prn
    FROM pre) t
  WHERE prn <= {_PREFILTER_K})
SELECT query_id, vec_id, dist, rnk FROM (
  SELECT ca.query_id, ca.vec_id,
         {dd_sq_euc('q.embedding', 'e.embedding')} AS dist,
         CAST(row_number() OVER (PARTITION BY ca.query_id
                                 ORDER BY {dd_sq_euc('q.embedding', 'e.embedding')},
                                          ca.vec_id) AS BIGINT) AS rnk
  FROM cand ca
  JOIN embeddings q ON ca.query_id = q.vec_id
  JOIN embeddings e ON ca.vec_id = e.vec_id) t
WHERE rnk <= {K}"""


@register(
    "ann_ivfpq_topk",
    oracle=f"""
WITH cent AS (
  SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE vec_id % {STRIDE} = 0),
assign AS (
  SELECT vec_id, c_id AS cell FROM (
    SELECT e.vec_id, c.c_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_CDIST}, c.c_id) AS crn
    FROM embeddings e, cent c) t
  WHERE crn = 1),
{_PQ_CTES},
qc AS (
  SELECT query_id, c_id AS cell FROM (
    SELECT q.query_id, c.c_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_QDIST}, c.c_id) AS crn
    FROM q, cent c) t
  WHERE crn <= {NPROBE}),
pre AS (
  SELECT qc.query_id, a.vec_id,
         list_reduce(list(l.sd ORDER BY l.j), (x, y) -> x + y) AS approx_dist
  FROM qc
  JOIN assign a ON qc.cell = a.cell
  JOIN enc e ON e.vec_id = a.vec_id
  JOIN lut l ON l.query_id = qc.query_id AND l.j = e.j AND l.pos = e.pos
  WHERE a.vec_id <> qc.query_id
  GROUP BY qc.query_id, a.vec_id),
{_PQ_TAIL}
""",
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: the standard billion-scale ANN composition (Faiss
    IndexIVFPQ / Jégou et al. 2011). The coarse IVF quantizer bounds
    the scan to the query's nprobe cells via a cell EQUI-join; ADC
    scores the surviving PQ codes (m={_M} ints per vector — ~32× fewer
    candidate-scan bytes than f32) from a broadcast per-query LUT; the
    top prefilter_k re-rank exactly. Codebooks are deterministic
    (every {_CB_STRIDE}nd id's subvectors) and every float sum is a
    fixed-order fold, so the oracle replays encode, LUT, ADC, and
    re-rank bit-exactly."""
    from ..operators.pq import ivf_pq_topk

    emb = _emb(spark, sf_dir)
    return ivf_pq_topk(
        emb, _queries(emb), k=K, stride=STRIDE, nprobe=NPROBE,
        m=_M, sub_dim=_SUB_DIM, cb_stride=_CB_STRIDE,
        prefilter_k=_PREFILTER_K,
    ).select("query_id", "vec_id", "dist", "rnk")


@register(
    "ann_pq_topk",
    oracle=f"""
WITH {_PQ_CTES},
pre AS (
  SELECT l.query_id, e.vec_id,
         list_reduce(list(l.sd ORDER BY l.j), (x, y) -> x + y) AS approx_dist
  FROM enc e
  JOIN lut l ON l.j = e.j AND l.pos = e.pos
  WHERE e.vec_id <> l.query_id
  GROUP BY l.query_id, e.vec_id),
{_PQ_TAIL}
""",
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat-PQ ADC over ALL codes + exact re-rank — the exact-baseline
    shape of the PQ family (linear scan, but each scanned vector is m
    ints + one LUT fold). The sub-linear production plan is
    ``ann_ivfpq_topk``; registered demoted-from-birth with the linear
    baseline rationale (same policy as ann_int8_rerank_topk)."""
    from ..operators.pq import pq_topk

    emb = _emb(spark, sf_dir)
    return pq_topk(
        emb, _queries(emb), k=K, m=_M, sub_dim=_SUB_DIM,
        cb_stride=_CB_STRIDE, prefilter_k=_PREFILTER_K,
    ).select("query_id", "vec_id", "dist", "rnk")


# --- sampled routing-quality staleness probe (rows-only) -----------------------

@register("ann_recall_estimate")
def ann_recall_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r12 staleness probe as a queryable surface (VERDICT r11 #2):
    ``operators.search.estimate_recall`` routes a seeded corpus sample
    through the index and compares against exact BLAS kNN on the same
    sample — the routing-quality complement to the occupancy trigger's
    ``fill_vs_fresh`` (fill cannot see hyperplane staleness where
    occupancy recovers; see ``needs_rebuild``). One row: the recall,
    sample accounting, and the trigger's own verdict for the same
    forest, so the rebuild decision's two inputs sit side by side.
    Rows-only (seeded build + BLAS re-rank have no SQL twin); the
    mechanics are pinned in tests/test_index_maintenance.py."""
    from ..operators.index import needs_rebuild
    from ..operators.search import estimate_recall

    emb = _emb(spark, sf_dir)
    forest = build_rp_forest(emb, num_trees=8, max_node_size=32, seed=42)
    er = estimate_recall(forest, emb, n_sample=50, k=K, seed=7)
    v = needs_rebuild(forest)
    return spark.createDataFrame(
        [(
            float(er["recall"]), int(er["hits"]), int(er["total"]),
            int(er["n_sample"]), int(er["k"]), int(er["seed"]),
            float(v["current_fill"]), bool(v["needs_rebuild"]),
        )],
        schema="recall double, hits long, total long, n_sample long, "
               "k long, seed long, current_fill double, "
               "needs_rebuild boolean",
    )


# --- grow the trees dial in place: extend a persisted forest (rows-only) -------

@register("ann_extend_forest_search")
def ann_extend_forest_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trees dial GROWN in place (r12): build a 5-tree persisted
    index, ``extend_forest`` it to 8 trees (appending only the new
    trees' partitions; bit-identical to a fresh 8-tree build — pivot
    hashes salt on absolute tree_id), then search through the extended
    forest. More trees = the measured cheap recall knob (BASELINE
    r11/r12 frontier), so an index that needs more recall is extended
    at marginal cost, not rebuilt. Rows-only (seeded build);
    tests/test_index_maintenance.py pins extend(subset) ≡ fresh-build
    node-for-node and the baseline-append semantics."""
    import tempfile

    from ..operators.index import build_rp_forest_batched, extend_forest

    emb = _emb(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="rp_extend_")
    part = build_rp_forest_batched(
        emb, path, num_trees=5, max_node_size=32, seed=42,
        tree_batch_size=3,
    )
    extended = extend_forest(part, emb, 3, tree_batch_size=2)
    return search_rp_forest(extended, emb, _queries(emb), k=K).select(
        "query_id", "vec_id", "dist", "rnk"
    )


# --- cached-truth staleness check: the O(corpus) term paid once (rows-only) ----

@register("ann_recall_cached")
def ann_recall_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r12 cached-truth staleness check as a queryable surface:
    ``save_recall_baseline`` anchors the exact-kNN side of the recall
    probe ONCE (the only O(|corpus|) term a recurring health check
    carries — at 100 TB the full-scan exact side cannot be paid per
    check), then a delete burns half the corpus and the CACHED
    ``estimate_recall`` re-certifies the current top-k from the
    persisted ``reserve × k`` window — provably exact wherever >= k
    cached neighbors survive. One row: the cached verdict next to the
    uncached recomputation on the same survivors, their deltas zero by
    the deletion-exactness contract (pinned in
    tests/test_index_maintenance.py). Rows-only (seeded build + BLAS
    truth have no SQL twin)."""
    import tempfile

    from ..operators.index import delete_vectors
    from ..operators.knn import knn_exact_fast
    from ..operators.search import estimate_recall, save_recall_baseline

    emb = _emb(spark, sf_dir)
    forest = build_rp_forest(emb, num_trees=6, max_node_size=16, seed=42)
    path = tempfile.mkdtemp(prefix="rp_recall_cache_")
    info = save_recall_baseline(
        forest, emb, path, n_sample=40, k=K, reserve=4, seed=7
    )
    survivors = emb.filter(F.col("vec_id") % 2 == 0)
    shrunk = delete_vectors(
        forest, emb.filter(F.col("vec_id") % 2 != 0).select("vec_id")
    )
    cached = estimate_recall(
        shrunk, survivors, n_sample=40, k=K, seed=7, truth_path=path
    )
    # the from-scratch recomputation the cache replaces: fresh BLAS
    # truth over the SAME pinned queries on the survivor corpus
    q = spark.read.parquet(f"{path}/recall_truth/queries")
    exact = knn_exact_fast(survivors, q, k=K).select("query_id", "vec_id")
    approx = search_rp_forest(shrunk, survivors, q, k=K).select(
        "query_id", "vec_id"
    )
    total = exact.count()
    hits = exact.join(approx, ["query_id", "vec_id"], "left_semi").count()
    fresh_recall = (hits / total) if total else 1.0
    return spark.createDataFrame(
        [(
            float(cached["recall"]), int(cached["hits"]),
            int(cached["total"]), int(cached["n_sample"]),
            int(cached["n_exhausted"]), int(info["k_eff"]),
            float(fresh_recall),
            float(abs(cached["recall"] - fresh_recall)),
        )],
        schema="cached_recall double, hits long, total long, "
               "n_certified long, n_exhausted long, k_eff long, "
               "fresh_recall double, abs_delta double",
    )


# --- cached certification, HASH-EXACT over the committed fixture (r13) --------

_CERT_RESERVE = 2
_CERT_KEFF = K * _CERT_RESERVE

@register(
    "ann_cached_certification_fixture",
    oracle=f"""
WITH RECURSIVE
nodes AS (SELECT CAST(tree_id AS INTEGER) AS tree_id, node_path, coeffs, constant, coeff_norm
          FROM read_parquet('{_FIXTURE_DIR}/nodes/*/*.parquet', hive_partitioning=1)),
lvs AS (SELECT CAST(tree_id AS INTEGER) AS tree_id, leaf_path, vec_id
        FROM read_parquet('{_FIXTURE_DIR}/leaves/*/*.parquet', hive_partitioning=1)
        WHERE vec_id % 2 = 0),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {N_QUERIES}),
truth AS (
  SELECT query_id, vec_id, rnk FROM (
    SELECT q.query_id, e.vec_id,
           CAST(row_number() OVER (PARTITION BY q.query_id
                                   ORDER BY {dd_sq_euc('q.qv', 'e.embedding')}, e.vec_id) AS BIGINT) AS rnk
    FROM q JOIN embeddings e ON e.vec_id <> q.query_id) t
  WHERE rnk <= {_CERT_KEFF}),
ncorp AS (SELECT count(*) AS n FROM embeddings),
per_q AS (
  SELECT t.query_id,
         count(*) AS n_cached,
         count(*) FILTER (WHERE t.vec_id % 2 = 0) AS n_surv
  FROM truth t GROUP BY t.query_id),
cert AS (
  SELECT p.query_id, p.n_cached, p.n_surv,
         CAST(NOT (p.n_surv < {K} AND p.n_cached >= {_CERT_KEFF}
                   AND (SELECT n FROM ncorp) - 1 > {_CERT_KEFF}) AS BIGINT) AS certified
  FROM per_q p),
cur_truth AS (
  SELECT s.query_id, s.vec_id FROM (
    SELECT t.query_id, t.vec_id,
           row_number() OVER (PARTITION BY t.query_id ORDER BY t.rnk) AS crnk
    FROM truth t WHERE t.vec_id % 2 = 0) s
  JOIN cert c ON c.query_id = s.query_id AND c.certified = 1
  WHERE s.crnk <= {K}),
trees AS (SELECT DISTINCT tree_id FROM nodes),
walk(query_id, tree_id, path, spills) AS (
  SELECT q.query_id, t.tree_id, '', 0 FROM q, trees t
  UNION ALL
  SELECT w.query_id, w.tree_id, w.path || c.ch.bit, w.spills + c.ch.ds
  FROM walk w
  JOIN nodes n ON n.tree_id = w.tree_id AND n.node_path = w.path
  JOIN q ON q.query_id = w.query_id
  CROSS JOIN LATERAL (SELECT {_W_DOT} + n.constant AS v) s
  CROSS JOIN UNNEST(
    CASE WHEN abs(s.v) / n.coeff_norm < {_FIXTURE_MARGIN} AND w.spills < {_FIXTURE_MAX_SPILLS}
         THEN [{{'bit': CASE WHEN s.v >= 0 THEN '1' ELSE '0' END, 'ds': 0}},
               {{'bit': CASE WHEN s.v >= 0 THEN '0' ELSE '1' END, 'ds': 1}}]
         ELSE [{{'bit': CASE WHEN s.v >= 0 THEN '1' ELSE '0' END, 'ds': 0}}]
    END) AS c(ch)
),
routed AS (
  SELECT w.query_id, w.tree_id, w.path AS leaf_path FROM walk w
  WHERE NOT EXISTS (SELECT 1 FROM nodes n
                    WHERE n.tree_id = w.tree_id AND n.node_path = w.path)),
leaf_sizes AS (SELECT tree_id, leaf_path, count(*) AS leaf_n FROM lvs GROUP BY 1, 2),
underfull AS (
  SELECT r.query_id, r.tree_id,
         substr(r.leaf_path, 1, length(r.leaf_path) - 1) ||
           CASE WHEN substr(r.leaf_path, length(r.leaf_path), 1) = '1'
                THEN '0' ELSE '1' END AS sibling_prefix
  FROM routed r
  LEFT JOIN leaf_sizes s ON s.tree_id = r.tree_id AND s.leaf_path = r.leaf_path
  WHERE (s.leaf_n < {K} OR s.leaf_n IS NULL) AND length(r.leaf_path) > 0),
leaf_anc AS (
  SELECT tree_id, vec_id,
         unnest(list_transform(range(1, length(leaf_path) + 1),
                               i -> leaf_path[1:i])) AS sibling_prefix
  FROM lvs WHERE length(leaf_path) > 0),
cand AS (
  SELECT DISTINCT query_id, vec_id FROM (
    SELECT r.query_id, l.vec_id
    FROM routed r JOIN lvs l ON l.tree_id = r.tree_id AND l.leaf_path = r.leaf_path
    UNION ALL
    SELECT u.query_id, la.vec_id
    FROM underfull u
    JOIN leaf_anc la ON la.tree_id = u.tree_id AND la.sibling_prefix = u.sibling_prefix)),
approx AS (
  SELECT query_id, vec_id FROM (
    SELECT c.query_id, c.vec_id,
           row_number() OVER (PARTITION BY c.query_id
                              ORDER BY {dd_sq_euc('q.qv', 'e.embedding')}, c.vec_id) AS rnk
    FROM cand c
    JOIN q ON q.query_id = c.query_id
    JOIN embeddings e ON e.vec_id = c.vec_id
    WHERE c.vec_id <> c.query_id) t
  WHERE rnk <= {K})
SELECT c.query_id, c.n_cached, c.n_surv, c.certified,
       count(ct.vec_id) AS cert_total,
       count(a.vec_id) AS cert_hits
FROM cert c
LEFT JOIN cur_truth ct ON ct.query_id = c.query_id
LEFT JOIN approx a ON a.query_id = ct.query_id AND a.vec_id = ct.vec_id
GROUP BY 1, 2, 3, 4
""",
)
def ann_cached_certification_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r12b cached-truth CERTIFICATION, hash-exact end-to-end
    (VERDICT r12 #7): live anchoring is seeded and BLAS-side, but over
    the committed fixture every term is a deterministic function SQL
    replays — the anchored truth is the exact top-k_eff window (the
    same fold + (dist, vec_id) ties every kNN oracle uses), the drift
    is a deterministic delete (odd ids), survival is a semi-join, the
    exhaustion rule is the complete-neighborhood-aware truncation test
    (ADVICE r12 #4), the certified current truth is the
    first-k-survivors window, and the approx side is the SAME
    recursive-CTE forest walk as ``ann_rp_forest_search_from_fixture``
    over the post-delete leaf table. One row per anchored query:
    (n_cached, n_surv, certified, cert_total, cert_hits) — the per-query
    ledger ``_estimate_recall_cached`` aggregates into its verdict
    (tests/test_index_maintenance.py ties this query's sums to the real
    operator's dict on the same inputs).

    The Spark side anchors through the REAL ``save_recall_baseline``
    (method="fold" — the Catalyst sequential-fold twin of the oracle's
    list_reduce; queries pinned explicitly, the shape a production
    golden-query eval set takes) and deletes through the real
    ``delete_vectors``; the certification ledger is the same semi-join
    + window algebra the operator runs, kept distributed so the driver
    can hash it. Scale shape: the recurring terms are id-column joins
    and an n_sample-bounded window — no corpus vector scan."""
    import tempfile

    from pyspark.sql.window import Window

    from ..operators.index import delete_vectors, load_index
    from ..operators.search import save_recall_baseline

    emb = _emb(spark, sf_dir)
    forest = load_index(
        spark, _FIXTURE_DIR, num_trees=50, max_node_size=5, seed=42
    )
    q = _queries(emb)
    path = tempfile.mkdtemp(prefix="rp_cert_fixture_")
    save_recall_baseline(
        forest, emb, path, queries=q, k=K, reserve=_CERT_RESERVE,
        method="fold",
    )
    survivors = emb.filter(F.col("vec_id") % 2 == 0)
    shrunk = delete_vectors(
        forest, emb.filter(F.col("vec_id") % 2 != 0).select("vec_id")
    )

    truth = spark.read.parquet(f"{path}/recall_truth/truth")
    surv_truth = truth.join(
        survivors.select("vec_id"), "vec_id", "left_semi"
    )
    ncorp = emb.agg(F.count(F.lit(1)).alias("n_corpus_all"))
    per_q = (
        truth.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_cached"))
        .join(
            surv_truth.groupBy("query_id").agg(
                F.count(F.lit(1)).alias("n_surv")
            ),
            "query_id",
            "left",
        )
        .fillna(0, ["n_surv"])
        .crossJoin(F.broadcast(ncorp))
        .withColumn(
            "certified",
            (
                ~(
                    (F.col("n_surv") < K)
                    & (F.col("n_cached") >= _CERT_KEFF)
                    & (F.col("n_corpus_all") - 1 > _CERT_KEFF)
                )
            ).cast("long"),
        )
        .drop("n_corpus_all")
    )
    w = Window.partitionBy("query_id").orderBy("rnk")
    cur_truth = (
        surv_truth.withColumn("crnk", F.row_number().over(w))
        .filter(F.col("crnk") <= K)
        .join(
            per_q.filter(F.col("certified") == 1).select("query_id"),
            "query_id",
            "left_semi",
        )
        .select("query_id", "vec_id")
    )
    approx = search_rp_forest(
        shrunk,
        survivors,
        q,
        k=K,
        spill_margin=_FIXTURE_MARGIN,
        max_spills=_FIXTURE_MAX_SPILLS,
    ).select("query_id", "vec_id")
    totals = cur_truth.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("cert_total")
    )
    hits = (
        cur_truth.join(approx, ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("cert_hits"))
    )
    return (
        per_q.join(totals, "query_id", "left")
        .join(hits, "query_id", "left")
        .fillna(0, ["cert_total", "cert_hits"])
        .select(
            "query_id", "n_cached", "n_surv", "certified",
            "cert_total", "cert_hits",
        )
    )
