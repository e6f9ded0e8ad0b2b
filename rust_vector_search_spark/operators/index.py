"""RP-forest (Annoy-style) index BUILD — operators O4–O8 of the reference
(`/root/reference/src/lib.rs:22-103`), re-architected for Spark.

The reference builds each tree by sequential recursion (``build_a_tree``,
``src/lib.rs:50-62``) parallelized per-tree with rayon (``src/lib.rs:93-96``).
A literal translation would put one tree per task and recurse on the
driver — useless at 100 TB. Instead the build is HYBRID:

  PHASE 1 (distributed, level-synchronous, SURVEY §3.2): one DataFrame
  holds every (tree, vector) assignment and each iteration splits every
  node whose population exceeds ``local_threshold`` — only the top
  O(log(N/threshold)) levels, where a node's rows genuinely span many
  partitions, pay a full-corpus shuffle.

  PHASE 2 (partition-local): once a subtree's population fits in one
  task (≤ ``local_threshold`` rows), the WHOLE remaining subtree builds
  inside a single Arrow-batched ``applyInPandas`` group — numpy
  recursion, zero further shuffles. This is the reference's per-tree
  rayon recursion reborn as a per-subtree Spark task: at 1e9 vectors it
  replaces ~15 of ~25 full-corpus shuffle levels with one embarrassingly
  parallel pass. Pivot ranks use md5 of (vec_id, tree, path, seed,
  depth) — deterministic and partition-order-independent (rows are
  sorted by vec_id before ranking), so rebuilds are bit-identical.

Each distributed iteration splits EVERY open node of EVERY tree at once:

  1. annotate each row with its node's population and a seeded-hash rank
     — ONE shuffle on (tree_id, node_path) serves both window functions;
  2. nodes ≤ max_node_size close into leaves; for open nodes the two
     rank-1/rank-2 rows are the split pivots (the reference's
     ``choose_multiple`` 2-sample, ``src/lib.rs:26-28``, made seedable
     per SURVEY §1.5.5 — the hash is salted with the depth so a
     degenerate split redraws different pivots next level);
  3. hyperplane per node: normal = b − a, constant = −normal·midpoint
     (``build_hyperplane``, ``src/lib.rs:22-48``) — a tiny per-node
     table broadcast back (no shuffle);
  4. route every row: side = n·x + c ≥ 0 (ties "above", preserving
     ``src/hyperplane.rs:10``), append the side bit to node_path.

Each level materializes once (eager ``localCheckpoint``) — this both
truncates lineage (SURVEY §7.3.1) and makes the per-level driver
decision (how many rows remain open) a metadata check instead of a
recomputation. Depth = ceil(log2(n/max_node_size)) levels; the shuffle
key (tree_id, node_path) keeps trees and subtrees co-located. The
finished index is two Parquet-able DataFrames — the index IS a table.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.window import Window

from ..functions.vector import avg_vec, dot, point_is_above, sub_vec
from ..session import collect_garbage, hadoop_path_exists

__all__ = [
    "RPForest",
    "build_rp_forest",
    "build_rp_forest_batched",
    "save_index",
    "load_index",
    "subset_forest",
    "extend_forest",
    "resplit_overgrown_leaves",
    "delete_vectors",
    "prune_underfull_subtrees",
]


@dataclass
class RPForest:
    """The forest as relational data (SURVEY §1.1 'index tree'/'forest'):
    ``nodes``:  (tree_id, node_path, coeffs ARRAY<DOUBLE>, constant DOUBLE)
    ``leaves``: (tree_id, leaf_path, vec_id)
    """

    nodes: DataFrame
    leaves: DataFrame
    num_trees: int
    max_node_size: int
    seed: int
    max_depth: int = 0  # deepest inner-node level; routing needs ≤ max_depth+1 steps
    node_count: int = 0  # total hyperplanes; drives broadcast-vs-shuffle routing
    dim: int = 0  # embedding dimensionality; sizes the broadcast estimate
    # LARGEST single tree's node count: past the node gate one task
    # holds one whole tree, so the max, not the mean, says what a task
    # holds — a skew-built forest (uneven batched depths) can have one
    # tree far above node_count/num_trees (ADVICE r8). Computed in the
    # same stats scan that counts nodes; 0 ⇒ unknown.
    max_tree_nodes: int = 0
    # storage path when loaded from a persisted index (save_index,
    # build_rp_forest_batched and extend_forest write
    # partitionBy("tree_id")); resplit/prune results carry None until
    # saved and re-loaded. Past the node gate, the tree-sharded pass
    # reads each tree's nodes/tree_id=T directory inside the task that
    # descends it instead of shuffling the whole node table
    path: "str | None" = None
    # the FRESH build's per-tree health summary (list of plain dicts:
    # tree_id, n_leaves, n_vectors, fill_ratio, occupancy_gini),
    # captured the first time the index is saved and carried forward
    # verbatim through maintenance (a ``save_index`` of a resplit,
    # deleted or pruned forest keeps the ORIGINAL baseline — it is the
    # rebuild trigger's denominator, VERDICT r10 #2: an operator
    # inheriting a months-old index needs the fresh fill to read
    # "current fill vs fresh"). None ⇒ unsaved in-memory forest or a
    # pre-r11 index with no health/ table.
    fresh_health: "list[dict] | None" = None
    # provenance bit for the re-anchor warning (ADVICE r11): True iff
    # this forest descends from a LOADED index that carried no health
    # baseline (pre-r11 layout). ``path`` alone cannot carry it —
    # resplit/prune return path=None — so without this bit the
    # load→resplit→save migration path would silently stamp
    # POST-maintenance health as the fresh baseline, the exact reset
    # ``_write_health_baseline`` exists to prevent. Maintenance ops
    # carry it forward; ``save_index`` consults it to warn.
    loaded_without_baseline: bool = False
    # driver-side copies of the node map and the leaf table, collected
    # at most once per object by ``local_nodes`` / ``local_leaves``.
    # Every write returns a new RPForest, so the copies cannot go stale;
    # each entry also keeps the DataFrame it was collected from and is
    # ignored once that DataFrame is no longer the attribute.
    _local: dict = field(
        default_factory=dict, init=False, repr=False, compare=False
    )

    def _cached(self, name: str):
        hit = self._local.get(name)
        if hit is not None and hit[0] is getattr(self, name):
            return hit[1]
        return None

    def local_nodes(self) -> tuple:
        """The node table on the driver as ``(key_to_idx, coeffs,
        constants, norms)``: one (n_nodes × dim) float64 matrix plus
        parallel constant/norm vectors and a (tree_id, node_path) →
        row dict. One compact ndarray unpickles in a few ms in every
        python worker that receives it, where a dict of n_nodes small
        arrays would pay n_nodes numpy headers per worker."""
        got = self._cached("nodes")
        if got is None:
            got = _collect_nodes(self.nodes)
            self._local["nodes"] = (self.nodes, got)
        return got

    def local_leaves(self, max_rows: "int | None" = None) -> "LocalLeaves | None":
        """The leaf table on the driver (see ``LocalLeaves``), or None
        when it has more than ``max_rows`` rows. That fetch stops at
        ``max_rows`` + 1 rows, and the object remembers the bound it
        failed, so a later call under that bound runs no job."""
        got = self._cached("leaves")
        if got is None:
            over = self._local.get("leaves_over")
            if (
                max_rows is not None
                and over is not None
                and over[0] is self.leaves
                and max_rows <= over[1]
            ):
                return None
            rows = self.leaves.select("tree_id", "leaf_path", "vec_id")
            if max_rows is not None:
                rows = rows.limit(max_rows + 1)
            pdf = rows.toPandas()
            if max_rows is not None and len(pdf) > max_rows:
                self._local["leaves_over"] = (self.leaves, max_rows)
                return None
            got = LocalLeaves(pdf)
            self._local["leaves"] = (self.leaves, got)
        if max_rows is not None and len(got.ids) > max_rows:
            return None
        return got

    def cached_local_leaves(self) -> "LocalLeaves | None":
        """``local_leaves()`` if this object already collected it, else
        None — for consumers that should not collect on their own."""
        return self._cached("leaves")


def _collect_nodes(nodes: DataFrame) -> tuple:
    import numpy as np

    # Arrow-path fetch (toPandas), not collect(): the node table is tens
    # of thousands of array rows and row-at-a-time py4j serialization is
    # ~5× slower than one Arrow batch (measured 1.06 s vs 0.21 s on the
    # 28,810-node sf0.1 forest)
    npdf = nodes.select(
        "tree_id", "node_path", "coeffs", "constant", "coeff_norm"
    ).toPandas()
    key_to_idx = {
        (int(t), p): i
        for i, (t, p) in enumerate(
            zip(npdf["tree_id"].to_numpy(), npdf["node_path"])
        )
    }
    coeffs = np.array([np.asarray(c, dtype=np.float64) for c in npdf["coeffs"]])
    return (
        key_to_idx,
        coeffs,
        npdf["constant"].to_numpy(np.float64),
        npdf["coeff_norm"].to_numpy(np.float64),
    )


class LocalLeaves:
    """The leaf table on the driver, sorted by (tree_id, leaf_path):
    ``ids`` holds every member row in that order, so each leaf — and
    each subtree, since paths are strings over {"0", "1"} — owns one
    contiguous slice of it. ``span`` maps (tree_id, leaf_path) to the
    leaf's [start, end); ``trees`` maps tree_id to its sorted leaf
    paths and their starts and ends. Duplicate rows are kept, as in
    the table. Plain containers only, so the search can ship them to
    python workers that cannot import this package."""

    def __init__(self, pdf) -> None:
        import numpy as np

        pdf = pdf.sort_values(["tree_id", "leaf_path"], kind="stable")
        self.ids = pdf["vec_id"].to_numpy(np.int64)
        t = pdf["tree_id"].to_numpy(np.int64)
        p = pdf["leaf_path"].to_numpy(object)
        brk = np.flatnonzero((t[1:] != t[:-1]) | (p[1:] != p[:-1])) + 1
        starts = np.concatenate([[0], brk]) if len(t) else brk
        ends = np.concatenate([brk, [len(t)]]) if len(t) else brk
        self.trees: "dict[int, tuple[list, list, list]]" = {}
        self.span: "dict[tuple[int, str], tuple[int, int]]" = {}
        for s, e in zip(starts.tolist(), ends.tolist()):
            tree, path = int(t[s]), p[s]
            paths, ss, es = self.trees.setdefault(tree, ([], [], []))
            paths.append(path)
            ss.append(s)
            es.append(e)
            self.span[(tree, path)] = (s, e)

    def tree_stats(self, max_node_size: int) -> "list[tuple[int, int, int, int]]":
        """(tree_id, n_leaves, n_vectors, overgrown_leaves) per tree with
        members — the columns ``needs_rebuild`` reads from
        ``forest_health_stats``."""
        out = []
        for tree, (paths, ss, es) in self.trees.items():
            sizes = [e - s for s, e in zip(ss, es)]
            out.append(
                (tree, len(paths), sum(sizes),
                 sum(1 for n in sizes if n > max_node_size))
            )
        return out


def _forest_stats(nodes: DataFrame) -> "tuple[int, int, int]":
    """(node_count, max_depth, max_tree_nodes) in ONE scan with two agg
    levels: the per-tree partial keeps map-side combine (≤ num_trees
    rows cross the exchange) and yields the max single-tree size
    (ADVICE r8). max_depth counts
    LEVELS (deepest inner-node path length + 1); an empty node table is
    depth 0. Shared by every RPForest constructor site so the stats
    semantics cannot drift (they did once: load_index's inline copy
    gave an empty table depth 1)."""
    stats = (
        nodes.groupBy("tree_id")
        .agg(
            F.count(F.lit(1)).alias("tn"),
            F.max(F.length("node_path")).alias("td"),
        )
        .agg(
            F.sum("tn").alias("n"),
            F.max("td").alias("d"),
            F.max("tn").alias("mt"),
        )
        .collect()[0]
    )
    return (
        int(stats.n or 0),
        (stats.d if stats.d is not None else -1) + 1,
        int(stats.mt or 0),
    )


def _subtree_builder(max_node_size: int, max_depth: int, seed: int):
    """Phase-2 kernel: build one subtree locally. Returns an
    applyInPandas function emitting kind='node'/'leaf' rows."""
    import hashlib

    import numpy as np
    import pandas as pd

    def _build(pdf: "pd.DataFrame") -> "pd.DataFrame":
        tree_id = int(pdf["tree_id"].iloc[0])
        start_path = str(pdf["node_path"].iloc[0])
        vec_ids = pdf["vec_id"].to_numpy()
        # group arrival order is partition-scheduling-dependent — sort by
        # vec_id so pivot ranking sees a canonical order (determinism)
        order = np.argsort(vec_ids)
        vec_ids = vec_ids[order]
        X = np.array([np.asarray(v, dtype=np.float64) for v in pdf["emb"].to_numpy()])
        X = X[order]

        nodes: list[tuple] = []  # (path, coeffs, constant, coeff_norm)
        leaves: list[tuple] = []  # (path, vec_id)
        stack: list[tuple[str, "np.ndarray"]] = [(start_path, np.arange(len(vec_ids)))]
        while stack:
            path, idx = stack.pop()
            depth = len(path)
            if len(idx) <= max_node_size or depth >= max_depth:
                leaves.extend((path, int(vec_ids[i])) for i in idx)
                continue
            # seeded 2-sample (O4): two smallest md5 ranks; salting with
            # depth redraws pivots if a degenerate split recurses
            ranks = sorted(
                range(len(idx)),
                key=lambda j: hashlib.md5(
                    f"{vec_ids[idx[j]]}:{tree_id}:{path}:{seed}:{depth}".encode()
                ).hexdigest(),
            )
            a, b = X[idx[ranks[0]]], X[idx[ranks[1]]]
            normal = b - a
            constant = -float(normal @ ((a + b) / 2.0))
            nodes.append(
                (path, normal.tolist(), constant, float(np.sqrt(normal @ normal)))
            )
            side = (X[idx] @ normal + constant) >= 0.0  # ties "above"
            stack.append((path + "1", idx[side]))
            stack.append((path + "0", idx[~side]))

        return pd.DataFrame(
            {
                "tree_id": [tree_id] * (len(nodes) + len(leaves)),
                "path": [p for p, *_ in nodes] + [p for p, _ in leaves],
                "kind": ["node"] * len(nodes) + ["leaf"] * len(leaves),
                "vec_id": [None] * len(nodes) + [v for _, v in leaves],
                "coeffs": [c for _, c, *_ in nodes] + [None] * len(leaves),
                "constant": [k for _, _, k, _ in nodes] + [None] * len(leaves),
                "coeff_norm": [n for *_, n in nodes] + [None] * len(leaves),
            }
        )

    return _build


_SUBTREE_SCHEMA = (
    "tree_id int, path string, kind string, vec_id long, "
    "coeffs array<double>, constant double, coeff_norm double"
)


def build_rp_forest(
    emb: DataFrame,
    num_trees: int = 16,
    max_node_size: int = 32,
    seed: int = 42,
    max_depth: int = 24,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dedup: bool = True,
    local_threshold: int = 8192,
    tree_offset: int = 0,
) -> RPForest:
    """Build the forest (O8 ``build_index``, ``src/lib.rs:81-103``).

    ``dedup=True`` mirrors the reference's exact dedup before build
    (``src/lib.rs:87-88``) — duplicate vectors would defeat hyperplane
    splits (a node of identical points can never separate) and create
    hot leaves; SURVEY §7.3.4.

    ``local_threshold``: node populations at or below this finish their
    subtree inside one applyInPandas task (phase 2); set 0 to force the
    pure level-synchronous build. Sized so a group's vectors fit one
    task comfortably (8192 × 300 d × 8 B ≈ 20 MB).

    ``tree_offset``: first tree id to build (trees span
    ``[tree_offset, tree_offset + num_trees)``). Every pivot hash is
    salted with the absolute tree_id, so building trees [10, 20) here is
    bit-identical to trees 10-19 of a single 50-tree build — the
    property ``build_rp_forest_batched`` relies on."""
    spark = emb.sparkSession
    base = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("emb"))
    if dedup:
        # first-occurrence-wins survivor per distinct vector. The agg
        # output IS the deduped (vec_id, emb) table — ONE exchange with
        # map-side partial aggregation; the earlier left_semi join back
        # to base re-shuffled the full payload a second time for rows
        # the aggregate already held (r15, guide §2.4). (Grouping
        # normalizes -0.0/NaN key bytes; routing math and every query
        # output are value-identical — dist re-ranks read the caller's
        # corpus payload, never this table.)
        base = base.groupBy("emb").agg(
            F.min("vec_id").alias("vec_id")
        ).select("vec_id", "emb")

    probe = base.agg(
        F.count(F.lit(1)).alias("n"), F.max(F.size("emb")).alias("d")
    ).collect()[0]
    n_base, dim = int(probe.n), int(probe.d or 0)

    trees = spark.range(tree_offset, tree_offset + num_trees).select(
        F.col("id").cast("int").alias("tree_id")
    )

    all_leaves: list[DataFrame] = []
    all_nodes: list[DataFrame] = []
    local_parts: list[DataFrame] = []  # SLIM (tree_id, node_path, vec_id)
    split_floor = max(local_threshold, max_node_size)

    local_prejoined: "DataFrame | None" = None
    if n_base <= split_floor:
        # whole per-tree corpus already fits one phase-2 task: skip the
        # synchronous loop entirely (no window shuffle, no checkpoints).
        # base already carries the payload — feed phase 2 directly
        # instead of projecting vec_id out and joining the vectors back
        # (the rejoin re-ran the dedup lineage on both join sides and
        # paid an extra exchange; r15, guide §2.4)
        emb_by_id = base
        local_prejoined = base.crossJoin(trees).select(
            "tree_id", F.lit("").alias("node_path"), "vec_id", "emb"
        )
        active = None
        levels = range(0)
    else:
        # vectors live ONCE in a by-id side table; the per-level loop
        # shuffles only the slim (tree_id, node_path, vec_id) assignment
        # rows (~30× less volume than carrying a 300-d payload through
        # every level — at 1e9×300-d that is TBs per level saved) and
        # joins the payload back per level for pivot planes and routing
        emb_by_id = base.localCheckpoint(eager=True)
        active = (
            emb_by_id.select("vec_id")
            .crossJoin(trees)
            .select("tree_id", F.lit("").alias("node_path"), "vec_id")
            .localCheckpoint(eager=True)
        )
        levels = range(max_depth)

    for depth in levels:
        node_w = Window.partitionBy("tree_id", "node_path")
        rank_w = node_w.orderBy(
            F.xxhash64("vec_id", "tree_id", "node_path", F.lit(seed), F.lit(depth))
        )
        # ONE checkpoint per level, placed right after the window shuffle:
        # every downstream consumer (leaf filter, plane agg, routing, and
        # the final leaves/nodes unions) reads the materialized level
        # instead of re-running the shuffle
        annotated = active.select(
            "tree_id",
            "node_path",
            "vec_id",
            F.count(F.lit(1)).over(node_w).alias("_n"),
            F.row_number().over(rank_w).alias("_rk"),
        ).localCheckpoint(eager=True)

        closed = annotated.filter(F.col("_n") <= max_node_size)
        all_leaves.append(
            closed.select("tree_id", F.col("node_path").alias("leaf_path"), "vec_id")
        )
        # small-but-splittable nodes leave the synchronous loop: their
        # whole subtree finishes locally in phase 2
        local_parts.append(
            annotated.filter(
                (F.col("_n") > max_node_size) & (F.col("_n") <= split_floor)
            ).select("tree_id", "node_path", "vec_id")
        )
        opened = annotated.filter(F.col("_n") > split_floor)

        # hyperplanes from the two pivot rows of each open node (O5) —
        # only ≤ 2 rows per node fetch their vector
        planes = (
            opened.filter(F.col("_rk") <= 2)
            .join(emb_by_id, "vec_id")
            .groupBy("tree_id", "node_path")
            .agg(
                F.max(F.when(F.col("_rk") == 1, F.col("emb"))).alias("a"),
                F.max(F.when(F.col("_rk") == 2, F.col("emb"))).alias("b"),
            )
            .select(
                "tree_id",
                "node_path",
                sub_vec("b", "a").alias("coeffs"),
                (-dot(sub_vec("b", "a"), avg_vec("a", "b"))).alias("constant"),
            )
            # plane-normal norm, precomputed once so multi-probe search can
            # turn n·x + c into a geometric point-to-plane distance
            .withColumn("coeff_norm", F.sqrt(dot("coeffs", "coeffs")))
        )
        all_nodes.append(planes)

        # route open rows (O6/O7): fetch vectors for the side predicate,
        # emit the slim next-level assignment (payload never crosses the
        # window shuffle)
        active = (
            opened.join(emb_by_id, "vec_id")
            .join(F.broadcast(planes), ["tree_id", "node_path"])
            .withColumn(
                "side",
                F.when(
                    point_is_above(F.col("coeffs"), F.col("constant"), F.col("emb")),
                    F.lit("1"),
                ).otherwise(F.lit("0")),
            )
            .select(
                "tree_id",
                F.concat(F.col("node_path"), F.col("side")).alias("node_path"),
                "vec_id",
            )
        )
        # termination probe runs on the checkpointed level — a narrow
        # filter scan, not a shuffle recompute
        if opened.isEmpty():
            break

    # depth cap reached: force-close whatever is still open
    if active is not None:
        all_leaves.append(
            active.select("tree_id", F.col("node_path").alias("leaf_path"), "vec_id")
        )

    # PHASE 2: finish every deferred subtree locally — the vectors join
    # the slim assignments ONCE here (the only payload-bearing shuffle),
    # then embarrassingly parallel numpy recursion
    if local_parts or local_prejoined is not None:
        if local_prejoined is not None:
            local_df = local_prejoined
        else:
            local_df = local_parts[0]
            for df in local_parts[1:]:
                local_df = local_df.unionByName(df)
            local_df = local_df.join(emb_by_id, "vec_id").select(
                "tree_id", "node_path", "vec_id", "emb"
            )
        # explicit fixed-N repartition on the group key: AQE's partition
        # coalescing sizes this exchange by BYTES (~60 MB at sf0.1 ⇒ 1-2
        # post-coalesce partitions) and would serialize the Python
        # subtree recursion — the stage's cost is CPU per group, not
        # bytes. A user-specified numPartitions is exempt from AQE
        # coalescing, so every core keeps a share of the ≥num_trees
        # groups. (Observed: the same bench forest row flipping 9 s ↔
        # 38 s run-to-run with identical code/data.)
        local_df = local_df.repartition(
            spark.sparkContext.defaultParallelism, "tree_id", "node_path"
        )
        local_out = (
            local_df.groupBy("tree_id", "node_path")
            .applyInPandas(
                _subtree_builder(max_node_size, max_depth, seed), _SUBTREE_SCHEMA
            )
            # consumed by BOTH the nodes and leaves unions — materialize
            # once so the subtree recursion doesn't run twice
            .localCheckpoint(eager=True)
        )
        all_nodes.append(
            local_out.filter(F.col("kind") == "node").select(
                "tree_id",
                F.col("path").alias("node_path"),
                "coeffs",
                "constant",
                "coeff_norm",
            )
        )
        all_leaves.append(
            local_out.filter(F.col("kind") == "leaf").select(
                "tree_id", F.col("path").alias("leaf_path"), "vec_id"
            )
        )

    leaves = all_leaves[0]
    for df in all_leaves[1:]:
        leaves = leaves.unionByName(df)
    if all_nodes:
        nodes = all_nodes[0]
        for df in all_nodes[1:]:
            nodes = nodes.unionByName(df)
    else:
        nodes = spark.createDataFrame(
            [],
            "tree_id int, node_path string, coeffs array<double>, "
            "constant double, coeff_norm double",
        )
    if n_base > split_floor:
        # phase 1 ran: the unions mix narrow views with re-derivable
        # aggregates (planes) — materialize them once
        nodes = nodes.localCheckpoint(eager=True)
        leaves = leaves.localCheckpoint(eager=True)
    # else: nodes/leaves are narrow filters of the already-checkpointed
    # phase-2 output — extra checkpoints would only add jobs
    # one scan, two agg levels: the per-tree partial keeps map-side
    # combine (≤ num_trees rows shuffle) and yields the max single-tree
    # size (ADVICE r8)
    node_count, max_depth, max_tree_nodes = _forest_stats(nodes)
    return RPForest(
        nodes=nodes,
        leaves=leaves,
        num_trees=num_trees,
        max_node_size=max_node_size,
        seed=seed,
        max_depth=max_depth,
        node_count=node_count,
        dim=dim,
        max_tree_nodes=max_tree_nodes,
    )


def _hadoop_delete_or_raise(spark, paths: "list[str]") -> None:
    """Recursively delete ``paths`` via the Hadoop FileSystem API and
    RAISE if any still exists afterwards — appending batches onto a
    half-deleted index directory must never proceed silently. Falls
    back to shutil for plain local paths on JVM-less (Connect)
    sessions, and refuses non-local URIs it cannot reach there."""
    try:
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
    except Exception:
        jvm = None
    for p in paths:
        if jvm is not None:
            hpath = jvm.org.apache.hadoop.fs.Path(p)
            fs = hpath.getFileSystem(hconf)
            fs.delete(hpath, True)
            if fs.exists(hpath):
                raise RuntimeError(
                    f"stale index dir {p!r} could not be deleted; refusing "
                    "to append batches onto leftover nodes/leaves"
                )
        else:
            import os as _os
            import shutil as _shutil

            if "://" in p and not p.startswith("file:"):
                raise RuntimeError(
                    f"cannot clear remote path {p!r} without a JVM handle "
                    "(Spark Connect session); delete it out-of-band first"
                )
            local = p[len("file:"):] if p.startswith("file:") else p
            _shutil.rmtree(local, ignore_errors=True)
            if _os.path.exists(local):
                raise RuntimeError(
                    f"stale index dir {p!r} could not be deleted; refusing "
                    "to append batches onto leftover nodes/leaves"
                )


# marker an interrupted in-place write by an earlier version can leave
# at the index ROOT, beside nodes/leaves/health (underscore-prefixed ⇒
# invisible to parquet partition discovery, like _SUCCESS);
# ``load_index`` refuses a layout that carries it
_SURGERY_MARKER = "_SURGERY_IN_PROGRESS"


def build_rp_forest_batched(
    emb: DataFrame,
    path: str,
    num_trees: int = 16,
    max_node_size: int = 32,
    seed: int = 42,
    max_depth: int = 24,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dedup: bool = True,
    local_threshold: int = 8192,
    tree_batch_size: int = 8,
    compact: bool = True,
) -> RPForest:
    """Build the forest ``tree_batch_size`` trees at a time, appending
    each batch to one tree_id-partitioned Parquet index at ``path``.

    ``compact`` (default True, the r10 on-disk default — see
    ``save_index``) stores each batch's coeffs as ``array<float>``;
    this is the SCALE build path whose node-table footprint motivated
    the compact format in the first place, so it must not silently
    bypass it. Pass ``compact=False`` for bit-replayable doubles (the
    bit-identity test does — geometry is computed in doubles either
    way; compact only rounds the PERSISTED copy).

    Why: the phase-2 subtree exchange ships each vector once PER TREE
    (each subtree task needs its vectors' payloads) — at the reference's
    wiki-news target (1M × 300-d × 50 trees, ``src/main.rs:17,141``)
    that is ~65 GB of shuffle, which exceeded this container's local
    disk (BASELINE.md §1M attempt). Batching bounds peak scratch disk to
    ONE batch's exchange: after a batch's nodes/leaves land in Parquet,
    its DataFrame references drop and a driver+JVM GC lets Spark's
    ContextCleaner reclaim the batch's shuffle files and checkpoint
    blocks before the next batch starts. The same knob serves a real
    cluster whose executors have bounded local scratch.

    Bit-equivalence: every pivot hash is salted with the ABSOLUTE
    tree_id (``tree_offset``), so the concatenation of batches is
    bit-identical to the monolithic ``build_rp_forest`` at the same
    (num_trees, max_node_size, seed, max_depth, local_threshold) —
    pinned by tests/test_index_persistence.py.

    Returns the combined forest loaded back from ``path`` (its lineage
    is a Parquet scan, so searching it never re-runs the build)."""

    spark = emb.sparkSession
    base = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("emb"))
    if dedup:
        # first-occurrence-wins survivor per distinct vector. The agg
        # output IS the deduped (vec_id, emb) table — ONE exchange with
        # map-side partial aggregation; the earlier left_semi join back
        # to base re-shuffled the full payload a second time for rows
        # the aggregate already held (r15, guide §2.4). (Grouping
        # normalizes -0.0/NaN key bytes; routing math and every query
        # output are value-identical — dist re-ranks read the caller's
        # corpus payload, never this table.)
        base = base.groupBy("emb").agg(
            F.min("vec_id").alias("vec_id")
        ).select("vec_id", "emb")
    # dedup once, scan per batch: each batch reads Parquet instead of
    # re-running the dedup exchange (and the batch lineage stays flat)
    base.write.mode("overwrite").parquet(f"{path}/emb")
    emb_pq = spark.read.parquet(f"{path}/emb")

    # clear stale output through the Hadoop FileSystem API — correct for
    # ANY supported URI scheme (HDFS/S3A/local), where a local-only
    # shutil delete would silently no-op on a remote path and the
    # mode('append') batch writes below would land on a PRIOR run's
    # nodes/leaves: duplicate (tree_id, node_path) rows and silently
    # wrong search results (ADVICE r6, medium). Fails loudly if the
    # stale dirs cannot be removed.
    # health/ too: a leftover baseline from a previous index at this
    # path would make the FRESH build inherit a stale denominator
    _hadoop_delete_or_raise(
        spark, [f"{path}/nodes", f"{path}/leaves", f"{path}/health"]
    )

    for offset in range(0, num_trees, tree_batch_size):
        batch = min(tree_batch_size, num_trees - offset)
        forest = build_rp_forest(
            emb_pq,
            num_trees=batch,
            max_node_size=max_node_size,
            seed=seed,
            max_depth=max_depth,
            id_col="vec_id",
            vec_col="emb",
            dedup=False,
            local_threshold=local_threshold,
            tree_offset=offset,
        )
        batch_nodes = forest.nodes
        if compact:
            batch_nodes = batch_nodes.withColumn(
                "coeffs", F.col("coeffs").cast("array<float>")
            )
        # tree_id-led sort: it satisfies the dynamic-partition writer's
        # clustering requirement (no second writer sort — see save_index)
        batch_nodes.sortWithinPartitions("tree_id").write.mode(
            "append"
        ).partitionBy("tree_id").parquet(f"{path}/nodes")
        forest.leaves.sortWithinPartitions("tree_id").write.mode(
            "append"
        ).partitionBy("tree_id").parquet(f"{path}/leaves")
        # drop every reference to the batch, then GC both runtimes so the
        # ContextCleaner frees its shuffle files / checkpoint blocks NOW
        # (not at some later arbitrary driver GC) — this is what bounds
        # peak scratch disk to one batch
        del forest
        collect_garbage(spark)

    built = load_index(spark, path, num_trees, max_node_size, seed)
    # fresh batched build ⇒ no baseline on disk yet; record this
    # build's health as the rebuild trigger's denominator
    if built.fresh_health is None:
        built.fresh_health = _write_health_baseline(built, path)
    return built


def extend_forest(
    forest: RPForest,
    emb: DataFrame,
    extra_trees: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_depth: int = 24,
    dedup: bool = True,
    local_threshold: int = 8192,
    tree_batch_size: int = 8,
) -> RPForest:
    """GROW a persisted forest by ``extra_trees`` trees without a
    rebuild — the other half of the trees dial ``subset_forest``
    shrinks. Trees are the measured cheap recall knob (BASELINE r11/r12
    frontier: 6–7.5× cheaper per query than the spill margin at matched
    recall, price paid at build time), so an index that needs more
    recall should be EXTENDED at the marginal build cost of the new
    trees, not rebuilt from zero: every pivot hash salts on the
    ABSOLUTE tree_id (``build_rp_forest(tree_offset=...)``, the same
    property the batched build composes on), so the extension is
    bit-identical to the suffix of a larger fresh build — pinned by
    tests/test_index_maintenance.py (extend(subset(F, k), n-k) ≡ F).

    Writes APPEND-style into the existing index dir: only the NEW
    trees' node/leaf partitions land on disk (a 150→200-tree extension
    writes ~¼ of a fresh 200-tree build), batched ``tree_batch_size``
    trees at a time with the same per-batch GC discipline as
    ``build_rp_forest_batched`` (peak scratch = one batch's subtree
    exchange). The new batches' coeffs are cast to MATCH the on-disk
    format (compact float32 vs doubles), detected from the loaded node
    schema — a mixed-precision index would silently change routing.

    Contract and sharp edges:
      - ``forest`` must be a LOADED persisted index (``path`` set);
        in-memory forests should be ``save_index``-ed first. The dir at
        ``path`` becomes the EXTENDED index — subsequent loads must
        pass the new num_trees (same contract as the batched build).
      - Refuses to run if the dir already holds trees ≥
        ``forest.num_trees`` (a crashed prior extension's leftovers or
        a stale num_trees — appending onto either would duplicate or
        interleave trees). Recovery: delete the ``tree_id >= N``
        partition dirs, or reload with the true tree count.
      - Pass the SAME build geometry the original used (seed and
        max_node_size ride on the forest; ``max_depth`` /
        ``local_threshold`` / ``dedup`` must match the original call
        for the bit-identity claim to hold).
      - Health baseline: the new trees are fresh by construction —
        their health rows are APPENDED to the stored baseline, so
        ``needs_rebuild`` keeps the original trees' old denominator
        and the new trees' fresh one. A baseline-less (pre-r11) index
        stays baseline-less (no partial denominators).

    Returns the extended forest reloaded from ``path`` (lineage = a
    Parquet scan, same as the batched build)."""

    from pyspark.sql.types import FloatType

    if forest.path is None:
        raise ValueError(
            "extend_forest: forest has no persisted path — save_index it "
            "first (the extension appends new tree partitions in place)"
        )
    if extra_trees <= 0:
        return forest
    spark = forest.nodes.sparkSession
    path = forest.path
    # leftover-partition guard (partition-column-only scan: cheap)
    mx = forest.nodes.agg(F.max("tree_id")).collect()[0][0]
    if mx is not None and int(mx) >= forest.num_trees:
        raise ValueError(
            f"extend_forest: {path!r} holds tree_id {mx} but forest."
            f"num_trees is {forest.num_trees} — a crashed prior "
            f"extension's leftovers or a stale tree count; delete the "
            f"tree_id >= {forest.num_trees} partitions or reload with "
            f"the true count before extending"
        )
    compact = isinstance(
        forest.nodes.schema["coeffs"].dataType.elementType, FloatType
    )

    new_health: "list[dict]" = []
    for offset in range(
        forest.num_trees, forest.num_trees + extra_trees, tree_batch_size
    ):
        batch = min(tree_batch_size, forest.num_trees + extra_trees - offset)
        built = build_rp_forest(
            emb,
            num_trees=batch,
            max_node_size=forest.max_node_size,
            seed=forest.seed,
            max_depth=max_depth,
            id_col=id_col,
            vec_col=vec_col,
            dedup=dedup,
            local_threshold=local_threshold,
            tree_offset=offset,
        )
        batch_nodes = built.nodes
        if compact:
            batch_nodes = batch_nodes.withColumn(
                "coeffs", F.col("coeffs").cast("array<float>")
            )
        # tree_id-led sort — same no-writer-sort rationale as save_index
        batch_nodes.sortWithinPartitions("tree_id").write.mode(
            "append"
        ).partitionBy("tree_id").parquet(f"{path}/nodes")
        built.leaves.sortWithinPartitions("tree_id").write.mode(
            "append"
        ).partitionBy("tree_id").parquet(f"{path}/leaves")
        if forest.fresh_health is not None:
            new_health.extend(
                _health_rows(
                    forest_health_stats(built)
                    .select(*_HEALTH_COLS)
                    .collect()
                )
            )
        # same GC discipline as the batched build: bound peak scratch
        # to one batch's subtree exchange
        del built, batch_nodes
        collect_garbage(spark)

    extended = load_index(
        spark,
        path,
        num_trees=forest.num_trees + extra_trees,
        max_node_size=forest.max_node_size,
        seed=forest.seed,
    )
    if forest.fresh_health is not None:
        # original trees keep their ORIGINAL denominator verbatim; the
        # new trees enter with their fresh-build health
        extended.fresh_health = list(forest.fresh_health) + new_health
        spark.createDataFrame(
            [tuple(r[c] for c in _HEALTH_COLS)
             for r in extended.fresh_health],
            schema="tree_id int, n_leaves long, n_vectors long, "
                   "fill_ratio double, occupancy_gini double",
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/health")
    else:
        # pre-r11 index: stays baseline-less (a PARTIAL baseline —
        # fresh rows for new trees only — would make the forest-wide
        # ratio a mix of measured and guessed denominators); the
        # provenance bit keeps the save-time re-anchor warning alive
        extended.fresh_health = None
        extended.loaded_without_baseline = True
        _hadoop_delete_or_raise(spark, [f"{path}/health"])
    return extended


def subset_forest(forest: RPForest, num_trees: int) -> RPForest:
    """A forest restricted to its first ``num_trees`` trees — the
    recall-vs-cost dial at SEARCH time: more trees ⇒ more candidate
    leaves ⇒ higher recall and more re-rank work, with no rebuild
    (the reference fixes the tradeoff at build time via NUM_TREES,
    ``src/main.rs:141``; here one persisted 50-tree index serves any
    smaller operating point). Filters are on the ``tree_id`` partition
    column, so a persisted index prunes the dropped trees' directories
    from every scan. Stats are recomputed with the standard one-scan
    two-level agg (cheap: ≤ num_trees partial rows shuffle)."""
    if num_trees >= forest.num_trees:
        return forest
    nodes = forest.nodes.filter(F.col("tree_id") < num_trees)
    leaves = forest.leaves.filter(F.col("tree_id") < num_trees)
    node_count, max_depth, max_tree_nodes = _forest_stats(nodes)
    return RPForest(
        nodes=nodes,
        leaves=leaves,
        num_trees=num_trees,
        max_node_size=forest.max_node_size,
        seed=forest.seed,
        max_depth=max_depth,
        node_count=node_count,
        dim=forest.dim,
        max_tree_nodes=max_tree_nodes,
        path=forest.path,
        # per-tree baseline: keep only the surviving trees' rows
        fresh_health=(
            [r for r in forest.fresh_health if r["tree_id"] < num_trees]
            if forest.fresh_health is not None
            else None
        ),
        loaded_without_baseline=forest.loaded_without_baseline,
    )


def resplit_overgrown_leaves(
    forest: RPForest,
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_depth: "int | None" = None,
    extra_depth: int = 8,
) -> RPForest:
    """Index MAINTENANCE: re-split every leaf that grew past
    ``max_node_size`` — the repair half of the "append now, rebuild
    periodically" contract ``incremental_index_ingest`` documents.
    Ingest routes new vectors through FROZEN hyperplanes and appends
    them to existing leaves, so repeated ingests overgrow hot leaves:
    per-leaf candidate cost (and the leaf-local all-pairs bound) grows
    without limit while the reference's invariant — every leaf ≤
    ``max_node_size`` deduped vectors (``src/lib.rs:50-62``) — silently
    erodes. This restores it WITHOUT a full rebuild: untouched leaves
    (the vast majority) are never read with their payload, and existing
    hyperplanes — hence existing routing — are preserved verbatim; the
    new subtrees only EXTEND paths below the overgrown leaves.

    Shape, in order of data volume:
      1. candidacy is a slim ``groupBy(tree_id, leaf_path).count()``
         over id-only leaf rows — no payload, map-side combined;
      2. only overgrown leaves' members join the embedding payload;
      3. duplicate embeddings can never be separated by a hyperplane
         (the reason build dedups first, ``src/lib.rs:87-88``): per
         (leaf, emb) the min vec_id is the split REPRESENTATIVE, and a
         leaf overgrown only by duplicates (≤ max_node_size distinct
         embeddings) is LEFT AS-IS — by build semantics it is not
         overgrown;
      4. each splittable leaf finishes as one ``_subtree_builder``
         group — the exact phase-2 kernel of the build, same seed, so
         maintenance splits draw pivots from the same hash family and
         a re-run is bit-identical;
      5. duplicates rejoin their representative's NEW leaf by an
         equi-join — precisely where routing their (identical)
         embedding would land them.

    ``max_depth`` is the ABSOLUTE path-length cap (build semantics);
    default = deepest overgrown leaf + ``extra_depth``, so a pathological
    leaf force-closes instead of recursing forever. The result carries
    ``path=None``: the in-memory forest no longer matches any persisted
    layout, so the tree-sharded pass must not read the stale one —
    ``save_index`` it and ``load_index`` back to re-enable.

    Membership is CHECKED, not assumed: the rebuilt leaf table must
    hold exactly the same (tree_id, vec_id) multiset as before (a
    member whose payload is missing from ``emb`` would otherwise
    silently vanish from the index)."""
    sizes = forest.leaves.groupBy("tree_id", "leaf_path").agg(
        F.count(F.lit(1)).alias("_n"), F.max(F.length("leaf_path")).alias("_d")
    )
    over_keys = sizes.filter(F.col("_n") > forest.max_node_size)
    probe = over_keys.agg(
        F.count(F.lit(1)).alias("k"), F.max("_d").alias("d")
    ).collect()[0]
    if not probe.k:
        return forest
    cap = max_depth if max_depth is not None else int(probe.d) + extra_depth
    spark = forest.nodes.sparkSession
    members = forest.leaves.join(
        over_keys.select("tree_id", "leaf_path"), ["tree_id", "leaf_path"]
    )
    payload = emb.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("emb")
    )
    # both intermediates feed two downstream branches (split input +
    # duplicate reassignment) — materialize once so the payload join
    # and the by-embedding dedup don't recompute per consumer; volume
    # is bounded by the OVERGROWN members, not the corpus
    with_emb = (
        members.join(payload, "vec_id")
        .select("tree_id", "leaf_path", "vec_id", "emb")
        .localCheckpoint(eager=True)
    )
    reps = (
        with_emb.groupBy("tree_id", "leaf_path", "emb")
        .agg(F.min("vec_id").alias("vec_id"))
        .localCheckpoint(eager=True)
    )
    # splittable by BUILD semantics: > max_node_size DISTINCT embeddings
    split_keys = (
        reps.groupBy("tree_id", "leaf_path")
        .count()
        .filter(F.col("count") > forest.max_node_size)
        .select("tree_id", "leaf_path")
    )
    split_keys = split_keys.localCheckpoint(eager=True)
    if split_keys.isEmpty():
        # every overgrown leaf is overgrown by duplicates alone — by
        # build semantics nothing needs splitting; hand back the SAME
        # forest so the persisted-layout route stays usable
        return forest
    split_reps = reps.join(split_keys, ["tree_id", "leaf_path"]).select(
        "tree_id", F.col("leaf_path").alias("node_path"), "vec_id", "emb"
    )
    # fixed-N repartition on the group key — same AQE-coalesce exemption
    # rationale as the build's phase 2 (cost is CPU per group, not bytes)
    split_out = (
        split_reps.repartition(
            spark.sparkContext.defaultParallelism, "tree_id", "node_path"
        )
        .groupBy("tree_id", "node_path")
        .applyInPandas(
            _subtree_builder(forest.max_node_size, cap, forest.seed),
            _SUBTREE_SCHEMA,
        )
        .localCheckpoint(eager=True)
    )
    new_nodes = split_out.filter(F.col("kind") == "node").select(
        "tree_id", F.col("path").alias("node_path"), "coeffs", "constant",
        "coeff_norm",
    )
    # match the EXISTING nodes' coeffs element type (a compact-loaded
    # forest stores array<float>): without the cast the union widens
    # via Spark's set-op type promotion, silently un-compacting the
    # forest relative to its on-disk layout and mixing rounded and
    # unrounded normals in one tree (ADVICE r9). No-op on the default
    # double format; constant/coeff_norm stay double either way, the
    # compact save_index convention.
    new_nodes = new_nodes.withColumn(
        "coeffs", F.col("coeffs").cast(forest.nodes.schema["coeffs"].dataType)
    )
    rep_leaves = split_out.filter(F.col("kind") == "leaf").select(
        "tree_id", F.col("path").alias("leaf_path"), "vec_id"
    )
    # duplicates follow their representative into its new leaf
    dup_map = (
        with_emb.join(split_keys, ["tree_id", "leaf_path"])
        .join(
            reps.select(
                "tree_id", "leaf_path", "emb", F.col("vec_id").alias("_rep")
            ),
            ["tree_id", "leaf_path", "emb"],
        )
        .filter(F.col("vec_id") != F.col("_rep"))
        .select("tree_id", "vec_id", "_rep")
    )
    dup_leaves = dup_map.join(
        rep_leaves.select(
            "tree_id", "leaf_path", F.col("vec_id").alias("_rep")
        ),
        ["tree_id", "_rep"],
    ).select("tree_id", "leaf_path", "vec_id")

    untouched = forest.leaves.join(
        split_keys, ["tree_id", "leaf_path"], "left_anti"
    )
    # MULTISET membership check, not a row count: offsetting errors (a
    # duplicated payload row masking a missing member) must not pass.
    # exceptAll keeps duplicate multiplicity — and both sides are
    # restricted to the SPLIT leaves' members (untouched rows are a
    # row-identical subset of forest.leaves by construction), so the
    # check is bounded by the overgrowth, not two full-index shuffles.
    old_m = members.join(split_keys, ["tree_id", "leaf_path"]).select(
        "tree_id", "vec_id"
    )
    new_m = rep_leaves.select("tree_id", "vec_id").unionByName(
        dup_leaves.select("tree_id", "vec_id")
    )
    lost = old_m.exceptAll(new_m).count()
    gained = new_m.exceptAll(old_m).count()
    if lost or gained:
        raise RuntimeError(
            f"resplit changed membership: {lost} leaf "
            f"rows lost, {gained} gained — a lost row means an overgrown "
            f"member's vec_id is missing from the supplied embeddings "
            f"table; a gained row means the embeddings table holds "
            f"duplicate rows for one vec_id"
        )
    # leaf rows are SLIM (id + path) — checkpoint the union once for its
    # several consumers. The node union stays LAZY: the old node table
    # carries corpus-scale coeffs payload, and materializing it would
    # turn a touch-the-overgrowth repair into a full-index copy (the new
    # nodes come from the checkpointed ``split_out``; downstream scans
    # of the old side column-prune to node_path where possible)
    leaves = (
        untouched.unionByName(rep_leaves)
        .unionByName(dup_leaves)
        .localCheckpoint(eager=True)
    )
    nodes = forest.nodes.unionByName(new_nodes)
    node_count, max_depth, max_tree_nodes = _forest_stats(nodes)
    return RPForest(
        nodes=nodes,
        leaves=leaves,
        num_trees=forest.num_trees,
        max_node_size=forest.max_node_size,
        seed=forest.seed,
        max_depth=max_depth,
        node_count=node_count,
        dim=forest.dim,
        max_tree_nodes=max_tree_nodes,
        path=None,
        fresh_health=forest.fresh_health,
        loaded_without_baseline=forest.loaded_without_baseline,
    )


def delete_vectors(
    forest: RPForest, ids: DataFrame, id_col: str = "vec_id"
) -> RPForest:
    """Remove vectors from the index — the lifecycle operation the
    reference cannot express (its index is immutable and dies with the
    process, ``src/lib.rs:15-19``) but a training pipeline must:
    takedowns, opt-outs, and retention windows all delete from the
    corpus, and the index has to follow without a rebuild.

    One anti-join on the leaf table. Hyperplanes are untouched — they
    were built FROM the old corpus but remain valid split functions for
    routing, exactly as with ingested vectors the build never saw — so
    ``path`` is preserved: the persisted-layout route reads only the
    NODES table from disk, which still matches. Deleted ids can never
    re-enter results regardless of what corpus table the search is
    handed: candidates come exclusively from leaf membership.

    Mass deletion leaves subtrees underfull; follow with
    ``prune_underfull_subtrees`` to reclaim the wasted depth."""
    leaves = forest.leaves.join(
        ids.select(F.col(id_col).alias("vec_id")).distinct(),
        "vec_id",
        "left_anti",
    )
    return RPForest(
        nodes=forest.nodes,
        leaves=leaves,
        num_trees=forest.num_trees,
        max_node_size=forest.max_node_size,
        seed=forest.seed,
        max_depth=forest.max_depth,
        node_count=forest.node_count,
        dim=forest.dim,
        max_tree_nodes=forest.max_tree_nodes,
        path=forest.path,
        fresh_health=forest.fresh_health,
        loaded_without_baseline=forest.loaded_without_baseline,
    )


def prune_underfull_subtrees(forest: RPForest) -> RPForest:
    """The symmetric repair to ``resplit_overgrown_leaves``: collapse
    every subtree whose TOTAL remaining membership fits one leaf
    (≤ ``max_node_size``) back into a single leaf, dropping its split
    nodes. After mass deletion (``delete_vectors``) whole subtrees go
    underfull: queries still descend their full depth — paying node
    reads level by level — to collect a handful of candidates, and
    emptied subtrees keep dead hyperplanes in the node table forever.

    Purely relational, no embedding payload:
      1. subtree sizes = one explode of each leaf row into its proper
         path prefixes + a map-side-combined count per (tree, prefix) —
         every proper prefix of a leaf path is an inner node by
         construction, and the shuffle is bounded by node count;
      2. a node survives iff its subtree holds > max_node_size members
         (zero-member subtrees vanish with everything else);
      3. each leaf re-homes to its SHORTEST collapsible prefix — an
         ancestor collapses before any descendant, so the result has no
         nested collapses to iterate.

    Raw membership (duplicates included) is intentionally the measure:
    raw ≤ max ⟹ distinct ≤ max, so collapsing is always safe, merely
    conservative for duplicate-heavy subtrees — and it keeps the whole
    repair payload-free. Routing stays correct: prefixes of surviving
    leaves are exactly the surviving nodes, and a root-collapsed tree
    becomes a node-less single-leaf tree, which every route handles.
    The node table changes, so the result carries ``path=None``
    (re-``save_index`` to re-enable the persisted-layout route)."""
    prefixes = F.when(
        F.length("leaf_path") > 0,
        F.expr(
            "transform(sequence(0, length(leaf_path) - 1),"
            " i -> left(leaf_path, i))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        forest.leaves.select("tree_id", F.explode(prefixes).alias("p"))
        .groupBy("tree_id", "p")
        .count()
        .localCheckpoint(eager=True)
    )
    collapsible = counts.filter(F.col("count") <= forest.max_node_size)
    if collapsible.isEmpty():
        # nothing to collapse AND no emptied subtrees: a zero-member
        # node has no leaf prefixes at all, so it shows up in neither
        # `counts` nor `collapsible` — detect by node-count mismatch
        kept_n = counts.count()
        if kept_n == forest.node_count:
            return forest

    # LAZY: the node table carries corpus-scale coeffs payload — the
    # semi-join's build side (checkpointed counts) is slim and re-runs
    # cheaply per consumer, while materializing the filtered fat table
    # would cost a full-index copy
    nodes = forest.nodes.join(
        counts.filter(F.col("count") > forest.max_node_size).select(
            "tree_id", F.col("p").alias("node_path")
        ),
        ["tree_id", "node_path"],
        "left_semi",
    )

    tgt = (
        forest.leaves.select("tree_id", "leaf_path")
        .distinct()
        .select(
            "tree_id", "leaf_path", F.explode(prefixes).alias("p")
        )
        .join(
            collapsible.select("tree_id", "p"), ["tree_id", "p"]
        )
        .groupBy("tree_id", "leaf_path")
        .agg(
            F.min(
                F.struct(F.length("p").alias("l"), F.col("p").alias("p"))
            ).alias("t")
        )
        .select("tree_id", "leaf_path", F.col("t.p").alias("_new"))
    )
    leaves = (
        forest.leaves.join(tgt, ["tree_id", "leaf_path"], "left")
        .select(
            "tree_id",
            F.coalesce("_new", "leaf_path").alias("leaf_path"),
            "vec_id",
        )
        .localCheckpoint(eager=True)
    )
    node_count, max_depth, max_tree_nodes = _forest_stats(nodes)
    return RPForest(
        nodes=nodes,
        leaves=leaves,
        num_trees=forest.num_trees,
        max_node_size=forest.max_node_size,
        seed=forest.seed,
        max_depth=max_depth,
        node_count=node_count,
        dim=forest.dim,
        max_tree_nodes=max_tree_nodes,
        path=None,
        fresh_health=forest.fresh_health,
        loaded_without_baseline=forest.loaded_without_baseline,
    )


def forest_health_stats(forest: RPForest) -> DataFrame:
    """Per-tree ROUTING-QUALITY signals for the rebuild-vs-maintain
    decision (VERDICT r9 #4) — all payload-free (leaf table only, one
    slim map-side-combined scan + one per-tree window):

      n_leaves / n_vectors / min_depth / max_depth / max_leaf_size —
        the occupancy surface ``ann_index_stats`` always had;
      overgrown_leaves — leaves past ``max_node_size`` (ingest-side
        decay; the quadratic-cost hazard for the leaf-local all-pairs);
      fill_ratio — n_vectors / (n_leaves × max_node_size). A fresh
        build sits near the packing its split policy yields; mass
        deletion (even after ``prune_underfull_subtrees`` reclaims the
        empty depth) leaves the survivors spread thin across leaves
        positioned for the OLD corpus — the planes no longer bisect
        the data, and recall decays with no way to see it from
        occupancy counts alone;
      occupancy_gini — dispersion of leaf sizes within the tree
        (0 = uniform). Hyperplanes fit to a corpus that has since
        drifted (deletes, skewed ingest) stop splitting evenly, so
        the size distribution polarizes: some leaves drain, siblings
        stay full.

    READ THE SIGNALS BEFORE MAINTENANCE, not after: pruning collapses
    the emptied depth, so post-prune occupancy looks healthy even when
    the hyperplanes are stale. Measured at 250k × 300-d reference
    geometry (r10 lifecycle + shrink probes, BASELINE history rows):

      fresh build          fill 0.618  gini 0.253   recall 1.000
      after 10% ingest     fill 0.69   367k overgrown → resplit
      after 30% delete     fill 0.47   → prune → recall 1.000
      after 80% delete     fill 0.261  → prune → recall 0.896
      post-prune (both)    fill ≈ 0.62 gini ≈ 0.25  ← indistinguishable

    (That last line is about THIS function's raw columns, which only
    see leaves that still have members. The vs-fresh trigger no longer
    shares the blindness: ``forest_health_vs_fresh`` / ``needs_rebuild``
    anchor the denominator at the BASELINE leaf count, so drained
    leaves and prune-collapsed depth keep counting — post-prune
    ``fill_vs_fresh`` tracks surviving mass, not recovered packing —
    and ``operators.search.estimate_recall`` measures the routing
    quality directly.)

    So: ``overgrown_leaves`` > 0 sizes the ``resplit_overgrown_leaves``
    debt; a PRE-prune ``fill_ratio`` still above ~0.75× the fresh
    baseline pruned back to full recall, while ~0.4× of fresh left
    recall at 0.896 after pruning — once pre-maintenance fill has
    fallen to roughly half its fresh value, prune reclaims the space
    but not the quality, and a REBUILD (re-fitting hyperplanes to the
    surviving corpus) is the remedy ``resplit``/``prune`` cannot
    provide."""
    per_leaf = forest.leaves.groupBy("tree_id", "leaf_path").agg(
        F.count(F.lit(1)).alias("leaf_n")
    )
    w_rank = Window.partitionBy("tree_id").orderBy(
        F.col("leaf_n").asc(), F.col("leaf_path").asc()
    )
    ranked = per_leaf.withColumn("rnk", F.row_number().over(w_rank))
    return (
        ranked.groupBy("tree_id")
        .agg(
            F.count(F.lit(1)).alias("n_leaves"),
            F.sum("leaf_n").alias("n_vectors"),
            F.min(F.length("leaf_path")).alias("min_depth"),
            F.max(F.length("leaf_path")).alias("max_depth"),
            F.max("leaf_n").alias("max_leaf_size"),
            F.sum(
                F.when(F.col("leaf_n") > forest.max_node_size, 1).otherwise(0)
            ).alias("overgrown_leaves"),
            # Gini over sorted leaf sizes: G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n
            (
                F.lit(2.0) * F.sum(F.col("rnk") * F.col("leaf_n"))
                / (F.count(F.lit(1)) * F.sum("leaf_n"))
                - (F.count(F.lit(1)) + F.lit(1.0)) / F.count(F.lit(1))
            ).alias("occupancy_gini"),
        )
        .withColumn(
            "fill_ratio",
            F.col("n_vectors")
            / (F.col("n_leaves") * F.lit(float(forest.max_node_size))),
        )
    )


def forest_health_vs_fresh(
    forest: RPForest, rebuild_fill_ratio: float = 0.5
) -> DataFrame:
    """``forest_health_stats`` plus the rebuild trigger's two columns
    (VERDICT r10 #2): per-tree ``fill_vs_fresh`` — current fill_ratio
    over the FRESH build's fill_ratio for the same tree, read from the
    baseline ``save_index`` persisted at ``{path}/health`` — and
    ``needs_rebuild`` (fill_vs_fresh < ``rebuild_fill_ratio``, default
    the measured 0.5 knee: pre-maintenance fill at ~0.76× of fresh
    pruned back to recall 1.000, ~0.42× left 0.896 — see
    ``forest_health_stats``'s measured table). A forest with no stored
    baseline (unsaved in-memory build, pre-r11 index) compares against
    itself: fill_vs_fresh ≡ 1.0, needs_rebuild ≡ false — honest for a
    fresh build, and explicitly "no baseline" via ``needs_rebuild()``'s
    dict for the operational caller. READ BEFORE MAINTENANCE: pruning
    collapses the emptied depth, so post-prune fill cannot see
    hyperplane staleness.

    DRAINED LEAVES (ADVICE r11, medium): ``forest_health_stats`` can
    only count leaves with surviving members — the leaf table has no
    rows for a leaf whose members were ALL deleted — so under CLUSTERED
    deletion (a tenant/region takedown drains whole leaves while
    siblings stay full) the naive ratio current_fill / fresh_fill stays
    near 1.0 while recall decays: the drained leaves vanish from the
    numerator AND the denominator. The trigger therefore measures
    current fill against ``greatest(current n_leaves, BASELINE
    n_leaves)`` per tree — a drained leaf still counts in the
    denominator (the hyperplanes that carved it still exist and still
    route queries into it), while legitimate structural growth
    (resplit after ingest) keeps using the larger current count. Hence
    ``fill_vs_fresh`` here is NOT simply fill_ratio / fresh fill
    whenever leaves have fully drained — it is deliberately lower."""
    stats = forest_health_stats(forest)
    if forest.fresh_health:
        spark = forest.leaves.sparkSession
        base = spark.createDataFrame(
            [(int(r["tree_id"]), float(r["fill_ratio"]),
              int(r["n_leaves"]))
             for r in forest.fresh_health],
            schema="tree_id int, fresh_fill double, fresh_n_leaves long",
        )
        # FULL outer: a tree whose leaf table drained ENTIRELY has no
        # stats row at all — a left join would drop it and the surface
        # could never fire on the most extreme takedown. It comes back
        # as an all-zero occupancy row with fill_vs_fresh 0.0.
        stats = (
            stats.join(base, "tree_id", "full")
            .withColumn("n_leaves", F.coalesce("n_leaves", F.lit(0)))
            .withColumn("n_vectors", F.coalesce("n_vectors", F.lit(0)))
            .withColumn(
                "overgrown_leaves", F.coalesce("overgrown_leaves", F.lit(0))
            )
            .withColumn("fill_ratio", F.coalesce("fill_ratio", F.lit(0.0)))
            .withColumn(
                "fill_vs_fresh",
                F.when(
                    F.col("fresh_fill") > 0.0,
                    (
                        F.col("n_vectors")
                        / (
                            F.greatest(
                                F.col("n_leaves"),
                                F.coalesce("fresh_n_leaves", "n_leaves"),
                            )
                            * F.lit(float(forest.max_node_size))
                        )
                    )
                    / F.col("fresh_fill"),
                ).otherwise(F.lit(1.0)),
            )
            .drop("fresh_fill", "fresh_n_leaves")
        )
    else:
        stats = stats.withColumn("fill_vs_fresh", F.lit(1.0))
    return stats.withColumn(
        "needs_rebuild",
        F.col("fill_vs_fresh") < F.lit(float(rebuild_fill_ratio)),
    )


def needs_rebuild(
    forest: RPForest,
    rebuild_fill_ratio: float = 0.5,
    stats: "DataFrame | None" = None,
) -> dict:
    """The operational rebuild-vs-maintain verdict (VERDICT r10 #2),
    one slim driver-side dict from one payload-free leaf scan plus the
    per-tree ranking window ``forest_health_stats`` builds (pass a
    precomputed/checkpointed ``stats`` DataFrame — the output of
    ``forest_health_stats`` — to share that scan with other consumers,
    as the lifecycle probe does):

      current_fill   — forest-wide n_vectors / (effective n_leaves ×
                       leaf cap), where effective n_leaves is
                       max(current, baseline) PER TREE — a leaf whose
                       members were all deleted has no leaf-table rows
                       (``forest_health_stats`` cannot count it) but
                       its hyperplanes still route queries into it, so
                       it stays in the denominator; without this,
                       CLUSTERED deletion that drains whole leaves
                       reads near-1.0 fill while recall decays
                       (ADVICE r11, medium). Structural growth
                       (resplit) uses the larger current count.
      fresh_fill     — from the baseline stored at save time
                       (None ⇒ no baseline: unsaved forest / pre-r11
                       index — the ratio cannot be computed)
      fill_vs_fresh  — current_fill / fresh_fill (None without baseline)
      overgrown_leaves — resplit debt (ingest-side decay)
      needs_rebuild  — fill_vs_fresh < ``rebuild_fill_ratio`` (False
                       when no baseline exists: absence of evidence is
                       surfaced, not guessed)

    Call it BEFORE resplit/prune (see ``forest_health_stats``: post-
    prune occupancy cannot see hyperplane staleness — though the
    baseline-leaves denominator keeps post-prune readings from
    REBOUNDING: collapsing drained depth cannot raise the ratio). The
    0.5 default is the measured knee — ~0.76× of fresh pruned back to
    recall 1.000 while ~0.42× left 0.896 (250k × 300-d lifecycle/shrink
    probes, BASELINE.md r10). The occupancy trigger cannot see
    hyperplane STALENESS where fill recovers (e.g. distribution drift
    from skewed ingest); pair it with the sampled
    ``operators.search.estimate_recall`` probe for a routing-quality
    read.

    A forest whose leaf table a search already collected to the driver
    (``RPForest.cached_local_leaves``) is read from that copy: no job."""
    local = forest.cached_local_leaves() if stats is None else None
    if local is not None:
        per_tree = local.tree_stats(forest.max_node_size)
    else:
        per_tree = (
            (stats if stats is not None else forest_health_stats(forest))
            .select("tree_id", "n_leaves", "n_vectors", "overgrown_leaves")
            .collect()  # ≤ num_trees slim rows — same single scan as before
        )
    # rows are (tree_id, n_leaves, n_vectors, overgrown_leaves)
    cap = float(forest.max_node_size)
    nv = sum(int(r[2]) for r in per_tree)
    og = sum(int(r[3] or 0) for r in per_tree)
    base = (
        {int(r["tree_id"]): r for r in forest.fresh_health}
        if forest.fresh_health
        else None
    )
    if base is None:
        nl_eff = sum(int(r[1]) for r in per_tree)
    else:
        # per-tree max(current, baseline) leaves; a tree whose leaf
        # table emptied entirely still contributes its baseline leaves
        cur_nl = {int(r[0]): int(r[1]) for r in per_tree}
        nl_eff = sum(
            max(cur_nl.get(t, 0), int(base[t]["n_leaves"]) if t in base else 0)
            for t in set(cur_nl) | set(base)
        )
    current = nv / (nl_eff * cap) if nl_eff else 0.0
    fresh = None
    if base is not None:
        f_nv = sum(int(r["n_vectors"]) for r in forest.fresh_health)
        f_nl = sum(int(r["n_leaves"]) for r in forest.fresh_health)
        if f_nl:
            fresh = f_nv / (f_nl * cap)
    ratio = current / fresh if fresh else None
    return {
        "current_fill": current,
        "fresh_fill": fresh,
        "fill_vs_fresh": ratio,
        "overgrown_leaves": og,
        "needs_rebuild": bool(
            ratio is not None and ratio < rebuild_fill_ratio
        ),
    }


def save_index(forest: RPForest, path: str, compact: bool = True) -> None:
    """Persist the forest as Parquet partitioned by tree_id — a NEW
    capability vs the reference (whose index dies with the process,
    ``src/lib.rs:15-19``); partition pruning makes single-tree reads
    cheap at scale: past the node gate each task reads its trees'
    ``nodes/tree_id=T`` directories.

    ``compact=True`` (the DEFAULT since r10 — measured at both the 250k
    and 1M probes: recall parity, ~35% footprint cut, equal-or-faster
    search) stores hyperplane coefficients as ``array<float>`` instead
    of ``array<double>`` — the coeffs column dominates the node table
    (a 300-d node is ~2.4 KB of coeffs vs ~120 B of everything else),
    and the deep-index search leg's cost is dominated by exactly that
    read (the route past the node gate is node-table-scan-bound), so
    the cast roughly halves the dominant search cost AND the index
    footprint. The trade: routing decisions use f32-rounded normals — the same
    precision the reference computes in end-to-end
    (``src/vector.rs:5``), so this is parity, not a quality cut; but a
    compact index is NOT bit-replayable by the full-precision DuckDB
    oracle descent, so oracle-replayed fixtures (and any other
    bit-identity consumer) must pass ``compact=False`` explicitly
    (tools/build_index_fixture.py does).

    Health baseline: the save also records the rebuild trigger's
    denominator at ``{path}/health`` (see ``_write_health_baseline``)
    and assigns it back onto ``forest.fresh_health``, so the in-memory
    object and the persisted index agree — a later maintenance re-save
    of the SAME object carries the baseline forward instead of
    re-recording post-maintenance health as "fresh". For a
    baseline-less forest that descends from a LOADED pre-r11 index (no
    ``health/`` table — tracked by ``loaded_without_baseline``, which
    maintenance ops carry even though they drop ``path``, ADVICE r11),
    the recorded baseline is the index's CURRENT health — a RE-ANCHOR,
    not a fresh measurement: the trigger will read degradation relative
    to this save. That case warns, so inheriting operators know the
    denominator's provenance — including on the realistic migration
    path load → resplit/prune → save, where the health being stamped is
    already POST-maintenance."""
    nodes = forest.nodes
    if compact:
        nodes = nodes.withColumn(
            "coeffs", F.col("coeffs").cast("array<float>")
        )
    # sort on the PARTITION column: the one explicit sort then also
    # satisfies the dynamic-partition writer's required clustering, so
    # FileFormatWriter streams instead of running its own second sort
    # over the coeffs payload — at 1M the writer sort
    # held input + sort spill + output on scratch simultaneously and
    # the pruned-index persist died twice with ~59 GB free (VERDICT
    # r13 #2).
    nodes.sortWithinPartitions("tree_id").write.mode(
        "overwrite"
    ).partitionBy("tree_id").parquet(f"{path}/nodes")
    forest.leaves.sortWithinPartitions("tree_id").write.mode(
        "overwrite"
    ).partitionBy("tree_id").parquet(f"{path}/leaves")
    if forest.fresh_health is None and (
        forest.path is not None or forest.loaded_without_baseline
    ):
        import warnings

        origin = (
            f"was loaded from {forest.path!r}"
            if forest.path is not None
            else "descends from a loaded index"
        )
        warnings.warn(
            f"save_index: forest {origin} which carries no health "
            "baseline (pre-r11 index) — recording its CURRENT health as "
            "the baseline. needs_rebuild will measure degradation "
            "relative to this save, not to the original fresh build.",
            RuntimeWarning,
            stacklevel=2,
        )
    # assign back: the in-memory forest must agree with what was
    # persisted, or a later re-save of this same object would hit the
    # baseline-less branch and stamp post-maintenance health as fresh
    forest.fresh_health = _write_health_baseline(forest, path)
    forest.loaded_without_baseline = False


_HEALTH_COLS = [
    "tree_id", "n_leaves", "n_vectors", "fill_ratio", "occupancy_gini",
]


def _health_rows(rows) -> "list[dict]":
    """Coerce collected health Rows to plain dicts (ints for counts,
    floats for ratios) — ONE coercion shared by the persist and load
    sites so the baseline round-trips through parquet without the two
    ends drifting apart."""
    return [
        {c: (int(r[c]) if c in ("tree_id", "n_leaves", "n_vectors")
             else float(r[c])) for c in _HEALTH_COLS}
        for r in rows
    ]


def _write_health_baseline(forest: RPForest, path: str) -> "list[dict]":
    """Persist the FRESH-build health baseline at ``{path}/health`` —
    the rebuild trigger's denominator (VERDICT r10 #2). If the forest
    already carries a baseline (loaded from a prior index), that one is
    carried forward VERBATIM: a maintenance re-save must not overwrite
    the fresh fill with the post-maintenance fill, or the trigger's
    ratio silently resets to 1.0 and a degraded index reads healthy.
    Only a baseline-less forest (a fresh build) records its own current
    health as the baseline. num_trees rows — negligible next to the
    node table."""
    if forest.fresh_health is not None:
        rows = forest.fresh_health
    else:
        rows = _health_rows(
            forest_health_stats(forest).select(*_HEALTH_COLS).collect()
        )
    spark = forest.leaves.sparkSession
    spark.createDataFrame(
        [tuple(r[c] for c in _HEALTH_COLS) for r in rows],
        schema="tree_id int, n_leaves long, n_vectors long, "
               "fill_ratio double, occupancy_gini double",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/health")
    return rows


def load_index(
    spark: SparkSession, path: str, num_trees: int, max_node_size: int, seed: int
) -> RPForest:

    if hadoop_path_exists(spark, f"{path}/{_SURGERY_MARKER}"):
        # earlier versions of this library rewrote index partitions in
        # place and bracketed the write with this marker; a layout that
        # still carries it was interrupted mid-write, so some trees'
        # leaf partitions may disagree with their node partitions — a
        # silent load would read as recall loss, not as corruption
        raise ValueError(
            f"load_index: {path}/{_SURGERY_MARKER} exists — an in-place "
            f"write to this layout by an earlier version was interrupted "
            f"and the layout may be inconsistent. Restore from a snapshot "
            f"or rebuild; delete the marker only if you know the write "
            f"completed"
        )
    # the known columns only: layouts saved by earlier versions also
    # carry a per-level ``lvl`` column
    nodes = spark.read.parquet(f"{path}/nodes").select(
        "tree_id", "node_path", "coeffs", "constant", "coeff_norm"
    )
    # same stats semantics as _forest_stats, FUSED with the dim probe so
    # load pays one scan, not two (dim reads size(coeffs), which the
    # stats-only scan column-prunes away)
    stats = (
        nodes.groupBy("tree_id")
        .agg(
            F.max(F.length("node_path")).alias("td"),
            F.count(F.lit(1)).alias("tn"),
            F.max(F.size("coeffs")).alias("tdim"),
        )
        .agg(
            F.max("td").alias("d"),
            F.sum("tn").alias("n"),
            F.max("tdim").alias("dim"),
            F.max("tn").alias("mt"),
            F.count(F.lit(1)).alias("nt"),
        )
        .collect()[0]
    )
    if stats.n and int(stats.nt) != int(num_trees):
        # ADVICE r14: a batched build (build_rp_forest_batched,
        # extend_forest) that died mid-loop leaves SOME tree_id
        # partitions present and loads "successfully" with fewer trees
        # than claimed (health-written-last marks this too: the partial
        # layout has no health table). A corpus small enough that no
        # tree splits has ZERO node partitions in every tree alike
        # (dedup is global), so 0 < nt != num_trees is partial or
        # mislabeled, not a legitimate small index.
        import warnings

        warnings.warn(
            f"load_index: {path}/nodes holds {int(stats.nt)} tree "
            f"partitions but num_trees={num_trees} — a partial "
            f"(interrupted batched write) or mislabeled layout; "
            f"searches would silently use fewer trees than configured",
            RuntimeWarning,
            stacklevel=2,
        )
    # the fresh-build health baseline (save_index writes it since r11);
    # missing on pre-r11 indexes ⇒ needs_rebuild reports "no baseline"
    # instead of guessing
    health = (
        _health_rows(spark.read.parquet(f"{path}/health").collect())
        if hadoop_path_exists(spark, f"{path}/health")
        else None
    )
    return RPForest(
        nodes=nodes,
        leaves=spark.read.parquet(f"{path}/leaves"),
        num_trees=num_trees,
        max_node_size=max_node_size,
        seed=seed,
        max_depth=(stats.d if stats.d is not None else -1) + 1,
        node_count=stats.n or 0,
        dim=int(stats.dim or 0),
        max_tree_nodes=int(stats.mt or 0),
        path=path,
        fresh_health=health,
        loaded_without_baseline=health is None,
    )
