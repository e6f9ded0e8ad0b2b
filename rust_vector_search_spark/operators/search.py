"""RP-forest approximate SEARCH — operators O9, O10, O12 of the reference
(``src/lib.rs:105-149``), as a batch of queries (the idiomatic Spark
form, SURVEY §3.3).

Routing (O9 ``tree_result``): each query descends every tree; at an
inner node the side predicate (``src/hyperplane.rs:9-11``) picks the
child. The reference routes ONE query recursively; here ALL queries
route through ALL trees at once.

``search_rp_forest`` has two plans, chosen by one rule (its docstring):

- In-gate (node map under its broadcast gate, corpus plus leaf table
  under the query gate): ONE mapInPandas pass over the queries,
  checkpointed before it returns. Each
  batch descends every tree with a batched numpy frontier, gathers
  leaf members and the sibling backfill from the forest's driver-side
  leaf table (``_worker_kernels``), and re-ranks against a broadcast
  corpus matrix with the same sequential fold as ``sq_euc_dist`` — the
  reference's descent + in-memory re-rank, in one pass.
- Otherwise the Spark plan: ``route_queries`` (broadcast node map,
  tree-local descent, or the per-level join chain, picked by the same
  size gates) feeds ``_finish_search`` — leaf-membership join, backfill
  equi-join, shuffle ``distinct`` and a Catalyst re-rank + top-k window.
  Both plans return the same rows, dist bits included.

Every numpy route computes n·x and the re-rank distance with
``_worker_kernels``' ``fold``, the left fold from 0.0 that Catalyst's
``dot`` / ``sq_euc_dist`` and the DuckDB oracle's ``list_reduce`` use,
so no route or spill engine needs to be forced for an oracle replay.

Backfill deviation (SURVEY §1.5.3/§7.3.3): the reference tops up from the
sibling subtree with per-query sequential feedback (``src/lib.rs:122-124``)
and takes a leaf's FIRST min(n, len) entries (``src/lib.rs:110-113``).
Batch form: collect the WHOLE routed leaf, and when the leaf holds fewer
than k members, also collect every leaf under the sibling prefix — a
strictly-better-recall, order-independent approximation.

Candidate union across trees (O10) is the reference's concurrent DashSet
(``src/lib.rs:131-135``): a set union per query in the one-pass kernel,
a ``distinct()`` on (query_id, vec_id) in the Spark plan.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.window import Window

from ..functions.vector import point_is_above, sq_euc_dist
from ..session import collect_garbage, hadoop_path_exists
from .index import RPForest

__all__ = [
    "search_rp_forest",
    "all_pairs_rp_forest",
    "route_queries",
    "resolve_spill_margin",
    "estimate_recall",
    "save_recall_baseline",
]


def resolve_spill_margin(queries: DataFrame, frac: float = 0.3) -> float:
    """Data-scale-free spill margin: for points of norm r in d dims, the
    projection of a point onto a random unit direction has spread
    ≈ r/√d; spilling when the query sits within ``frac`` of that spread
    of a split plane targets exactly the near-boundary cases. One tiny
    agg over the (small, broadcastable) query set."""
    return _query_stats(queries, frac)[1]


def _query_stats(queries: DataFrame, frac: float = 0.3) -> "tuple[int, float]":
    """(row count, ``resolve_spill_margin``) from ONE aggregate job."""
    from ..functions.vector import dot as _dot

    row = queries.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(_dot("query_vec", "query_vec")).alias("sq"),
        F.avg(F.size("query_vec")).alias("d"),
    ).collect()[0]
    if not row.sq or not row.d:
        return int(row.n), 0.0
    return int(row.n), frac * float(row.sq / row.d) ** 0.5


def _worker_kernels():
    """The python-worker side of every numpy descent, the one-pass
    search and all-pairs' leaf kernel: ``(query_matrix, fold,
    leaf_pairs, descend, level_walk, tree_nodes, leaf_frame, top_k)``.
    They are closures so that cloudpickle ships them BY VALUE:
    executors need not be able to import this package
    (``__spark_entry__`` only puts it on the calling process's
    ``sys.path``). For the same reason everything they receive is plain
    numpy, dict, list, tuple and pandas data, or a path string."""
    from bisect import bisect_left

    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    def query_matrix(pdf):
        return np.array(
            [np.asarray(v, dtype=np.float64) for v in pdf["query_vec"]]
        )

    def fold(A, B):
        """Σⱼ A[j]·B[j] for every column of two (d × m) operands (either
        may broadcast), added left to right from 0.0 in float64: the sum
        order of Catalyst's ``dot`` / ``sq_euc_dist`` (``F.aggregate``)
        and of the DuckDB oracle's ``list_reduce``, so every numpy route
        makes the Catalyst chain's decisions bit for bit. A BLAS product
        or einsum regroups the sum. numpy reduces axis 0 of a
        C-contiguous (d × m) array row by row; it sums pairwise only
        along a contiguous reduced axis, which a lone column is, so that
        one takes ``cumsum``, which never regroups. Adding 0.0 turns the
        -0.0 of an all-zero sum into the fold's +0.0. Callers pass
        float64 (or float32 against float64) operands; C-ordered ones
        skip a transposing copy."""
        P = np.multiply(A, B, order="C")
        s = np.cumsum(P[:, 0])[-1:] if P.shape[1] == 1 else np.add.reduce(P, 0)
        return s + 0.0

    def descend(nodes, Q, num_trees, margin, max_spills, frontier=None):
        """Batched frontier descent of every row of ``Q`` through every
        tree of a node map (``RPForest.local_nodes``): all queries at
        one (tree, path) evaluate the node with one ``fold`` — one
        numpy reduction per touched node instead of a python-level dot
        per (query, node) visit.

        Side = n·x + c ≥ 0 (ties "above", ``src/hyperplane.rs:10``);
        multi-probe spills BOTH children while |n·x + c|/‖n‖ < margin
        and spills < max_spills. ``frontier`` maps (tree_id, path) to
        (row indices, spills so far) to start below the roots; by
        default every row starts at every root with no spill. Returns
        one (tree_id, leaf_path, row indices) entry per reached leaf;
        each (query, tree) reaches each leaf path at most once by
        construction, so no dedup is needed."""
        k2i, C_all, c_all, n_all = nodes
        QT = np.ascontiguousarray(Q.T)  # columns gather (d × m) C-ordered
        out: list = []
        n = len(Q)
        if frontier is None:
            frontier = {
                (t, ""): (np.arange(n), np.zeros(n, np.int8))
                for t in range(num_trees)
            }
        while frontier:
            nxt: dict = {}

            def _add(key, idx, sp):
                if key in nxt:
                    i0, s0 = nxt[key]
                    nxt[key] = (
                        np.concatenate([i0, idx]), np.concatenate([s0, sp])
                    )
                else:
                    nxt[key] = (idx, sp)

            for (t, path), (idx, sp) in frontier.items():
                ni = k2i.get((t, path))
                if ni is None:  # no inner node here ⇒ leaf
                    out.append((t, path, idx))
                    continue
                coeffs = np.asarray(C_all[ni], np.float64)
                v = fold(QT.take(idx, axis=1), coeffs[:, None]) + c_all[ni]
                above = v >= 0.0
                if above.any():
                    _add((t, path + "1"), idx[above], sp[above])
                below = ~above
                if below.any():
                    _add((t, path + "0"), idx[below], sp[below])
                if margin > 0.0 and n_all[ni] > 0.0:
                    near = (np.abs(v) / n_all[ni] < margin) & (sp < max_spills)
                    spill_up = near & below  # opposite of taken side
                    spill_dn = near & above
                    if spill_up.any():
                        _add((t, path + "1"), idx[spill_up], sp[spill_up] + 1)
                    if spill_dn.any():
                        _add((t, path + "0"), idx[spill_dn], sp[spill_dn] + 1)
            frontier = nxt
        return out

    def level_walk(nodes, X, rows, trees, paths, margin):
        """Spill seeds of rows whose main-path leaves are already known
        (the build routed every member, so no re-descent is needed):
        each entry is one (row of ``X``, tree, leaf path), given as the
        parallel ``rows``, ``trees`` and ``paths``. At depth d every
        entry whose path is longer than d looks up its ancestor node
        (tree, path[:d]) in the node map and ONE ``fold`` computes
        every n·x at that depth; where |n·x + c|/‖n‖ < margin the
        sibling of the child the path took is seeded. Returns the seeds as a
        ``descend`` frontier whose rows enter at one spill, so a
        ``max_spills=1`` descent takes each spilled branch to its
        leaves without re-spilling (``route_queries``' semantics)."""
        k2i, C_all, c_all, n_all = nodes
        rows = np.asarray(rows, np.int64)
        path_s = pd.Series(paths, dtype="object")
        plen = path_s.str.len().to_numpy()
        seeds: dict = {}
        for d in range(int(plen.max()) if len(plen) else 0):
            act = np.nonzero(plen > d)[0]
            pfx = path_s.iloc[act].str.slice(0, d).to_numpy()
            idx = np.fromiter(
                (k2i.get((trees[g], p), -1) for g, p in zip(act, pfx)),
                np.int64, len(act),
            )
            if (idx < 0).any():
                j = int(np.argmax(idx < 0))
                raise ValueError(
                    f"spill routing: ancestor path {pfx[j]!r} of tree "
                    f"{trees[act[j]]} has no node in the persisted layout "
                    "or node map — the index's nodes do not match its "
                    "leaves (a stale or partially-written save_index, or "
                    "nodes dropped from the forest). Re-save the index or "
                    "reload it before routing."
                )
            v = fold(C_all[idx].T, X[rows[act]].T) + c_all[idx]
            with np.errstate(divide="ignore", invalid="ignore"):
                near = np.abs(v) / n_all[idx] < margin
            near &= n_all[idx] > 0.0
            if not near.any():
                continue
            taken = path_s.iloc[act].str.slice(d, d + 1).to_numpy()
            for j in np.nonzero(near)[0]:
                g = act[j]
                sib = pfx[j] + ("0" if taken[j] == "1" else "1")
                seeds.setdefault((trees[g], sib), []).append(rows[g])
        return {
            key: (np.asarray(r, np.int64), np.ones(len(r), np.int8))
            for key, r in seeds.items()
        }

    def tree_nodes(t, rows):
        """Tree ``t``'s node map as ``descend`` and ``level_walk`` take
        it, (k2i, C, c, n), from its node rows: a pandas frame, or the
        tree's directory ``{path}/nodes/tree_id=T`` of a persisted
        index, read with pyarrow. ``C`` is one (nodes × dim) matrix in
        the stored dtype, cut from the coeffs column's flattened values;
        a compact index's float32 coeffs upcast exactly inside ``fold``.
        A missing directory is a tree with no inner node: the empty
        map, under which every query stays at the root leaf ""."""
        cols = ["node_path", "coeffs", "constant", "coeff_norm"]
        if isinstance(rows, str):
            try:
                tb = pq.read_table(rows, columns=cols)
            except FileNotFoundError:
                return {}, np.zeros((0, 0)), np.zeros(0), np.zeros(0)
        else:
            tb = pa.Table.from_pandas(rows[cols], preserve_index=False)
        coeffs = tb.column("coeffs").combine_chunks()
        return (
            {(t, p): i for i, p in enumerate(tb.column("node_path").to_pylist())},
            coeffs.flatten().to_numpy().reshape(len(coeffs), -1),
            tb.column("constant").to_numpy().astype(np.float64),
            tb.column("coeff_norm").to_numpy().astype(np.float64),
        )

    def leaf_frame(reached, ids, id_col):
        """``descend``'s reached leaves as rows (id_col, tree_id,
        leaf_path), ``ids`` mapping row indices to ids."""
        sizes = [len(idx) for _, _, idx in reached]
        return pd.DataFrame(
            {
                id_col: np.concatenate(
                    [ids[idx] for _, _, idx in reached] or [ids[:0]]
                ),
                "tree_id": np.repeat(
                    np.array([t for t, _, _ in reached], np.int32), sizes
                ),
                "leaf_path": np.repeat(
                    np.array([p for _, p, _ in reached], dtype=object), sizes
                ),
            }
        )

    def sq_dist_fold(Q, X, qi, xi):
        """Σ (qᵢ − xᵢ)² for each pair (Q[qi], X[xi]) as ``fold`` —
        bit-identical to ``sq_euc_dist``."""
        out = np.empty(len(qi))
        # pairs per block: at most 4M difference elements (32 MB) at once
        step = max(1, (1 << 22) // max(Q.shape[1], 1))
        for s in range(0, len(qi), step):
            d = (Q[qi[s:s + step]] - X[xi[s:s + step]]).T
            out[s:s + step] = fold(d, d)
        return out

    def ranked(q, c, dist, k):
        """The rows ranked ≤ k by (dist, c) within each q, with their
        ranks from 1 (the Spark plan's ``row_number()`` window)."""
        order = np.lexsort((c, dist, q))
        q, c, dist = q[order], c[order], dist[order]
        first = np.flatnonzero(np.r_[True, q[1:] != q[:-1]])
        rnk = np.arange(len(q)) - np.repeat(first, np.diff(np.r_[first, len(q)])) + 1
        top = rnk <= k
        return q[top], c[top], dist[top], rnk[top]

    def leaf_pairs(pdf, k):
        """All-pairs over ONE leaf group of (vec_id, v, m) rows: every
        row (a member, or a spill visitor with m false) against every
        member of another id, scored with ``sq_dist_fold``; a pair met
        twice keeps its least distance (the Spark plan's min), and each
        query keeps its top k by (dist, vec_id)."""
        vecs = pdf["v"]
        if vecs.isna().any() or vecs.map(len).nunique() > 1:
            raise ValueError(
                "all_pairs_rp_forest: null or ragged member vectors in leaf "
                f"{pdf['leaf_path'].iloc[0]!r} of tree {pdf['tree_id'].iloc[0]}"
            )
        X = np.stack(vecs.to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy(np.int64)
        mem = np.flatnonzero(pdf["m"].to_numpy())
        qi, xi = np.repeat(np.arange(len(ids)), len(mem)), np.tile(mem, len(ids))
        keep = ids[qi] != ids[xi]
        qi, xi = qi[keep], xi[keep]
        q, c, dist = ids[qi], ids[xi], sq_dist_fold(X, X, qi, xi)
        order = np.lexsort((dist, c, q))
        q, c, dist = q[order], c[order], dist[order]
        once = np.r_[True, (q[1:] != q[:-1]) | (c[1:] != c[:-1])][:len(q)]
        q, c, dist, _ = ranked(q[once], c[once], dist[once], k)
        return pd.DataFrame({"query_id": q, "vec_id": c, "dist": dist})

    def top_k(qid, Q, nodes, leaves, cids, X, num_trees, k, backfill,
              exclude_self, margin, max_spills):
        """Per query: descend every tree, gather the reached leaves'
        members plus, for a leaf under k members, every member under
        its sibling prefix (the ``_finish_search`` backfill); keep the
        distinct candidates present in the corpus (ids ``cids``
        ascending, rows of ``X``), minus the query itself under
        ``exclude_self``; score them and emit the top k by
        (dist, vec_id) with ``rnk`` — the Spark plan's rows exactly.
        ``leaves`` is ``LocalLeaves``' (ids, span, trees)."""
        ids, span, trees = leaves
        if Q.shape[1] != X.shape[1]:
            raise ValueError(
                f"search_rp_forest: {Q.shape[1]}-d queries against a "
                f"{X.shape[1]}-d corpus"
            )
        parts: list = [[] for _ in range(len(qid))]
        for t, path, idx in descend(nodes, Q, num_trees, margin, max_spills):
            s, e = span.get((t, path), (0, 0))
            got = ids[s:e]
            if backfill and len(got) < k and path:
                # every leaf under the sibling prefix: one contiguous
                # slice of ``ids`` ("2" sorts after "0" and "1")
                sib = path[:-1] + ("0" if path[-1] == "1" else "1")
                paths, ss, es = trees.get(t, ((), (), ()))
                lo, hi = bisect_left(paths, sib), bisect_left(paths, sib + "2")
                if lo < hi:
                    got = np.concatenate([got, ids[ss[lo]:es[hi - 1]]])
            for i in idx:
                parts[i].append(got)
        rows_q, rows_id, rows_x = [], [], []
        for i, got in enumerate(parts):
            c = np.unique(np.concatenate(got)) if got else np.empty(0, np.int64)
            pos = np.minimum(np.searchsorted(cids, c), len(cids) - 1)
            keep = cids[pos] == c
            if exclude_self:
                keep &= c != qid[i]
            rows_q.append(np.full(int(keep.sum()), i))
            rows_id.append(c[keep])
            rows_x.append(pos[keep])
        row_q = np.concatenate(rows_q)
        row_id = np.concatenate(rows_id)
        row_q, row_id, dist, rnk = ranked(
            row_q, row_id, sq_dist_fold(Q, X, row_q, np.concatenate(rows_x)), k
        )
        return pd.DataFrame(
            {"query_id": qid[row_q], "vec_id": row_id, "dist": dist, "rnk": rnk}
        )

    return (
        query_matrix, fold, leaf_pairs, descend, level_walk, tree_nodes,
        leaf_frame, top_k,
    )


def _route_local(
    forest: RPForest,
    queries: DataFrame,
    spill_margin: float,
    max_spills: int,
) -> DataFrame:
    """Broadcast-node-map descent (the small/medium-index fast path):
    the forest's driver-side node map ships once (``sc.broadcast``) and
    every (query, tree) descends in ONE narrow mapInPandas pass
    (``_worker_kernels``' descend). Semantics identical to the
    join-chain descent."""
    bc = queries.sparkSession.sparkContext.broadcast(forest.local_nodes())
    query_matrix, *_, descend, _, _, leaf_frame, _ = _worker_kernels()
    num_trees = forest.num_trees
    margin = float(spill_margin)

    def _route(batches):
        nodes = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield leaf_frame(
                descend(nodes, query_matrix(pdf), num_trees, margin, max_spills),
                pdf["query_id"].to_numpy(), "query_id",
            )

    return queries.select("query_id", "query_vec").mapInPandas(
        _route, "query_id long, tree_id int, leaf_path string"
    )


def _materialize_and_release(routed: DataFrame, bc) -> DataFrame:
    """Eagerly checkpoint a slim output, then DESTROY the broadcast it
    closed over (ADVICE r8): the tree-local route's query matrix and
    the one-pass search's corpus matrix go up to the 256 MB query gate,
    and a lazy return would keep that payload pinned on executors until
    driver GC happens to run — repeated searches in a long-lived
    session accumulate them. The pass is the expensive part and every
    caller consumes its output exactly once, so paying it here costs
    nothing extra (and protects double-consumers from re-running it);
    the checkpointed blocks — (query_id, tree_id, leaf_path) triples or
    the top-k rows — are orders of magnitude smaller than the broadcast
    they release."""
    routed = routed.localCheckpoint(eager=True)
    bc.destroy(blocking=False)
    return routed


def _per_node_bytes(forest: RPForest) -> int:
    """Estimated bytes per node row — dominated by the coeffs array, so
    size from the ACTUAL dimensionality (a 300-d node is ~2.5 KB, 4× a
    64-d one; a hardcoded guess would push near-GB node tables through
    broadcast). Shared by every routing gate so the estimates agree."""
    return (forest.dim or 64) * 8 + 120


def auto_tree_batches(
    forest: RPForest, n_corpus: int, spill_margin: float = 0.0
) -> "tuple[int, int, int]":
    """Size ``all_pairs_rp_forest``'s ``tree_batches`` from a disk
    budget (VERDICT r10 #3 — moves the measured "≥ 10 at 250k, ≥ 20
    with spill-frac ≥ 0.45 on a ~33 GB scratch disk" operating points
    out of round-notes folklore and into the operator). Returns
    ``(B, est_bytes, budget_bytes)``.

    The co-locating exchange ships |corpus| × num_trees embedding-sized
    rows (``_per_node_bytes`` — the same estimator every routing gate
    uses, so the numbers agree); a spill margin adds visitor rows, up
    to ~1× the member volume at the measured frac-0.45 point, so
    ``spill_margin > 0`` doubles the estimate (the conservative end of
    the measured range). The budget is ``SPARK_GRAFT_SHUFFLE_BUDGET_MB``
    when set — on a real cluster, set it to a fraction of ONE
    executor's scratch volume — else one tenth of the free space on the
    driver-visible Spark local dir (honest in local mode where driver
    and executors share the disk). The 10× headroom over the naive
    estimate covers what the estimate cannot see: map- AND reduce-side
    shuffle copies, the slim top-k window exchange, accumulated
    per-chunk localCheckpoint blocks, and the ASYNC shuffle-file
    release lagging up to a full chunk — calibrated so the measured
    r10 points reproduce (250k plain → B≈10, 250k spill → B≈20 on the
    33 GB-free container; both completed, while unbatched runs filled
    the disk twice).

    TREES-PER-CHUNK FLOOR (VERDICT r11 #1): each chunk pays FIXED
    costs — the member exchange setup and the per-chunk node-table
    side-load — that multiply with B, so a footprint-only B is
    wall-pathological exactly when disk is tight (measured: free
    scratch down to ~22 GB resolved B=81 ≈ 2 trees/chunk on a 150-tree
    forest, and a large share of that run's 7,205 s wall was batching
    overhead, not search). When the budget is DERIVED from free disk —
    a heuristic with 10× headroom already built in — B is capped so
    every chunk keeps at least ``SPARK_GRAFT_MIN_TREES_PER_CHUNK``
    trees (default 5), with a RuntimeWarning when the cap binds (the
    per-chunk footprint then exceeds the derived budget: free scratch,
    or set the budget explicitly). The floor never DISABLES batching:
    a cap of 1 chunk would re-enable the unbatched disk-fill failure
    this sizing exists to prevent, and a small-tree footprint B is
    never pathological (fixed costs multiply at most × num_trees), so
    the cap only engages from 2 chunks up. An EXPLICIT env budget is a
    hard user constraint and is never overridden — the floor only
    warns there. Acceptance (BASELINE r12): the same 150-tree + frac-0.15
    run that read 28.8 ms/q at B=81 reads 15.86 ms/q at the
    floor-capped B=30 — −45% wall at identical recall 0.643, completed
    on a 36 GB-free disk at a naive ~5.9 GB/chunk."""
    import math
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile
    import warnings as _warnings

    def _env_int(name: str, default: "int | None") -> "int | None":
        raw = _os.environ.get(name)
        if raw is None:
            return default
        try:
            # accept "300.5"; reject "8g"/"inf" loudly (OverflowError:
            # int(float("inf")) is not a ValueError)
            return int(float(raw))
        except (ValueError, OverflowError):
            raise ValueError(
                f"{name}={raw!r} is not a finite number — expected an "
                f"integer (MB for budgets, a count for floors); unset "
                f"it or fix the value"
            ) from None

    per_row = _per_node_bytes(forest)
    est = int(
        n_corpus * max(forest.num_trees, 1) * per_row
        * (2.0 if spill_margin and float(spill_margin) > 0.0 else 1.0)
    )
    mb = _env_int("SPARK_GRAFT_SHUFFLE_BUDGET_MB", None)
    explicit_budget = mb is not None
    if explicit_budget:
        budget = mb * 1024 * 1024
    else:
        free = None  # no session to name the local dir
        if forest.leaves is not None:
            tmp = _tempfile.gettempdir()
            local_dir = (
                forest.leaves.sparkSession.conf.get("spark.local.dir", tmp)
                or tmp
            ).split(",")[0]
            try:
                free = _shutil.disk_usage(local_dir).free
            except OSError:  # a missing or unreadable local dir
                free = None
        # no disk probe: assume 8 GB
        budget = 8 * 1024 * 1024 * 1024 if free is None else free // 10
        # floor the DERIVED budget (not an explicit env value) at
        # 256 MB: a nearly-full disk must not flip small-corpus plans
        # (whose whole exchange is a few MB) into eager multi-chunk
        # runs — laziness of small plans should not depend on how full
        # the host's scratch happens to be. Explicit env settings are
        # taken at face value, including 0 to disable batching.
        budget = max(budget, 256 * 1024 * 1024)
    if budget <= 0:
        return 1, est, budget
    n_trees = max(forest.num_trees, 1)
    B = min(max(1, math.ceil(est / budget)), n_trees)
    min_tpc = max(_env_int("SPARK_GRAFT_MIN_TREES_PER_CHUNK", 5), 1)
    # floor division, not ceil: b_cap chunks of n_trees must each hold
    # >= min_tpc trees (ceil(151/5)=31 would give 4.87-tree chunks,
    # quietly below the promised floor). A cap of 1 would DISABLE
    # batching outright — on a small-tree forest over a huge corpus
    # that re-enables the unbatched disk-fill failure auto-batching
    # exists to prevent, and a small-tree footprint B is never
    # pathological anyway (fixed costs multiply at most x num_trees) —
    # so the floor only engages from 2 chunks up.
    b_cap = n_trees // min_tpc
    if b_cap >= 2 and B > b_cap:
        if explicit_budget:
            # a hard user constraint: honor it, but don't degrade
            # silently — per-chunk fixed costs now multiply ×B
            _warnings.warn(
                f"auto_tree_batches: the explicit "
                f"SPARK_GRAFT_SHUFFLE_BUDGET_MB budget forces "
                f"{B} chunks (<{min_tpc} trees/chunk on {n_trees} "
                f"trees); per-chunk fixed costs (member exchange, "
                f"node side-load) multiply with the chunk count — "
                f"expect wall degradation. Raise the budget to reduce "
                f"chunks.",
                RuntimeWarning,
                stacklevel=2,
            )
        else:
            # derived budget = free/10, a heuristic with 10× headroom:
            # cap B at the floor and warn that the margin is thinner
            _warnings.warn(
                f"auto_tree_batches: free scratch would resolve "
                f"{B} chunks (<{min_tpc} trees/chunk on {n_trees} "
                f"trees) — capping at {b_cap} to bound per-chunk fixed "
                f"costs. Each chunk's exchange "
                f"(~{est / b_cap / 2**30:.1f} GB naive estimate) now "
                f"exceeds a tenth of free space; free scratch disk, or "
                f"set SPARK_GRAFT_SHUFFLE_BUDGET_MB / "
                f"SPARK_GRAFT_MIN_TREES_PER_CHUNK=1 to choose the "
                f"trade explicitly.",
                RuntimeWarning,
                stacklevel=2,
            )
            B = b_cap
    return B, est, budget


def node_table_broadcastable(forest: RPForest) -> bool:
    """True when ``route_queries`` takes the broadcast-map fast path
    (node table under SPARK_GRAFT_BC_NODES_MB).
    Callers that supply a lazy ``n_queries`` thunk can consult this to
    stay count-free on shallow indexes — the broadcast path evaluates
    the thunk for partition right-sizing, which fires a count job per
    call (ADVICE r8 follow-up: incremental ingest was paying one extra
    job per micro-batch on exactly the path that never needed it)."""
    import os as _os

    gate = int(_os.environ.get("SPARK_GRAFT_BC_NODES_MB", "256")) * 1024 * 1024
    return (
        forest.node_count == 0
        or forest.node_count * _per_node_bytes(forest) < gate
    )


def _self_rep_mapping(forest, corpus, id_col: str, vec_col: str):
    """Self-search duplicate handling for ``all_pairs_rp_forest``: the
    build dedups identical embeddings (``src/lib.rs:64-92``), so corpus
    rows EXCLUDED from the index must inherit their representative's
    results. Returns ``(n_corpus, mapping)`` where mapping is the full
    (query_id → rep_id) table, or ``None`` when every corpus row is
    already an index member and no expansion is needed (including
    corpora with internal duplicates whose twins were all indexed,
    e.g. raw-ingested leaves).

    The membership test is two SLIM counts — corpus rows vs DISTINCT
    leaf member ids (distinct, not rows-per-tree, so a leaf table whose
    one-row-per-(tree, member) invariant was broken — e.g. a
    double-appended ingest — cannot offset against excluded corpus rows
    and mis-report full membership) — so dup-free corpora, the common
    case, never pay the corpus-wide groupBy(embedding) exchange that
    building the mapping costs. Assumes ``corpus`` is the table the
    index was built on / ingested from (the self-search contract), i.e.
    member ids ⊆ corpus ids.

    The mapping covers only corpus rows NOT in the index: a row whose
    embedding duplicates a member but which IS itself a leaf member
    gets its results natively from leaf co-membership — expanding it
    too would hand it a self-match at distance 0 and duplicate rows.

    The contract (member ids ⊆ corpus ids) is CHECKED on the
    equal-count path, not assumed: offsetting violations — a member
    missing from the corpus masked by one extra corpus row — would
    otherwise pass the count test silently and produce wrong
    self-search results. The check is an id-only anti-join; proving it
    EMPTY (the healthy case) does evaluate the full join, but both
    sides are slim ids the surrounding counts already scanned — one
    extra id-shuffle job per self-search call buys a loud contract
    (ADVICE r9)."""
    n_corpus = corpus.count()
    n_members = forest.leaves.select("vec_id").distinct().count()
    if n_corpus == n_members:
        strays = forest.leaves.select("vec_id").distinct().join(
            corpus.select(F.col(id_col).alias("vec_id")), "vec_id", "left_anti"
        )
        if not strays.isEmpty():
            raise ValueError(
                "self-search contract violated: the index holds member "
                "ids absent from the supplied corpus (counts matched "
                "only by offset). Pass the table the index was built "
                "on / ingested from."
            )
        return n_corpus, None
    reps = corpus.groupBy(vec_col).agg(F.min(id_col).alias("rep_id"))
    mapping = (
        corpus.join(reps, vec_col)
        .select(F.col(id_col).alias("query_id"), "rep_id")
        .join(
            forest.leaves.select(F.col("vec_id").alias("query_id")),
            "query_id",
            "left_anti",
        )
    )
    return n_corpus, mapping


def _route_tree_local(
    forest: RPForest,
    queries: DataFrame,
    spill_margin: float,
    max_spills: int,
) -> DataFrame:
    """Tree-sharded descent — the DEEP-index twin of ``_route_local``
    with the broadcast direction inverted (VERDICT r7 #3): when the node
    table is too big to broadcast but the query batch is bounded,
    broadcast the query matrix, let each task hold whole trees, and
    descend every query through one tree at a time in one local
    batched-frontier pass. Depth falls out of the cost model entirely:
    no per-level scans, joins, or broadcast barriers — O(n_queries ·
    depth) node touches per tree, output is the slim routed triple.
    This is the 1000-executor shape: trees spread across the cluster,
    each executor descends the (tiny) query set for its shard.

    A task gets each tree's node map from ``_worker_kernels``'
    ``tree_nodes``, the reader the tree-local spill engine shares. For
    a PERSISTED index (``forest.path`` set) the route is one
    mapInPandas over the tree ids in min(num_trees, 2 × parallelism)
    partitions (2× for scheduling slack against stragglers): each task
    reads its trees' ``{path}/nodes/tree_id=T`` directories one after
    another, so one tree is resident at a time and zero node bytes
    cross an exchange (at the 1M-vector reference target a node-table
    exchange is ~29 GB of shuffle write). An in-memory forest has no
    such layout and ships its node table once through a tree_id
    groupBy instead.

    Semantics identical to ``_route_local`` and the join chain, bit for
    bit (side = n·x + c ≥ 0, ties above, ``src/hyperplane.rs:10``;
    multi-probe spills both children while |n·x + c|/‖n‖ < margin and
    spills < max_spills; n·x is ``fold``'s left fold, whatever element
    type the persisted coeffs have); each (query, tree, leaf_path) is
    emitted at most once by construction."""
    import numpy as np

    spark = queries.sparkSession
    schema = "query_id long, tree_id int, leaf_path string"
    qpdf = queries.select("query_id", "query_vec").toPandas()
    if qpdf.empty:
        return spark.createDataFrame([], schema)
    query_matrix, *_, descend, _, tree_nodes, leaf_frame, _ = _worker_kernels()
    bc = spark.sparkContext.broadcast(
        (qpdf["query_id"].to_numpy(np.int64), query_matrix(qpdf))
    )
    margin = float(spill_margin)

    def _descend(t, rows):
        """Every query from the root of tree ``t``, whose node rows are
        ``rows`` (see ``tree_nodes``)."""
        qid, Q = bc.value
        root = {(t, ""): (np.arange(len(qid)), np.zeros(len(qid), np.int8))}
        return leaf_frame(
            descend(tree_nodes(t, rows), Q, 1, margin, max_spills, frontier=root),
            qid, "query_id",
        )

    if forest.path is not None:
        nodes_root = f"{forest.path}/nodes"

        def _route(batches):
            for pdf in batches:
                for t in pdf["tree_id"]:
                    yield _descend(int(t), f"{nodes_root}/tree_id={t}")

        par = spark.sparkContext.defaultParallelism
        routed = spark.range(
            forest.num_trees, numPartitions=min(forest.num_trees, 2 * par)
        ).select(F.col("id").cast("int").alias("tree_id")).mapInPandas(
            _route, schema
        )
    else:
        # NB: a tree with zero inner nodes would form no group here (its
        # root leaf "" would drop) — unreachable by construction: every
        # tree splits the same corpus, so node_count > 0 (the route
        # gate) implies every tree has a root hyperplane
        routed = (
            forest.nodes.select(
                "tree_id", "node_path", "coeffs", "constant", "coeff_norm"
            )
            .groupBy("tree_id")
            .applyInPandas(lambda key, pdf: _descend(int(key[0]), pdf), schema)
        )
    return _materialize_and_release(routed, bc)


def _right_size(queries: DataFrame, n_queries: int) -> DataFrame:
    """Narrow-coalesce a query set for a per-partition Python pass:
    ≥ 64 queries per task keeps the batched frontier vectorized
    (10-query batches over 32 partitions measured slower), while
    corpus-as-queries batches spread over all cores. Never raises the
    partition count."""
    par = queries.sparkSession.sparkContext.defaultParallelism
    want = max(1, min(par, -(-n_queries // 64)))
    try:
        cur_parts = queries.rdd.getNumPartitions()
    except Exception:
        # .rdd is unavailable under Spark Connect — skip the
        # right-sizing rather than fail the whole search
        return queries
    return queries.coalesce(want) if want < cur_parts else queries


def _queries_gate_bytes() -> int:
    """The query broadcast gate, SPARK_GRAFT_BC_QUERIES_MB (default
    256), in bytes."""
    import os as _os

    return int(_os.environ.get("SPARK_GRAFT_BC_QUERIES_MB", "256")) * 1024 * 1024


def route_queries(
    forest: RPForest,
    queries: DataFrame,
    spill_margin: float | str = 0.0,
    max_spills: int = 2,
    n_queries: "int | Callable[[], int] | None" = None,
) -> DataFrame:
    """Descend every (query, tree) pair to its leaf. Returns
    (query_id, tree_id, leaf_path). The size gates pick the route:
    the broadcast node map (``_route_local``) while the node table is
    under SPARK_GRAFT_BC_NODES_MB; else the tree-local descent
    (``_route_tree_local``; a persisted index's trees are read inside
    the tasks by ``_worker_kernels``' ``tree_nodes``) while the query
    batch is under SPARK_GRAFT_BC_QUERIES_MB and the largest tree fits
    one task; else the per-level join chain. All three compute n·x
    with the same left fold from 0.0 (``_worker_kernels``' ``fold`` and
    Catalyst's ``dot``), the DuckDB oracle's ``list_reduce`` order, so
    they reach the same leaves bit for bit. The broadcast and join routes
    are lazy — no job until consumed; the tree-local route is EAGER:
    it collects the query matrix, runs the descent, and checkpoints
    the routed triples so its query-matrix broadcast can be destroyed
    immediately (ADVICE r8) instead of pinning executor memory until
    driver GC.

    Multi-probe (``spill_margin`` > 0): when the query lies within
    ``spill_margin`` geometric distance of a split plane (|n·x + c|/‖n‖),
    BOTH children are descended (up to ``max_spills`` spills per tree
    path, so ≤ 2^max_spills leaves per tree). This is the batch analog
    of Annoy's priority-queue descent: near-boundary queries are exactly
    the ones whose true neighbors sit on the other side of the plane, so
    spilling there buys far more recall per candidate than adding whole
    trees. A node whose normal is zero (‖n‖ = 0: twin pivots, possible
    in a ``dedup=False`` build) never spills, on every route."""
    if spill_margin == "auto":
        spill_margin = resolve_spill_margin(queries)
    spark = queries.sparkSession
    # broadcast the node table only while it is modestly sized; a
    # billion-row index has ~N/leaf hyperplanes — far past broadcast
    # range — so deep indexes route via shuffle joins on
    # (tree_id, node_path) instead.
    # per-node payload is dominated by the coeffs array — size it from the
    # ACTUAL dimensionality (a 300-d node is ~2.5 KB, 4× a 64-d one; a
    # hardcoded guess would push near-GB node tables through broadcast)
    per_node = _per_node_bytes(forest)
    # default gate 256 MB; deployments with fat executors can raise it
    # (SPARK_GRAFT_BC_NODES_MB) — e.g. a 1M-node/300-d index is ~2.5 GB,
    # still far cheaper to ship once than to re-shuffle per level when
    # the query batch is small
    import os as _os

    use_broadcast = node_table_broadcastable(forest)
    if use_broadcast and forest.node_count > 0:
        # FAST PATH: ship the whole node map once (sc.broadcast) and
        # descend every (query, tree) in ONE narrow mapInPandas pass —
        # no per-level joins, no shuffles; executors hold the map once.
        # Right-size THIS path's partitioning when the caller supplied
        # the query count: the descent is Python CPU per partition, and
        # tiny partitions pay per-task Arrow/worker overhead while
        # giving the batched frontier nothing to vectorize over (a
        # 10-query batch over 32 fixture partitions = 32 near-empty
        # Python tasks). Narrow coalesce only, never above the current
        # partition count. The JOIN-CHAIN path below must NOT be
        # coalesced — its per-level broadcast joins are JVM work that
        # wants full parallelism (measured: coalescing 100 queries to 1
        # partition turned the 1.6M-node depth-32 descent from ~111 s
        # into ~506 s).
        # n_queries may be a lazy thunk (search_rp_forest memoizes the
        # count so it only runs when a path actually needs it — ADVICE r5)
        nq = n_queries() if callable(n_queries) else n_queries
        if nq is not None:
            queries = _right_size(queries, nq)
        return _route_local(forest, queries, float(spill_margin), max_spills)
    # DEEP index, bounded query batch: invert the broadcast — broadcast
    # the queries and descend them locally per tree, each task holding
    # whole trees (depth-independent; no per-level scans/joins). Gated on (a)
    # the query payload fitting the broadcast budget and (b) one tree's
    # nodes fitting a single task (billion-scale per-tree shards fall
    # back to the join-chain below).
    task_gate = (
        int(_os.environ.get("SPARK_GRAFT_TREE_TASK_MB", "2048")) * 1024 * 1024
    )
    # one task holds one WHOLE tree — gate on the largest tree, not
    # the mean: a skew-built forest (uneven batched depths) can have
    # a single tree far past the task budget while the average looks
    # safe (ADVICE r8). max_tree_nodes comes free from the build/load
    # stats scan; 0 means an exotically-constructed forest — fall
    # back to the mean estimate rather than refuse the route.
    biggest_tree = forest.max_tree_nodes or (
        forest.node_count // max(forest.num_trees, 1)
    )
    # evaluate the COUNT-FREE conditions first: n_queries may be a
    # lazy thunk whose count job should not fire when the node-size
    # gates already reject the tree-local route (ADVICE r8 — the
    # join-chain fallback was previously count-free).
    if forest.node_count > 0 and biggest_tree * per_node < task_gate:
        nq_val = n_queries() if callable(n_queries) else n_queries
        if nq_val is not None and nq_val * per_node < _queries_gate_bytes():
            return _route_tree_local(
                forest, queries, float(spill_margin), max_spills
            )
    hint = F.broadcast if use_broadcast else (lambda df: df)
    trees = spark.range(forest.num_trees).select(
        F.col("id").cast("int").alias("tree_id")
    )
    active = queries.crossJoin(trees).select(
        "tree_id",
        F.lit("").alias("node_path"),
        "query_id",
        "query_vec",
        F.lit(0).alias("spills"),
    )
    nodes = forest.nodes
    # per-level selection: a persisted index (operators/index.py batched
    # write) carries a materialized `lvl` column with lvl-sorted row
    # groups, so the equality filter PUSHES into the parquet scan and
    # prunes ~(depth-1)/depth of every level's read — the join-chain
    # descent over a parquet-backed index otherwise re-scans the whole
    # node table once per level (measured: the dominant search cost at
    # the 250k/1M probe scale). length(node_path) is the in-memory
    # fallback (not pushable; fine for block-backed forests).
    has_lvl = "lvl" in nodes.columns
    # NB (r8): a per-level broadcast variant of this chain (semi-filter
    # each level's nodes to the frontier keys, broadcast the survivors
    # into the left-outer step) was built and probed at 250k/4M-nodes —
    # and REMOVED: 32 levels of nested broadcast subtrees serialize the
    # whole chained plan into every task binary, and task
    # DESERIALIZATION (recursive ObjectInputStream over the nested
    # graph) ran 14+ min per task before any work (jstack evidence).
    # Bounded query batches take _route_tree_local above instead; this
    # shuffle chain remains the fallback for frontiers too big to
    # broadcast (corpus-as-queries on an un-shardable index).
    routed_parts: list[DataFrame] = []
    for depth in range(forest.max_depth):
        level_nodes = nodes.filter(
            (F.col("lvl") == depth)
            if has_lvl
            else (F.length("node_path") == depth)
        )
        stepped = active.join(
            hint(level_nodes), ["tree_id", "node_path"], "left"
        )
        # no matching inner node at this depth ⇒ current path is a leaf
        routed_parts.append(
            stepped.filter(F.col("constant").isNull()).select(
                "query_id", "tree_id", F.col("node_path").alias("leaf_path")
            )
        )
        matched = stepped.filter(F.col("constant").isNotNull()).withColumn(
            "side",
            F.when(
                point_is_above(
                    F.col("coeffs"), F.col("constant"), F.col("query_vec")
                ),
                F.lit("1"),
            ).otherwise(F.lit("0")),
        )
        main_child = F.struct(
            F.concat(F.col("node_path"), F.col("side")).alias("p"),
            F.col("spills").alias("s"),
        )
        if spill_margin > 0.0:
            from ..functions.vector import dot as _dot

            # NULL at a zero-norm node (twin pivots): no spill there,
            # as the numpy routes skip it
            plane_dist = F.abs(
                (_dot("coeffs", "query_vec") + F.col("constant"))
                / F.nullif("coeff_norm", F.lit(0.0))
            )
            other_child = F.struct(
                F.concat(
                    F.col("node_path"),
                    F.when(F.col("side") == "1", F.lit("0")).otherwise(F.lit("1")),
                ).alias("p"),
                (F.col("spills") + 1).alias("s"),
            )
            # EMIT both children from one row (explode) — a union of two
            # branches would duplicate the whole upstream subtree in the
            # physical plan, doubling work per level (2^depth blowup)
            children = F.when(
                (plane_dist < F.lit(spill_margin)) & (F.col("spills") < max_spills),
                F.array(main_child, other_child),
            ).otherwise(F.array(main_child))
        else:
            children = F.array(main_child)
        active = matched.select(
            "tree_id",
            "query_id",
            "query_vec",
            F.explode(children).alias("_c"),
        ).select(
            "tree_id",
            F.col("_c.p").alias("node_path"),
            "query_id",
            "query_vec",
            F.col("_c.s").alias("spills"),
        )
        # LINEAGE TRUNCATION every few levels in the lazy deep-index
        # chain: a depth-32 chain over a 16M-node table produced a
        # logical plan Catalyst's optimizer (MergeScalarSubqueries
        # rewrite) chewed on for 39 CPU-MINUTES at the 1M × 300-d probe
        # — a driver-side planning explosion, not an execution cost.
        # Checkpointing every 8 levels bounds each job's plan to an
        # 8-level suffix while keeping the materialization count low
        # (the per-level variant measured slower at probe scale).
        if depth % 8 == 7:
            active = active.localCheckpoint(eager=True)
    # rows that descended past the deepest hyperplane level are at leaves
    routed_parts.append(
        active.select("query_id", "tree_id", F.col("node_path").alias("leaf_path"))
    )
    routed = routed_parts[0]
    for df in routed_parts[1:]:
        routed = routed.unionByName(df)
    # the union stacks (levels × partitions) map tasks — hundreds of
    # near-empty tasks; narrow-merge them back to cluster parallelism
    # before the dedup shuffle
    routed = routed.coalesce(spark.sparkContext.defaultParallelism)
    return routed.dropDuplicates(["query_id", "tree_id", "leaf_path"])


def search_rp_forest(
    forest: RPForest,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    backfill: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    spill_margin: float | str = "auto",
    max_spills: int = 2,
) -> DataFrame:
    """Approximate top-k (O9+O10+O12). ``queries`` has (query_id,
    query_vec); returns (query_id, vec_id, dist, rnk).

    ONE RULE picks the plan. When the forest's node map fits the
    node-map gate (``node_table_broadcastable``, SPARK_GRAFT_BC_NODES_MB)
    and the corpus and the leaf table together fit the query broadcast
    gate (``_one_pass_max_rows``: corpus rows × (dim doubles + num_trees
    leaf ids) plus the per-leaf entries, under SPARK_GRAFT_BC_QUERIES_MB,
    default 256), the search
    is ONE mapInPandas pass over the queries (``_search_local``) — the
    reference's single descent plus in-memory re-rank
    (``src/lib.rs:105-149``). It reads the forest's driver-side node
    map and leaf table (``RPForest.local_nodes`` / ``local_leaves``,
    collected once per forest object and shared with ``needs_rebuild``)
    and a driver copy of the corpus; its output equals the Spark plan's
    bit for bit, dist bits included, and is checkpointed before it
    returns so the corpus broadcast can be destroyed.

    Otherwise — an index over the node gate, or a corpus over the
    query gate — the Spark plan runs: ``route_queries`` (see its
    routes), then ``_finish_search`` (leaf-membership join,
    sibling-prefix backfill, distinct, Catalyst re-rank, top-k
    window). Every route sums n·x in the same order, so both plans
    return the same rows whichever route ran, and the DuckDB oracle
    replays them hash for hash.

    RECALL DIALS for point queries (measured, r13 hard-regime sweep —
    BASELINE.md): widen ``spill_margin`` FIRST, add trees only past
    its saturation — 50 trees + frac 0.6 matches 100 trees + auto at
    matched recall (~0.93 vs 0.91) at lower wall and half the
    footprint, and 100 trees + frac 0.6 matches the full 215-tree
    index (0.992 vs 0.991). This is the OPPOSITE of the all-pairs
    guidance (see ``all_pairs_rp_forest``): a point query pays spill
    cost once per near-plane descent, while extra trees each cost a
    full extra routing descent."""
    # the query count, shared by the partition right-sizing of the
    # Python passes, the tree-local route gate and the re-rank's
    # broadcast gate: it rides on the "auto" spill margin's aggregate,
    # else a memoized count job that runs at most once (ADVICE r5).
    _nq: list[int] = []

    def _n_queries() -> int:
        if not _nq:
            _nq.append(queries.count())
        return _nq[0]

    if spill_margin == "auto":
        n, spill_margin = _query_stats(queries)
        _nq.append(n)
    local = _one_pass_inputs(forest, corpus, id_col, vec_col)
    if local is not None:
        return _search_local(
            forest, *local, _right_size(queries, _n_queries()), k, backfill,
            exclude_self, float(spill_margin), max_spills,
        )
    routed = route_queries(
        forest, queries, spill_margin, max_spills, n_queries=_n_queries
    )
    return _finish_search(
        forest, corpus, queries, routed, k, backfill, id_col, vec_col,
        exclude_self, _n_queries,
    )


# bytes per leaf in the one-pass search's shipped leaf table, besides
# 8 B per member id: its span entry and its path in the per-tree lists
# (194 B pickled, measured on a 100k-vector 16-tree forest)
_LEAF_ENTRY_BYTES = 200


def _one_pass_max_rows(forest: RPForest) -> int:
    """The most corpus rows the one-pass search holds under
    SPARK_GRAFT_BC_QUERIES_MB. A row costs its vector
    (``_per_node_bytes``) plus its ``num_trees`` 8-byte ids in the leaf
    table; the leaf table's per-leaf entries (one leaf per inner node
    plus one per tree) come off the top. At 64-d and 16 trees, a forest
    built with the defaults fits ~288k rows."""
    n_leaves = forest.node_count + forest.num_trees
    per_row = _per_node_bytes(forest) + 8 * forest.num_trees
    return (_queries_gate_bytes() - n_leaves * _LEAF_ENTRY_BYTES) // per_row


def _one_pass_inputs(
    forest: RPForest,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
):
    """(leaf table, corpus ids ascending, float64 corpus matrix in that
    order) when ``search_rp_forest``'s one-pass rule applies, else None.
    No count job: the leaf table (``RPForest.local_leaves``) and the
    corpus are fetched with a limit one row past their share of
    ``_one_pass_max_rows``, so an index or corpus over the gate costs a
    bounded partial fetch (once per forest object for the leaf table)
    and never a full collect. A corpus the kernel could not score
    exactly as the Spark plan does — null, duplicate or non-integer ids,
    null, ragged or NaN vectors (Catalyst ranks a null distance first) —
    also returns None and takes the Spark plan."""
    import numpy as np
    import pandas as pd

    if forest.node_count == 0 or not node_table_broadcastable(forest):
        return None
    cap = _one_pass_max_rows(forest)
    if cap <= 0:
        return None
    leaves = forest.local_leaves(max_rows=cap * forest.num_trees)
    if leaves is None:
        return None
    pdf = corpus.select(id_col, vec_col).limit(cap + 1).toPandas()
    ids, vecs = pdf[id_col], pdf[vec_col]
    if (
        len(pdf) == 0
        or len(pdf) > cap
        or not pd.api.types.is_integer_dtype(ids)
        or not ids.is_unique
        or vecs.isna().any()
        or vecs.map(len).nunique() != 1
    ):
        return None
    X = np.stack(vecs.to_numpy()).astype(np.float64)
    if np.isnan(X).any():
        return None
    order = np.argsort(ids.to_numpy(np.int64), kind="stable")
    return leaves, ids.to_numpy(np.int64)[order], X[order]


def _search_local(
    forest: RPForest,
    leaves,
    corpus_ids,
    X,
    queries: DataFrame,
    k: int,
    backfill: bool,
    exclude_self: bool,
    margin: float,
    max_spills: int,
) -> DataFrame:
    """The one-pass search (see ``search_rp_forest`` for when it runs):
    the forest's node map and leaf table and the corpus ship in one
    broadcast, and each query batch runs ``_worker_kernels``' top_k.
    The result is checkpointed before it returns and the broadcast
    destroyed (``_materialize_and_release``), so repeated searches in
    one session do not pile up corpus-sized broadcast blocks."""
    import numpy as np

    bc = queries.sparkSession.sparkContext.broadcast(
        (
            forest.local_nodes(),
            (leaves.ids, leaves.span, leaves.trees),
            corpus_ids,
            X,
        )
    )
    query_matrix, *_, top_k = _worker_kernels()
    num_trees = forest.num_trees

    def _search(batches):
        nodes, leaf_table, cids, Xc = bc.value
        for pdf in batches:
            if len(pdf):
                yield top_k(
                    pdf["query_id"].to_numpy(np.int64), query_matrix(pdf),
                    nodes, leaf_table, cids, Xc, num_trees, k, backfill,
                    exclude_self, margin, max_spills,
                )

    return _materialize_and_release(
        queries.select("query_id", "query_vec").mapInPandas(
            _search, "query_id long, vec_id long, dist double, rnk long"
        ),
        bc,
    )


def _finish_search(
    forest: RPForest,
    corpus: DataFrame,
    queries: DataFrame,
    routed: DataFrame,
    k: int,
    backfill: bool,
    id_col: str,
    vec_col: str,
    exclude_self: bool,
    n_queries: "Callable[[], int]",
) -> DataFrame:
    """Candidates + re-rank — the Spark plan of every route: leaf
    membership join, sibling-prefix backfill for underfull leaves,
    DashSet-style distinct (O10), exact re-rank with the per-pair
    Catalyst fold (the bit-exact twin of the DuckDB oracle) + top-k
    window (O11/O12). ``routed`` is (query_id, tree_id, leaf_path).

    The re-rank broadcasts the queries only while they fit
    SPARK_GRAFT_BC_QUERIES_MB: a bounded batch (the reference's
    interactive path, ``src/main.rs:81-93``) is far smaller than the
    candidate set, but corpus-as-queries (``src/main.rs:100-123``) over
    the gate shuffle-hash-joins on ``query_id`` instead (the window
    that follows repartitions on ``query_id`` anyway, so the shuffle is
    reused, not extra)."""
    if backfill:
        # routed feeds BOTH the candidate join and the underfull-leaf
        # scan — materialize once instead of running the whole multi-level
        # descent twice
        routed = routed.localCheckpoint(eager=True)
    leaves = forest.leaves

    cand = routed.join(leaves, ["tree_id", "leaf_path"]).select("query_id", "vec_id")

    if backfill:
        # per routed leaf, if its member count < k pull every leaf under
        # the sibling prefix (src/lib.rs:122-124 batch approximation)
        leaf_sizes = leaves.groupBy("tree_id", "leaf_path").agg(
            F.count(F.lit(1)).alias("leaf_n")
        )
        # leaf_sizes has ~one row per leaf (≈ node_count) — broadcast only
        # while that is small; a billion-row corpus has tens of millions
        # of leaves, far past broadcast range
        sizes_small = forest.node_count < 2_000_000
        size_hint = F.broadcast if sizes_small else (lambda df: df)
        underfull = (
            routed.join(size_hint(leaf_sizes), ["tree_id", "leaf_path"], "left")
            .filter((F.col("leaf_n") < k) | F.col("leaf_n").isNull())
            .filter(F.length("leaf_path") > 0)
            .select(
                "query_id",
                "tree_id",
                F.concat(
                    F.expr("substring(leaf_path, 1, length(leaf_path) - 1)"),
                    F.when(
                        F.expr("substring(leaf_path, length(leaf_path), 1)") == "1",
                        F.lit("0"),
                    ).otherwise(F.lit("1")),
                ).alias("sibling_prefix"),
            )
        )
        # "leaf under sibling prefix" as an EQUI-join: explode each leaf
        # into its ancestor prefixes (bounded by depth) and join on the
        # exact (tree_id, prefix) key. A startswith() predicate here would
        # plan as BroadcastNestedLoopJoin — O(|leaves| × |underfull|), a
        # scale-killer on skewed corpora with many underfull leaves.
        # (root-level leaves have no sibling and sequence(1,0) counts DOWN
        # in Spark — exclude them before the ancestor transform)
        leaf_ancestors = leaves.filter(F.length("leaf_path") > 0).select(
            "tree_id",
            "vec_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(leaf_path)),"
                    " i -> substring(leaf_path, 1, i))"
                )
            ).alias("sibling_prefix"),
        )
        # prune the explode BEFORE its shuffle: only ancestor rows whose
        # length occurs among the actual sibling prefixes survive (a
        # small-leaf index with k > leaf size makes EVERY routed leaf
        # underfull — without this, |leaves| × depth rows enter the
        # join). The pruning itself costs one extra job (computing the
        # distinct prefix lengths), so only pay it when the exploded
        # ancestor table is actually big.
        if forest.node_count >= 500_000:
            plens = underfull.select(
                F.length("sibling_prefix").alias("_plen")
            ).distinct()
            leaf_ancestors = leaf_ancestors.join(
                F.broadcast(plens),
                F.length("sibling_prefix") == F.col("_plen"),
            ).drop("_plen")
        sib = underfull.join(leaf_ancestors, ["tree_id", "sibling_prefix"]).select(
            "query_id", "vec_id"
        )
        cand = cand.unionByName(sib)

    cand = cand.distinct()  # O10: DashSet union ⇒ shuffle distinct

    # ~bytes = count × (dim doubles + row overhead); memoized — free
    # if the routing already counted
    q_small = n_queries() * _per_node_bytes(forest) < _queries_gate_bytes()
    q_hint = F.broadcast if q_small else (lambda df: df)

    vecs = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    scored = (
        cand.join(vecs, "vec_id")
        .join(q_hint(queries), "query_id")
        .select(
            "query_id", "vec_id", sq_euc_dist("query_vec", "v").alias("dist")
        )
    )
    if exclude_self:
        scored = scored.filter(F.col("vec_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


def _route_self_spills_local(
    forest: RPForest,
    rep_leafsets: DataFrame,
    margin: float,
    max_spills: int,
) -> DataFrame:
    """Numpy twin of the self-search spill recovery: given one row per
    surviving corpus vector carrying its embedding and its 50 main-path
    leaves — ``(rep_id, emb, tree_ids array<int>, leaf_paths
    array<string>)`` — emit ONLY the multi-probe spill leaves
    (rep_id, tree_id, leaf_path). Main-path leaves never pass through
    here (the caller unions ``forest.leaves`` directly).

    Two vectorized stages per batch, mirroring ``route_queries``
    semantics exactly, both ``_worker_kernels`` closures over the
    forest's node map (``RPForest.local_nodes``, the copy
    ``_route_local`` and the one-pass search also ship):
      1. LEVEL WALK (``level_walk``) along each vector's own known
         path: one ``fold`` per depth over every (vector, tree) entry's
         ancestor node; near-boundary rows (|n·x + c|/‖n‖ < margin)
         seed a spill at the sibling child.
      2. FRONTIER DESCENT (``descend``) of the spill seeds only, spills
         entering at 1 — the spilled subtrees are a small fraction of
         the corpus-wide descent the generic path pays.

    Each embedding crosses the Arrow exchange ONCE (paths ride as two
    parallel arrays), so the exchange volume matches the generic
    routing path, while the Python work drops from (corpus × trees ×
    depth) frontier visits to (levels × fold) + the spilled fraction.
    """
    import numpy as np

    spark = rep_leafsets.sparkSession
    bc = spark.sparkContext.broadcast(forest.local_nodes())
    *_, descend, level_walk, _, leaf_frame, _ = _worker_kernels()

    def _spills(batches):
        nodes = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["emb"]]
            )
            # explode (vector × tree) entries: row index back into X
            rows: list[int] = []
            trees: list[int] = []
            paths: list[str] = []
            for i, (ts, ps) in enumerate(zip(pdf["tree_ids"], pdf["leaf_paths"])):
                rows.extend([i] * len(ts))
                trees.extend(int(t) for t in ts)
                paths.extend(ps)
            seeds = level_walk(nodes, X, rows, trees, paths, margin)
            yield leaf_frame(
                descend(nodes, X, 0, margin, max_spills, frontier=seeds),
                pdf["rep_id"].to_numpy(np.int64), "rep_id",
            )

    return rep_leafsets.mapInPandas(
        _spills, "rep_id long, tree_id int, leaf_path string"
    )


def _route_self_spills_tree_local(
    forest: RPForest,
    corpus: DataFrame,
    margin: float,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The BEYOND-BROADCAST-GATE twin of ``_route_self_spills_local``:
    when the node table is too big to ship to every worker (a 250k ×
    300-d reference-geometry forest is ~4M nodes / ~10 GB — the r10
    probe point), shard the work BY TREE instead. Members shuffle once
    on tree_id carrying their embedding and own leaf path — exactly the
    |corpus| × num_trees volume the all-pairs co-locating exchange
    already pays, the irreducible movement — and each task loads only
    ITS trees' node maps from the persisted ``{path}/nodes/tree_id=T/``
    directories with ``_worker_kernels``' ``tree_nodes``, the reader
    ``_route_tree_local`` shares (zero node bytes through an exchange),
    then runs the same ``level_walk`` + spilled-frontier ``descend``
    per tree. Requires ``forest.path`` (an in-memory forest has no
    per-tree layout to read; callers fall back to the Catalyst chain).

    Why not the Catalyst chain here: its seed detection joins every
    (member, ancestor) row — |corpus| × trees × depth of them — against
    the node table AND the member embeddings, so past broadcast range
    both joins are shuffles whose payload is the ~2.4 KB coeffs/emb
    arrays per row (measured: the 250k mixed-corpus probe filled the
    scratch disk mid-seed-join). This path moves each embedding exactly
    once per tree and zero node bytes."""
    import numpy as np

    assert forest.path, "tree-local spill routing needs a persisted index"
    nodes_root = f"{forest.path}/nodes"
    members = forest.leaves.join(
        corpus.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("emb")
        ),
        "vec_id",
    ).select(
        "tree_id", "leaf_path", F.col("vec_id").alias("rep_id"), "emb"
    )
    spark = corpus.sparkSession
    n_parts = min(
        forest.num_trees, spark.sparkContext.defaultParallelism
    ) or 1

    import os as _os

    cache_gate = (
        int(_os.environ.get("SPARK_GRAFT_TREE_TASK_MB", "2048")) * 1024 * 1024
    )

    *_, descend, level_walk, tree_nodes, leaf_frame, _ = _worker_kernels()

    def _spills(batches):
        # tree_id -> the tree's node map; BYTE-GATED: a task whose
        # partition hashes several big trees together must not hold
        # them all resident (at 1M x 300-d a tree's node matrix is 1-2
        # GB) — evict insertion-order once the node arrays exceed
        # SPARK_GRAFT_TREE_TASK_MB (rows arrive grouped by tree, so an
        # evicted tree is rarely re-read)
        tree_maps: dict = {}
        cache_bytes = [0]

        def _tree(t: int):
            got = tree_maps.get(t)
            if got is None:
                got = tree_nodes(t, f"{nodes_root}/tree_id={t}")
                new_bytes = sum(a.nbytes for a in got[1:])
                while tree_maps and cache_bytes[0] + new_bytes > cache_gate:
                    evicted = tree_maps.pop(next(iter(tree_maps)))
                    cache_bytes[0] -= sum(a.nbytes for a in evicted[1:])
                tree_maps[t] = got
                cache_bytes[0] += new_bytes
            return got

        for pdf in batches:
            for t, tpdf in pdf.groupby("tree_id", sort=False):
                t = int(t)
                nodes = _tree(t)
                X = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in tpdf["emb"]]
                )
                seeds = level_walk(
                    nodes, X, np.arange(len(X)), [t] * len(X),
                    tpdf["leaf_path"].tolist(), margin,
                )
                yield leaf_frame(
                    descend(nodes, X, 0, margin, 1, frontier=seeds),
                    tpdf["rep_id"].to_numpy(np.int64), "rep_id",
                )

    return members.repartition(n_parts, "tree_id").mapInPandas(
        _spills, "rep_id long, tree_id int, leaf_path string"
    )


def _self_spill_routes(
    forest: RPForest,
    corpus: DataFrame,
    margin: float,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The multi-probe SPILL visits of ``all_pairs_rp_forest``'s corpus
    self-search: one row (rep_id, tree_id, leaf_path) per extra leaf an
    index MEMBER probes beyond its main path, under ``max_spills=1``
    semantics (a spill branch cannot re-spill). Main-path visits never
    pass through here — they are ``forest.leaves`` itself, which
    callers union directly.

    Spill seeds come from each member's OWN root-to-leaf ancestor chain
    (no corpus-wide re-descent): at every ancestor where the member
    sits within ``margin`` geometric distance of the split plane
    (|n·x + c|/‖n‖ < margin), the sibling child is seeded and descended
    to its leaf.

    One rule picks the engine: the numpy level walk + spilled-frontier
    descent (``_route_self_spills_local``) while the node table fits
    the broadcast gate (``node_table_broadcastable``); past it, the
    tree-local engine (r10) for a PERSISTED index (``forest.path``):
    members shuffle once by tree (the irreducible |corpus| × trees
    volume) and each task reads its trees' node maps from their
    ``nodes/tree_id=T`` directories (``_worker_kernels``'
    ``tree_nodes``) — zero node bytes cross an exchange
    (``_route_self_spills_tree_local``); else the Catalyst chain: a
    slim equi-join of the ancestors against the node table and a
    linear O(depth) join-chain descent. All three sum n·x in the
    Catalyst ``dot``'s order (``_worker_kernels``' ``fold``), the
    DuckDB oracle's ``list_reduce`` order, so they emit the same spill
    set bit for bit; none seeds a spill at a zero-norm node.

    The Catalyst chain carries NO explicit broadcast hint: a forced
    whole-node-table broadcast hash relation OOM'd the 1 GB vanilla
    rehearsal heap at fixture scale (the per-level fixture-search chain
    only ever broadcasts one level's slice), while Catalyst/AQE already
    picks broadcast from real file stats when a side genuinely fits —
    and past the gate the shuffle join is the honest shape anyway."""
    in_gate = node_table_broadcastable(forest)
    if not in_gate and forest.path and forest.node_count > 0:
        return _route_self_spills_tree_local(
            forest, corpus, margin, id_col, vec_col
        )
    nodes = forest.nodes
    rep_emb = corpus.join(
        forest.leaves.select(F.col("vec_id").alias(id_col)),
        id_col,
        "left_semi",
    ).select(F.col(id_col).alias("rep_id"), F.col(vec_col).alias("emb"))

    if in_gate and forest.node_count > 0:
        # each rep's main paths ride as two parallel arrays — the
        # embedding crosses the Arrow exchange once, not once per tree.
        # ONE collect_list of structs, split after: two independent
        # collect_lists would not guarantee positional correspondence
        leafsets = (
            forest.leaves.groupBy(F.col("vec_id").alias("rep_id"))
            .agg(F.collect_list(F.struct("tree_id", "leaf_path")).alias("tl"))
            .select(
                "rep_id",
                F.col("tl.tree_id").alias("tree_ids"),
                F.col("tl.leaf_path").alias("leaf_paths"),
            )
        )
        rep_leafsets = rep_emb.join(leafsets, "rep_id").select(
            "rep_id", "emb", "tree_ids", "leaf_paths"
        )
        return _route_self_spills_local(forest, rep_leafsets, margin, 1)

    # spill seeds: each (vector, ancestor-node) pair where the vector
    # sits within the margin of the split plane. The ancestor chain
    # comes from the vector's OWN leaf path (struct of prefix + the bit
    # the main path took), so no descent is needed to find it.
    anc = forest.leaves.filter(F.length("leaf_path") > 0).select(
        "tree_id",
        F.col("vec_id").alias("rep_id"),
        F.explode(
            F.expr(
                "transform(sequence(0, length(leaf_path) - 1), i -> "
                "named_struct('p', substring(leaf_path, 1, i), "
                "'b', substring(leaf_path, i + 1, 1)))"
            )
        ).alias("a"),
    ).select(
        "tree_id",
        "rep_id",
        F.col("a.p").alias("node_path"),
        F.col("a.b").alias("taken"),
    )
    from ..functions.vector import dot as _dot

    seeds = (
        anc.join(nodes, ["tree_id", "node_path"])
        .join(rep_emb, "rep_id")
        .withColumn(
            "_pd",  # NULL at a zero-norm node: no seed there
            F.abs(
                (_dot("coeffs", "emb") + F.col("constant"))
                / F.nullif("coeff_norm", F.lit(0.0))
            ),
        )
        .filter(F.col("_pd") < margin)
        .select(
            "tree_id",
            F.concat(
                F.col("node_path"),
                F.when(F.col("taken") == "1", F.lit("0")).otherwise(F.lit("1")),
            ).alias("node_path"),
            "rep_id",
            "emb",
        )
    )

    # descend the spilled branches only, ONE level per materialized
    # step: rows whose path misses the node table are at leaves and
    # leave the frontier; the rest extend their path by one side bit.
    # Each level is localCheckpoint'ed — the leaf/descend split and the
    # next join both read the materialized block, so the logical plan
    # stays ONE join deep per consumer instead of an O(depth) chain
    # (the un-checkpointed done-flag chain OOM'd the 1 GB vanilla
    # rehearsal heap in Catalyst's own tree transforms — the same
    # plan-explosion class route_queries' join chain checkpoints
    # against), and the frontier SHRINKS as spills reach their leaves.
    active = seeds.localCheckpoint(eager=True)
    out_parts: "list[DataFrame]" = []
    for _ in range(forest.max_depth + 1):
        stepped = (
            active.join(nodes, ["tree_id", "node_path"], "left")
            .select(
                "tree_id",
                "rep_id",
                "emb",
                F.col("constant").isNull().alias("_leaf"),
                F.when(F.col("constant").isNull(), F.col("node_path"))
                .otherwise(
                    F.concat(
                        F.col("node_path"),
                        F.when(
                            point_is_above(
                                F.col("coeffs"), F.col("constant"), F.col("emb")
                            ),
                            F.lit("1"),
                        ).otherwise(F.lit("0")),
                    )
                )
                .alias("node_path"),
            )
            .localCheckpoint(eager=True)
        )
        out_parts.append(
            stepped.filter(F.col("_leaf")).select(
                "rep_id", "tree_id", F.col("node_path").alias("leaf_path")
            )
        )
        active = stepped.filter(~F.col("_leaf")).select(
            "tree_id", "node_path", "rep_id", "emb"
        )
        if active.isEmpty():
            break
    out = out_parts[0]
    for df in out_parts[1:]:
        out = out.unionByName(df)
    return out


def all_pairs_rp_forest(
    forest: RPForest,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    spill_margin: "float | str" = 0.0,
    overgrowth_warn_factor: float = 4.0,
    tree_batches: "int | str" = "auto",
) -> DataFrame:
    """All-pairs approximate kNN — the reference's flagship quality pass
    (``src/main.rs:100-123``: every corpus vector queries the index) in
    its LEAF-LOCAL form, the only shape whose shuffle volume stays
    linear in |corpus| × num_trees at 100 TB.

    The key identity: the build already routed every corpus vector, so
    a vector's candidates are exactly its LEAF CO-MEMBERS across trees.
    But where the generic tail ships candidate PAIRS through a re-rank
    join — each pair dragging a dim-sized embedding through one
    exchange per join, which
    at 250k × 50 trees is a ~10⁸-pair × ~2.5 KB shuffle (measured
    disk-infeasible on a single node, and the pair volume scales with
    candidates, not corpus) — this path never forms a wide pair:

      1. ONE co-locating exchange: attach each member's embedding to
         its (tree_id, leaf_path) group — |corpus| × num_trees rows,
         the irreducible data movement of a forest all-pairs;
      2. per-leaf pairwise distances INSIDE the group, in ONE
         grouped-map numpy kernel (``_worker_kernels``' leaf_pairs,
         scoring with ``sq_euc_dist``'s fold bit for bit; leaves are
         ≤ max_node_size by construction, so groups are bounded and
         skew-free), which emits only each query's top k in the leaf
         (exact: see ``tree_batches`` — a global top-k pair survives
         every subset's top-k cut);
      3. everything after is SLIM (query_id, vec_id, dist) triples:
         cross-tree dedup by min, then the global top-k window.

    Semantics ≡ ``search_rp_forest(forest, corpus, corpus-as-queries,
    k, backfill=False, spill_margin=spill_margin, max_spills=1,
    exclude_self=True)`` — no sibling backfill (each query already
    reaches num_trees leaves; at the reference's 50 trees that is up to
    50·(max_node_size−1) candidates before dedup). Duplicate-vector
    corpora: the build's exact dedup leaves only representatives in the
    index, so duplicate rows inherit their representative's pairs plus
    the zero-distance edge to it — identical to what the generic path
    reports for them.

    ``spill_margin`` is the RECALL DIAL (VERDICT r9 #1): 0.0 (default)
    is pure single-probe — each query visits exactly its num_trees main
    leaves; on clustered corpora that already reads ~0.96 recall@10,
    but in the structureless floor regime single-probe recall collapses
    (measured 0.014 at 250k i.i.d. — BASELINE spill table). A margin
    > 0 adds each member's multi-probe spill leaves
    (``_self_spill_routes``: every ancestor plane within
    |n·x + c|/‖n‖ < margin seeds the sibling branch, max_spills=1)
    as extra VISITOR rows in the same leaf-local groups: the visitor
    gains the spilled leaf's members as candidates, pair math stays
    inside bounded groups, and the spill rows only add
    (spilled fraction × corpus) slim visits to the one co-locating
    exchange — recall becomes purchasable without leaving the
    linear-shuffle shape. ``"auto"`` resolves the corpus-derived
    default margin (``resolve_spill_margin``). ``_self_spill_routes``
    picks the spill engine by the node-broadcast gate (numpy under it,
    else tree-local for a persisted index, else the Catalyst chain);
    all three make the same decisions, bit for bit, as a DuckDB oracle
    replay.

    WHICH DIAL TO TURN (measured, r11 frontier — BASELINE.md): on hard
    (weakly-clustered) corpora the recall dial you should reach for
    FIRST is the forest size, not the margin. At the mixed-σ=1.0 250k
    point, 150 trees at single-probe reads recall 0.382 @ 1.16 ms/q
    while 50 trees + frac-0.3 margin reads 0.408 @ 7.3–8.8 ms/q —
    trees are 6–7.5× cheaper per query at matched recall, because each
    tree adds ONE bounded leaf group per member (linear), while spill
    visitors pay pairwise work in every group along every near-plane
    ancestor (superlinear as the margin widens). Trees cost build time
    and footprint instead (150 trees: 1123 s build, 23 GB vs 480 s /
    8 GB at 50) — amortized over a single whole-corpus pass they still
    win. Use ``spill_margin`` when the index is FIXED (inherited, or
    num_trees at the footprint ceiling) or the recall target is past
    affordable tree counts (the measured 0.490 point needed frac 0.45;
    the trees curve extrapolates that to ~250 trees ≈ 38 GB). The
    dials COMPOSE when both are affordable: 150 trees + frac 0.15
    measured recall 0.643 on the same regime — past anything either
    dial reached alone — at 15.9 ms/q with the floored auto batching
    (BASELINE r12; the same point read 28.8 ms/q when a tight disk
    resolved B=81 — margin work also scales with forest size, the
    remaining caveat). On clustered corpora single-probe at
    the reference's 50 trees already reads ~0.95 and neither dial is
    needed.

    THIS GUIDANCE IS ALL-PAIRS-SPECIFIC — it does NOT transfer to
    single queries (measured, r13 sweep on the same hard regime,
    BASELINE.md): through ``search_rp_forest`` the margin dial WINS at
    matched recall — 50 trees + frac 0.6 reads 0.930 @ ~0.10 s/q vs
    100 trees + auto(0.3) at 0.908 @ ~0.13 s/q, and 100 trees +
    frac 0.6 reads 0.992 @ ~0.16 s/q vs 215 trees + auto at 0.991 @
    ~0.18 s/q — half the footprint and no extra build either way. The
    asymmetry is structural: a point query pays spill cost once per
    near-plane descent (a few extra leaves), while an all-pairs
    visitor pays pairwise work in EVERY spilled group across the
    whole corpus; conversely extra trees cost a point query a full
    extra routing descent each. Single queries: widen the margin
    first, add trees only past its saturation. Whole-corpus passes:
    trees first, margin last. CONFIRMED at the reference's full 1M
    operating point (r14 sweep on the maintained 32.4M-node index,
    1000 q, BASELINE.md): the clustered regime saturates — every
    50/100-tree × frac 0.3/0.6 cell reads 1.000 — and the frontier
    resolves the same way from the cheap side: 25 trees + frac 0.15
    certifies 1.000 at cand_frac 0.0003 / ~40 s per 1000 q, beating
    50 trees + no spill (0.994, ~2× wall); on a saturated regime
    shrink to the cheapest certifying config rather than growing
    either dial (50t×0.3 already pays 5× the candidates of 25t×0.15,
    100t×0.6 pays 36×).

    The slim (vec_id, emb) corpus is broadcast into the leaves join
    while it fits SPARK_GRAFT_BC_QUERIES_MB (one exchange instead of
    two); past the gate both sides shuffle — the honest billion-scale
    cost.

    ``tree_batches`` bounds the PEAK SHUFFLE FOOTPRINT: the
    co-locating exchange is |corpus| × num_trees embedding-sized rows,
    which can exceed a node's scratch disk long before the slim output
    does (~120 GB at 1M × 300-d × 50 trees). ``"auto"`` (the default
    since r11) sizes B from a disk budget — ``auto_tree_batches``:
    SPARK_GRAFT_SHUFFLE_BUDGET_MB when set, else a tenth of free local
    scratch, calibrated to reproduce the measured r10 operating points
    (250k plain → B≈10, 250k spill → B≈20 on a 33 GB-free container) —
    and resolves to 1 on small corpora, keeping the call lazy. B > 1
    runs the identical plan over num_trees/B trees at a time, cutting each chunk to
    per-query top-k slim triples before materializing it
    (localCheckpoint — the call becomes EAGER) and releasing the
    chunk's shuffle files before the next chunk runs; results are
    bit-identical to B=1 because a pair's fold distance is the same in
    every tree, so every global top-k pair survives its own chunk's
    top-k cut and cross-chunk duplicates collapse to the same double.
    Fault-tolerance trade (ADVICE r10): localCheckpoint drops lineage,
    so an executor loss mid-run fails the whole multi-chunk job
    instead of recomputing the lost chunk — acceptable on a single
    node; for long cluster runs prefer reliable ``checkpoint()`` of
    chunk results (checkpoint dir on durable storage) at the cost of
    one extra write per chunk.

    PRECONDITION — the leaf-size invariant: per-leaf pair cost is
    QUADRATIC in leaf size, so the bounded-group claim above holds only
    while every leaf is ≤ max_node_size (true for a fresh build; heavy
    ingest without maintenance overgrows hot leaves — a leaf of m
    members contributes m² pair rows). The guard computes the max leaf
    size from a slim map-side-combined count scan and warns past
    ``overgrowth_warn_factor`` × max_node_size, suggesting
    ``resplit_overgrown_leaves`` (set the factor ≤ 0 to skip the probe
    job entirely, e.g. right after a fresh build).
    """
    import warnings

    if overgrowth_warn_factor and overgrowth_warn_factor > 0:
        max_leaf = (
            forest.leaves.groupBy("tree_id", "leaf_path")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n").alias("m"))
            .collect()[0].m
        )
        if max_leaf and max_leaf > overgrowth_warn_factor * forest.max_node_size:
            warnings.warn(
                f"all_pairs_rp_forest: largest leaf holds {max_leaf} "
                f"members — more than {overgrowth_warn_factor}× "
                f"max_node_size ({forest.max_node_size}). Per-leaf pair "
                "cost is quadratic in leaf size; run "
                "resplit_overgrown_leaves first to restore the bounded-"
                "group invariant.",
                RuntimeWarning,
                stacklevel=2,
            )
    emb = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    if spill_margin == "auto":
        spill_margin = resolve_spill_margin(
            corpus.select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("query_vec"),
            )
        )
    margin = float(spill_margin)

    # duplicate handling (identical embeddings dedup'd at build,
    # src/lib.rs:64-92): slim membership-count test; the wide
    # groupBy(embedding) mapping is built only when rows were excluded
    n_corpus, dup_map = _self_rep_mapping(forest, corpus, id_col, vec_col)

    if tree_batches == "auto":
        # size B from the disk budget (SPARK_GRAFT_SHUFFLE_BUDGET_MB or
        # a tenth of free scratch) so the co-locating exchange fits —
        # see auto_tree_batches for the calibration. Resolves to 1 on
        # small corpora (the call stays LAZY); B > 1 makes it eager.
        tree_batches = auto_tree_batches(forest, n_corpus, margin)[0]
    # an explicit value past num_trees runs as one tree per chunk
    tree_batches = min(int(tree_batches), max(forest.num_trees, 1))

    # per-ROW corpus bytes: a dim-sized array + overhead
    e_small = n_corpus * _per_node_bytes(forest) < _queries_gate_bytes()
    e_hint = F.broadcast if e_small else (lambda df: df)

    # the tree-local spill engine (``_self_spill_routes``' pick past the
    # node gate for a persisted index) routes per chunk, below
    treelocal = not node_table_broadcastable(forest) and bool(forest.path)
    visitors_all = None
    if margin > 0.0 and not (tree_batches > 1 and treelocal):
        # RECALL DIAL: spill visits ride into the SAME leaf-local groups
        # as query-only VISITOR rows (m=false). A visitor gains the
        # spilled leaf's members as candidates — the directed relation
        # of the generic search (visiting a leaf never makes the visitor
        # a candidate of that leaf's members) — so pair generation below
        # filters candidates to m=true rows. (Under tree-batching the
        # TREELOCAL engine instead routes per chunk — its member-by-tree
        # exchange is the same |corpus| × trees volume the co-locating
        # exchange pays, so it must be footprint-bounded by the same
        # batching; the numpy/catalyst engines' cost is the node-map
        # collect / seed join, which per-chunk runs would multiply by B,
        # so those compute once here and filter by tree below.)
        visitors_all = _self_spill_routes(
            forest, corpus, margin, id_col, vec_col
        ).withColumnRenamed("rep_id", "vec_id")
        if tree_batches > 1:
            visitors_all = visitors_all.localCheckpoint(eager=True)

    leaf_pairs = _worker_kernels()[2]

    def _leaf_pairs(leaves_slice, visitors_slice):
        """Slim (query_id, vec_id, dist) rows for one slice of the
        forest's leaf rows: ONE co-locating exchange, then the numpy
        leaf kernel per (tree_id, leaf_path) group. Each ORDERED pair is
        scored (2× the unordered work), so each group is self-contained."""
        cols = ["tree_id", "leaf_path", "vec_id", "v"]
        rows = leaves_slice.join(e_hint(emb), "vec_id").select(
            *cols, F.lit(True).alias("m")
        )
        if visitors_slice is not None:
            rows = rows.unionByName(
                visitors_slice.join(e_hint(emb), "vec_id").select(
                    *cols, F.lit(False).alias("m")
                )
            )
        return rows.groupBy("tree_id", "leaf_path").applyInPandas(
            lambda pdf: leaf_pairs(pdf, k),
            "query_id long, vec_id long, dist double",
        )

    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("vec_id").asc()
    )
    if tree_batches <= 1:
        pairs = _leaf_pairs(forest.leaves, visitors_all)
        # cross-tree dedup (O10's DashSet): identical pair ⇒ identical
        # fold ⇒ identical double, so min == the value
        deduped = pairs.groupBy("query_id", "vec_id").agg(
            F.min("dist").alias("dist")
        )
    else:
        # PEAK-FOOTPRINT BOUND: the co-locating exchange moves
        # |corpus| × num_trees embedding-sized rows — at 1M × 300-d ×
        # 50 trees that is ~120 GB of shuffle, more than a single
        # node's scratch disk (and on a cluster, still each node's
        # bounded resource). Tree-batching runs the SAME plan over
        # num_trees/B trees at a time: per chunk, dedup + per-query
        # top-k cut the output to ≤ k slim triples per query before
        # anything persists, so the high-water mark is ONE chunk's
        # exchange plus k·B triples per query. Correct because a pair's
        # distance is identical in every tree: any global top-k pair is
        # within its own chunk's top-k (fewer competitors), and
        # cross-chunk duplicates dedup to the same double. EAGER — each
        # chunk materializes (localCheckpoint) so its shuffle files can
        # be reclaimed before the next chunk runs; costs one corpus
        # scan per chunk.
        B = tree_batches  # already clamped to num_trees at resolution
        spark = corpus.sparkSession
        parts = []
        for b in range(B):
            chunk = [t for t in range(forest.num_trees) if t % B == b]
            lv = forest.leaves.filter(F.col("tree_id").isin(chunk))
            vs = None
            if visitors_all is not None:
                vs = visitors_all.filter(F.col("tree_id").isin(chunk))
            elif margin > 0.0:
                # chunk-scoped spill routing (treelocal): spills are
                # independent per (member, tree), so routing a
                # leaves-subset view of the forest yields exactly this
                # chunk's visitors while its exchange stays one chunk
                # wide
                from dataclasses import replace as _replace

                vs = _self_spill_routes(
                    _replace(forest, leaves=lv), corpus, margin,
                    id_col, vec_col,
                ).withColumnRenamed("rep_id", "vec_id")
            chunk_topk = (
                _leaf_pairs(lv, vs)
                .groupBy("query_id", "vec_id")
                .agg(F.min("dist").alias("dist"))
                .withColumn("rnk", F.row_number().over(w))
                .filter(F.col("rnk") <= k)
                .select("query_id", "vec_id", "dist")
            )
            parts.append(chunk_topk.localCheckpoint(eager=True))
            # drop the chunk's lineage references and nudge the async
            # ContextCleaner so the finished exchange's shuffle files
            # free the scratch disk before the next chunk writes its
            # own
            collect_garbage(spark)
        allp = parts[0]
        for df in parts[1:]:
            allp = allp.unionByName(df)
        deduped = allp.groupBy("query_id", "vec_id").agg(
            F.min("dist").alias("dist")
        )

    if dup_map is not None:
        # expand representative-level pairs to every duplicate row:
        # dup queries inherit their rep's candidate list plus the
        # zero-distance edge to the rep itself. dup_map already holds
        # ONLY index-excluded rows (a member twin gets its pairs
        # natively from leaf co-membership — expanding it too would
        # hand it a dist-0 self-match and duplicated top-k rows); the
        # rep is always a member (build dedup keeps the min id). The
        # pairs are read ONCE and fan out to the rep's heirs through a
        # broadcast (rep → heirs) lookup: a second reference would run
        # the whole pair generation again
        heirs = (
            dup_map.filter(F.col("query_id") != F.col("rep_id"))
            .groupBy("rep_id").agg(F.collect_list("query_id").alias("heirs"))
            .withColumnRenamed("rep_id", "query_id")
        )
        self_edges = heirs.select(
            F.explode("heirs").alias("query_id"),
            F.col("query_id").alias("vec_id"),
            F.lit(0.0).alias("dist"),
        )
        fan_out = F.array_prepend(
            F.coalesce("heirs", F.array().cast("array<long>")), F.col("query_id")
        )
        deduped = (
            deduped.join(F.broadcast(heirs), "query_id", "left")
            .select(F.explode(fan_out).alias("query_id"), "vec_id", "dist")
            .unionByName(self_edges)
        )

    return deduped.withColumn(
        "rnk", F.row_number().over(w).cast("long")
    ).filter(F.col("rnk") <= k)


def estimate_recall(
    forest: RPForest,
    corpus: DataFrame,
    n_sample: "int | None" = None,
    k: int = 10,
    seed: "int | None" = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    spill_margin: "float | str" = "auto",
    truth_path: "str | None" = None,
    strict: bool = True,
    check_payload: bool = False,
) -> dict:
    """Sampled ROUTING-QUALITY probe (VERDICT r11 #2) — the complement
    the occupancy trigger measurably lacks: ``needs_rebuild`` reads
    fill, and fill cannot see hyperplane STALENESS where occupancy
    recovers (measured on the 250k lifecycle: ingest RAISES fill to
    1.111×, and an 80%-delete + prune leg sat at recall 0.896 while
    occupancy looked healthy — BASELINE.md r10/r11). This measures the
    quality directly: route ``n_sample`` seeded corpus queries through
    the index (``search_rp_forest`` with the same defaults production
    search uses) and compare against exact BLAS kNN on the SAME sample
    (``knn_exact_fast``).

    Returns ``{"recall", "hits", "total", "n_sample", "k", "seed"}``
    where recall = |approx ∩ exact| / |exact| over the sampled queries.

    COST CONTRACT (bounded, one-shot):
      - sampling is a seeded hash order + limit — per-partition top-N
        then a driver merge of slim (id, vec) rows, never a full sort;
      - the approx side is one normal forest search over ``n_sample``
        queries (broadcast-sized by contract);
      - the exact side is one corpus scan with an Arrow/BLAS block
        top-k per batch — O(n_sample × |corpus|) multiply-adds, the
        same bounded shape as the probes' recall legs — and
        ``knn_exact_fast``'s driver-collect gate rejects oversized
        samples (SPARK_GRAFT_BC_QUERIES_MB) instead of OOMing.

    ``corpus`` is the CURRENT corpus the index serves (post-delete:
    the survivors) — both sides rank the same candidate set, so the
    number is the recall a user's query sees today. Deterministic for
    a fixed (corpus, seed): the sample is xxhash64-ordered with
    deterministic (dist, vec_id) tie-breaks on both sides. Read it
    NEXT TO ``needs_rebuild``: fill answers "is the structure
    degraded", this answers "does routing still find the true
    neighbors" — the rebuild decision wants both.

    CACHED MODE (``truth_path``): the exact side above is the probe's
    O(|corpus|) term — at the reference's 1M × 300-d scale it is a
    full vector-column scan per health check (measured 163.3 s /
    100 samples, BASELINE.md r12), and at a real 100 TB corpus it is
    the term you cannot pay on a schedule. Pass
    ``truth_path=<index path>`` after a one-time
    ``save_recall_baseline`` and the exact side becomes a read of the
    persisted truth table re-filtered to the CURRENT corpus ids — an
    id-column-only semi-join (parquet prunes the vector column away),
    so the recurring check costs one forest search plus an id scan.
    Deletion-exactness: the baseline stores ``reserve × k`` neighbors
    per query in true distance order, so as long as ≥ k of a query's
    cached neighbors survive deletion, the first k survivors ARE that
    query's exact current top-k (everything outside the cache is
    farther than everything inside). Queries whose reserve is
    exhausted are EXCLUDED and counted in ``n_exhausted`` — the
    honest signal to re-anchor. INSERTS are outside the cached
    contract (a new vector can be a true neighbor the cache cannot
    know): the anchor persists the corpus ID SET
    (``recall_truth/corpus_ids``, 16 B/row), and the check verifies
    MEMBERSHIP — an anti-join of current ids against anchored ids —
    so ANY non-anchored id is detected exactly, including mixed
    insert+delete drift netting ≤ 0 rows (the r12 count guard's
    escape; VERDICT r12 #1). Strict mode (default) raises on the
    first foreign id; ``strict=False`` proceeds and reports the
    exact foreign-row count as ``inserted_at_least`` — the number is
    then "retention of baseline-time neighbors", not current recall.
    Re-anchor after any ingest (the monitored streaming loop already
    re-reads health per batch; re-anchoring belongs at the same
    maintenance points).

    ID-IMMUTABILITY ASSUMPTION (the default check reads the id
    column only): a vec_id, once anchored, always names the same
    vector — ids are never reused and payloads never mutate in
    place. That is this package's own ingest contract (appends carry
    fresh ids; deletes remove them). If the corpus cannot promise
    it, pass ``check_payload=True``: membership is then verified on
    ``(vec_id, xxhash64(vec_id, vec))`` pairs, catching in-place
    updates and delete+insert reusing an id, at the cost of one
    vector-column scan per check (the hash is computed scan-side in
    the JVM and the projection is persisted across the check's three
    consumers — foreign count, survivor accounting, certified-truth
    materialization — then freed, ADVICE r14; only 16-byte pairs
    shuffle). The same standard applies
    to BOTH sides of the check (r14): a hash-mismatched row is
    counted foreign AND excluded from the certified survivors — the
    anchored neighbor it replaced reads as deleted, so retention
    drops instead of the impostor silently certifying under the
    stolen id. Anchors written before r13
    lack ``corpus_ids``: the check falls back to the legacy count
    guard with a RuntimeWarning naming the re-anchor (and
    ``check_payload=True`` refuses — it cannot verify content
    against an anchor that never recorded it).

    ``n_sample``/``seed`` default to None =
    "take the baseline's" in cached mode (uncached: 100 / 42); any
    EXPLICIT value that disagrees with the anchored meta raises
    rather than silently answering a different question."""
    if truth_path is not None:
        return _estimate_recall_cached(
            forest, corpus, truth_path, n_sample=n_sample, k=k,
            seed=seed, id_col=id_col, vec_col=vec_col,
            spill_margin=spill_margin, strict=strict,
            check_payload=check_payload,
        )
    if check_payload:
        raise ValueError(
            "estimate_recall: check_payload applies only to cached mode "
            "(truth_path) — the uncached probe recomputes exact truth "
            "from the live payloads, so there is nothing to verify"
        )
    n_sample = 100 if n_sample is None else int(n_sample)
    seed = 42 if seed is None else int(seed)
    from .knn import knn_exact_fast

    q = (
        corpus.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("query_vec"),
        )
        .orderBy(F.xxhash64("query_id", F.lit(seed)), "query_id")
        .limit(int(n_sample))
        .localCheckpoint(eager=True)
    )
    n_q = q.count()
    approx = search_rp_forest(
        forest, corpus, q, k=k,
        id_col=id_col, vec_col=vec_col, spill_margin=spill_margin,
    ).select("query_id", "vec_id")
    exact = knn_exact_fast(
        corpus, q, k=k, id_col=id_col, vec_col=vec_col
    ).select("query_id", "vec_id").localCheckpoint(eager=True)
    total = exact.count()
    hits = exact.join(approx, ["query_id", "vec_id"], "left_semi").count()
    return {
        "recall": (hits / total) if total else 1.0,
        "hits": int(hits),
        "total": int(total),
        "n_sample": int(n_q),
        "k": int(k),
        "seed": int(seed),
    }


def save_recall_baseline(
    forest: RPForest,
    corpus: DataFrame,
    path: str,
    n_sample: int = 100,
    k: int = 10,
    reserve: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    queries: "DataFrame | None" = None,
    method: str = "blas",
) -> dict:
    """One-time exact-truth anchor for ``estimate_recall``'s cached
    mode: sample ``n_sample`` corpus queries (the SAME seeded xxhash64
    order the uncached probe uses, so cached-vs-uncached answer the
    same question on an unchanged corpus) and persist their exact
    top-``reserve × k`` neighbors at ``{path}/recall_truth`` beside
    the index — the same placement discipline as the ``{path}/health``
    occupancy baseline (index.py), and the same reasoning: the
    denominator of a recurring health check must be computed ONCE, at
    anchor time, not re-derived from an O(|corpus|) scan per check.

    ``reserve`` is the deletion margin: each query's truth list holds
    ``reserve × k`` neighbors in true (dist, vec_id) order, so the
    cached check stays EXACT until deletions burn through
    ``(reserve − 1) × k`` of a query's cached neighbors (see
    ``estimate_recall``'s cached-mode contract). Four tables:
    ``truth`` (n_sample × reserve·k slim id rows), ``queries``
    (n_sample pinned query vectors — pinned, because a post-delete
    corpus would re-sample DIFFERENT queries and break comparability),
    ``meta`` (one row: sample/k/reserve/seed + the baseline corpus
    count), and ``corpus_ids`` (r13: the full anchor-time id set plus
    a per-row ``xxhash64(id, vec)`` content hash — 16 B/row, so 16 MB
    at the reference's 1M point — the table the exact MEMBERSHIP
    guard anti-joins against; the count guard alone lets mixed
    insert+delete drift netting ≤ 0 rows certify against a truth that
    cannot know the new vectors, VERDICT r12 #1).

    Cost: exactly one uncached probe's exact side (one corpus scan,
    BLAS block top-k, driver-collect gated) — paid once per anchor,
    amortized over every subsequent cached check. ``forest`` is
    accepted for signature symmetry and future layout-aware sampling;
    the truth is a property of (corpus, seed) alone.

    ``queries`` (r13) pins an EXPLICIT broadcast-sized eval set
    (query_id, query_vec) instead of the seeded sample — the shape a
    production eval harness wants (fixed golden queries) and the shape
    a SQL oracle can replay (a seeded xxhash64 sample cannot be
    reproduced engine-independently). Self-exclusion is keyed on ID
    EQUALITY end to end: a corpus vector sharing an external query's
    id is excluded from that query's anchored truth AND from every
    search the cached check runs (both sides agree, so the
    certification stays internally exact) — namespace external query
    ids away from corpus ids if those vectors must be rankable. Each
    anchored query also records whether its id matched a corpus row
    (``self_in_corpus``), which the exhaustion rule uses for the exact
    per-query candidate count: an in-corpus query has n_corpus − 1
    non-self candidates, an external one all n_corpus. ``method`` selects the exact-kNN
    engine for the anchored truth: "blas" (default — Arrow/numpy block
    top-k, fastest) or "fold" (the Catalyst sequential-fold twin whose
    float summation order is bit-exact against DuckDB's list_reduce,
    for oracle-replayable anchors)."""
    from .knn import knn_exact, knn_exact_fast

    if method not in ("blas", "fold"):
        raise ValueError(
            f"save_recall_baseline: method must be 'blas' or 'fold', "
            f"got {method!r}"
        )
    spark = corpus.sparkSession
    k_eff = int(k) * int(reserve)
    if k_eff < int(k) or int(reserve) < 1:
        raise ValueError(f"save_recall_baseline: reserve must be >= 1, got {reserve}")
    if queries is not None:
        q = queries.select("query_id", "query_vec").localCheckpoint(
            eager=True
        )
    else:
        q = (
            corpus.select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("query_vec"),
            )
            .orderBy(F.xxhash64("query_id", F.lit(seed)), "query_id")
            .limit(int(n_sample))
            .localCheckpoint(eager=True)
        )
    n_q = q.count()
    n_corpus = corpus.count()
    exact_fn = knn_exact_fast if method == "blas" else knn_exact
    truth = exact_fn(
        corpus, q, k=k_eff, id_col=id_col, vec_col=vec_col
    ).select("query_id", "rnk", "vec_id", "dist")
    base = f"{path}/recall_truth"
    truth.coalesce(1).write.mode("overwrite").parquet(f"{base}/truth")
    q.join(
        corpus.select(F.col(id_col).alias("query_id"))
        .distinct()
        .withColumn("self_in_corpus", F.lit(True)),
        "query_id",
        "left",
    ).fillna(False, ["self_in_corpus"]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{base}/queries")
    # corpus-sized but slim (two 8-byte columns): keep the scan's
    # natural partitioning — a coalesce(1) here would funnel the whole
    # id set through one task at 10^8+ rows
    corpus.select(
        F.col(id_col).alias("vec_id"),
        F.xxhash64(F.col(id_col), F.col(vec_col)).alias("row_hash"),
    ).write.mode("overwrite").parquet(f"{base}/corpus_ids")
    spark.createDataFrame(
        [(int(n_q), int(k), int(k_eff), int(seed), int(n_corpus))],
        schema="n_sample long, k long, k_eff long, seed long, n_corpus long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{base}/meta")
    return {
        "n_sample": int(n_q),
        "k": int(k),
        "k_eff": int(k_eff),
        "seed": int(seed),
        "n_corpus": int(n_corpus),
        "path": base,
    }


def _estimate_recall_cached(
    forest: RPForest,
    corpus: DataFrame,
    truth_path: str,
    n_sample: "int | None",
    k: int,
    seed: "int | None",
    id_col: str,
    vec_col: str,
    spill_margin: "float | str",
    strict: bool,
    check_payload: bool = False,
) -> dict:
    """Cached-truth body of ``estimate_recall`` (see its docstring for
    the contract). The exact side is replaced by: read the persisted
    truth, semi-join it against the CURRENT corpus ids (id column
    only — parquet never materializes the vectors for this side), and
    take each query's first k surviving cached neighbors, which are
    provably the exact current top-k wherever ≥ k survive within the
    cached ``k_eff`` window. A query whose cached window was TRUNCATED
    (held exactly ``k_eff`` rows while the baseline corpus had MORE
    than ``k_eff`` candidates — when the anchor corpus had exactly
    ``k_eff`` non-self rows, a full window is the COMPLETE
    neighborhood and certifies at any deletion depth, ADVICE r12 #4)
    AND lost too many of them is EXHAUSTED: excluded from the ratio,
    counted in ``n_exhausted``. A shorter-than-``k_eff`` cached list
    is likewise the whole baseline neighborhood."""
    spark = corpus.sparkSession
    base = f"{truth_path}/recall_truth"
    meta = spark.read.parquet(f"{base}/meta").collect()[0]
    if int(k) > int(meta.k):
        raise ValueError(
            f"estimate_recall(cached): k={k} exceeds the baseline's "
            f"k={int(meta.k)} — the deletion reserve was sized for the "
            f"anchored k; re-anchor with save_recall_baseline(k={k})"
        )
    # None means "take the baseline's"; an EXPLICIT value must not
    # silently answer a different question than it names
    if n_sample is not None and int(n_sample) != int(meta.n_sample):
        raise ValueError(
            f"estimate_recall(cached): n_sample={n_sample} conflicts with "
            f"the baseline's n_sample={int(meta.n_sample)} — the cached "
            f"sample is pinned at anchor time"
        )
    if seed is not None and int(seed) != int(meta.seed):
        raise ValueError(
            f"estimate_recall(cached): seed={seed} conflicts with the "
            f"baseline's seed={int(meta.seed)} — the cached sample is "
            f"pinned at anchor time"
        )
    q = spark.read.parquet(f"{base}/queries")
    truth = spark.read.parquet(f"{base}/truth")
    # drift guard: exact MEMBERSHIP against the anchored id set when
    # the anchor carries one (r13), legacy count guard + warning when
    # it does not. Absence is probed through the Hadoop FS API, never
    # inferred from a failed read — a transient FS error must
    # propagate, not silently select the weaker guard.

    ids_path = f"{base}/corpus_ids"
    # the id set the survivor semi-join certifies against; narrowed to
    # hash-verified rows under check_payload (below)
    current_ids = corpus.select(F.col(id_col).alias("vec_id"))
    _hash_proj = None  # persisted under check_payload; freed in finally
    try:
        if hadoop_path_exists(spark, ids_path):
            anchor_ids = spark.read.parquet(ids_path)
            if check_payload:
                # persist the hash projection: it feeds THREE evaluations
                # (foreign count, the per-query survivor accounting, and
                # the certified-truth materialization below), and each
                # un-persisted evaluation would re-pay the vector-column
                # xxhash64 scan (ADVICE r14 — the docstring's "one
                # vector-column scan per check" was off by 2×). persist/
                # unpersist, NOT localCheckpoint: a monitored stream runs
                # this per micro-batch, and checkpoint blocks free only
                # after a driver GC (the release_driver_blocks hazard)
                _hash_proj = corpus.select(
                    F.col(id_col).alias("vec_id"),
                    F.xxhash64(F.col(id_col), F.col(vec_col)).alias(
                        "row_hash"
                    ),
                ).persist()
                cur = _hash_proj
                foreign = cur.join(
                    anchor_ids, ["vec_id", "row_hash"], "left_anti"
                )
                # the SURVIVOR set must apply the same standard: a row whose
                # content hash no longer matches the anchor is an IMPOSTOR
                # under the anchored id — counting it foreign while still
                # certifying it as the surviving anchored neighbor would
                # let a mutated/recycled row keep retention at 1.0 (r14
                # self-review). Under check_payload a mutated row is
                # treated as deleted: absent from the certified survivors.
                current_ids = cur.join(
                    anchor_ids, ["vec_id", "row_hash"], "left_semi"
                ).select("vec_id")
                what = "rows absent from (or mutated since) the anchored baseline"
            else:
                foreign = corpus.select(F.col(id_col).alias("vec_id")).join(
                    anchor_ids.select("vec_id"), "vec_id", "left_anti"
                )
                what = "ids absent from the anchored baseline"
            inserted_at_least = int(foreign.count())
            if inserted_at_least and strict:
                raise ValueError(
                    f"estimate_recall(cached): the corpus holds "
                    f"{inserted_at_least} {what} — a vector the anchor "
                    f"never saw can be a true neighbor the cache cannot "
                    f"know, so the cached number would not be recall. "
                    f"Re-anchor with save_recall_baseline, or pass "
                    f"strict=False to read neighbor RETENTION instead"
                )
        else:
            if check_payload:
                raise ValueError(
                    f"estimate_recall(cached): check_payload=True needs the "
                    f"anchored corpus_ids table, but {ids_path} does not "
                    f"exist (pre-r13 anchor) — re-anchor with "
                    f"save_recall_baseline to record content hashes"
                )
            import warnings

            warnings.warn(
                f"estimate_recall(cached): {ids_path} missing (pre-r13 "
                f"anchor) — falling back to the COUNT guard, which a mixed "
                f"insert+delete netting <= 0 rows escapes; re-anchor with "
                f"save_recall_baseline for the exact membership guard",
                RuntimeWarning,
                stacklevel=3,
            )
            n_corpus_now = corpus.count()
            inserted_at_least = max(0, int(n_corpus_now) - int(meta.n_corpus))
            if inserted_at_least and strict:
                raise ValueError(
                    f"estimate_recall(cached): corpus has grown by at least "
                    f"{inserted_at_least} rows since the baseline was anchored "
                    f"(now {n_corpus_now}, anchored at {int(meta.n_corpus)}) — "
                    f"an inserted vector can be a true neighbor the cache cannot "
                    f"know. Re-anchor with save_recall_baseline, or pass "
                    f"strict=False to read neighbor RETENTION instead of recall"
                )
        surv = truth.join(current_ids, "vec_id", "left_semi")
        # one driver-collect of <= n_sample slim accounting rows (the
        # sample is gated at anchor time) decides certification — NOT
        # localCheckpoint: a monitored stream runs this per micro-batch,
        # and checkpoint blocks are reclaimed only after a driver GC (the
        # release_driver_blocks hazard incremental.py documents)
        per_q = (
            truth.groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_cached"))
            .join(
                surv.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_surv")),
                "query_id",
                "left",
            )
            .fillna(0, ["n_surv"])
        ).collect()
        # truncated cache + too many casualties => cannot certify the query.
        # A full window is truncated only if the ANCHOR corpus actually had
        # more candidates than the cache keeps: with exactly k_eff non-self
        # rows at anchor time, n_cached == k_eff IS the complete
        # neighborhood and certifies at any deletion depth (ADVICE r12 #4 —
        # the count-only rule spuriously exhausted small corpora and could
        # trip the all-exhausted refusal on a fully-certifiable sample).
        # Availability is PER QUERY: an in-corpus query has n_corpus − 1
        # non-self candidates, an external golden query (r13 explicit
        # sets) all n_corpus — the anchored self_in_corpus flag decides;
        # pre-r13 anchors sampled queries from the corpus, so absent flag
        # means in-corpus
        if "self_in_corpus" in q.columns:
            _self_flags = {
                int(r.query_id): bool(r.self_in_corpus)
                for r in q.select("query_id", "self_in_corpus").collect()
            }
        else:
            _self_flags = {}

        def _avail(qid: int) -> int:
            return int(meta.n_corpus) - (
                1 if _self_flags.get(qid, True) else 0
            )

        cert_ids = [
            int(r.query_id) for r in per_q
            if not (
                r.n_surv < int(k)
                and r.n_cached >= int(meta.k_eff)
                and _avail(int(r.query_id)) > int(meta.k_eff)
            )
        ]
        n_exhausted = len(per_q) - len(cert_ids)
        if not cert_ids:
            raise ValueError(
                f"estimate_recall(cached): every sampled query's deletion "
                f"reserve is exhausted (n_exhausted={n_exhausted}) — the "
                f"cached truth can no longer certify any current top-{k}; "
                f"re-anchor with save_recall_baseline"
            )
        cert = spark.createDataFrame(
            [(i,) for i in cert_ids], "query_id long"
        )
        w = Window.partitionBy("query_id").orderBy("rnk")
        current_truth = (
            surv.withColumn("crnk", F.row_number().over(w))
            .filter(F.col("crnk") <= int(k))
            .join(cert, "query_id", "left_semi")
            .select("query_id", "vec_id")
            .persist()
        )
        try:
            total = current_truth.count()
            qs = q.select("query_id", "query_vec").join(
                cert, "query_id", "left_semi"
            )
            approx = search_rp_forest(
                forest, corpus, qs, k=k,
                id_col=id_col, vec_col=vec_col, spill_margin=spill_margin,
            ).select("query_id", "vec_id")
            hits = current_truth.join(
                approx, ["query_id", "vec_id"], "left_semi"
            ).count()
        finally:
            current_truth.unpersist()
        return {
            "recall": (hits / total) if total else 1.0,
            "hits": int(hits),
            "total": int(total),
            "n_sample": len(cert_ids),
            "k": int(k),
            "seed": int(meta.seed),
            "cached": True,
            "n_exhausted": int(n_exhausted),
            "inserted_at_least": int(inserted_at_least),
        }
    finally:
        # freed on EVERY exit — the strict-mode raise and the
        # all-exhausted raise run inside a monitored stream whose
        # contained-failure contract would otherwise leak one
        # persisted corpus projection per failed read
        if _hash_proj is not None:
            _hash_proj.unpersist()
