#!/usr/bin/env python3
"""Per-round deep-index regression + scale probes over the persisted
250k × 300-d RP-forest (VERDICT r8 #1/#2/#3/#6). One tool, eleven legs:

  search    the regression leg: N queries (default 100), k = 10, via the
            zero-shuffle persisted-layout route; recall vs exact BLAS
            kNN. Appends one history line to BASELINE.md §"Deep-index
            probe history" so the r8 11× win cannot silently regress.
  allpairs  the reference's flagship workload (src/main.rs:100-123):
            corpus-as-queries self-kNN through the leaf-local
            all_pairs_rp_forest (the build already routed every corpus
            vector, so candidates are its leaf co-members, no
            re-descent). Recall measured on a seeded 1000-query sample
            against exact BLAS kNN.
  recall    the honest-recall sweep: recall@10 + mean candidate
            fraction vs number of trees used at search (subset_forest
            — one build serves every smaller operating point), so the
            clustered-corpus 1.000 rows can't be misread as general.
  compact   converts the index to the compact (float32-coeffs) on-disk
            format via save_index(compact=True), then runs the search
            leg on both formats interleaved (2 iterations; the warm
            pair is the comparable one) — records what the halved
            node-table actually buys.
  ingest    incremental-index scale validation: routes a holdout
            through a FROZEN smaller index's hyperplanes via
            incremental_index_ingest (availableNow stream), then
            re-runs the search leg on the augmented index and compares
            recall against this index's own pre-ingest floor and the
            full-rebuild index.
  maintain  runs resplit_overgrown_leaves over the ingest leg's
            augmented index ({index}_base/idx): overgrown-leaf stats
            before/after, maintenance wall vs the known full-rebuild
            cost, and post-maintenance search recall.
  shrink    the takedown/retention lifecycle: delete_vectors removes a
            seeded 80% of members, prune_underfull_subtrees collapses
            the underfull subtrees, and the search leg runs over the
            survivors (prune wall, node shrink, post-prune recall).
  lifecycle (r10) the five steps CHAINED over ONE index — build(90%) →
            ingest(10%) → resplit → delete(30%) → prune — recall and
            forest_health_stats recorded after every step, all persists
            on the compact default. The resplit step is
            resplit_overgrown_leaves → save_index → load_index, whose
            repair scratch scales with the ACCUMULATED debt (a 10%
            one-batch holdout at 1M overgrew ~1.5M leaves and needed
            >61 GB) — size --holdout to the host's scratch disk.
  recallcache (r12b) cached-truth staleness check: uncached
            estimate_recall wall vs save_recall_baseline anchor +
            cached check, with value parity asserted — splits the
            probe cost into the O(|corpus|) term paid once and the
            recurring forest-search + id-scan term.
  debt      (r12b) fresh-build resplit debt: dense regions force-close
            leaves at the build depth cap (idx1m: 31,580 at depth 32);
            resplit_overgrown_leaves repairs past the cap, re-saves to
            {index}_rs/idx, recall measured before/after.
  retention retention-cadence sizing (VERDICT r12 #2): one cached read
            (estimate_recall, strict=False) vs one monitored ingest
            micro-batch body, and the retention_every that keeps the
            read under 5% overhead.

The index comes from tools/scale_probe.py --workdir DIR (layout:
DIR/emb deduped corpus, DIR/idx/{nodes,leaves} partitionBy(tree_id)).
If absent, `search` rebuilds it first (cost logged — ~1200 s at 250k).

Usage:
  python tools/deep_index_probe.py search   [--index /tmp/idx250k] [--queries 100]
  python tools/deep_index_probe.py allpairs [--index /tmp/idx250k] [--sample 1000]
  python tools/deep_index_probe.py recall   [--index /tmp/idx250k] [--queries 1000] [--trees 5,10,25,50]
  python tools/deep_index_probe.py ingest   [--index /tmp/idx250k] [--holdout 25000]
  python tools/deep_index_probe.py compact  [--index /tmp/idx250k] [--cleanup]
  python tools/deep_index_probe.py maintain [--index /tmp/idx250k] [--cleanup]
  python tools/deep_index_probe.py shrink   [--index /tmp/idx250k] [--cleanup]
  python tools/deep_index_probe.py lifecycle [--index /tmp/idx250k] [--holdout N] [--prune-in-memory] [--resume] [--reclaim] [--cleanup]
  python tools/deep_index_probe.py recallcache [--index /tmp/idx250k] [--queries 100] [--cleanup]
  python tools/deep_index_probe.py debt [--index /tmp/idx1m] [--cleanup]
  python tools/deep_index_probe.py retention [--index /tmp/idx250k]
Common: --n 250000 --num-trees 50 --leaf 5 --k 10 --no-baseline-append
"""

from __future__ import annotations

import math
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pyspark.sql.functions as F  # noqa: E402

BASELINE = os.path.join(REPO, "BASELINE.md")
HISTORY_HEADER = "## Deep-index probe history"


def _append_history(line: str, enabled: bool) -> None:
    """One probe = one appended history line (auditable per-round trail;
    VERDICT r8 #6). Creates the section on first use."""
    stamped = f"- {line}"
    print(f"HISTORY {stamped}", flush=True)
    if not enabled:
        return
    with open(BASELINE) as f:
        text = f.read()
    if HISTORY_HEADER not in text:
        text = text.rstrip() + f"\n\n{HISTORY_HEADER}\n\n"
    else:
        text = text.rstrip() + "\n"
    with open(BASELINE, "w") as f:
        f.write(text + stamped + "\n")


def _load(spark, index_dir: str, num_trees: int, leaf: int):
    from rust_vector_search_spark.operators.index import load_index

    # the deduped base the batched build persisted (column name `emb`;
    # same source scale_probe --index uses)
    emb = spark.read.parquet(f"{index_dir}/idx/emb").withColumnRenamed(
        "emb", "embedding"
    )
    forest = load_index(
        spark, f"{index_dir}/idx", num_trees=num_trees,
        max_node_size=leaf, seed=42,
    )
    print(
        f"index: nodes={forest.node_count} depth={forest.max_depth} "
        f"max_tree={forest.max_tree_nodes} trees={forest.num_trees}",
        flush=True,
    )
    return emb, forest


def _queries_of(emb, n_queries: int):
    return emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )


def _recall_vs_exact(spark, emb, approx, queries, k: int) -> float:
    """|approx ∩ exact| / |exact| over the given query set."""
    from rust_vector_search_spark.operators.knn import knn_exact_fast

    exact = knn_exact_fast(emb, queries, k=k).select("query_id", "vec_id")
    exact = exact.localCheckpoint(eager=True)
    total = exact.count()
    hits = exact.join(
        approx.select("query_id", "vec_id"), ["query_id", "vec_id"],
        "left_semi",
    ).count()
    return hits / max(total, 1)


def _read_substrate_meta(index_dir: str) -> "dict | None":
    import json

    p = os.path.join(index_dir, "substrate_meta.json")
    if not os.path.isfile(p):
        return None
    with open(p) as f:
        return json.load(f)


def _ensure_index(index_dir: str, n: int, num_trees: int, leaf: int) -> None:
    """Substrate guard (VERDICT r14 #5): rebuilds go THROUGH the
    recorded build parameters, never through flag guesses. scale_probe
    stamps {index_dir}/substrate_meta.json at build time (n, trees,
    leaf, seed, sigma/gaussian); here:

      - index present + meta present: REFUSE flags that disagree with
        the meta — pointing a probe at a substrate with the wrong
        (n, trees, leaf) mislabels every number it measures;
      - index absent + meta present: rebuild FROM the meta (including
        sigma/--gaussian, which this tool has no flags for — the exact
        idxm500k hazard: a reclaimed sigma=1.0 substrate rebuilt
        without --sigma silently became the easy corpus);
      - index absent + no meta: refuse a NON-DEFAULT regime guess is
        impossible to detect, so rebuild with the flags (default
        sigma) and stamp the meta, WARNING that provenance starts now;
      - index present + no meta (pre-r15 substrate): stamp nothing,
        warn once — history for it stays manual."""
    meta = _read_substrate_meta(index_dir)
    if os.path.isdir(f"{index_dir}/idx/nodes"):
        if meta is not None:
            mism = {
                k: (meta.get(k), v)
                for k, v in (("n", n), ("num_trees", num_trees), ("leaf", leaf))
                if meta.get(k) != v
            }
            if mism:
                raise SystemExit(
                    f"_ensure_index: {index_dir} was built with "
                    f"{ {k: a for k, (a, _b) in mism.items()} } but the "
                    f"probe flags say { {k: b for k, (_a, b) in mism.items()} }"
                    f" — numbers measured under these flags would be "
                    f"mislabeled; fix the flags or point at a different "
                    f"substrate"
                )
        else:
            print(
                f"WARN: {index_dir} carries no substrate_meta.json "
                f"(pre-r15 substrate) — flag/regime consistency cannot "
                f"be checked",
                flush=True,
            )
        return
    argv = [str(n), str(num_trees), str(leaf), "--batch", "10"]
    if meta is not None:
        mism = {
            k: (meta.get(k), v)
            for k, v in (("n", n), ("num_trees", num_trees), ("leaf", leaf))
            if meta.get(k) != v
        }
        if mism:
            raise SystemExit(
                f"_ensure_index: {index_dir} is reclaimed but its "
                f"substrate_meta.json records {mism} vs the probe flags "
                f"— rebuilding under these flags would put a different "
                f"index under a name with measured history"
            )
        argv = [
            str(meta["n"]), str(meta["num_trees"]), str(meta["leaf"]),
            "--batch", str(meta.get("batch") or 10),
        ]
        if meta.get("gaussian"):
            argv.append("--gaussian")
        elif meta.get("sigma") is not None:
            argv += ["--sigma", str(meta["sigma"])]
        print(
            f"index {index_dir} absent — rebuilding from recorded meta "
            f"{meta} (bit-identical: seeded)",
            flush=True,
        )
    else:
        print(
            f"index {index_dir} absent, NO substrate_meta.json — "
            f"rebuilding with probe flags at DEFAULT regime (sigma 0.25) "
            f"and stamping meta; if this name has measured history from "
            f"a non-default regime, stop and rebuild by hand",
            flush=True,
        )
    t0 = time.time()
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="48g")
    subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "scale_probe.py"),
            *argv, "--workdir", index_dir,
        ],
        check=True,
        env=env,
    )
    print(f"rebuild took {time.time() - t0:.1f}s", flush=True)


def cmd_search(args) -> None:
    from rust_vector_search_spark.operators.search import search_rp_forest
    from rust_vector_search_spark.session import get_spark

    _ensure_index(args.index, args.n, args.num_trees, args.leaf)
    spark = get_spark(app_name="deep_index_probe")
    emb, forest = _load(spark, args.index, args.num_trees, args.leaf)
    q = _queries_of(emb, args.queries)
    t0 = time.time()
    approx = (
        search_rp_forest(forest, emb, q, k=args.k)
        .select("query_id", "vec_id")
        .localCheckpoint(eager=True)
    )
    n_rows = approx.count()
    wall = time.time() - t0
    recall = _recall_vs_exact(spark, emb, approx, q, args.k)
    print(
        f"RESULT search: {wall:.1f}s / {args.queries} q "
        f"({wall / args.queries:.2f} s/q, {n_rows} rows) "
        f"recall@{args.k}={recall:.3f}",
        flush=True,
    )
    _append_history(
        f"search leg ({os.path.basename(args.index)}, "
        f"{args.num_trees} trees): {wall:.1f} s / {args.queries} q, "
        f"recall@{args.k} = {recall:.3f}",
        not args.no_baseline_append,
    )


def cmd_allpairs(args) -> None:
    from rust_vector_search_spark.operators.search import (
        all_pairs_rp_forest,
        auto_tree_batches,
        resolve_spill_margin,
    )
    from rust_vector_search_spark.session import get_spark

    _ensure_index(args.index, args.n, args.num_trees, args.leaf)
    spark = get_spark(app_name="deep_index_probe_allpairs")
    emb, forest = _load(spark, args.index, args.num_trees, args.leaf)
    if args.subset and args.subset < forest.num_trees:
        # the TREES dial (src/main.rs:141 fixes it at build time; here
        # one persisted index serves any smaller operating point via
        # tree_id partition pruning) — lets the r11 trees-vs-margin
        # frontier run 50/100/150-tree points off ONE 150-tree build
        from rust_vector_search_spark.operators.index import subset_forest

        forest = subset_forest(forest, args.subset)
        print(f"subset to first {args.subset} trees "
              f"({forest.node_count} nodes)", flush=True)
    n_corpus = emb.count()
    t0 = time.time()
    # the 100 TB shape: one co-locating exchange, per-leaf pairwise
    # distances in a numpy grouped-map kernel, slim triples after —
    # never a wide pair shuffle.
    # --spill-frac engages the recall dial (r10); --tree-batches
    # bounds the exchange's scratch-disk high-water mark
    margin = 0.0
    if args.spill_frac > 0.0:
        margin = args.spill_frac * resolve_spill_margin(
            emb.select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("query_vec"),
            ),
            frac=1.0,
        )
    # resolve "auto" here and pass the integer in, so the B printed is
    # the B that runs. Print it BEFORE the call: for B>1 the call runs
    # every chunk eagerly, and if a multi-hour run dies mid-way (disk
    # full) the chosen B is exactly the diagnostic needed to explain it.
    if args.tree_batches == "auto":
        tb, est, budget = auto_tree_batches(forest, n_corpus, margin)
        print(
            f"tree_batches=auto -> {tb} (exchange est "
            f"{est / 2**30:.1f} GB, chunk budget "
            f"{budget / 2**30:.1f} GB)",
            flush=True,
        )
    else:
        tb = int(args.tree_batches)
    tb = min(tb, max(forest.num_trees, 1))  # as the operator clamps it
    searched = all_pairs_rp_forest(
        forest, emb, k=args.k, spill_margin=margin, tree_batches=tb,
    )
    approx = (
        searched
        .select("query_id", "vec_id")
        .localCheckpoint(eager=True)
    )
    n_rows = approx.count()
    wall = time.time() - t0
    # recall on a seeded sample (exact all-pairs ground truth at 250k is
    # the quarantined N² baseline — a 1000-query slice of it is enough
    # to bound the quality honestly)
    sample_q = (
        emb.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        .orderBy(F.md5(F.concat(F.lit("aps"), F.col("query_id"))))
        .limit(args.sample)
        .localCheckpoint(eager=True)
    )
    sample_approx = approx.join(
        sample_q.select("query_id"), "query_id", "left_semi"
    )
    recall = _recall_vs_exact(spark, emb, sample_approx, sample_q, args.k)
    tag = "leaflocal"
    if args.subset:
        tag += f" trees={forest.num_trees}"
    tag += (
        f" spill_frac={args.spill_frac} batches={tb}"
        + (" (auto)" if args.tree_batches == "auto" else "")
    )
    print(
        f"RESULT allpairs: {wall:.1f}s / {n_corpus} corpus queries "
        f"({1000.0 * wall / n_corpus:.2f} ms/q, {n_rows} rows) "
        f"recall@{args.k}={recall:.3f} (on {args.sample}-query sample) "
        f"path={tag}",
        flush=True,
    )
    _append_history(
        f"all-pairs self-kNN ({os.path.basename(args.index)}, "
        f"path={tag}): {wall:.1f} s / {n_corpus} q "
        f"({1000.0 * wall / n_corpus:.2f} ms/q), sampled recall@{args.k} "
        f"= {recall:.3f}",
        not args.no_baseline_append,
    )


def cmd_recall(args) -> None:
    from rust_vector_search_spark.operators.index import subset_forest
    from rust_vector_search_spark.operators.knn import knn_exact_fast
    from rust_vector_search_spark.operators.search import (
        resolve_spill_margin,
        route_queries,
        search_rp_forest,
    )
    from rust_vector_search_spark.session import get_spark

    _ensure_index(args.index, args.n, args.num_trees, args.leaf)
    spark = get_spark(app_name="deep_index_probe_recall")
    emb, forest = _load(spark, args.index, args.num_trees, args.leaf)
    n_corpus = emb.count()
    q = _queries_of(emb, args.queries).localCheckpoint(eager=True)
    exact = (
        knn_exact_fast(emb, q, k=args.k)
        .select("query_id", "vec_id")
        .localCheckpoint(eager=True)
    )
    total = exact.count()

    if args.spills:
        # multi-probe dial at FULL tree count: the recall dial for the
        # hard (i.i.d.) regime where more trees saturate — spilling
        # near-plane descents recovers the neighbors that sit just
        # across a split. frac is in units of the projection spread
        # r/√d (resolve_spill_margin's scale; 0.3 = the "auto" point).
        unit = resolve_spill_margin(q, frac=1.0)
        # r13 (VERDICT r12 #4): the sweep crosses tree counts too, so
        # the two-dial guidance covers SINGLE queries, not just the
        # leaf-local all-pairs engine. --trees unset means "full forest
        # only" (the pre-r13 behavior); an explicit list subsets
        if args.trees is None:
            tree_counts = [forest.num_trees]
        else:
            tree_counts = [int(t) for t in args.trees.split(",")]
        for T_req in tree_counts:
            # clamp + label with the REAL tree count: a requested T
            # past the forest would otherwise persist a mislabeled
            # history line that later rounds cite for dial guidance
            T = min(T_req, forest.num_trees)
            if T != T_req:
                print(f"WARNING: requested {T_req} trees, index holds "
                      f"{forest.num_trees} — sweeping at {T}", flush=True)
            sub = subset_forest(forest, T) if T < forest.num_trees else forest
            for cfg in args.spills.split(","):
                frac_s, ms_s = cfg.split(":")
                frac, ms = float(frac_s), int(ms_s)
                t0 = time.time()
                approx = (
                    search_rp_forest(
                        sub, emb, q, k=args.k,
                        spill_margin=frac * unit, max_spills=ms,
                    )
                    .select("query_id", "vec_id")
                    .localCheckpoint(eager=True)
                )
                approx.count()
                wall = time.time() - t0
                hits = exact.join(
                    approx, ["query_id", "vec_id"], "left_semi"
                ).count()
                routed = route_queries(
                    sub, q, spill_margin=frac * unit, max_spills=ms,
                    n_queries=args.queries,
                )
                cand = (
                    routed.join(sub.leaves, ["tree_id", "leaf_path"])
                    .select("query_id", "vec_id")
                    .distinct()
                    .count()
                )
                line = (
                    f"spill sweep ({os.path.basename(args.index)}, "
                    f"{T} trees): frac={frac} max_spills={ms} "
                    f"recall@{args.k}={hits / max(total, 1):.3f} "
                    f"cand_frac={cand / (args.queries * n_corpus):.4f} "
                    f"wall={wall:.1f}s/{args.queries}q"
                )
                print(f"RESULT {line}", flush=True)
                _append_history(line, not args.no_baseline_append)
        return

    for t_str in (args.trees or "5,10,25,50").split(","):
        T = int(t_str)
        sub = subset_forest(forest, T)
        t0 = time.time()
        approx = (
            search_rp_forest(sub, emb, q, k=args.k)
            .select("query_id", "vec_id")
            .localCheckpoint(eager=True)
        )
        approx.count()
        wall = time.time() - t0
        hits = exact.join(
            approx, ["query_id", "vec_id"], "left_semi"
        ).count()
        # candidate fraction: distinct (query, vec) candidates the
        # routed leaves yield, before re-rank — the work metric
        routed = route_queries(sub, q, spill_margin="auto",
                               n_queries=args.queries)
        cand = (
            routed.join(sub.leaves, ["tree_id", "leaf_path"])
            .select("query_id", "vec_id")
            .distinct()
            .count()
        )
        frac = cand / (args.queries * n_corpus)
        line = (
            f"recall sweep ({os.path.basename(args.index)}): trees={T} "
            f"recall@{args.k}={hits / max(total, 1):.3f} "
            f"cand_frac={frac:.4f} wall={wall:.1f}s/{args.queries}q"
        )
        print(f"RESULT {line}", flush=True)
        _append_history(line, not args.no_baseline_append)


def cmd_compact(args) -> None:
    """Convert the index to the compact (float32-coeffs) on-disk format
    and measure the search leg on both, interleaved twice so the second
    (page-cache-warm) iteration of each is the comparable number — the
    leg is node-table-scan-bound, so the f32 cast's halved coeffs column
    is exactly the claimed win and this leg turns it into a recorded
    one."""
    import shutil

    from rust_vector_search_spark.operators.index import (
        load_index,
        save_index,
    )
    from rust_vector_search_spark.operators.search import search_rp_forest
    from rust_vector_search_spark.session import get_spark

    _ensure_index(args.index, args.n, args.num_trees, args.leaf)
    spark = get_spark(app_name="deep_index_probe_compact")
    emb, forest = _load(spark, args.index, args.num_trees, args.leaf)

    cdir = args.index.rstrip("/") + "_c"
    if not os.path.isdir(f"{cdir}/idx/nodes"):
        t0 = time.time()
        save_index(forest, f"{cdir}/idx", compact=True)
        print(f"compact re-save: {time.time() - t0:.1f}s", flush=True)
    compact = load_index(spark, f"{cdir}/idx", num_trees=args.num_trees,
                         max_node_size=args.leaf, seed=42)

    def _du(d):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(d) for f in fs
        )

    full_gb = _du(f"{args.index}/idx/nodes") / 1e9
    comp_gb = _du(f"{cdir}/idx/nodes") / 1e9
    print(f"node table: full {full_gb:.2f} GB, compact {comp_gb:.2f} GB",
          flush=True)

    q = _queries_of(emb, args.queries)
    walls = {"full": [], "compact": []}
    recalls = {}
    for it in range(2):
        for name, f_ in (("full", forest), ("compact", compact)):
            t0 = time.time()
            approx = (
                search_rp_forest(f_, emb, q, k=args.k)
                .select("query_id", "vec_id")
                .localCheckpoint(eager=True)
            )
            approx.count()
            walls[name].append(time.time() - t0)
            if it == 1:
                recalls[name] = _recall_vs_exact(spark, emb, approx, q,
                                                 args.k)
            print(f"RESULT search[{name}] iter{it}: "
                  f"{walls[name][-1]:.1f}s / {args.queries} q", flush=True)
    _append_history(
        f"compact-index leg ({os.path.basename(args.index)}): node table "
        f"{full_gb:.2f} → {comp_gb:.2f} GB; warm search "
        f"{walls['full'][1]:.1f} → {walls['compact'][1]:.1f} s "
        f"/ {args.queries} q (cold {walls['full'][0]:.1f} → "
        f"{walls['compact'][0]:.1f} s); recall@{args.k} "
        f"{recalls['full']:.3f} vs {recalls['compact']:.3f}",
        not args.no_baseline_append,
    )
    if args.cleanup:
        shutil.rmtree(cdir, ignore_errors=True)


def cmd_ingest(args) -> None:
    import shutil

    from rust_vector_search_spark.operators.index import (
        build_rp_forest_batched,
        load_index,
    )
    from rust_vector_search_spark.operators.search import search_rp_forest
    from rust_vector_search_spark.session import get_spark
    from rust_vector_search_spark.streaming import incremental_index_ingest

    _ensure_index(args.index, args.n, args.num_trees, args.leaf)
    base_dir = args.index.rstrip("/") + "_base"
    # the leg MUTATES {base}/idx/leaves in place, and the file-stream
    # checkpoint tracks source files by PATH — a re-run rewrites the
    # holdout under fresh part-file names, the stream sees them as new,
    # and the same 25k rows append AGAIN, silently corrupting every
    # later leg's input. Refuse instead of double-ingesting.
    if os.path.isdir(f"{base_dir}/ingest_ckpt"):
        raise SystemExit(
            f"{base_dir} already holds an ingested index (checkpoint "
            f"present) — re-running would append the holdout a second "
            f"time. Delete {base_dir} to redo the ingest leg, or run "
            f"the maintain leg against the existing state."
        )
    spark = get_spark(app_name="deep_index_probe_ingest")
    emb, full_forest = _load(spark, args.index, args.num_trees, args.leaf)
    # 1. build the pre-ingest index over corpus minus holdout (the
    #    "yesterday's index" in the incremental story)
    if args.holdout is None:
        args.holdout = 25_000
    rest = emb.filter(F.col("vec_id") >= args.holdout)
    if not os.path.isdir(f"{base_dir}/idx/nodes"):
        t0 = time.time()
        build_rp_forest_batched(
            rest, f"{base_dir}/idx", num_trees=args.num_trees,
            max_node_size=args.leaf, seed=42, max_depth=32,
            local_threshold=16384, tree_batch_size=10,
        )
        print(f"base build ({args.n - args.holdout}): "
              f"{time.time() - t0:.1f}s", flush=True)
    base = load_index(spark, f"{base_dir}/idx", num_trees=args.num_trees,
                      max_node_size=args.leaf, seed=42)

    # 2. stream the holdout in through the FROZEN hyperplanes
    holdout = emb.filter(F.col("vec_id") < args.holdout)
    src = f"{base_dir}/holdout_src"
    holdout.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(holdout.schema).parquet(src)
    t0 = time.time()
    ing = incremental_index_ingest(
        stream.select("vec_id", F.col("embedding")),
        base,
        leaves_path=f"{base_dir}/idx/leaves",
        checkpoint_path=f"{base_dir}/ingest_ckpt",
    )
    if not ing.awaitTermination(1800):
        ing.stop()
        raise SystemExit(
            "ingest did not finish within 1800 s - aborting before a "
            "partially-ingested index is recorded as the result"
        )
    t_ingest = time.time() - t0
    print(f"RESULT ingest: {t_ingest:.1f}s for {args.holdout} vectors",
          flush=True)

    # 3. search the augmented index; recall vs exact, side by side with
    #    the full-rebuild index on the SAME queries (holdout members
    #    among them — they only have neighbors if ingest worked)
    aug = load_index(spark, f"{base_dir}/idx", num_trees=args.num_trees,
                     max_node_size=args.leaf, seed=42)
    q = _queries_of(emb, args.queries)
    results = {}
    for name, forest in (("augmented", aug), ("full-rebuild", full_forest)):
        t0 = time.time()
        approx = (
            search_rp_forest(forest, emb, q, k=args.k)
            .select("query_id", "vec_id")
            .localCheckpoint(eager=True)
        )
        approx.count()
        wall = time.time() - t0
        recall = _recall_vs_exact(spark, emb, approx, q, args.k)
        results[name] = (wall, recall)
        print(f"RESULT search[{name}]: {wall:.1f}s "
              f"recall@{args.k}={recall:.3f}", flush=True)
    _append_history(
        f"incremental ingest ({os.path.basename(args.index)}): "
        f"{args.holdout} vectors in {t_ingest:.1f} s; post-ingest "
        f"recall@{args.k} = {results['augmented'][1]:.3f} vs "
        f"full-rebuild {results['full-rebuild'][1]:.3f} "
        f"(search {results['augmented'][0]:.1f} s vs "
        f"{results['full-rebuild'][0]:.1f} s, {args.queries} q)",
        not args.no_baseline_append,
    )
    if args.cleanup:
        shutil.rmtree(base_dir, ignore_errors=True)


def cmd_maintain(args) -> None:
    """Maintenance-at-scale leg: after the ingest leg has appended the
    holdout through frozen hyperplanes (leaving {index}_base/idx with
    overgrown leaves), resplit_overgrown_leaves must restore the leaf
    bound without a rebuild. Records overgrown-leaf stats before/after,
    the maintenance wall, and the maintained index's search recall —
    the number that shows maintenance is cheaper than the known full
    rebuild (BASELINE: 1226 s at 250k) while keeping quality."""
    import shutil

    from rust_vector_search_spark.operators.index import (
        load_index,
        resplit_overgrown_leaves,
        save_index,
    )
    from rust_vector_search_spark.operators.search import search_rp_forest
    from rust_vector_search_spark.session import get_spark

    base_dir = args.index.rstrip("/") + "_base"
    if not os.path.isdir(f"{base_dir}/idx/leaves"):
        raise SystemExit(
            f"{base_dir}/idx/leaves absent — run the ingest leg first"
        )
    _ensure_index(args.index, args.n, args.num_trees, args.leaf)
    spark = get_spark(app_name="deep_index_probe_maintain")
    emb, _ = _load(spark, args.index, args.num_trees, args.leaf)
    aug = load_index(spark, f"{base_dir}/idx", num_trees=args.num_trees,
                     max_node_size=args.leaf, seed=42)

    def _over_stats(forest):
        row = (
            forest.leaves.groupBy("tree_id", "leaf_path")
            .count()
            .filter(F.col("count") > args.leaf)
            .agg(
                F.count(F.lit(1)).alias("k"),
                F.max("count").alias("mx"),
                F.sum("count").alias("m"),
            )
            .collect()[0]
        )
        return int(row.k or 0), int(row.mx or 0), int(row.m or 0)

    k0, mx0, m0 = _over_stats(aug)
    print(f"before: {k0} overgrown leaves (max {mx0}, {m0} members)",
          flush=True)
    t0 = time.time()
    fixed = resplit_overgrown_leaves(aug, emb)
    t_fix = time.time() - t0
    k1, mx1, _ = _over_stats(fixed)
    print(f"RESULT maintain: {t_fix:.1f}s; overgrown {k0} -> {k1} "
          f"(max size {mx0} -> {mx1}); nodes {aug.node_count} -> "
          f"{fixed.node_count}", flush=True)

    mdir = f"{base_dir}/idx_m"
    t0 = time.time()
    save_index(fixed, mdir)
    t_save = time.time() - t0
    maintained = load_index(spark, mdir, num_trees=args.num_trees,
                            max_node_size=args.leaf, seed=42)
    q = _queries_of(emb, args.queries)
    t0 = time.time()
    approx = (
        search_rp_forest(maintained, emb, q, k=args.k)
        .select("query_id", "vec_id")
        .localCheckpoint(eager=True)
    )
    approx.count()
    t_search = time.time() - t0
    recall = _recall_vs_exact(spark, emb, approx, q, args.k)
    print(f"RESULT search[maintained]: {t_search:.1f}s "
          f"recall@{args.k}={recall:.3f}", flush=True)
    _append_history(
        f"leaf maintenance ({os.path.basename(args.index)}): resplit "
        f"{k0} overgrown leaves ({m0} members, max {mx0}) in {t_fix:.1f} s "
        f"(+{t_save:.1f} s re-save) -> {k1} overgrown (max {mx1}); "
        f"post-maintenance search {t_search:.1f} s / {args.queries} q, "
        f"recall@{args.k} = {recall:.3f}",
        not args.no_baseline_append,
    )
    if args.cleanup:
        shutil.rmtree(mdir, ignore_errors=True)


def cmd_recallcache(args) -> None:
    """Cached-truth staleness-check acceptance (r12b): on the loaded
    index, run the UNCACHED estimate_recall (exact side = one full
    corpus vector scan + BLAS block top-k), then anchor
    save_recall_baseline beside the index and run the CACHED check.
    Records all three walls and asserts value parity (same corpus =>
    identical recall by construction). At probe scale the vector
    column is small enough that the local win is modest — the point
    of the measurement is splitting the wall into the O(|corpus|)
    term (paid once at anchor) vs the recurring term (forest search +
    id-column semi-join), the division that decides feasibility at a
    corpus the node table dwarfs."""
    import shutil

    from rust_vector_search_spark.operators.index import needs_rebuild
    from rust_vector_search_spark.operators.search import (
        estimate_recall,
        save_recall_baseline,
    )
    from rust_vector_search_spark.session import get_spark

    _ensure_index(args.index, args.n, args.num_trees, args.leaf)
    spark = get_spark(app_name="deep_index_probe_recallcache")
    emb, forest = _load(spark, args.index, args.num_trees, args.leaf)
    idx = f"{args.index}/idx"

    t0 = time.time()
    v = needs_rebuild(forest)
    t_trig = time.time() - t0
    fvf = (
        "n/a" if v["fill_vs_fresh"] is None
        else f"{v['fill_vs_fresh']:.3f}"
    )
    print(f"needs_rebuild: {t_trig:.1f}s fill_vs_fresh={fvf} "
          f"fires={v['needs_rebuild']}", flush=True)

    t0 = time.time()
    un = estimate_recall(forest, emb, n_sample=args.queries, k=args.k)
    t_un = time.time() - t0
    print(f"RESULT estimate_recall[uncached]: {t_un:.1f}s "
          f"recall={un['recall']:.3f} ({un['n_sample']} samples)",
          flush=True)

    t0 = time.time()
    save_recall_baseline(
        forest, emb, idx, n_sample=args.queries, k=args.k, reserve=4
    )
    t_anchor = time.time() - t0
    t0 = time.time()
    ca = estimate_recall(
        forest, emb, n_sample=args.queries, k=args.k, truth_path=idx
    )
    t_ca = time.time() - t0
    parity = (ca["recall"] == un["recall"] and ca["hits"] == un["hits"])
    print(f"RESULT estimate_recall[cached]: {t_ca:.1f}s "
          f"recall={ca['recall']:.3f} exhausted={ca['n_exhausted']} "
          f"(anchor {t_anchor:.1f}s, parity={parity})", flush=True)
    if not parity:
        raise SystemExit(
            f"cached/uncached recall DIVERGED on an unchanged corpus: "
            f"{ca['recall']:.4f} vs {un['recall']:.4f}"
        )
    _append_history(
        f"cached staleness check ({os.path.basename(args.index)}): "
        f"uncached {t_un:.1f} s vs cached {t_ca:.1f} s / "
        f"{args.queries} samples (one-time anchor {t_anchor:.1f} s, "
        f"reserve 4); recall {un['recall']:.3f} == {ca['recall']:.3f}, "
        f"trigger read {t_trig:.1f} s",
        not args.no_baseline_append,
    )
    if args.cleanup:
        shutil.rmtree(f"{idx}/recall_truth", ignore_errors=True)


def cmd_debt(args) -> None:
    """Fresh-build resplit-debt leg (r12b): a dense corpus force-closes
    leaves at the build's depth cap, so even a FRESH index carries
    overgrown leaves (idx1m: 31,580 at depth 32) — real maintenance
    debt the overgrowth signal surfaces. resplit_overgrown_leaves'
    default cap (deepest overgrown + 8) lets maintenance split past
    the build cap. Records debt before/after, the resplit + re-save
    walls vs the known rebuild cost, and search recall before/after
    over the re-saved index ({index}_rs/idx, compact)."""
    import shutil

    from rust_vector_search_spark.operators.index import (
        load_index,
        resplit_overgrown_leaves,
        save_index,
    )
    from rust_vector_search_spark.operators.search import search_rp_forest
    from rust_vector_search_spark.session import get_spark

    _ensure_index(args.index, args.n, args.num_trees, args.leaf)
    spark = get_spark(app_name="deep_index_probe_debt")
    emb, forest = _load(spark, args.index, args.num_trees, args.leaf)

    def _over_stats(f):
        row = (
            f.leaves.groupBy("tree_id", "leaf_path")
            .count()
            .filter(F.col("count") > args.leaf)
            .agg(
                F.count(F.lit(1)).alias("k"),
                F.max("count").alias("mx"),
                F.sum("count").alias("m"),
            )
            .collect()[0]
        )
        return int(row.k or 0), int(row.mx or 0), int(row.m or 0)

    k0, mx0, m0 = _over_stats(forest)
    print(f"debt before: {k0} overgrown leaves (max {mx0}, {m0} members) "
          f"at depth cap {forest.max_depth}", flush=True)
    if not k0:
        print("RESULT debt: none — nothing to repair", flush=True)
        return

    q = _queries_of(emb, args.queries)
    approx0 = (
        search_rp_forest(forest, emb, q, k=args.k)
        .select("query_id", "vec_id").localCheckpoint(eager=True)
    )
    approx0.count()
    recall0 = _recall_vs_exact(spark, emb, approx0, q, args.k)
    print(f"recall before: {recall0:.3f}", flush=True)

    t0 = time.time()
    fixed = resplit_overgrown_leaves(forest, emb)
    t_fix = time.time() - t0
    k1, mx1, _ = _over_stats(fixed)
    print(f"RESULT debt resplit: {t_fix:.1f}s; overgrown {k0} -> {k1} "
          f"(max {mx0} -> {mx1}); nodes {forest.node_count} -> "
          f"{fixed.node_count}, depth {forest.max_depth} -> "
          f"{fixed.max_depth}", flush=True)

    rs_dir = args.index.rstrip("/") + "_rs/idx"
    t0 = time.time()
    save_index(fixed, rs_dir)
    t_save = time.time() - t0
    repaired = load_index(spark, rs_dir, num_trees=args.num_trees,
                          max_node_size=args.leaf, seed=42)
    t0 = time.time()
    approx1 = (
        search_rp_forest(repaired, emb, q, k=args.k)
        .select("query_id", "vec_id").localCheckpoint(eager=True)
    )
    approx1.count()
    t_search = time.time() - t0
    recall1 = _recall_vs_exact(spark, emb, approx1, q, args.k)
    print(f"RESULT search[repaired]: {t_search:.1f}s "
          f"recall@{args.k}={recall1:.3f} (was {recall0:.3f})", flush=True)
    _append_history(
        f"fresh-build resplit debt ({os.path.basename(args.index)}): "
        f"{k0} force-closed leaves ({m0} members, max {mx0}) repaired "
        f"to {k1} in {t_fix:.1f} s (+{t_save:.1f} s re-save), depth "
        f"{forest.max_depth} -> {fixed.max_depth}; recall {recall0:.3f} "
        f"-> {recall1:.3f} ({args.queries} q, post-repair search "
        f"{t_search:.1f} s)",
        not args.no_baseline_append,
    )
    if args.cleanup:
        shutil.rmtree(args.index.rstrip("/") + "_rs", ignore_errors=True)


def cmd_shrink(args) -> None:
    """Deletion-at-scale leg: delete_vectors removes a seeded 80% of
    the corpus from the index, prune_underfull_subtrees collapses the
    subtrees that left underfull, and the search leg runs over the
    survivors — the takedown/retention lifecycle measured at the probe
    point. Records the prune wall, node-table shrink, and post-prune
    recall (vs exact kNN over the surviving corpus)."""
    from rust_vector_search_spark.operators.index import (
        delete_vectors,
        prune_underfull_subtrees,
    )
    from rust_vector_search_spark.operators.search import search_rp_forest
    from rust_vector_search_spark.session import get_spark

    _ensure_index(args.index, args.n, args.num_trees, args.leaf)
    spark = get_spark(app_name="deep_index_probe_shrink")
    emb, forest = _load(spark, args.index, args.num_trees, args.leaf)

    # seeded survivor set: every 5th vec_id stays (deterministic, and
    # uniform across leaves so underfull subtrees appear everywhere)
    doomed = emb.filter(F.col("vec_id") % 5 != 0).select("vec_id")
    survivors = emb.filter(F.col("vec_id") % 5 == 0).localCheckpoint(
        eager=True
    )
    t0 = time.time()
    thinned = delete_vectors(forest, doomed)
    pruned = prune_underfull_subtrees(thinned)
    t_prune = time.time() - t0
    print(
        f"RESULT shrink: {t_prune:.1f}s; nodes {forest.node_count} -> "
        f"{pruned.node_count}, max_depth {forest.max_depth} -> "
        f"{pruned.max_depth}", flush=True,
    )
    # health columns at the EXTREME-deletion point (r10): this is the
    # regime where post-prune recall decays (hyperplanes fit to the 5x
    # denser pre-delete corpus) — record what the rebuild-trigger
    # metric reads here vs the fresh/30%-delete lifecycle points
    from rust_vector_search_spark.operators.index import (
        forest_health_stats,
        needs_rebuild,
    )
    from rust_vector_search_spark.operators.search import estimate_recall

    for tag, f_, corpus_ in (
        ("fresh", forest, emb),
        ("deleted80", thinned, survivors),
        ("pruned", pruned, survivors),
    ):
        # per-tree stats materialized ONCE per tag so the printed row
        # and the trigger verdict share one leaf scan (same discipline
        # as the lifecycle leg)
        stats = forest_health_stats(f_).localCheckpoint(eager=True)
        h = stats.agg(
            F.avg("fill_ratio").alias("fill"),
            F.avg("occupancy_gini").alias("gini"),
            F.avg(F.col("max_depth") - F.col("min_depth")).alias("dspread"),
        ).collect()[0]
        # BOTH staleness signals at the extreme-deletion point: the
        # fill trigger (drained-leaf-aware since r12 — pre-r12 it read
        # ~1.0 here post-prune) and the sampled routing-quality probe
        # (VERDICT r11 #2: this is exactly the case it must detect)
        v = needs_rebuild(f_, stats=stats)
        er = estimate_recall(f_, corpus_, n_sample=args.queries,
                             k=args.k, seed=7)
        ratio = v["fill_vs_fresh"]
        print(
            f"RESULT shrink-health[{tag}]: fill={h.fill:.3f} "
            f"gini={h.gini:.3f} depth_spread={h.dspread:.1f} "
            f"fill_vs_fresh={'n/a' if ratio is None else f'{ratio:.3f}'} "
            f"needs_rebuild={v['needs_rebuild']} "
            f"est_recall={er['recall']:.3f}",
            flush=True,
        )

    # persist the pruned index (same discipline as the maintain leg) so
    # the search runs the layout route and the disk shrink is recorded
    import shutil

    from rust_vector_search_spark.operators.index import (
        load_index,
        save_index,
    )

    pdir = args.index.rstrip("/") + "_pruned"
    t0 = time.time()
    save_index(pruned, f"{pdir}/idx")
    t_save = time.time() - t0
    reloaded = load_index(spark, f"{pdir}/idx", num_trees=args.num_trees,
                          max_node_size=args.leaf, seed=42)

    def _du(d):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(d) for f in fs
        )

    gb0 = _du(f"{args.index}/idx/nodes") / 1e9
    gb1 = _du(f"{pdir}/idx/nodes") / 1e9

    q = survivors.filter(F.col("vec_id") < 5 * args.queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    t0 = time.time()
    approx = (
        search_rp_forest(reloaded, survivors, q, k=args.k)
        .select("query_id", "vec_id")
        .localCheckpoint(eager=True)
    )
    approx.count()
    t_search = time.time() - t0
    recall = _recall_vs_exact(spark, survivors, approx, q, args.k)
    print(f"RESULT search[pruned]: {t_search:.1f}s "
          f"recall@{args.k}={recall:.3f}", flush=True)
    _append_history(
        f"delete+prune ({os.path.basename(args.index)}): removed 80% of "
        f"members, pruned in {t_prune:.1f} s (+{t_save:.1f} s re-save), "
        f"nodes {forest.node_count} -> {pruned.node_count} (depth "
        f"{forest.max_depth} -> {pruned.max_depth}, node table "
        f"{gb0:.2f} -> {gb1:.2f} GB); post-prune search {t_search:.1f} s "
        f"/ {args.queries} q over survivors, recall@{args.k} = "
        f"{recall:.3f}",
        not args.no_baseline_append,
    )
    if args.cleanup:
        shutil.rmtree(pdir, ignore_errors=True)


def cmd_lifecycle(args) -> None:
    """The FULL lifecycle chained over ONE index (VERDICT r9 #3): base
    build (90% of the corpus) → stream-ingest the 10% holdout through
    the frozen hyperplanes → resplit the overgrown leaves → delete 30%
    of members → prune the underfull subtrees — with the search leg's
    recall AND the forest_health_stats routing-quality columns recorded
    after EVERY step on the SAME index. One probe row = the five-step
    recall trajectory; the health columns tie the rebuild-trigger
    metric (VERDICT r9 #4) to measured recall. Queries are a fixed
    seeded set of ids present in every step's corpus (non-holdout,
    non-doomed), so the trajectory is comparable step to step. Every
    persist uses the r10 compact default — the resplit-over-compact
    cast path runs here at scale."""
    import shutil

    from rust_vector_search_spark.operators.index import (
        build_rp_forest_batched,
        delete_vectors,
        forest_health_stats,
        load_index,
        prune_underfull_subtrees,
        resplit_overgrown_leaves,
        save_index,
    )
    from rust_vector_search_spark.operators.search import search_rp_forest
    from rust_vector_search_spark.session import get_spark
    from rust_vector_search_spark.streaming import incremental_index_ingest

    # the chain needs only the CORPUS from args.index (it builds its
    # own 90% index at {index}_lc) — don't force a 2376 s index rebuild
    # when the substrate's nodes were reclaimed for disk but emb remains
    if not os.path.isdir(f"{args.index}/idx/emb"):
        _ensure_index(args.index, args.n, args.num_trees, args.leaf)
    lc = args.index.rstrip("/") + "_lc"
    resume = bool(getattr(args, "resume", False))
    if os.path.isdir(f"{lc}/ingest_ckpt"):
        if not resume:
            raise SystemExit(
                f"{lc} already holds a lifecycle run (ingest checkpoint "
                f"present) — a re-run would double-append the holdout. "
                f"Delete {lc} to redo the leg, or pass --resume to "
                f"continue an interrupted run from its post-ingest "
                f"state (steps 3-5: resplit -> delete -> prune)."
            )
    elif resume:
        raise SystemExit(
            f"--resume needs {lc}/ingest_ckpt (the post-ingest state of "
            f"an interrupted run) — nothing to resume"
        )
    spark = get_spark(app_name="deep_index_probe_lifecycle")
    emb = spark.read.parquet(f"{args.index}/idx/emb").withColumnRenamed(
        "emb", "embedding"
    )
    # --holdout overrides the 10% default: at 1M x leaf<=5, a 10%
    # holdout ingested as ONE batch overgrows ~1.5M leaves and the
    # one-shot repair exchange exceeds this host's scratch disk (the
    # r13 scale finding, BASELINE) — production repairs per micro-batch
    # by the monitor signal; a bounded holdout keeps the one-shot probe
    # repairable
    holdout_n = args.n // 10 if args.holdout is None else int(args.holdout)
    holdout = emb.filter(F.col("vec_id") < holdout_n)
    rest = emb.filter(F.col("vec_id") >= holdout_n)
    doomed = emb.filter(F.col("vec_id") % 10 < 3).select("vec_id")
    survivors = emb.filter(F.col("vec_id") % 10 >= 3).localCheckpoint(
        eager=True
    )
    # query ids alive in EVERY step: not in the holdout, not doomed
    q = (
        emb.filter(
            (F.col("vec_id") >= holdout_n) & (F.col("vec_id") % 10 >= 3)
        )
        .orderBy("vec_id")
        .limit(args.queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        .localCheckpoint(eager=True)
    )

    traj: list = []

    from rust_vector_search_spark.plans.registry import (
        release_driver_blocks,
    )

    def _eval(tag, forest, corpus):
        release_driver_blocks(spark)
        t0 = time.time()
        approx = (
            search_rp_forest(forest, corpus, q, k=args.k)
            .select("query_id", "vec_id")
            .localCheckpoint(eager=True)
        )
        approx.count()
        t_search = time.time() - t0
        recall = _recall_vs_exact(spark, corpus, approx, q, args.k)
        # per-tree stats materialized ONCE (tiny: num_trees rows) so the
        # printed health row and the trigger verdict below share one
        # leaf scan instead of paying it twice per step
        stats = forest_health_stats(forest).localCheckpoint(eager=True)
        h = stats.agg(
            F.avg("fill_ratio").alias("fill"),
            F.avg("occupancy_gini").alias("gini"),
            F.sum("overgrown_leaves").alias("over"),
            F.max("max_leaf_size").alias("mx"),
        ).collect()[0]
        # the r11 rebuild trigger, read at every step against the
        # persisted fresh baseline: this chain is HEALTHY by design
        # (30% delete leaves pre-prune fill at ~0.76x of fresh, above
        # the 0.5 knee), so the trigger must stay quiet throughout —
        # a firing here means the baseline carry-forward or the ratio
        # broke (VERDICT r10 #2 "Done" condition)
        from rust_vector_search_spark.operators.index import needs_rebuild

        v = needs_rebuild(forest, stats=stats)
        ratio = v["fill_vs_fresh"]
        # the r12 staleness complement, read NEXT TO the fill trigger at
        # every step (VERDICT r11 #2): a seeded sample of the CURRENT
        # corpus routed through the index vs exact kNN on the same
        # sample — routing quality, where fill only sees occupancy
        from rust_vector_search_spark.operators.search import (
            estimate_recall,
        )

        er = estimate_recall(
            forest, corpus, n_sample=args.queries, k=args.k, seed=7
        )
        # the r12b cached check with the r13 membership guard, read at
        # every step: strict=False labels the number retention once
        # foreign ids exist (exactly counted); exhaustion raises the
        # typed refusal, recorded, never fatal to the chain
        t0 = time.time()
        try:
            cr = estimate_recall(
                forest, corpus, k=args.k, truth_path=f"{lc}/idx",
                strict=False,
            )
            cached_txt = (
                f"cached_retention={cr['recall']:.3f} "
                f"(exh={cr['n_exhausted']} "
                f"foreign={cr['inserted_at_least']} "
                f"{time.time() - t0:.0f}s)"
            )
        except ValueError as exc:
            cached_txt = f"cached=REFUSED({str(exc)[:60]})"
        print(
            f"RESULT lifecycle[{tag}]: search {t_search:.1f}s "
            f"recall@{args.k}={recall:.3f} "
            f"est_recall={er['recall']:.3f} ({er['n_sample']} sampled) "
            f"{cached_txt} "
            f"fill={h.fill:.3f} "
            f"gini={h.gini:.3f} overgrown={int(h.over)} "
            f"max_leaf={int(h.mx)} "
            f"fill_vs_fresh={'n/a' if ratio is None else f'{ratio:.3f}'} "
            f"needs_rebuild={v['needs_rebuild']}",
            flush=True,
        )
        if v["needs_rebuild"]:
            raise SystemExit(
                f"lifecycle[{tag}]: rebuild trigger fired on a healthy "
                f"chain (fill_vs_fresh={ratio}) — baseline carry-forward "
                "or ratio arithmetic is broken"
            )
        traj.append(
            (tag, recall, float(h.fill), float(h.gini), int(h.over),
             er["recall"])
        )
        return recall

    src = f"{lc}/holdout_src"
    resume_at_prune = resume and not os.path.isdir(
        f"{lc}/idx/nodes"
    ) and os.path.isdir(f"{lc}/idx_m/nodes")
    if resume_at_prune:
        # the maintained index was saved and the base reclaimed before
        # the interruption: only delete/prune remain
        print("lifecycle RESUME: maintained index found (base "
              "reclaimed) — continuing at delete/prune; earlier walls "
              "and eval rows are in the interrupted run's log",
              flush=True)
        t_build = t_ingest = t_fix = float("nan")
        aug = None
    elif resume:
        # an interrupted run already built, anchored, ingested, and
        # evaluated steps 1-2 (its log holds those walls/rows); load
        # the post-ingest index and continue at maintenance
        print("lifecycle RESUME: post-ingest state found — skipping "
              "build/anchor/ingest (their walls and eval rows are in "
              "the interrupted run's log)", flush=True)
        t_build = t_ingest = float("nan")
        aug = load_index(spark, f"{lc}/idx", num_trees=args.num_trees,
                         max_node_size=args.leaf, seed=42)
    else:
        # 1. base build (90%)
        t0 = time.time()
        build_rp_forest_batched(
            rest, f"{lc}/idx", num_trees=args.num_trees,
            max_node_size=args.leaf, seed=42, max_depth=32,
            local_threshold=16384, tree_batch_size=10,
        )
        t_build = time.time() - t0
        base = load_index(spark, f"{lc}/idx", num_trees=args.num_trees,
                          max_node_size=args.leaf, seed=42)
        print(f"lifecycle build({100 - 100 * holdout_n // args.n}%): "
              f"{t_build:.1f}s", flush=True)
        # r13: anchor the cached truth ON THE CHAIN'S OWN INDEX so every
        # step below also reads the recurring-health check a production
        # deployment would poll (strict=False: ingest makes later corpora
        # supersets of the anchor — the membership guard counts the
        # foreign ids exactly and the number is labeled retention)
        from rust_vector_search_spark.operators.search import (
            save_recall_baseline,
        )

        t0 = time.time()
        save_recall_baseline(
            base, rest, f"{lc}/idx", n_sample=args.queries, k=args.k,
            reserve=4,
        )
        print(f"lifecycle anchor (reserve 4): {time.time() - t0:.1f}s",
              flush=True)
        _eval("build", base, rest)

        # 2. ingest the holdout through the frozen hyperplanes
        holdout.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(holdout.schema).parquet(src)
        t0 = time.time()
        ing = incremental_index_ingest(
            stream.select("vec_id", F.col("embedding")),
            base,
            leaves_path=f"{lc}/idx/leaves",
            checkpoint_path=f"{lc}/ingest_ckpt",
        )
        if not ing.awaitTermination(1800):
            ing.stop()
            raise SystemExit(
                "lifecycle ingest did not finish within 1800 s - aborting "
                "before a partially-ingested index contaminates the chain"
            )
        t_ingest = time.time() - t0
        aug = load_index(spark, f"{lc}/idx", num_trees=args.num_trees,
                         max_node_size=args.leaf, seed=42)
        print(f"lifecycle ingest({100 * holdout_n // args.n}%): "
              f"{t_ingest:.1f}s", flush=True)
        _eval("ingest", aug, emb)

    # 3. maintenance: resplit the overgrown leaves, re-persist (compact),
    # re-load. The one-shot repair holds every overgrown leaf's members
    # in one exchange, so its scratch scales with the ACCUMULATED debt
    # (>61 GB at the 1.49M-leaf 10%-of-1M debt point): keep --holdout
    # small enough for this host's scratch disk
    if not resume_at_prune:
        t0 = time.time()
        save_index(resplit_overgrown_leaves(aug, emb), f"{lc}/idx_m")
        maintained = load_index(
            spark, f"{lc}/idx_m", num_trees=args.num_trees,
            max_node_size=args.leaf, seed=42,
        )
        t_fix = time.time() - t0
        print(f"lifecycle resplit+save: {t_fix:.1f}s", flush=True)
        _eval("resplit", maintained, emb)
    else:
        maintained = load_index(
            spark, f"{lc}/idx_m", num_trees=args.num_trees,
            max_node_size=args.leaf, seed=42,
        )
    if args.reclaim and not resume_at_prune:
        # the base index is no longer read past this point (the cached
        # truth lives under {lc}/idx/recall_truth — keep ONLY that)
        for sub in ("leaves", "nodes", "health", "meta"):
            shutil.rmtree(f"{lc}/idx/{sub}", ignore_errors=True)
        shutil.rmtree(src, ignore_errors=True)
        print("reclaimed: base idx tables + holdout_src", flush=True)

    # 4. delete 30% of members (takedown/retention)
    t0 = time.time()
    thinned = delete_vectors(maintained, doomed)
    t_del = time.time() - t0
    print(f"lifecycle delete(30%): {t_del:.1f}s", flush=True)
    if not resume_at_prune:
        _eval("delete", thinned, survivors)

    # 5. prune the underfull subtrees, re-persist (compact)
    release_driver_blocks(spark)
    t0 = time.time()
    pruned = prune_underfull_subtrees(thinned)
    if args.prune_in_memory:
        # at 1M the pruned-index persist needs the maintained input
        # (20 GB), the writer's dynamic-partition sort spill, and the
        # output on disk SIMULTANEOUSLY — past this host's scratch (the
        # r13 runs died here twice with ~59 GB free). The compact
        # persist path is already exercised AT THIS SCALE by the
        # resplit step's idx_m save; evaluate the pruned forest's
        # quality in memory (nodes stream from idx_m) and say so
        pruned.leaves.localCheckpoint(eager=True).count()
        t_prune = time.time() - t0
        reloaded = pruned
        print(
            f"lifecycle prune (IN-MEMORY eval; persist skipped for "
            f"scratch — the compact save path ran at this scale in "
            f"the resplit step): {t_prune:.1f}s; nodes "
            f"{maintained.node_count} -> {pruned.node_count}",
            flush=True,
        )
    else:
        save_index(pruned, f"{lc}/idx_p")
        t_prune = time.time() - t0
        reloaded = load_index(
            spark, f"{lc}/idx_p", num_trees=args.num_trees,
            max_node_size=args.leaf, seed=42,
        )
        print(
            f"lifecycle prune+save: {t_prune:.1f}s; nodes "
            f"{maintained.node_count} -> {reloaded.node_count}",
            flush=True,
        )
        if args.reclaim:
            shutil.rmtree(f"{lc}/idx_m", ignore_errors=True)
            print("reclaimed: idx_m", flush=True)
    _eval("prune", reloaded, survivors)

    steps = " -> ".join(f"{t}:{r:.3f}" for t, r, *_ in traj)
    est_steps = " -> ".join(f"{t}:{e:.3f}" for t, _, _, _, _, e in traj)
    health = "; ".join(
        f"{t} fill={f:.2f} gini={g:.2f} over={o}"
        for t, _, f, g, o, _ in traj
    )
    # a RESUMED run cannot know the interrupted run's holdout (the
    # default would silently mislabel it — caught in r14's resume run)
    holdout_label = (
        f"holdout {holdout_n}"
        if not resume or args.holdout is not None
        else "holdout from the interrupted run"
    )
    resume_label = (
        ", RESUMED at delete/prune"
        if resume_at_prune
        else ", RESUMED at maintenance" if resume else ""
    )
    _append_history(
        f"lifecycle chain ({os.path.basename(args.index)}, "
        f"{args.num_trees} trees, compact, {holdout_label}"
        f"{resume_label}): "
        f"build {t_build:.0f} s, "
        f"ingest {t_ingest:.0f} s, resplit+save {t_fix:.0f} s, "
        f"delete(30%) {t_del:.0f} s, "
        # label must match what actually ran: under --prune-in-memory
        # t_prune is only a localCheckpoint wall, NOT a persist cost —
        # an unlabeled history line would be cited as one (ADVICE r13)
        + (
            f"prune(in-memory, no persist) {t_prune:.0f} s; "
            if args.prune_in_memory
            else f"prune+save {t_prune:.0f} s; "
        )
        +
        f"recall@{args.k} {steps} ({args.queries} q); "
        f"est_recall {est_steps}; health: {health}",
        not args.no_baseline_append,
    )
    if args.cleanup:
        shutil.rmtree(lc, ignore_errors=True)


def cmd_retention(args) -> None:
    """Retention-cadence sizing (VERDICT r12 #2): how does ONE
    retention read compare to ONE monitored ingest micro-batch at this
    scale? Anchors the cached truth fresh (which also migrates a
    pre-r13 anchor to the corpus_ids membership layout), then times
    3 iterations of each side:

      - retention read = the cached estimate_recall in strict=False
        mode, exactly what incremental_index_ingest runs every
        retention_every-th batch (forest search of the anchored sample
        + membership anti-join + survivor semi-join, id columns only);
      - micro-batch body = route a 1k-row batch through the frozen
        hyperplanes + write the routed triples (to a scratch dir — the
        write cost is the same parquet append the real stream pays,
        without polluting the persisted index) + the post-append
        needs_rebuild health read over the REAL leaf table.

    Prints the implied retention_every for a 5% overhead target — the
    sizing rule the incremental_index_ingest docstring quotes."""
    import shutil
    import tempfile

    from rust_vector_search_spark.operators.index import needs_rebuild
    from rust_vector_search_spark.operators.search import (
        estimate_recall,
        route_queries,
        save_recall_baseline,
    )
    from rust_vector_search_spark.session import get_spark

    _ensure_index(args.index, args.n, args.num_trees, args.leaf)
    spark = get_spark(app_name="deep_index_probe_retention")
    emb, forest = _load(spark, args.index, args.num_trees, args.leaf)
    idx = f"{args.index}/idx"

    t0 = time.time()
    save_recall_baseline(
        forest, emb, idx, n_sample=args.queries, k=args.k, reserve=4
    )
    t_anchor = time.time() - t0
    print(f"anchor (incl. corpus_ids): {t_anchor:.1f}s", flush=True)

    reads = []
    for i in range(3):
        t0 = time.time()
        r = estimate_recall(
            forest, emb, n_sample=args.queries, k=args.k,
            truth_path=idx, strict=False,
        )
        reads.append(time.time() - t0)
        print(f"retention read #{i}: {reads[-1]:.1f}s "
              f"recall={r['recall']:.3f} exhausted={r['n_exhausted']} "
              f"foreign={r['inserted_at_least']}", flush=True)

    batch = (
        emb.orderBy(F.desc("vec_id")).limit(1000)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        .localCheckpoint(eager=True)
    )
    batches = []
    scratch = tempfile.mkdtemp(prefix="retention_batch_")
    for i in range(3):
        t0 = time.time()
        routed = route_queries(forest, batch).select(
            "tree_id", "leaf_path", F.col("query_id").alias("vec_id")
        )
        routed.write.mode("append").partitionBy("tree_id").parquet(
            f"{scratch}/leaves"
        )
        needs_rebuild(forest)
        batches.append(time.time() - t0)
        print(f"micro-batch body #{i} (1k rows): {batches[-1]:.1f}s",
              flush=True)
    shutil.rmtree(scratch, ignore_errors=True)

    import statistics

    m_read = statistics.median(reads)
    m_batch = statistics.median(batches)
    every_5pct = max(1, math.ceil(m_read / (0.05 * m_batch)))
    print(
        f"RESULT retention cadence ({os.path.basename(args.index)}): "
        f"read {m_read:.1f}s vs batch {m_batch:.1f}s -> "
        f"retention_every>={every_5pct} for <=5% overhead "
        f"(or retention_budget_frac=0.05)", flush=True,
    )
    _append_history(
        f"retention cadence ({os.path.basename(args.index)}, "
        f"{args.queries} samples, k={args.k}): retention read "
        f"{min(reads):.1f}-{max(reads):.1f} s (median {m_read:.1f}), "
        f"1k-row monitored batch body {min(batches):.1f}-"
        f"{max(batches):.1f} s (median {m_batch:.1f}); 5% overhead -> "
        f"retention_every >= {every_5pct} (anchor {t_anchor:.1f} s "
        f"incl. corpus_ids)",
        not args.no_baseline_append,
    )


def main() -> None:
    import argparse

    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument(
        "cmd", choices=[
            "search", "allpairs", "recall", "ingest", "compact",
            "maintain", "shrink", "lifecycle", "recallcache", "debt",
            "retention",
        ]
    )
    p.add_argument("--index", default="/tmp/idx250k")
    p.add_argument("--n", type=int, default=250_000)
    p.add_argument("--num-trees", type=int, default=50)
    p.add_argument("--leaf", type=int, default=5)
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--queries", type=int, default=100)
    p.add_argument("--sample", type=int, default=1000)
    p.add_argument("--trees", default=None)
    p.add_argument(
        "--spills", default=None,
        help="recall leg only: comma list of frac:max_spills multi-probe "
        "configs (frac in r/sqrt(d) units; 0.3:2 = the auto point); "
        "sweeps the spill dial at full tree count instead of the "
        "trees dial",
    )
    p.add_argument("--holdout", type=int, default=None)
    p.add_argument(
        "--spill-frac", type=float, default=0.0,
        help="allpairs: spill-dial margin in "
        "r/sqrt(d) units (resolve_spill_margin frac scale; 0.3 = the "
        "auto point; 0 = single-probe)",
    )
    p.add_argument(
        "--tree-batches", default="auto",
        help="allpairs: bound the peak shuffle "
        "footprint by processing num_trees/B trees per co-locating "
        "exchange (results identical to B=1); 'auto' (default) sizes "
        "B from SPARK_GRAFT_SHUFFLE_BUDGET_MB or free scratch/10",
    )
    p.add_argument(
        "--subset", type=int, default=0,
        help="allpairs: restrict to the first N trees of the loaded "
        "index (subset_forest; partition-pruned) — the trees dial for "
        "the trees-vs-margin frontier",
    )
    p.add_argument("--no-baseline-append", action="store_true")
    p.add_argument("--cleanup", action="store_true")
    p.add_argument(
        "--prune-in-memory", action="store_true",
        help="lifecycle: evaluate the pruned forest in memory instead "
             "of persisting idx_p — for hosts whose scratch cannot hold "
             "input + writer sort spill + output at once",
    )
    p.add_argument(
        "--resume", action="store_true",
        help="lifecycle: continue an interrupted run from its "
             "post-ingest state (skips build/anchor/ingest; their "
             "walls and eval rows live in the interrupted run's log)",
    )
    p.add_argument(
        "--reclaim", action="store_true",
        help="lifecycle: delete each intermediate index as soon as the "
             "chain no longer reads it (base idx after the resplit "
             "eval, idx_m after the pruned index loads) — caps peak "
             "scratch at ~2 index copies instead of 3, the difference "
             "that lets the chain fit beside a 22 GB 1M substrate",
    )
    args = p.parse_args()
    os.environ.setdefault("SPARK_GRAFT_MAX_RESULT", "8g")
    if args.cmd == "recall" and args.queries == 100:
        args.queries = 1000
    globals()[f"cmd_{args.cmd}"](args)


if __name__ == "__main__":
    main()
