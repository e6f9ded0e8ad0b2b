"""The benchmark workloads.

Each workload gets a ``Ctx`` (session, tracer, work dir, seed, sizes),
does its set-up, then runs a closed loop with one client: the next
operation starts only after the previous one has returned its rows.
Operations are timed one by one; output checks run between them, out of
the timed region, and count toward ``error_rate``.
"""

from __future__ import annotations

import ast
import inspect
import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyspark.sql.functions as F

import bench
from rust_vector_search_spark.operators.index import (
    build_rp_forest,
    delete_vectors,
    load_index,
    needs_rebuild,
    save_index,
)
from rust_vector_search_spark.operators.knn import knn_exact_fast
from rust_vector_search_spark.operators.search import (
    all_pairs_rp_forest,
    route_queries,
    search_rp_forest,
)
from rust_vector_search_spark.plans import QUERIES
from rust_vector_search_spark.plans.registry import release_driver_blocks
from rust_vector_search_spark.streaming.incremental import incremental_index_ingest

import gen

K = 10
BATCH_SIZES = (10, 100)  # query batches of ann_query, alternating
DUP_FRAC = 0.05  # injected exact duplicates
FILES_PER_TABLE = 4  # parquet files per written vector table
# index_lifecycle: the first round pays the stream's and the changed
# index's first-execution costs, so it runs in set-up; two warm rounds
# make a cycle
WARMUP_ROUNDS = 1
ROUNDS_PER_CYCLE = 2
# analytics_headline: passes keep speeding up for dozens of seconds as
# the JVM compiles the rows' code, so a cycle is a fixed number of passes
# (the run times one), not as many as fit in the window
PASSES_PER_CYCLE = 4


@dataclass(frozen=True)
class Sizes:
    corpus: int = 5000  # base vectors of ann_query and ann_build_allpairs
    # base vectors of index_lifecycle, whose set-up also runs all-pairs
    lifecycle_corpus: int = 2500
    pool_batches: int = 16  # distinct query batches ann_query cycles through
    arrivals: int = 300  # vectors per ingest micro-batch
    deletes: int = 60  # ids deleted per lifecycle round
    allpairs_sample: int = 200  # corpus ids whose all-pairs rows are checked
    headline_scale: float = 0.5  # × the smallest fixture tier's row counts


FULL = Sizes()
TINY = Sizes(
    corpus=600,
    lifecycle_corpus=600,
    pool_batches=4,
    arrivals=40,
    deletes=10,
    allpairs_sample=40,
    headline_scale=0.3,
)

# recall floors: a drop below these is a failed check, not a slow run
SEARCH_RECALL_FLOOR = 0.6
ALLPAIRS_RECALL_FLOOR = 0.3


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str
    seed: int
    seconds: float
    sizes: Sizes
    attempted: int = 0
    failed: int = 0
    # every timed step, and every whole cycle of steps
    op_walls: "list[float]" = field(default_factory=list)
    cycle_walls: "list[float]" = field(default_factory=list)
    report: dict = field(default_factory=dict)
    # set by the workload right before its first timed operation
    setup_done_at: float = 0.0
    loop_bookkeeping_s: float = 0.0

    # ---------------------------------------------------------- accounting

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr, flush=True)
        return ok

    def metric(self, name: str, value, unit: str, samples: int, **extra) -> None:
        self.report[name] = {"value": value, "unit": unit, "samples": samples} | extra

    def loop(self, step, cycle: int = 1, warmup: int = 0) -> None:
        """Closed loop over whole cycles of ``cycle`` steps: call
        ``step(i)`` until the timed walls add up to ``seconds``, at least
        one cycle. A cycle is the workload's unit
        operation, so every run measures the same mix of steps. ``step``
        returns its own timed wall and runs its checks after the timer
        stops; an exception is one failed step, timed up to the raise.
        The first ``warmup`` steps are set-up: checked, but neither timed
        nor traced."""
        with self.tracer.paused():
            for i in range(warmup):
                self._step(step, i)
        self.setup_done_at = time.perf_counter()
        book0 = self.tracer.bookkeeping_s
        n = 0
        while n % cycle or n == 0 or sum(self.op_walls) < self.seconds:
            self.op_walls.append(self._step(step, warmup + n))
            n += 1
            if n % cycle == 0:
                self.cycle_walls.append(sum(self.op_walls[-cycle:]))
        self.loop_bookkeeping_s = self.tracer.bookkeeping_s - book0

    def _step(self, step, i: int) -> float:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op", "op", step=i):
                wall = step(i)
        except Exception:
            self.failed += 1
            wall = time.perf_counter() - t0
            traceback.print_exc()
        self.tracer.flush()
        return wall

    # ------------------------------------------------------ vector inputs

    def write_vectors(self, name: str, ids: np.ndarray, x: np.ndarray) -> str:
        """Write (vec_id, embedding) as ``FILES_PER_TABLE`` parquet files."""
        path = os.path.join(self.work, name)
        os.makedirs(path, exist_ok=True)
        parts = zip(
            np.array_split(ids, FILES_PER_TABLE), np.array_split(x, FILES_PER_TABLE)
        )
        for j, (i_part, x_part) in enumerate(parts):
            if len(i_part):
                gen.vectors_frame(i_part, x_part).to_parquet(
                    os.path.join(path, f"part-{time.monotonic_ns()}-{j}.parquet"),
                    index=False,
                )
        return path

    def queries_df(self, x: np.ndarray, first_id: int):
        pdf = gen.queries_frame(x)
        pdf["query_id"] += first_id
        return self.spark.createDataFrame(pdf)

    # ------------------------------------------------ traced library calls

    def build(self, emb, dedup: bool = True):
        t0 = time.perf_counter()
        with self.tracer.span("index.build"):
            forest = build_rp_forest(emb, dedup=dedup)
        with self.tracer.span("index.build", "exec"):
            forest.nodes.count()
            forest.leaves.count()
        return forest, time.perf_counter() - t0

    def save(self, forest, path: str) -> float:
        t0 = time.perf_counter()
        with self.tracer.span("index.save"):
            save_index(forest, path)
        return time.perf_counter() - t0

    def load(self, path: str, like):
        with self.tracer.span("index.load"):
            return load_index(
                self.spark, path, like.num_trees, like.max_node_size, like.seed
            )

    def search(self, forest, corpus, queries) -> "list":
        with self.tracer.span("search.query"):
            df = search_rp_forest(forest, corpus, queries, k=K, exclude_self=False)
        with self.tracer.span("search.query", "exec"):
            return df.select("query_id", "vec_id").collect()

    def exact(self, corpus, queries, exclude_self: bool) -> "dict[int, set]":
        with self.tracer.span("knn.exact"):
            df = knn_exact_fast(corpus, queries, k=K, exclude_self=exclude_self)
        with self.tracer.span("knn.exact", "exec"):
            rows = df.select("query_id", "vec_id").collect()
        return _group(rows)

    def candidates_per_query(self, forest, queries, n_queries: int) -> float:
        """Leaf members reached by ``route_queries`` (the search's own
        defaults), per query. Untimed and untagged."""
        routed = route_queries(forest, queries, spill_margin="auto", max_spills=2)
        n = (
            routed.join(forest.leaves, ["tree_id", "leaf_path"])
            .select("query_id", "vec_id")
            .distinct()
            .count()
        )
        return n / n_queries

    # ------------------------------------------------------------- checks

    def check_topk(self, got: "dict[int, set]", qids, live=None, dead=()) -> None:
        """Exactly K distinct real ids per query, none of them deleted."""
        for q in qids:
            ids = got.get(q, set())
            self.check(len(ids) == K, f"query {q} returned {len(ids)} ids, not {K}")
            if live is not None:
                self.check(ids <= live, f"query {q} returned ids outside the corpus")
            if dead:
                self.check(not (ids & dead), f"query {q} returned deleted ids")


def _group(rows) -> "dict[int, set]":
    out: "dict[int, set]" = {}
    for r in rows:
        out.setdefault(r[0], set()).add(r[1])
    return out


def exact_numpy(qx: np.ndarray, first_qid: int, ids: np.ndarray, x: np.ndarray):
    """Exact top-K ids per query by brute force, the checks' oracle."""
    q = qx.astype(np.float64)
    v = x.astype(np.float64)
    d = (q * q).sum(1)[:, None] + (v * v).sum(1)[None, :] - 2.0 * q @ v.T
    top = np.argpartition(d, K - 1, axis=1)[:, :K]
    return {first_qid + j: {int(i) for i in ids[row]} for j, row in enumerate(top)}


def recall(got: "dict[int, set]", truth: "dict[int, set]") -> "tuple[int, int]":
    hit = sum(len(got.get(q, set()) & t) for q, t in truth.items())
    return hit, sum(len(t) for t in truth.values())


def p50(xs: "list[float]") -> float:
    return float(np.median(xs))


def tail(xs: "list[float]") -> "tuple[float | None, float | None]":
    """The highest percentile with at least 10 samples beyond it, as
    (value, percentile); (None, None) under 11 samples."""
    n = len(xs)
    if n < 11:
        return None, None
    pct = 100.0 * (n - 10) / n
    return float(np.percentile(xs, pct)), pct


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith(".")
    )


# ================================================================ ann_query


def ann_query(ctx: Ctx) -> None:
    s, spark = ctx.sizes, ctx.spark
    mix = gen.mixture(ctx.seed, s.corpus)
    emb = spark.read.parquet(
        ctx.write_vectors("corpus", np.arange(s.corpus), mix.draw(s.corpus))
    )
    forest, build_s = ctx.build(emb)
    idx = os.path.join(ctx.work, "index")
    ctx.save(forest, idx)
    forest = ctx.load(idx, forest)
    ctx.metric(
        "index_bytes_per_vector", dir_bytes(idx) / s.corpus, "bytes", 1
    )
    ctx.metric("build_s", build_s, "s", 1)

    # the query pool and its exact truth; batches alternate 10 and 100
    sizes_ = [BATCH_SIZES[i % len(BATCH_SIZES)] for i in range(s.pool_batches)]
    starts = np.cumsum([0] + sizes_)
    qx = mix.draw(int(starts[-1]))
    truth = ctx.exact(emb, ctx.queries_df(qx, 0), exclude_self=False)
    batches = [
        (ctx.queries_df(qx[a:b], int(a)), list(range(a, b)))
        for a, b in zip(starts[:-1], starts[1:])
    ]
    live = set(range(s.corpus))
    with ctx.tracer.paused():  # warm the search path once, off the ledger
        ctx.search(forest, emb, batches[0][0])

    hits, total, n_queries, search_walls = 0, 0, 0, []
    candidates: "list[float]" = []

    def op(i: int) -> float:
        nonlocal hits, total, n_queries
        qdf, qids = batches[i % len(batches)]
        t0 = time.perf_counter()
        got = _group(ctx.search(forest, emb, qdf))
        wall = time.perf_counter() - t0
        search_walls.append(wall)
        n_queries += len(qids)
        ctx.check_topk(got, qids, live)
        h, t = recall(got, {q: truth[q] for q in qids})
        hits, total = hits + h, total + t
        if ctx.tracer.enabled and i < len(BATCH_SIZES):
            candidates.append(ctx.candidates_per_query(forest, qdf, len(qids)))
        return wall

    ctx.loop(op, len(BATCH_SIZES))
    _search_metrics(ctx, search_walls, n_queries, hits, total)
    if candidates:
        ctx.report["search.candidates_per_query"] = float(np.mean(candidates))


def _search_metrics(ctx, walls, n_queries, hits, total) -> None:
    ctx.metric("query_p50_s", p50(walls), "s", len(walls))
    t, pct = tail(walls)
    ctx.metric("query_tail_s", t, "s", len(walls), percentile=pct)
    ctx.metric("queries_per_s", n_queries / sum(walls), "1/s", len(walls))
    rec = hits / total
    ctx.metric("recall_at_10", rec, "ratio", total // K)
    ctx.check(rec >= SEARCH_RECALL_FLOOR, f"search recall {rec:.3f} below floor")


# ======================================================= ann_build_allpairs


def _batch_pipeline(ctx: Ctx, emb, n_orig: int, n_rows: int, idx: str, rng):
    """The reference's batch pipeline: build with dedup, materialize the
    leaf-local all-pairs kNN, save. Returns (forest, build_s, allpairs_s,
    save_s, hits, total); checks dedup survivors, all-pairs row counts
    and the recall of a sample of all-pairs rows."""
    forest, build_s = ctx.build(emb, dedup=True)
    t0 = time.perf_counter()
    with ctx.tracer.span("search.allpairs"):
        ap = all_pairs_rp_forest(forest, emb, k=K)
    with ctx.tracer.span("search.allpairs", "exec"):
        ap = ap.select("query_id", "vec_id").localCheckpoint(eager=True)
    allpairs_s = time.perf_counter() - t0
    save_s = ctx.save(forest, idx)

    _check_survivors(ctx, forest, n_orig)
    per_id = dict(ap.groupBy("query_id").count().collect())
    short = sum(1 for c in per_id.values() if c != K)
    ctx.check(
        short == 0 and len(per_id) == n_rows,
        f"all-pairs: {short} ids without {K} rows, {len(per_id)}/{n_rows} ids",
    )
    sample = np.sort(rng.choice(n_orig, ctx.sizes.allpairs_sample, replace=False))
    sample_ids = [int(v) for v in sample]
    sample_q = emb.filter(F.col("vec_id").isin(sample_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    truth = ctx.exact(emb.filter(F.col("vec_id") < n_orig), sample_q, exclude_self=True)
    got = _group(ap.filter(F.col("query_id").isin(sample_ids)).collect())
    hits, total = recall(got, truth)
    ap.unpersist()
    return forest, build_s, allpairs_s, save_s, hits, total


def _check_survivors(ctx: Ctx, forest, n_orig: int) -> None:
    survivors = {r[0] for r in forest.leaves.select("vec_id").distinct().collect()}
    ctx.check(
        survivors == set(range(n_orig)),
        f"dedup kept {len(survivors)} ids, expected the {n_orig} originals",
    )


def _dup_corpus(ctx: Ctx, n: int):
    mix = gen.mixture(ctx.seed, n)
    base = mix.draw(n)
    x, _ = gen.with_duplicates(base, DUP_FRAC, mix.rng)
    path = ctx.write_vectors("corpus", np.arange(len(x)), x)
    return mix, base, len(x), path


def ann_build_allpairs(ctx: Ctx) -> None:
    s, spark = ctx.sizes, ctx.spark
    _, _, n_rows, path = _dup_corpus(ctx, s.corpus)
    emb = spark.read.parquet(path)
    rng = np.random.default_rng(ctx.seed + 1)
    builds, pairs, footprint, hits, total = [], [], [], 0, 0

    def op(i: int) -> float:
        nonlocal hits, total
        idx = os.path.join(ctx.work, f"index-{i}")
        _, b, a, saved, h, t = _batch_pipeline(ctx, emb, s.corpus, n_rows, idx, rng)
        builds.append(b)
        pairs.append(a)
        footprint.append(dir_bytes(idx) / s.corpus)
        hits, total = hits + h, total + t
        # the pipeline wall, without the checks _batch_pipeline ran after it
        return b + a + saved

    ctx.loop(op)
    ctx.metric("build_s", p50(builds), "s", len(builds))
    ctx.metric("allpairs_s", p50(pairs), "s", len(pairs))
    ctx.metric("vectors_per_s", n_rows / (p50(builds) + p50(pairs)), "1/s", len(builds))
    ctx.metric("recall_at_10", hits / total, "ratio", total // K)
    ctx.metric("index_bytes_per_vector", footprint[-1], "bytes", len(footprint))
    _check_allpairs_recall(ctx, hits, total)


def _check_allpairs_recall(ctx: Ctx, hits: int, total: int) -> None:
    rec = hits / total
    ctx.check(rec >= ALLPAIRS_RECALL_FLOOR, f"all-pairs recall {rec:.3f} below floor")


# ========================================================== index_lifecycle


def index_lifecycle(ctx: Ctx) -> None:
    """Writes beside reads. Set-up runs the batch pipeline (build with
    dedup over a corpus with injected duplicates, all-pairs, save) and
    loads the index. Each round ingests a micro-batch into the saved
    leaves, reloads, deletes a slice, searches the changed index and asks
    ``needs_rebuild``. The first ``WARMUP_ROUNDS`` rounds are set-up;
    ``ROUNDS_PER_CYCLE`` rounds are the unit operation."""
    s, spark = ctx.sizes, ctx.spark
    n = s.lifecycle_corpus
    mix, base_x, n_rows, path = _dup_corpus(ctx, n)
    emb = spark.read.parquet(path)
    rng = np.random.default_rng(ctx.seed + 1)
    idx = os.path.join(ctx.work, "index")
    forest, build_s, allpairs_s, _, h, t = _batch_pipeline(
        ctx, emb, n, n_rows, idx, rng
    )
    _check_allpairs_recall(ctx, h, t)
    ctx.metric("build_s", build_s, "s", 1)
    ctx.metric("allpairs_s", allpairs_s, "s", 1)
    ctx.metric("vectors_per_s", n_rows / (build_s + allpairs_s), "1/s", 1)
    ctx.metric("index_bytes_per_vector", dir_bytes(idx) / n, "bytes", 1)
    forest = ctx.load(idx, forest)

    # the live corpus: the dedup survivors, plus every ingested batch
    live_dir = ctx.write_vectors("live", np.arange(n), base_x)
    live = set(range(n))
    dead: "set[int]" = set()
    # the rounds' exact truth comes from a numpy brute force over the
    # live vectors; knn_exact_fast is held to it once here
    live_ids, live_x = np.arange(n), base_x
    nq = BATCH_SIZES[0]  # interactive-size batches: one size, one latency
    probe_x = mix.draw(nq)
    base = emb.filter(F.col("vec_id") < n)
    got = ctx.exact(base, ctx.queries_df(probe_x, 0), exclude_self=False)
    h, t = recall(got, exact_numpy(probe_x, 0, live_ids, live_x))
    ctx.check(h >= 0.99 * t, f"knn_exact_fast matched {h}/{t} brute-force neighbours")
    leaves_dir = os.path.join(idx, "leaves")
    next_id = n_rows
    ingest_walls, search_walls = [], []
    hits, total = 0, 0
    candidates: "list[float]" = []

    def op(i: int) -> float:
        nonlocal forest, next_id, hits, total, live_ids, live_x
        # inputs of this round, prepared before the timer starts
        new_ids = np.arange(next_id, next_id + s.arrivals)
        next_id += s.arrivals
        new_x = mix.draw(s.arrivals)
        src = ctx.write_vectors(f"arrivals-{i}", new_ids, new_x)
        ctx.write_vectors("live", new_ids, new_x)
        gone = {int(v) for v in rng.choice(sorted(live - dead), s.deletes, replace=False)}
        dead_df = spark.createDataFrame([(v,) for v in sorted(dead | gone)], "vec_id long")
        first = i * nq
        qx = mix.draw(nq)
        qdf = ctx.queries_df(qx, first)
        corpus = spark.read.parquet(live_dir)

        t0 = time.perf_counter()
        with ctx.tracer.span("ingest.batch", rows=s.arrivals) as sp:
            q = incremental_index_ingest(
                spark.readStream.schema(emb.schema).parquet(src),
                forest,
                leaves_dir,
                os.path.join(ctx.work, f"ingest-ckpt-{i}"),
            )
            if sp is not None:
                # the stream thread tags its batch jobs with its run id
                sp.also.append(str(q.runId))
        with ctx.tracer.span("ingest.batch", "exec"):
            q.awaitTermination()
        t_ingest = time.perf_counter() - t0
        forest = ctx.load(idx, forest)
        with ctx.tracer.span("index.delete"):
            forest = delete_vectors(forest, dead_df)
        t1 = time.perf_counter()
        got = _group(ctx.search(forest, corpus, qdf))
        search_walls.append(time.perf_counter() - t1)
        with ctx.tracer.span("index.needs_rebuild"):
            verdict = needs_rebuild(forest)
        wall = time.perf_counter() - t0

        ingest_walls.append(t_ingest)
        live.update(int(v) for v in new_ids)
        dead.update(gone)
        live_ids = np.concatenate([live_ids, new_ids])
        live_x = np.concatenate([live_x, new_x])
        ctx.check(q.exception() is None, f"ingest stream failed: {q.exception()}")
        landed = (
            spark.read.parquet(leaves_dir)
            .filter(F.col("vec_id").isin([int(v) for v in new_ids]))
            .groupBy("vec_id")
            .count()
            .collect()
        )
        ctx.check(
            len(landed) == s.arrivals and all(r[1] == forest.num_trees for r in landed),
            "an ingested id is not in exactly num_trees leaves",
        )
        ctx.check_topk(got, range(first, first + nq), live, dead)
        alive = ~np.isin(live_ids, list(dead))
        h, t = recall(got, exact_numpy(qx, first, live_ids[alive], live_x[alive]))
        hits, total = hits + h, total + t
        ctx.check("needs_rebuild" in verdict, "needs_rebuild returned no verdict")
        if ctx.tracer.enabled and not candidates:
            candidates.append(ctx.candidates_per_query(forest, qdf, nq))
        return wall

    ctx.loop(op, ROUNDS_PER_CYCLE, WARMUP_ROUNDS)
    # recall counts every round, the timings only the timed ones
    ingest_walls = ingest_walls[WARMUP_ROUNDS:]
    search_walls = search_walls[WARMUP_ROUNDS:]
    ctx.metric("ingest_p50_s", p50(ingest_walls), "s", len(ingest_walls))
    _search_metrics(ctx, search_walls, nq * len(search_walls), hits, total)
    if ctx.tracer.enabled:
        rows = s.arrivals * len(ingest_walls)
        ctx.report["ingest.rows_per_s"] = rows / sum(ingest_walls)
        ctx.report["search.candidates_per_query"] = candidates[0]


# ======================================================= analytics_headline


def bench_warmups() -> "list[str]":
    """The registry queries ``bench.main`` runs before its timed rows, in
    source order, read from bench.py itself so the two cannot drift."""
    tree = ast.parse(inspect.getsource(bench.main))
    subs = [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Subscript)
        and isinstance(n.value, ast.Name)
        and n.value.id == "QUERIES"
        and isinstance(n.slice, ast.Constant)
    ]
    return [n.slice.value for n in sorted(subs, key=lambda n: (n.lineno, n.col_offset))]


def module_of(name: str) -> str:
    return QUERIES[name].__module__.rsplit(".", 1)[-1]


def headline_sweep() -> "list[str]":
    """The first ``bench.HEADLINE`` row of every plans module, in
    headline order: one pass crosses each module once."""
    first: "dict[str, str]" = {}
    for name in bench.HEADLINE:
        first.setdefault(module_of(name), name)
    return list(first.values())


def analytics_headline(ctx: Ctx) -> None:
    """Headline rows through the registry after bench.py's warm-ups, each
    after bench.py's between-row release. ``PASSES_PER_CYCLE`` passes
    over ``headline_sweep()`` are the unit operation. One more pass runs
    first, in set-up: the first pass after the warm-ups is still a third
    slower than the next."""
    spark = ctx.spark
    sf = os.path.join(ctx.work, "sf")
    gen.write_analytics_tables(sf, ctx.seed, ctx.sizes.headline_scale)
    spark.range(1000).selectExpr("sum(id)").collect()
    for name in bench_warmups():
        QUERIES[name](spark, sf).write.mode("overwrite").format("noop").save()
    order = headline_sweep()

    def op(i: int) -> float:
        name, n_pass = order[i % len(order)], i // len(order)
        boundary = f"plans.{module_of(name)}"
        release_driver_blocks(spark, unpersist_all=True)
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span(boundary, row=name, **{"pass": n_pass}):
                df = QUERIES[name](spark, sf)
            with ctx.tracer.span(boundary, "exec", row=name, **{"pass": n_pass}):
                df.write.mode("overwrite").format("noop").save()
        except Exception:
            ctx.check(False, f"headline row {name} did not materialize")
            raise
        wall = time.perf_counter() - t0
        ctx.check(True, f"headline row {name} materialized")
        return wall

    ctx.loop(op, PASSES_PER_CYCLE * len(order), len(order))


WORKLOADS = {
    "ann_query": ann_query,
    "ann_build_allpairs": ann_build_allpairs,
    "index_lifecycle": index_lifecycle,
    "analytics_headline": analytics_headline,
}
