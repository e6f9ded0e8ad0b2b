"""Structured-Streaming queries surfaced through the batch contract:
each entry runs a REAL readStream → writeStream micro-batch pipeline
(availableNow trigger → memory sink) over the fixture events and returns
the sink's contents as a DataFrame. Rows-only checks (streaming state
semantics — watermark retention, append-mode emission — are engine
internals no batch SQL oracle can replay; the deterministic windowed
MATH is oracle-checked separately via events_hourly_window)."""

from __future__ import annotations

import tempfile
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..session import ensure_deterministic_session
from ..sources import load_table
from ..streaming import (
    streaming_dedup,
    streaming_first_per_key,
    streaming_windowed_counts,
)
from .registry import (
    dd_sum,
    register,
    release_driver_blocks,
    stop_idle_state_stores,
)


# Stream-source parquet dirs are PURE FUNCTIONS of (sf_dir, ordered) —
# write each once per process and replay it for every later streaming
# query. The ordered variant is a one-task global sort + single-file
# write; paying it once instead of per-invocation removed the dominant
# fixed cost of the late-bench streaming rows (VERDICT r6 #3a).
_STREAM_SRC_CACHE: dict[tuple[str, bool], tuple[str, object]] = {}


def _purge_stream_src_cache() -> None:
    """Remove every cached stream-source tempdir. Registered atexit
    (VERDICT r7 #7): the cache is bounded (one dir per (sf_dir, ordered)
    per process) but the dirs are parquet copies of the events table —
    leave nothing behind when the process ends. Idempotent; also
    callable directly by tests."""
    import shutil

    while _STREAM_SRC_CACHE:
        _, (src, _schema) = _STREAM_SRC_CACHE.popitem()
        shutil.rmtree(src, ignore_errors=True)


import atexit as _atexit  # noqa: E402

_atexit.register(_purge_stream_src_cache)


def _events_stream(spark: SparkSession, sf_dir: str, ordered: bool = False):
    ensure_deterministic_session(spark)
    key = (sf_dir, ordered)
    if key not in _STREAM_SRC_CACHE:
        batch = load_table(spark, sf_dir, "events")
        src = tempfile.mkdtemp(prefix="stream_src_")
        if ordered:
            # ONE file, globally (ts, event_id)-sorted ⇒ the stream
            # replays rows in a deterministic arrival order — which makes
            # arrival-order-dependent operators (dropDuplicates*) a pure
            # function of the data, hence oracle-checkable
            batch.orderBy("ts", "event_id").coalesce(1).write.mode(
                "overwrite"
            ).parquet(src)
        else:
            batch.write.mode("overwrite").parquet(src)
        _STREAM_SRC_CACHE[key] = (src, batch.schema)
    src, schema = _STREAM_SRC_CACHE[key]
    return spark.readStream.schema(schema).parquet(src)


def stage_ordered_batches(frames, src: str) -> None:
    """Write ``frames`` (a list of DataFrames) into ``src`` as one
    parquet file each, with file mtimes pinned to list order — the
    parquet file-stream source orders micro-batches by modification
    time, and filesystem timestamp granularity is not trusted to
    preserve sub-second write order. Shared by every staged
    deterministic-batch-order source, including the operator tests in
    tests/test_streaming.py (which import it)."""
    import os
    import time

    seen: set = set()
    for i, frame in enumerate(frames):
        frame.coalesce(1).write.mode("append" if i else "overwrite").parquet(src)
        now = time.time()
        for f in os.listdir(src):
            path = os.path.join(src, f)
            if path.endswith(".parquet") and path not in seen:
                os.utime(path, (now - 100 + i, now - 100 + i))
                seen.add(path)


def _run_to_memory(out, name_prefix: str, output_mode: str = "append"):
    """Run ``out`` through a memory sink and return the RESULT frame,
    checkpointed so it survives the sink view's removal. Returning
    ``spark.table(name)`` lazily was a use-after-drop hazard (ADVICE
    r7): registry callers hand the frame to consumers that may
    materialize it AFTER a later streaming row has started (and dropped
    the previous sink view). Memory-sink results are config-sized
    (windowed aggregates / joined id pairs), so the eager checkpoint is
    cheap, and its blocks are released by ``release_driver_blocks``
    like every other checkpoint in the registry."""
    spark = out.sparkSession
    name = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
    # scope the STATE-STORE fan-out to the source scale: a stateful
    # stream instantiates one state store per shuffle partition at query
    # start (AQE never coalesces stateful-streaming partitions), so a
    # vanilla 200-partition driver session pays 200 provider instances
    # per streaming row. Every row is partition-count value-independent
    # by the registry's portability contract (locally validated at 32);
    # the ambient conf is restored before returning — including the
    # UNSET state: on a session that never set the conf explicitly,
    # spark.conf.get(key, None) returns None and a bare re-set would
    # silently pin the override for every later batch query (ADVICE
    # r8), so that branch unsets instead. Partition count defaults to
    # the cluster parallelism capped at 32 (state stores are per-
    # partition fixed overhead; fixture-scale sources never need more)
    # and is overridable via SPARK_GRAFT_STREAM_PARTS for deployments
    # whose streaming state genuinely needs wider fan-out.
    import os

    parts = os.environ.get("SPARK_GRAFT_STREAM_PARTS")
    if parts is None:
        parts = str(min(spark.sparkContext.defaultParallelism, 32))
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        if prev_parts is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        else:
            spark.conf.unset("spark.sql.shuffle.partitions")
    stop_idle_state_stores(spark)
    df = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)  # False, not an error, when absent
    return df


@register(
    "streaming_hourly_counts",
    oracle=f"""
SELECT * FROM (
  SELECT date_trunc('hour', ts) AS window_start,
         event_type,
         COUNT(*) AS n_events,
         {dd_sum("value", 6)} AS sum_value
  FROM events
  GROUP BY 1, 2) t
WHERE window_start + INTERVAL 1 HOUR
      <= (SELECT max(ts) - INTERVAL 2 HOUR FROM events)
""",
)
def streaming_hourly_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window counts executed as a real stream
    (file source → availableNow micro-batches → memory sink). Append
    mode emits exactly the windows closed by the FINAL watermark
    (max event time − 2 h) — with a static source that emitted set is a
    pure function of the data, so batch SQL CAN replay it: the oracle
    aggregates hourly and keeps windows whose end ≤ max(ts) − 2 h. The
    decimal-cast sum makes values bit-deterministic across runs."""
    stream = _events_stream(spark, sf_dir)
    return _run_to_memory(
        streaming_windowed_counts(stream, window="1 hour", watermark="2 hours"),
        "hourly",
    )


@register(
    "streaming_dedup_users",
    oracle="""
SELECT user_id, event_id FROM (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events) t
WHERE rn = 1
""",
)
def streaming_dedup_users_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming first-event-per-user (O3's survivor semantics across
    micro-batches) via a STATEFUL MIN AGGREGATION in complete mode —
    not dropDuplicatesWithinWatermark, whose survivor is whichever row
    reaches the state partition first (arrival order across file splits
    is not guaranteed, so the result would be schedule-dependent). The
    min-(ts, event_id) row per user is a pure function of the data under
    ANY arrival order / parallelism, which is what lets batch SQL replay
    it with a row_number window."""
    stream = _events_stream(spark, sf_dir)
    return _run_to_memory(
        streaming_first_per_key(
            stream, ["user_id"], ts_col="ts", tiebreak_col="event_id"
        ),
        "dedup",
        output_mode="complete",
    ).select("user_id", "event_id")


@register("streaming_incremental_index_parity")
def streaming_incremental_index_parity_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental index maintenance, driver-visible (VERDICT r5 item 8):
    hold out 20% of the corpus, build the forest on the remaining 80%,
    stream the holdout through ``incremental_index_ingest`` (foreachBatch
    routing each micro-batch through the FROZEN hyperplanes and appending
    to the leaf table), then measure recall@10 of (a) the incrementally
    augmented index and (b) a full batch rebuild on the union, both vs
    exact kNN over the whole corpus. One output row
    (n_queries, recall_incremental, recall_full_rebuild) — the
    append-now/rebuild-periodically maintenance pattern's quality gap,
    made externally visible every round. Rows-only (seeded builds are not
    SQL-replayable); tests/test_streaming.py gates both recalls.

    Materialization note: the heaviest row in the window (two forest
    builds + two searches + exact kNN + a streaming ingest) computes its
    single output row INSIDE this function and retries once after a
    deep memory drain if the warm driver session throws an
    allocation-failure error (observed: GCLocker-starved OOM at window
    slot 50 on a default 1 GB heap while the same row passes in
    isolation). Returning a pre-collected one-row frame keeps the
    driver's own .count() trivial."""
    from ..operators.index import RPForest, build_rp_forest
    from ..operators.knn import knn_exact
    from ..operators.search import search_rp_forest
    from ..streaming import incremental_index_ingest

    ensure_deterministic_session(spark)
    release_driver_blocks(spark)
    k = 10

    def _attempt():
        # the builds are level-sync (local_threshold=0, no
        # applyInPandas): with the Arrow subtree kernel, a warm
        # default-heap session (49 queries in) once OOMed on GCLocker
        # allocation pressure while the same row passed in isolation.
        # Ingest routing and search take the default routes.
        emb = load_table(spark, sf_dir, "embeddings")
        old = emb.filter(F.col("vec_id") % 5 != 0)
        new = emb.filter(F.col("vec_id") % 5 == 0)
        forest = build_rp_forest(
            old, num_trees=50, max_node_size=5, seed=42, local_threshold=0
        )

        tmp = tempfile.mkdtemp(prefix="inc_idx_")
        src = f"{tmp}/src"
        new.write.parquet(src)
        stream = spark.readStream.schema(new.schema).parquet(src)
        leaves_path = f"{tmp}/leaves"
        q = incremental_index_ingest(
            stream, forest, leaves_path, f"{tmp}/ckpt"
        )
        q.awaitTermination(300)

        appended = spark.read.parquet(leaves_path).select(
            F.col("tree_id").cast("int"), "leaf_path", "vec_id"
        )
        augmented = RPForest(
            nodes=forest.nodes,
            leaves=forest.leaves.unionByName(appended),
            num_trees=forest.num_trees,
            max_node_size=forest.max_node_size,
            seed=forest.seed,
            max_depth=forest.max_depth,
            node_count=forest.node_count,
            dim=forest.dim,
        )
        rebuilt = build_rp_forest(
            emb, num_trees=50, max_node_size=5, seed=42, local_threshold=0
        )

        queries = emb.filter(F.col("vec_id") < k).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        exact = knn_exact(emb, queries, k=k).select("query_id", "vec_id")

        def _recall(f: RPForest) -> DataFrame:
            approx = search_rp_forest(f, emb, queries, k=k).select(
                "query_id", "vec_id"
            )
            hits = exact.join(approx, ["query_id", "vec_id"], "left_semi")
            return hits.groupBy("query_id").agg(
                (F.count(F.lit(1)).cast("double") / F.lit(float(k))).alias(
                    "recall"
                )
            )

        inc = _recall(augmented).select(
            "query_id", F.col("recall").alias("recall_incremental")
        )
        reb = _recall(rebuilt).select(
            "query_id", F.col("recall").alias("recall_full_rebuild")
        )
        return (
            inc.join(reb, "query_id", "full")
            .agg(
                F.count(F.lit(1)).alias("n_queries"),
                F.avg("recall_incremental").alias("recall_incremental"),
                F.avg("recall_full_rebuild").alias("recall_full_rebuild"),
            )
            .collect()[0]
        )

    try:
        row = _attempt()
    except Exception as ex:
        # OOM-class failures only: 'Boxed Exception' (py4j's wrapper for
        # ANY boxed Scala error) was previously in this tuple and made
        # deterministic failures silently re-run this very heavy row
        # (two forest builds + searches) before surfacing (ADVICE r6)
        retryable = ("OutOfMemoryError", "GCLocker", "GC overhead")
        if not any(s in str(ex) for s in retryable):
            raise
        import time as _time

        release_driver_blocks(spark)
        _time.sleep(2.0)
        release_driver_blocks(spark)
        row = _attempt()
    return spark.createDataFrame(
        [row],
        "n_queries long, recall_incremental double, recall_full_rebuild double",
    )


@register("streaming_dedup_arrival_order")
def streaming_dedup_arrival_order_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermark-bounded streaming dedup operator itself
    (dropDuplicatesWithinWatermark) — the state-bounded form an
    unbounded-key production stream runs. Registered rows-only: WHICH
    duplicate survives is arrival-order-dependent (schedule-sensitive),
    so only the survivor COUNT per user (= distinct users) is stable,
    not the value hash. The deterministic oracle-checked twin is
    ``streaming_dedup_users``."""
    stream = _events_stream(spark, sf_dir, ordered=True)
    return _run_to_memory(
        streaming_dedup(stream, ["user_id"], ts_col="ts", watermark="90 days"),
        "dedup_arr",
    ).select("user_id", "event_id")


@register(
    "streaming_click_purchase_join",
    oracle="""
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 6 HOUR
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
""",
)
def streaming_click_purchase_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join as a REAL two-stream pipeline: a
    click stream joins a purchase stream of the same user within
    [click, click + 6 h] — the attribution join every event pipeline
    runs. Both sides are watermarked and the event-time range rides in
    the join condition, so streaming state is bounded to interval +
    watermark delay per side (the 100 TB/day shape: state is a rolling
    window, never the full history). Inner-join emission is a pure
    function of the data — watermarks bound state, they don't add rows
    — so with a watermark admitting the whole fixture the emitted set
    equals the batch interval join, which is exactly what the oracle
    replays (lag in integer microseconds ⇒ bit-exact)."""
    from ..streaming import streaming_interval_join

    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = streaming_interval_join(
        clicks,
        purchases,
        key="user_id",
        left_ts="click_ts",
        right_ts="purchase_ts",
        interval="6 hours",
        watermark="90 days",
    )
    out = joined.select(
        "user_id",
        "click_id",
        "purchase_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("lag_us"),
    )
    return _run_to_memory(out, "ssjoin")


@register(
    "streaming_stateful_sessions",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged),
agg AS (
  SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
         COUNT(*) AS n_events
  FROM sess GROUP BY user_id, sid)
SELECT user_id, session_start, session_end, n_events,
       (session_end = MAX(session_end) OVER (PARTITION BY user_id))
         AS is_open
FROM agg
""",
)
def streaming_stateful_sessions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful sessionization through a REAL readStream →
    applyInPandasWithState → memory-sink pipeline
    (streaming/incremental.py stateful_sessionizer): per-user session
    state machines with an explicit (start, last, n) state schema —
    the custom-stateful-operator category, value-hash-checked. The
    single-file availableNow source makes the run one deterministic
    micro-batch, so emitted sessions (closed ones plus the final open
    snapshot per user, update-mode semantics) equal the batch
    gaps-and-islands islands — which is exactly what the oracle
    replays; the batch built-in twin is
    ``events_sessionization``/``events_session_windows``."""
    from ..streaming import stateful_sessionizer

    # this row runs LAST in the 41-query bench session: drain the
    # accumulated checkpoint blocks / state providers BEFORE paying
    # state-store + python-worker startup on a pressured heap (the r6
    # driver bench measured 129.6 s here vs ~5 s clean — memory
    # pressure, not plan cost)
    release_driver_blocks(spark)
    stream = _events_stream(spark, sf_dir, ordered=True).select(
        "user_id", "ts", "event_id"
    )
    return _run_to_memory(
        stateful_sessionizer(stream, gap_minutes=30), "sessst",
        output_mode="update",
    )


def _lsh_history_oracle() -> str:
    from .textops import _HV_SQL, _SIGS_SQL, _TRIGRAMS_CTE

    jac = ("CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)"
           " / (CAST(len(sa.shingles) + len(sb.shingles) AS DOUBLE)"
           " - CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE))")
    return f"""
WITH {_TRIGRAMS_CTE},
hvt AS (SELECT doc_id, shingles, {_HV_SQL} AS hv FROM sh),
sig AS (SELECT doc_id, shingles, [{_SIGS_SQL}] AS sigs FROM hvt),
banded AS (
  SELECT doc_id,
         generate_subscripts(sigs, 1) AS band,
         unnest(list_transform(sigs, x -> md5(CAST(x AS VARCHAR)))) AS band_key
  FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, h.doc_id AS h_id
  FROM banded a JOIN banded h
    ON a.band = h.band AND a.band_key = h.band_key
   AND a.doc_id % 2 = 1 AND h.doc_id % 2 = 0),
hits AS (
  SELECT cd.a_id AS doc_id,
         MIN(cd.h_id) AS hist_min_match,
         COUNT(DISTINCT cd.h_id) AS n_hist_matches,
         MAX({jac}) AS best_jaccard
  FROM cand cd
  JOIN sig sa ON cd.a_id = sa.doc_id
  JOIN sig sb ON cd.h_id = sb.doc_id
  WHERE {jac} >= 0.2
  GROUP BY cd.a_id)
SELECT d.doc_id,
       hits.hist_min_match,
       COALESCE(hits.n_hist_matches, 0) AS n_hist_matches,
       hits.best_jaccard,
       COALESCE(hits.n_hist_matches, 0) > 0 AS is_near_dup
FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
WHERE d.doc_id % 2 = 1
"""


@register("streaming_lsh_dedup_history", oracle=_lsh_history_oracle())
def streaming_lsh_dedup_history_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup dedup against a persistent band index
    (streaming/incremental.streaming_lsh_dedup_ingest) — the streaming
    twin of the batch MinHash-LSH family, run as a REAL two-micro-batch
    pipeline: even-id documents arrive first (becoming the historical
    index), odd-id documents arrive second and are flagged against it
    (shared LSH band key ⇒ candidate, then VERIFIED by exact
    shingle-set Jaccard ≥ 0.2 — the same block-then-verify contract as
    the batch operator; flags carry the min verified historical id,
    distinct verified match count, and best jaccard). Probe-before-
    append makes the flags a pure function of (corpus, split), so the
    batch SQL oracle replays them exactly: band keys for all docs, an
    (arrival × history) band equi-join, the jaccard verify (the
    double division of exact intersect/union counts is bit-identical
    across engines), and a left join for clean arrivals. Registered past the driver window (demoted from birth):
    the banding math is window-held by the minhash components /
    survivors / pipeline rows — this row is value-checked in
    CORRECTNESS_LOCAL every round."""
    from ..sources import load_table
    from ..streaming import streaming_lsh_dedup_ingest

    ensure_deterministic_session(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = tempfile.mkdtemp(prefix="lsh_stream_src_")
    stage_ordered_batches(
        [
            docs.filter(F.col("doc_id") % 2 == 0),  # history first
            docs.filter(F.col("doc_id") % 2 == 1),  # then arrivals
        ],
        src,
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    work = tempfile.mkdtemp(prefix="lsh_stream_work_")
    q = streaming_lsh_dedup_ingest(
        stream,
        index_path=f"{work}/index",
        flags_path=f"{work}/flags",
        checkpoint_path=f"{work}/ckpt",
    )
    q.awaitTermination(300)
    return (
        spark.read.parquet(f"{work}/flags")
        .filter(F.col("doc_id") % 2 == 1)
        .select(
            "doc_id",
            "hist_min_match",
            "n_hist_matches",
            "best_jaccard",
            "is_near_dup",
        )
    )


_EMB_DEDUP_STRIDE = 40  # centroid ids: % 40 = 0 ⇒ even ⇒ inside history
_EMB_DEDUP_NPROBE = 3
_EMB_DEDUP_THRESHOLD = 0.4  # same operating point as near_dup_cosine_bucketed


def _embedding_dedup_history_oracle() -> str:
    from .registry import dd_cosine, dd_sq_euc

    hc = dd_sq_euc("h.embedding", "c.cv")
    ac = dd_sq_euc("a.embedding", "c.cv")
    cos = dd_cosine("a.embedding", "h.embedding")
    return f"""
WITH cent AS (
  SELECT vec_id AS c_id, embedding AS cv FROM embeddings
  WHERE vec_id % {_EMB_DEDUP_STRIDE} = 0),
hist AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
arr AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1),
hcell AS (
  SELECT vec_id, cell, embedding FROM (
    SELECT h.vec_id, c.c_id AS cell, h.embedding,
           row_number() OVER (PARTITION BY h.vec_id
                              ORDER BY {hc}, c.c_id) AS crn
    FROM hist h, cent c) t
  WHERE crn = 1),
acell AS (
  SELECT vec_id, cell FROM (
    SELECT a.vec_id, c.c_id AS cell,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {ac}, c.c_id) AS crn
    FROM arr a, cent c) t
  WHERE crn <= {_EMB_DEDUP_NPROBE}),
cand AS (
  SELECT DISTINCT ac.vec_id AS a_id, h.vec_id AS h_id
  FROM acell ac JOIN hcell h ON ac.cell = h.cell),
hits AS (
  SELECT cd.a_id AS vec_id,
         MIN(cd.h_id) AS hist_min_match,
         COUNT(DISTINCT cd.h_id) AS n_hist_matches
  FROM cand cd
  JOIN arr a ON cd.a_id = a.vec_id
  JOIN hist h ON cd.h_id = h.vec_id
  WHERE {cos} >= {_EMB_DEDUP_THRESHOLD}
  GROUP BY cd.a_id)
SELECT a.vec_id,
       hits.hist_min_match,
       COALESCE(hits.n_hist_matches, 0) AS n_hist_matches,
       COALESCE(hits.n_hist_matches, 0) > 0 AS is_near_dup
FROM arr a LEFT JOIN hits ON a.vec_id = hits.vec_id
"""


@register(
    "streaming_embedding_dedup_history", oracle=_embedding_dedup_history_oracle()
)
def streaming_embedding_dedup_history_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental embedding near-dup dedup against a persistent
    cell-bucketed index (streaming/incremental.
    streaming_embedding_dedup_ingest) — the EMBEDDING twin of
    ``streaming_lsh_dedup_history``, run as a real two-micro-batch
    pipeline: even-id vectors arrive first (becoming the historical
    index under FROZEN deterministic centroids — every
    {stride}-th id, all inside history), odd-id vectors arrive second,
    probe their nprobe nearest cells, and flag exact-cosine matches
    ≥ threshold against history only. Probe-before-append ⇒ flags are
    a pure function of (corpus, split); the oracle replays centroid
    assignment, the cell equi-join, and the cosine fold bit-for-bit.
    Registered past the driver window (demoted from birth): the cell/
    cosine math is window-held by near-dup and survivors rows; the
    micro-batch discipline by the streaming rows."""
    from ..streaming import streaming_embedding_dedup_ingest

    ensure_deterministic_session(spark)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids = emb.filter(
        F.col("vec_id") % _EMB_DEDUP_STRIDE == 0
    ).select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("cv"))

    src = tempfile.mkdtemp(prefix="embdedup_src_")
    stage_ordered_batches(
        [
            emb.filter(F.col("vec_id") % 2 == 0),  # history first
            emb.filter(F.col("vec_id") % 2 == 1),  # then arrivals
        ],
        src,
    )
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    work = tempfile.mkdtemp(prefix="embdedup_work_")
    q = streaming_embedding_dedup_ingest(
        stream,
        centroids,
        index_path=f"{work}/index",
        flags_path=f"{work}/flags",
        checkpoint_path=f"{work}/ckpt",
        threshold=_EMB_DEDUP_THRESHOLD,
        nprobe=_EMB_DEDUP_NPROBE,
    )
    q.awaitTermination(300)
    return (
        spark.read.parquet(f"{work}/flags")
        .filter(F.col("vec_id") % 2 == 1)
        .select("vec_id", "hist_min_match", "n_hist_matches", "is_near_dup")
    )
