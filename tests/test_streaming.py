"""Structured Streaming tests: file-source micro-batch ingestion with
availableNow triggers — real readStream → writeStream round-trips."""

from __future__ import annotations

import os
import sys

import pyspark.sql.functions as F
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rust_vector_search_spark.operators.index import build_rp_forest  # noqa: E402
from rust_vector_search_spark.streaming import (  # noqa: E402
    incremental_index_ingest,
    streaming_dedup,
    streaming_windowed_counts,
)

from conftest import SF_SMOKE  # noqa: E402


@pytest.fixture()
def events_stream(spark, tmp_path):
    # materialize fixture events as a streaming source; load_table owns
    # the fixture-vintage timestamp normalization (nanos-bigint or NTZ)
    from rust_vector_search_spark.sources import load_table

    src = str(tmp_path / "events_src")
    batch = load_table(spark, SF_SMOKE, "events")
    batch.write.parquet(src)
    return spark.readStream.schema(batch.schema).parquet(src), batch


def test_streaming_windowed_counts(spark, events_stream, tmp_path):
    stream, batch = events_stream
    out = streaming_windowed_counts(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT sum(n_events) AS n FROM win_counts").collect()[0].n
    # append mode emits only windows closed by the watermark; final
    # windows stay in state, so emitted ≤ total and > 0
    assert got and 0 < got <= batch.count()


def test_streaming_dedup(spark, tmp_path):
    src = str(tmp_path / "dup_src")
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:00:01"),
         (2, "2024-01-01 00:00:02"), (2, "2024-01-01 00:00:03"),
         (3, "2024-01-01 00:00:04")],
        "k long, ts_s string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        streaming_dedup(stream, ["k"])
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    ks = sorted(r.k for r in spark.sql("SELECT k FROM dedup_out").collect())
    assert ks == [1, 2, 3]


def test_incremental_index_ingest(spark, tmp_path):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    old = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)
    forest = build_rp_forest(old, num_trees=4, max_node_size=32, seed=42)

    src = str(tmp_path / "vec_src")
    new.write.parquet(src)
    stream = spark.readStream.schema(new.schema).parquet(src)
    leaves_path = str(tmp_path / "leaves_inc")
    q = incremental_index_ingest(
        stream, forest, leaves_path, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    appended = spark.read.parquet(leaves_path)
    n_new = new.count()
    assert appended.count() == n_new * 4  # every vector lands in all 4 trees
    # appended leaf paths must be real leaves of the frozen forest
    valid = appended.join(
        forest.leaves.select("tree_id", "leaf_path").distinct(),
        ["tree_id", "leaf_path"],
        "left_anti",
    ).count()
    assert valid == 0


def test_incremental_ingest_past_the_node_gate_counts_nothing(
    spark, tmp_path, monkeypatch
):
    """Past the node gate the route needs no query count, so an ingest
    micro-batch routes without a count job: every DataFrame ``count``
    in the process is shadowed while the stream runs (as
    ``test_spark_plan_search_counts_queries_once_and_never_the_corpus``
    shadows the instances'), and the appended leaves are the ones the
    broadcast map routes the new vectors to."""
    from rust_vector_search_spark.operators.search import route_queries

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    old = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)
    forest = build_rp_forest(old, num_trees=4, max_node_size=32, seed=42)
    want = {
        (r.query_id, r.tree_id, r.leaf_path)
        for r in route_queries(
            forest,
            new.select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("query_vec"),
            ),
        ).collect()
    }

    src = str(tmp_path / "vec_src")
    new.write.parquet(src)
    stream = spark.readStream.schema(new.schema).parquet(src)
    leaves_path = str(tmp_path / "leaves_inc")
    counted = []
    with monkeypatch.context() as m:
        m.setenv("SPARK_GRAFT_BC_NODES_MB", "0")
        real_count = type(emb).count
        m.setattr(
            type(emb), "count",
            lambda self: counted.append(1) or real_count(self),
        )
        q = incremental_index_ingest(
            stream, forest, leaves_path, str(tmp_path / "ckpt")
        )
        q.awaitTermination(120)
    assert counted == []
    got = {
        (r.vec_id, r.tree_id, r.leaf_path)
        for r in spark.read.parquet(leaves_path).collect()
    }
    assert got == want and len(got) == 100 * 4


def test_stateful_user_counters(spark, tmp_path):
    """applyInPandasWithState: totals must equal per-user batch counts,
    and state must carry across micro-batches (two source files ⇒
    maxFilesPerTrigger=1 forces two batches)."""
    from rust_vector_search_spark.streaming import stateful_user_counters

    src = str(tmp_path / "st_src")
    df1 = spark.createDataFrame([(1, 10), (1, 11), (2, 20)], "user_id long, v long")
    df2 = spark.createDataFrame([(1, 12), (3, 30)], "user_id long, v long")
    df1.coalesce(1).write.parquet(src)
    df2.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(df1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stateful_user_counters(stream)
        .writeStream.format("memory")
        .queryName("st_counts")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT user_id, max(n_events_total) AS total FROM st_counts GROUP BY user_id"
    ).collect()
    got = {r.user_id: r.total for r in rows}
    assert got == {1: 3, 2: 1, 3: 1}


def test_incremental_index_parity_query(spark):
    """The driver-visible incremental-maintenance row: recall of the
    incrementally-augmented index must be in the same quality band as a
    full rebuild on the union (the frozen-hyperplane append degrades
    leaf quality slowly, not catastrophically)."""
    from rust_vector_search_spark.plans import QUERIES

    row = QUERIES["streaming_incremental_index_parity"](
        spark, SF_SMOKE
    ).collect()[0]
    assert row.n_queries == 10
    assert row.recall_full_rebuild >= 0.9
    assert row.recall_incremental >= row.recall_full_rebuild - 0.1


def test_streaming_interval_join_matches_batch(spark):
    """Stream-stream interval join emits exactly the batch interval
    join's rows (inner-join emission is a pure function of the data;
    the watermark admits everything in the fixture)."""
    import pyspark.sql.functions as F

    from rust_vector_search_spark.plans import QUERIES
    from rust_vector_search_spark.sources import load_table

    got = sorted(
        tuple(r)
        for r in QUERIES["streaming_click_purchase_join"](spark, SF_SMOKE).collect()
    )
    ev = load_table(spark, SF_SMOKE, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    batch = (
        c.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("pts") >= F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 6 HOURS")),
        )
        .select(
            "user_id",
            "click_id",
            "purchase_id",
            (F.unix_micros("pts") - F.unix_micros("cts")).alias("lag_us"),
        )
    )
    want = sorted(tuple(r) for r in batch.collect())
    assert got == want and len(got) > 0


def test_stateful_sessionizer_multibatch_state_carry(spark, tmp_path):
    """The vectorized sessionizer fold must handle BOTH carried-state
    paths across micro-batches (two source files ⇒ maxFilesPerTrigger=1
    forces two batches):
      - user 1: batch-2 events within the gap EXTEND the carried open
        session (merged start/count);
      - user 2: batch-2 event past the gap CLOSES the carried session
        untouched and opens a new one;
      - user 3: multiple sessions inside one batch (in-batch gap split).
    Update-mode sink: the latest row per (user, session_start) wins."""
    import datetime as dt

    from rust_vector_search_spark.plans.streamingops import (
        stage_ordered_batches,
    )
    from rust_vector_search_spark.streaming import stateful_sessionizer

    def ts(minute):
        return dt.datetime(2024, 1, 1, minute // 60, minute % 60)

    src = str(tmp_path / "sess_src")
    rows1 = [
        (1, ts(0), 100), (1, ts(10), 101),      # open session [0, 10]
        (2, ts(0), 200),                        # open session [0, 0]
        (3, ts(0), 300), (3, ts(60), 301),      # in-batch gap: two sessions
    ]
    rows2 = [
        (1, ts(20), 102),                       # 10 min after last → EXTENDS
        (2, ts(120), 201),                      # 120 min after last → CLOSES
    ]
    schema = "user_id long, ts timestamp, event_id long"
    # stage with pinned mtimes: the file source orders micro-batches by
    # modification time, and plain back-to-back writes race sub-second
    # timestamp granularity (ADVICE r7 — same staging as sibling tests)
    stage_ordered_batches(
        [
            spark.createDataFrame(rows1, schema),
            spark.createDataFrame(rows2, schema),
        ],
        src,
    )

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, event_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stateful_sessionizer(stream, gap_minutes=30)
        .writeStream.format("memory")
        .queryName("sess_mb")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql(
        """SELECT user_id, session_start, session_end, n_events, is_open FROM (
             SELECT *, row_number() OVER (
               PARTITION BY user_id, session_start
               ORDER BY session_end DESC, n_events DESC, is_open ASC) AS rn
             FROM sess_mb) WHERE rn = 1"""
    ).collect()
    got = {
        (r.user_id, r.session_start.minute + 60 * r.session_start.hour):
            (r.session_end.minute + 60 * r.session_end.hour, r.n_events, r.is_open)
        for r in out
    }
    assert got == {
        (1, 0): (20, 3, True),     # extended across the batch boundary
        (2, 0): (0, 1, False),     # closed untouched by batch 2
        (2, 120): (120, 1, True),  # new open session
        (3, 0): (0, 1, False),     # in-batch split, first island closed
        (3, 60): (60, 1, True),
    }


def test_stateful_sessionizer_event_time_timeout_closes_idle_sessions(
    spark, tmp_path
):
    """``close_by_timeout=True``: append-safe production mode — only
    CLOSED sessions are emitted, and an idle open session closes via
    event-time timeout once the watermark passes last_event + gap.
    Watermark advances batch-by-batch (maxFilesPerTrigger=1): user 1's
    session (ends t=10min, gap 30min ⇒ deadline t=40min) times out
    mid-run once the watermark passes 40min; user 2 (deadline 130min)
    times out in the final timer batch availableNow runs after the
    last file (final watermark 200min); user 3 (deadline 230min >
    final watermark) stays open and emits NOTHING — append mode never
    sees a non-final row."""
    import datetime as dt

    from rust_vector_search_spark.streaming import stateful_sessionizer

    def ts(minute):
        return dt.datetime(2024, 1, 1, minute // 60, minute % 60)

    src = str(tmp_path / "sess_to_src")
    schema = "user_id long, ts timestamp, event_id long"
    batches = [
        [(1, ts(0), 100), (1, ts(10), 101)],  # user 1 open [0, 10]
        [(2, ts(100), 200)],                  # advances watermark to 100
        [(3, ts(200), 300)],                  # watermark 100 > 40 ⇒ user 1 times out here
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append" if i else "overwrite"
        ).parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "0 seconds")
    )
    q = (
        stateful_sessionizer(stream, gap_minutes=30, close_by_timeout=True)
        .writeStream.format("memory")
        .queryName("sess_to")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM sess_to").collect()
    got = {
        r.user_id: (
            r.session_start.minute,
            r.session_end.minute,
            r.n_events,
            r.is_open,
        )
        for r in rows
    }
    # users 1 and 2 timed out (closed); user 3 still open ⇒ no row
    assert got == {1: (0, 10, 2, False), 2: (40, 40, 1, False)}, rows


def test_streaming_lsh_dedup_flags_across_batches(spark, tmp_path):
    """Incremental LSH dedup: an arrival sharing a band key with ANY
    earlier batch's doc is flagged (min matching historical id
    recorded); intra-batch duplicates are NOT flagged (probe happens
    before the batch's own keys append); clean docs pass. Three
    batches prove the index accumulates across batches, not just from
    batch 1."""
    from rust_vector_search_spark.streaming import streaming_lsh_dedup_ingest

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark forest tonight")
    other = ("completely different content about spark shuffles and "
             "parquet footers with nothing shared at all here")
    third = ("yet another unrelated document mentioning neither foxes "
             "nor shuffles just plain filler text for testing")
    batches = [
        [(0, base), (2, other)],
        # 11 = near-dup of 0 (one word changed at the end); 13 clean;
        # 15 = exact dup of 13 IN THE SAME BATCH (must NOT be flagged)
        [(11, base[:-7] + "today"), (13, third), (15, third)],
        # 21 = dup of batch-2's 13 (index must have grown); 23 clean
        [(21, third), (23, "totally novel words appear in this final "
                           "document about absolutely nothing familiar")],
    ]
    from rust_vector_search_spark.plans.streamingops import (
        stage_ordered_batches,
    )

    src = str(tmp_path / "lsh_src")
    schema = "doc_id long, text string"
    stage_ordered_batches(
        [spark.createDataFrame(rows, schema) for rows in batches], src
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    work = str(tmp_path / "lsh_work")
    q = streaming_lsh_dedup_ingest(
        stream,
        index_path=f"{work}/index",
        flags_path=f"{work}/flags",
        checkpoint_path=f"{work}/ckpt",
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(f"{work}/flags").collect()
    flags = {r.doc_id: (r.hist_min_match, r.is_near_dup) for r in rows}
    jac = {r.doc_id: r.best_jaccard for r in rows}
    assert flags[11] == (0, True)       # near-dup of historical 0
    assert jac[11] is not None and 0.2 <= jac[11] < 1.0  # verified, not exact
    assert flags[13] == (None, False)   # clean on arrival
    assert flags[15] == (None, False)   # intra-batch dup: not this op's job
    assert flags[21] == (13, True)      # index grew: matches batch-2 doc
    assert jac[21] == 1.0               # exact duplicate text
    assert flags[23] == (None, False)   # clean
    assert flags[0] == (None, False) and flags[2] == (None, False)


def test_streaming_embedding_dedup_flags_across_batches(spark, tmp_path):
    """Embedding twin of the incremental LSH dedup: an arriving vector
    cosine-matching ANY earlier batch's vector (within its probed
    cells) is flagged; the index accumulates across batches; clean
    vectors pass; intra-batch dups are not flagged."""
    import pyspark.sql.functions as F

    from rust_vector_search_spark.streaming import (
        streaming_embedding_dedup_ingest,
    )

    def vec(*xs):
        return [float(x) for x in xs]

    e1 = vec(1, 0, 0, 0)
    e2 = vec(0, 1, 0, 0)
    e3 = vec(0, 0, 1, 0)
    near_e1 = vec(0.999, 0.01, 0, 0)
    batches = [
        [(0, e1), (2, e2)],
        [(11, near_e1), (13, e3), (15, e3)],  # 11 dups 0; 15 intra-batch dup of 13
        [(21, e3), (23, vec(0, 0, 0, 1))],    # 21 dups batch-2's 13
    ]
    from rust_vector_search_spark.plans.streamingops import (
        stage_ordered_batches,
    )

    schema = "vec_id long, embedding array<double>"
    src = str(tmp_path / "emb_src")
    stage_ordered_batches(
        [spark.createDataFrame(rows, schema) for rows in batches], src
    )

    # frozen centroids: the 4 axis-ish directions from batch data
    centroids = spark.createDataFrame(
        [(100, e1), (101, e2), (102, e3), (103, vec(0, 0, 0, 1))],
        "c_id long, cv array<double>",
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    work = str(tmp_path / "emb_work")
    q = streaming_embedding_dedup_ingest(
        stream,
        centroids,
        index_path=f"{work}/index",
        flags_path=f"{work}/flags",
        checkpoint_path=f"{work}/ckpt",
        threshold=0.9,
        nprobe=2,
    )
    q.awaitTermination(120)
    flags = {
        r.vec_id: (r.hist_min_match, r.is_near_dup)
        for r in spark.read.parquet(f"{work}/flags").collect()
    }
    assert flags[11] == (0, True)      # near-dup of historical 0
    assert flags[13] == (None, False)  # clean on arrival
    assert flags[15] == (None, False)  # intra-batch dup: not flagged here
    assert flags[21] == (13, True)     # index grew across batches
    assert flags[23] == (None, False)


def test_stateful_sessionizer_late_row_does_not_split_session(spark, tmp_path):
    """A late out-of-order row admitted into the carried open session
    must not become the gap reference for the next row: with state
    (last=100min) and a batch [90min (late), 125min], the 125min row is
    35min after the late row but only 25min after the stored last event
    — ONE session, not a spurious split (the gap reference is the
    running max of everything seen, not the previous sorted row)."""
    import datetime as dt

    from rust_vector_search_spark.plans.streamingops import (
        stage_ordered_batches,
    )
    from rust_vector_search_spark.streaming import stateful_sessionizer

    def ts(minute):
        return dt.datetime(2024, 1, 1, minute // 60, minute % 60)

    schema = "user_id long, ts timestamp, event_id long"
    src = str(tmp_path / "late_src")
    stage_ordered_batches(
        [
            spark.createDataFrame(
                [(1, ts(0), 100), (1, ts(100), 101)], schema
            ),
            spark.createDataFrame(
                [(1, ts(90), 102), (1, ts(125), 103)], schema
            ),
        ],
        src,
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stateful_sessionizer(stream, gap_minutes=30)
        .writeStream.format("memory")
        .queryName("sess_late")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # latest snapshot per (user, start): one open session spanning the
    # whole run — starts at 0 (first batch-1 session start... the 0 and
    # 100 rows are 100min apart, so batch 1 closes [0,0] and carries
    # [100,100]; batch 2's late 90min row extends the carried session
    # backward-in-time and 125min extends it forward
    rows = spark.sql(
        """SELECT * FROM (
             SELECT *, row_number() OVER (
               PARTITION BY user_id, session_start
               ORDER BY session_end DESC, n_events DESC, is_open ASC) AS rn
             FROM sess_late) WHERE rn = 1"""
    ).collect()
    got = {
        (r.session_start.hour * 60 + r.session_start.minute): (
            r.session_end.hour * 60 + r.session_end.minute,
            r.n_events,
            r.is_open,
        )
        for r in rows
    }
    # batch 1's open snapshot (start=100) remains under its old key —
    # a late row extending a session BACKWARD changes the snapshot key,
    # which is exactly why multi-batch consumers keep the latest row
    # per USER for open sessions; the correctness claims are the two
    # final rows:
    assert got[0] == (0, 1, False)    # 0min singleton closed by the gap
    assert got[90] == (125, 3, True)  # late 90 + stored 100 + 125: ONE session
    assert 125 not in got and 100 not in got or got.get(100) == (100, 1, True), rows


def test_stream_source_cache_warm_skips_rewrite_and_purges(spark):
    """VERDICT r7 #5: a warm ``_STREAM_SRC_CACHE`` entry must REPLAY the
    staged source dir — the second ``_events_stream`` call for the same
    (sf_dir, ordered) key cannot re-run the global-sort write (pinned on
    the staged files' identity + mtimes: any rewrite would replace
    them). And ``_purge_stream_src_cache`` (atexit, VERDICT r7 #7)
    removes the dirs and empties the cache."""
    import os

    from rust_vector_search_spark.plans.streamingops import (
        _STREAM_SRC_CACHE,
        _events_stream,
        _purge_stream_src_cache,
    )

    _events_stream(spark, SF_SMOKE, ordered=True)
    src, _ = _STREAM_SRC_CACHE[(SF_SMOKE, True)]
    listing1 = {
        (f, os.path.getmtime(os.path.join(src, f))) for f in os.listdir(src)
    }
    _events_stream(spark, SF_SMOKE, ordered=True)
    src2, _ = _STREAM_SRC_CACHE[(SF_SMOKE, True)]
    assert src2 == src  # same staged dir replayed
    listing2 = {
        (f, os.path.getmtime(os.path.join(src, f))) for f in os.listdir(src)
    }
    assert listing1 == listing2  # no file was rewritten

    _purge_stream_src_cache()
    assert not _STREAM_SRC_CACHE
    assert not os.path.exists(src)
    # the cache refills transparently on the next call
    _events_stream(spark, SF_SMOKE, ordered=True)
    assert (SF_SMOKE, True) in _STREAM_SRC_CACHE


def test_run_to_memory_restores_unset_shuffle_conf(spark, tmp_path):
    """ADVICE r8 (medium): on a session that never set
    spark.sql.shuffle.partitions explicitly, _run_to_memory's override
    must be UNSET afterwards — a bare restore-if-previously-set left the
    32-partition pin live for every later batch query in the session."""
    from rust_vector_search_spark.plans.streamingops import _run_to_memory

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key, None)
    src = str(tmp_path / "conf_src")
    df = spark.createDataFrame([(1,), (2,)], "k long")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    try:
        spark.conf.unset(key)
        out = _run_to_memory(stream.groupBy("k").count(), "confprobe",
                             output_mode="complete")
        assert out.count() == 2
        assert spark.conf.get(key, None) is None, (
            "override leaked into the ambient session conf"
        )
    finally:
        if prev is not None:
            spark.conf.set(key, prev)


def test_run_to_memory_restores_conf_on_error(spark):
    """The finally path: when the stream fails to start (here: a BATCH
    frame, which raises before any micro-batch runs), the ambient
    shuffle-partition conf must still come back."""
    from rust_vector_search_spark.plans.streamingops import _run_to_memory

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "7")
    try:
        with pytest.raises(Exception):
            _run_to_memory(spark.range(3), "errprobe")
        assert spark.conf.get(key) == "7"
    finally:
        if prev is not None:
            spark.conf.set(key, prev)
        else:
            spark.conf.unset(key)


def test_run_to_memory_stream_parts_knob(spark, tmp_path, monkeypatch):
    """VERDICT r8 #4: the partition pin is a knob, not a literal —
    SPARK_GRAFT_STREAM_PARTS overrides the derived default, and the
    result values are partition-count independent."""
    from rust_vector_search_spark.plans.streamingops import _run_to_memory

    src = str(tmp_path / "knob_src")
    df = spark.createDataFrame([(i % 3,) for i in range(30)], "k long")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTS", "4")
    out = _run_to_memory(stream.groupBy("k").count(), "knobprobe",
                         output_mode="complete")
    assert {(r.k, r["count"]) for r in out.collect()} == {
        (0, 10), (1, 10), (2, 10)
    }


def test_ingest_monitor_signals_and_resplit(spark, tmp_path):
    """VERDICT r11 #6: the maintenance trigger wired into the ingest
    loop. Ingest three micro-batches with monitor_path set; the monitor
    table must show one row per batch with the health signals read over
    the post-append leaf table — overgrowth CLIMBS (appends only ever
    overfill leaves) while the rebuild trigger stays QUIET (fill rises,
    never falls, under ingest) — then the signal schedules the
    maintenance: resplit clears the overgrowth debt with recall pinned
    before/after."""
    from rust_vector_search_spark.operators.index import (
        forest_health_stats,
        load_index,
        resplit_overgrown_leaves,
        save_index,
    )
    from rust_vector_search_spark.operators.search import estimate_recall

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    old = emb.filter(F.col("vec_id") < 350)
    new = emb.filter(F.col("vec_id") >= 350)
    forest = build_rp_forest(old, num_trees=3, max_node_size=8, seed=42)
    idx = str(tmp_path / "idx_mon")
    save_index(forest, idx)  # persists the fresh-health baseline
    loaded = load_index(spark, idx, num_trees=3, max_node_size=8, seed=42)

    src = str(tmp_path / "mon_src")
    for lo, hi in ((350, 400), (400, 450), (450, 500)):
        new.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    mon = str(tmp_path / "mon_tbl")
    q = incremental_index_ingest(
        stream,
        loaded,
        leaves_path=f"{idx}/leaves",
        checkpoint_path=str(tmp_path / "mon_ckpt"),
        monitor_path=mon,
    )
    q.awaitTermination(180)

    m = sorted(
        spark.read.parquet(mon).collect(), key=lambda r: r.batch_id
    )
    assert len(m) == 3
    assert [r.n_rows for r in m] == [150, 150, 150]  # 50 vecs x 3 trees
    # baseline present (loaded from a saved index) => ratio computable
    assert all(r.fill_vs_fresh is not None for r in m)
    # ingest RAISES fill monotonically; the rebuild trigger stays quiet
    assert m[0].fill_vs_fresh > 1.0
    assert m[0].fill_vs_fresh <= m[1].fill_vs_fresh <= m[2].fill_vs_fresh
    assert all(not r.needs_rebuild for r in m)
    # the resplit-debt signal climbs as hot leaves overfill
    assert m[-1].overgrown_leaves > 0
    assert m[0].overgrown_leaves <= m[-1].overgrown_leaves

    # the signal schedules the maintenance: resplit, recall pinned
    aug = load_index(spark, idx, num_trees=3, max_node_size=8, seed=42)
    before = estimate_recall(aug, emb, n_sample=30, k=5, seed=2)
    fixed = resplit_overgrown_leaves(aug, emb)
    og_after = forest_health_stats(fixed).agg(
        F.sum("overgrown_leaves")
    ).collect()[0][0]
    assert og_after == 0
    after = estimate_recall(fixed, emb, n_sample=30, k=5, seed=2)
    assert 0.0 <= after["recall"] <= 1.0
    # resplit restores the leaf invariant without collapsing quality
    assert after["recall"] >= before["recall"] - 0.2


def test_ingest_monitor_retention_signal(spark, tmp_path):
    """r12b: the cached-truth RETENTION read wired into the monitored
    ingest loop — the routing-quality drift signal occupancy cannot
    give under ingest (appends raise fill; the trigger stays quiet
    while quality drifts). Anchor a recall baseline on the base
    corpus, stream three arrival batches with retention_path set, and
    the monitor rows must carry (retention, retention_exhausted,
    retention_inserted) per cadence hit — computed in strict=False
    mode because ingest GROWS the corpus past the anchored count.
    Also pins the fail-fast guards: retention without a monitor row
    to land in, and without an anchored truth, refuse at stream
    start, not on batch N."""
    from rust_vector_search_spark.operators.index import (
        load_index,
        save_index,
    )
    from rust_vector_search_spark.operators.search import (
        save_recall_baseline,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    old = emb.filter(F.col("vec_id") < 350)
    new = emb.filter(F.col("vec_id") >= 350)
    forest = build_rp_forest(old, num_trees=3, max_node_size=8, seed=42)
    idx = str(tmp_path / "idx_ret")
    save_index(forest, idx)
    loaded = load_index(spark, idx, num_trees=3, max_node_size=8, seed=42)
    save_recall_baseline(
        loaded, old, idx, n_sample=20, k=5, reserve=4, seed=42
    )

    # the upstream corpus table: base + all arrivals (vector payloads
    # the retention read's exact re-rank joins against)
    corpus_dir = str(tmp_path / "ret_corpus")
    emb.select("vec_id", "embedding").write.parquet(corpus_dir)

    src = str(tmp_path / "ret_src")
    for lo, hi in ((350, 400), (400, 450), (450, 500)):
        new.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    mon = str(tmp_path / "ret_mon")
    q = incremental_index_ingest(
        stream,
        loaded,
        leaves_path=f"{idx}/leaves",
        checkpoint_path=str(tmp_path / "ret_ckpt"),
        monitor_path=mon,
        retention_path=idx,
        retention_corpus_path=corpus_dir,
        retention_every=2,
    )
    q.awaitTermination(180)

    m = sorted(spark.read.parquet(mon).collect(), key=lambda r: r.batch_id)
    assert len(m) == 3
    # cadence: batches 0 and 2 carry the read, batch 1 is null
    assert m[0].retention is not None and m[2].retention is not None
    assert m[1].retention is None
    for r in (m[0], m[2]):
        assert 0.0 <= r.retention <= 1.0
        assert r.retention_exhausted == 0  # ingest deletes nothing
        assert r.retention_inserted >= 150  # the arrivals grew the corpus
    # occupancy columns still live on the same row
    assert all(r.fill_vs_fresh is not None for r in m)

    # fail-fast guards
    with pytest.raises(ValueError, match="requires monitor_path"):
        incremental_index_ingest(
            stream, loaded, leaves_path=f"{idx}/leaves",
            checkpoint_path=str(tmp_path / "g1"),
            retention_path=idx, retention_corpus_path=corpus_dir,
        )
    with pytest.raises(ValueError, match="retention_corpus_path"):
        incremental_index_ingest(
            stream, loaded, leaves_path=f"{idx}/leaves",
            checkpoint_path=str(tmp_path / "g2"),
            monitor_path=mon, retention_path=idx,
        )
    bare = str(tmp_path / "idx_bare")
    save_index(forest, bare)
    with pytest.raises(ValueError, match="no anchored recall baseline"):
        incremental_index_ingest(
            stream, loaded, leaves_path=f"{idx}/leaves",
            checkpoint_path=str(tmp_path / "g3"),
            monitor_path=mon, retention_path=bare,
            retention_corpus_path=corpus_dir,
        )


def _mk_arrival_stream(spark, tmp_path, new, tag):
    """Three 50-row arrival files + a maxFilesPerTrigger=1 file stream."""
    src = str(tmp_path / f"{tag}_src")
    for lo, hi in ((350, 400), (400, 450), (450, 500)):
        new.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        ).coalesce(1).write.mode("append").parquet(src)
    return (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def test_ingest_monitor_stable_schema_and_mismatch_guard(spark, tmp_path):
    """ADVICE r12 #3: the monitor schema is STABLE — a retention-less
    monitored stream writes the same 11 columns (retention columns
    null), so no monitor dir ever mixes footers; and pointing a
    monitored stream at a pre-existing dir with a DIFFERENT schema
    (the pre-r13 7-column layout) refuses at stream start with a
    migration hint, never resolves an arbitrary footer on batch N."""
    from rust_vector_search_spark.operators.index import (
        load_index,
        save_index,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    old = emb.filter(F.col("vec_id") < 350)
    new = emb.filter(F.col("vec_id") >= 350)
    forest = build_rp_forest(old, num_trees=3, max_node_size=8, seed=42)
    idx = str(tmp_path / "idx_ss")
    save_index(forest, idx)
    loaded = load_index(spark, idx, num_trees=3, max_node_size=8, seed=42)

    stream = _mk_arrival_stream(spark, tmp_path, new, "ss")
    mon = str(tmp_path / "ss_mon")
    q = incremental_index_ingest(
        stream,
        loaded,
        leaves_path=f"{idx}/leaves",
        checkpoint_path=str(tmp_path / "ss_ckpt"),
        monitor_path=mon,
    )
    q.awaitTermination(180)

    m = spark.read.parquet(mon)
    assert [f.name for f in m.schema.fields] == [
        "batch_id", "n_rows", "current_fill", "fresh_fill",
        "fill_vs_fresh", "overgrown_leaves", "needs_rebuild",
        "retention", "retention_exhausted", "retention_inserted",
        "retention_status",
    ]
    rows = m.collect()
    assert len(rows) == 3
    assert all(
        r.retention is None
        and r.retention_exhausted is None
        and r.retention_status is None
        for r in rows
    )

    # mismatch guard: a legacy 7-column dir refuses at stream start
    legacy = str(tmp_path / "ss_legacy")
    spark.createDataFrame(
        [(0, 1, 0.5, 0.5, 1.0, 0, False)],
        schema=(
            "batch_id long, n_rows long, current_fill double, "
            "fresh_fill double, fill_vs_fresh double, "
            "overgrown_leaves long, needs_rebuild boolean"
        ),
    ).write.parquet(legacy)
    with pytest.raises(ValueError, match="stable 11-column"):
        incremental_index_ingest(
            stream,
            loaded,
            leaves_path=f"{idx}/leaves",
            checkpoint_path=str(tmp_path / "ss_ckpt2"),
            monitor_path=legacy,
        )
    # an existing dir ALREADY in the stable schema is accepted (resume)
    q2 = incremental_index_ingest(
        _mk_arrival_stream(spark, tmp_path, new, "ss"),  # same src files
        loaded,
        leaves_path=f"{idx}/leaves",
        checkpoint_path=str(tmp_path / "ss_ckpt"),  # same checkpoint
        monitor_path=mon,
    )
    q2.awaitTermination(180)  # no new files: clean no-op resume


def test_ingest_retention_error_contained(spark, tmp_path):
    """ADVICE r12 #2: a retention-read failure must never take down
    the ingest stream. Anchor with reserve=1 (no deletion margin) and
    point retention_corpus_path at a corpus missing most anchored
    neighbors: every cached window exhausts and estimate_recall raises
    its all-exhausted refusal — the monitor row must land with null
    retention columns and 'error: ...' in retention_status, and ALL
    three batches must still append their arrivals."""
    from rust_vector_search_spark.operators.index import (
        load_index,
        save_index,
    )
    from rust_vector_search_spark.operators.search import (
        save_recall_baseline,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    old = emb.filter(F.col("vec_id") < 350)
    new = emb.filter(F.col("vec_id") >= 350)
    forest = build_rp_forest(old, num_trees=3, max_node_size=8, seed=42)
    idx = str(tmp_path / "idx_rerr")
    save_index(forest, idx)
    loaded = load_index(spark, idx, num_trees=3, max_node_size=8, seed=42)
    save_recall_baseline(
        loaded, old, idx, n_sample=10, k=5, reserve=1, seed=42
    )

    # corpus missing almost all anchored neighbors -> all windows exhaust
    broken_corpus = str(tmp_path / "rerr_corpus")
    emb.filter(F.col("vec_id") % 97 == 0).select(
        "vec_id", "embedding"
    ).write.parquet(broken_corpus)

    stream = _mk_arrival_stream(spark, tmp_path, new, "rerr")
    mon = str(tmp_path / "rerr_mon")
    n_leaves_before = spark.read.parquet(f"{idx}/leaves").count()
    q = incremental_index_ingest(
        stream,
        loaded,
        leaves_path=f"{idx}/leaves",
        checkpoint_path=str(tmp_path / "rerr_ckpt"),
        monitor_path=mon,
        retention_path=idx,
        retention_corpus_path=broken_corpus,
        retention_every=1,
    )
    q.awaitTermination(180)
    assert q.exception() is None  # the stream survived every failure

    m = sorted(spark.read.parquet(mon).collect(), key=lambda r: r.batch_id)
    assert len(m) == 3  # one row per batch, none lost to the failures
    for r in m:
        assert r.retention is None
        assert r.retention_status is not None
        assert r.retention_status.startswith("error: ")
        assert "re-anchor" in r.retention_status
    # ingestion kept appending through the monitoring failures
    n_leaves_after = spark.read.parquet(f"{idx}/leaves").count()
    assert n_leaves_after == n_leaves_before + 150 * 3  # 50 vecs x 3 trees


def test_ingest_retention_budget_defers(spark, tmp_path):
    """VERDICT r12 #2 (cadence): with retention_budget_frac set, the
    first due read runs (no cost history), and subsequent due reads are
    DEFERRED while the last read's wall exceeds frac x the accumulated
    batch wall — marked 'deferred: time budget', never silently
    dropped. A microscopic frac makes the deferral deterministic."""
    from rust_vector_search_spark.operators.index import (
        load_index,
        save_index,
    )
    from rust_vector_search_spark.operators.search import (
        save_recall_baseline,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    old = emb.filter(F.col("vec_id") < 350)
    new = emb.filter(F.col("vec_id") >= 350)
    forest = build_rp_forest(old, num_trees=3, max_node_size=8, seed=42)
    idx = str(tmp_path / "idx_bud")
    save_index(forest, idx)
    loaded = load_index(spark, idx, num_trees=3, max_node_size=8, seed=42)
    save_recall_baseline(
        loaded, old, idx, n_sample=10, k=5, reserve=4, seed=42
    )
    corpus_dir = str(tmp_path / "bud_corpus")
    emb.select("vec_id", "embedding").write.parquet(corpus_dir)

    stream = _mk_arrival_stream(spark, tmp_path, new, "bud")
    mon = str(tmp_path / "bud_mon")
    q = incremental_index_ingest(
        stream,
        loaded,
        leaves_path=f"{idx}/leaves",
        checkpoint_path=str(tmp_path / "bud_ckpt"),
        monitor_path=mon,
        retention_path=idx,
        retention_corpus_path=corpus_dir,
        retention_every=1,
        retention_budget_frac=1e-6,
    )
    q.awaitTermination(180)

    m = sorted(spark.read.parquet(mon).collect(), key=lambda r: r.batch_id)
    assert len(m) == 3
    assert m[0].retention is not None and m[0].retention_status is None
    for r in (m[1], m[2]):
        assert r.retention is None
        assert r.retention_status == "deferred: time budget"

    # knob guards
    with pytest.raises(ValueError, match="no retention read to budget"):
        incremental_index_ingest(
            stream, loaded, leaves_path=f"{idx}/leaves",
            checkpoint_path=str(tmp_path / "bg1"),
            monitor_path=mon, retention_budget_frac=0.1,
        )
    with pytest.raises(ValueError, match="must be in \\(0, 1\\]"):
        incremental_index_ingest(
            stream, loaded, leaves_path=f"{idx}/leaves",
            checkpoint_path=str(tmp_path / "bg2"),
            monitor_path=mon, retention_path=idx,
            retention_corpus_path=corpus_dir, retention_budget_frac=1.5,
        )


def test_ingest_retention_check_payload(spark, tmp_path):
    """VERDICT r13 #7 + r14 #7: retention_check_payload selects the
    retention read's membership test. A corpus that RECYCLES an
    anchored id (same vec_id, different vector — the id-immutability
    contract's escape) is invisible to the id-only read (foreign count
    = the genuinely-new arrivals) but counted foreign by the hardened
    id+content-hash read. Since r15 the DEFAULT (None) is a capability
    probe: hardened whenever the anchor carries corpus_ids, so the
    unset knob catches the impostor; False explicitly opts back into
    id-only. Guards: True without retention_path, and True against a
    pre-r13 anchor (no corpus_ids), refuse at stream START; the unset
    default degrades to id-only on the pre-r13 anchor instead."""
    import shutil

    from rust_vector_search_spark.operators.index import (
        load_index,
        save_index,
    )
    from rust_vector_search_spark.operators.search import (
        save_recall_baseline,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    old = emb.filter(F.col("vec_id") < 350)
    new = emb.filter(F.col("vec_id") >= 350)
    forest = build_rp_forest(old, num_trees=3, max_node_size=8, seed=42)
    idx = str(tmp_path / "idx_cp")
    save_index(forest, idx)
    loaded = load_index(spark, idx, num_trees=3, max_node_size=8, seed=42)
    save_recall_baseline(
        loaded, old, idx, n_sample=10, k=5, reserve=4, seed=42
    )

    # current corpus: everything, with anchored id 7 RECYCLED — its
    # vector silently swapped for id 300's (same id, different payload)
    impostor = emb.filter(F.col("vec_id") == 300).select(
        F.lit(7).alias("vec_id"), "embedding"
    )
    corpus_dir = str(tmp_path / "cp_corpus")
    emb.filter(F.col("vec_id") != 7).select(
        "vec_id", "embedding"
    ).unionByName(impostor).write.parquet(corpus_dir)

    n_new = 150  # three 50-row arrival files

    # explicit opt-out: id-only, the impostor passes as a survivor;
    # foreign count sees only the genuinely-new arrival ids
    mon_a = str(tmp_path / "cp_mon_a")
    q = incremental_index_ingest(
        _mk_arrival_stream(spark, tmp_path, new, "cpa"),
        loaded,
        leaves_path=f"{idx}/leaves",
        checkpoint_path=str(tmp_path / "cpa_ckpt"),
        monitor_path=mon_a,
        retention_path=idx,
        retention_corpus_path=corpus_dir,
        retention_every=1,
        retention_check_payload=False,
    )
    q.awaitTermination(180)
    assert q.exception() is None
    last_a = max(
        spark.read.parquet(mon_a).collect(), key=lambda r: r.batch_id
    )
    assert last_a.retention_inserted == n_new

    # UNSET knob on an r13 anchor: the capability probe hardens the
    # read — the recycled id is one more foreign row (r14 #7)
    mon_b = str(tmp_path / "cp_mon_b")
    q = incremental_index_ingest(
        _mk_arrival_stream(spark, tmp_path, new, "cpb"),
        loaded,
        leaves_path=f"{idx}/leaves",
        checkpoint_path=str(tmp_path / "cpb_ckpt"),
        monitor_path=mon_b,
        retention_path=idx,
        retention_corpus_path=corpus_dir,
        retention_every=1,
    )
    q.awaitTermination(180)
    assert q.exception() is None
    last_b = max(
        spark.read.parquet(mon_b).collect(), key=lambda r: r.batch_id
    )
    assert last_b.retention_inserted == n_new + 1

    # knob guards, both at stream start
    stream = _mk_arrival_stream(spark, tmp_path, new, "cpg")
    with pytest.raises(ValueError, match="no retention read to harden"):
        incremental_index_ingest(
            stream, loaded, leaves_path=f"{idx}/leaves",
            checkpoint_path=str(tmp_path / "cpg1"),
            monitor_path=mon_b, retention_check_payload=True,
        )
    shutil.rmtree(f"{idx}/recall_truth/corpus_ids")
    with pytest.raises(ValueError, match="pre-r13 anchor"):
        incremental_index_ingest(
            stream, loaded, leaves_path=f"{idx}/leaves",
            checkpoint_path=str(tmp_path / "cpg2"),
            monitor_path=mon_b, retention_path=idx,
            retention_corpus_path=corpus_dir,
            retention_check_payload=True,
        )

    # the UNSET default degrades to id-only on the pre-r13 anchor:
    # stream starts, reads run, the impostor passes (id-only counts)
    mon_c = str(tmp_path / "cp_mon_c")
    q = incremental_index_ingest(
        _mk_arrival_stream(spark, tmp_path, new, "cpc"),
        loaded,
        leaves_path=f"{idx}/leaves",
        checkpoint_path=str(tmp_path / "cpc_ckpt"),
        monitor_path=mon_c,
        retention_path=idx,
        retention_corpus_path=corpus_dir,
        retention_every=1,
    )
    q.awaitTermination(180)
    assert q.exception() is None
    last_c = max(
        spark.read.parquet(mon_c).collect(), key=lambda r: r.batch_id
    )
    assert last_c.retention_inserted == n_new
