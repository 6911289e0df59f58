import tempfile

from pyspark.sql import functions as F

from deep_db_learning_spark.streaming import (
    hourly_user_features,
    read_events_stream,
    session_stats,
    sessionize,
    user_profile_features,
)


def test_hourly_features_batch_matches_duckdb(db, duck):
    out = hourly_user_features(db.df("events"))
    got = {
        (r["window_start"], r["user_id"], r["n_events"], r["sum_value"])
        for r in out.collect()
    }
    want = set(
        duck.execute(
            """
            SELECT date_trunc('hour', ts), user_id, count(*), round(sum(value), 6)
            FROM events GROUP BY 1, 2
            """
        ).fetchall()
    )
    assert got == want


def test_streaming_matches_batch(spark, db):
    # the same transformation over readStream(availableNow) must equal batch
    batch = hourly_user_features(db.df("events"))
    stream = read_events_stream(spark, "/root/testdata/sf0.001/events.parquet")
    assert stream.isStreaming
    agg = hourly_user_features(stream, watermark="10 hours")
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            agg.writeStream.format("memory")
            .queryName("hourly_test")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    got = {
        (r["window_start"], r["user_id"], r["n_events"], r["sum_value"])
        for r in spark.table("hourly_test").collect()
    }
    want = {
        (r["window_start"], r["user_id"], r["n_events"], r["sum_value"])
        for r in batch.collect()
    }
    assert got == want


def test_sessionize_matches_duckdb(db, duck):
    out = session_stats(db.df("events"), gap_minutes=30)
    got = {
        (r["user_id"], r["session_id"], r["n_events"], r["sum_value"])
        for r in out.collect()
    }
    want = set(
        duck.execute(
            """
            WITH flagged AS (
              SELECT user_id, ts, value,
                CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                     OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS b
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            sess AS (
              SELECT user_id, ts, value,
                sum(b) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_id
              FROM flagged
            )
            SELECT user_id, session_id, count(*), round(sum(value), 6)
            FROM sess GROUP BY 1, 2
            """
        ).fetchall()
    )
    assert got == want


def test_sessionize_gap_semantics(spark):
    rows = [
        (1, "2024-01-01 10:00:00", 1.0),
        (1, "2024-01-01 10:10:00", 1.0),  # same session (10 min)
        (1, "2024-01-01 11:30:00", 1.0),  # new session (80 min gap)
        (2, "2024-01-01 10:00:00", 1.0),  # separate user
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts string, value double").select(
        "user_id", F.to_timestamp("ts").alias("ts"), "value"
    )
    out = sessionize(df, gap_minutes=30).collect()
    sess = {(r["user_id"], str(r["ts"])): r["session_id"] for r in out}
    assert sess[(1, "2024-01-01 10:00:00")] == 1
    assert sess[(1, "2024-01-01 10:10:00")] == 1
    assert sess[(1, "2024-01-01 11:30:00")] == 2
    assert sess[(2, "2024-01-01 10:00:00")] == 1


def test_user_profile_join_to_customer(db):
    prof = user_profile_features(db.df("events"))
    joined = db.df("customer").join(
        prof, db.df("customer").c_custkey == prof.user_id, "left"
    )
    assert joined.count() == db.df("customer").count()
    # dangling user_ids (events with no customer) exist per FIXTURES
    dangling = prof.join(
        db.df("customer"), prof.user_id == db.df("customer").c_custkey, "left_anti"
    )
    assert dangling.count() >= 0


def test_stream_sessionize_matches_batch_closed_sessions(spark, db):
    # stateful streaming sessionization: closed sessions emitted by the
    # stream == batch sessions minus each user's open (last) session
    from deep_db_learning_spark.streaming import stream_sessionize

    stream = read_events_stream(spark, "/root/testdata/sf0.001/events.parquet")
    out = stream_sessionize(stream, gap_minutes=30)
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            out.writeStream.format("memory")
            .queryName("sessions_state_test")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.table("sessions_state_test").collect()
    }

    batch = session_stats(db.df("events"), gap_minutes=30)
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id")
    closed = batch.withColumn(
        "last_start", F.max("session_start").over(w)
    ).filter(F.col("session_start") < F.col("last_start"))
    want = {
        (
            r["user_id"],
            r["session_start"].replace(tzinfo=None),
            r["session_end"].replace(tzinfo=None),
            r["n_events"],
        )
        for r in closed.collect()
    }
    got = {(u, s.replace(tzinfo=None), e.replace(tzinfo=None), n) for u, s, e, n in got}
    assert got == want


def test_watermark_drops_late_data(spark, tmp_path):
    # three micro-batch files (maxFilesPerTrigger=1, forced mtime
    # order). Batch 1's 06:00 event sets the watermark to 05:00 — which
    # takes effect for the INPUT-DROP filter one batch later (Spark
    # computes the watermark from completed batches): batch 2's late
    # 00:20 event is still absorbed, batch 3's late 00:25 event is
    # dropped. The finalized 00:00 window must count 2 events, not 3.
    import os
    import tempfile
    import time as _time

    import pandas as pd

    d = tmp_path / "events_stream"
    d.mkdir()

    def write(name, ids, tss, off):
        pd.DataFrame(
            {
                "event_id": ids,
                "ts": pd.to_datetime(tss),
                "user_id": [1] * len(ids),
                "event_type": ["view"] * len(ids),
                "value": [1.0] * len(ids),
                "props": ["{}"] * len(ids),
            }
        ).to_parquet(d / name, coerce_timestamps="us")
        now = _time.time()
        os.utime(d / name, (now + off, now + off))

    write("b1.parquet", [1, 2], ["2024-01-01 00:10:00", "2024-01-01 06:00:00"], -200)
    write("b2.parquet", [3], ["2024-01-01 00:20:00"], -100)
    write("b3.parquet", [4], ["2024-01-01 00:25:00"], 0)

    from deep_db_learning_spark.streaming import hourly_user_features

    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(d))
    )
    agg = hourly_user_features(stream, watermark="1 hour")
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            agg.writeStream.format("memory")
            .queryName("wm_test")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        dropped = sum(
            p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            if p["stateOperators"]
        )
    rows = spark.table("wm_test").collect()
    hour0 = [r for r in rows if r["window_start"].hour == 0]
    assert dropped == 1
    assert [r["n_events"] for r in hour0] == [2]


def test_sliding_streaming_matches_batch(spark, db):
    from deep_db_learning_spark.streaming import sliding_user_features

    batch = sliding_user_features(db.df("events"))
    stream = read_events_stream(spark, "/root/testdata/sf0.001/events.parquet")
    agg = sliding_user_features(stream, watermark="10 hours")
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            agg.writeStream.format("memory")
            .queryName("sliding_test")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    got = {
        (r["window_start"], r["user_id"], r["n_events"], r["sum_value"])
        for r in spark.table("sliding_test").collect()
    }
    want = {
        (r["window_start"], r["user_id"], r["n_events"], r["sum_value"])
        for r in batch.collect()
    }
    assert got == want
    # every event lands in exactly len/slide = 4 windows
    n_events = db.df("events").count()
    assert sum(r["n_events"] for r in batch.collect()) == 4 * n_events


def test_streaming_dedup_within_watermark(spark, db):
    """Streaming twin of exact dedup: dropDuplicatesWithinWatermark on
    the content hash — the unbounded-stream form of the dedup family
    (state is bounded by the watermark, unlike dropDuplicates)."""
    stream = read_events_stream(spark, "/root/testdata/sf0.001/events.parquet")
    deduped = (
        stream.withWatermark("ts", "10 hours")
        .withColumn("h", F.md5(F.concat_ws("|", "user_id", "event_type")))
        .dropDuplicatesWithinWatermark(["h"])
    )
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            deduped.writeStream.format("memory")
            .queryName("dedup_stream_test")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    got = spark.table("dedup_stream_test")
    # one survivor per (user_id, event_type) pair — matches batch distinct
    want = db.df("events").select("user_id", "event_type").distinct().count()
    assert got.count() == want


def test_stream_stream_interval_join_matches_batch_range_join(spark, db):
    """Stream-stream inner join with a time-range condition — the
    streaming twin of operators/temporal.range_join (watermarks bound
    both sides' state). Pair set must equal the batch operator's."""
    from deep_db_learning_spark.operators.temporal import range_join

    ev = db.df("events")
    clicks_b = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"), "user_id",
                F.col("ts").alias("start_ts"))
        .withColumn("end_ts", F.col("start_ts") + F.expr("INTERVAL 1 HOUR"))
    )
    purch_b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    want = sorted(
        map(
            tuple,
            range_join(
                purch_b, clicks_b, on="user_id", left_point="ts",
                right_start="start_ts", right_end="end_ts",
            ).select("click_id", "purchase_id").collect(),
        )
    )

    stream = read_events_stream(spark, "/root/testdata/sf0.001/events.parquet")
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "10 hours")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"), "user_id",
                F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "10 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("click_id", "purchase_id")
    import tempfile as _tf

    with _tf.TemporaryDirectory() as ckpt:
        q = (
            joined.writeStream.format("memory")
            .queryName("ss_join_test")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    got = sorted(map(tuple, spark.table("ss_join_test").collect()))
    assert got == want and len(got) > 0


def test_stream_profiles_into_store_multibatch(spark, db, tmp_path):
    """Multi-batch streaming upsert must converge to the exact batch
    profile: split events into 4 files, stream 1 file per trigger, and
    compare the final snapshot with user_profile_features."""
    from deep_db_learning_spark.streaming.node_store import (
        SnapshotStore,
        stream_profiles_into_store,
    )

    ev = db.df("events").select("event_id", "ts", "user_id", "event_type", "value")
    src = str(tmp_path / "events_split")
    ev.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    store_path = str(tmp_path / "store")
    q = stream_profiles_into_store(
        stream, store_path, checkpoint=str(tmp_path / "ckpt")
    )
    q.awaitTermination()

    store = SnapshotStore(store_path)
    assert (store.latest_version() or 0) >= 2  # multiple commits happened
    got = {
        r["user_id"]: (r["n_events"], r["sum_value"], r["last_ts"])
        for r in store.read(spark).collect()
    }
    want = {
        r["user_id"]: (r["n_events"], r["sum_value"], r["last_ts"])
        for r in user_profile_features(ev)
        .select("user_id", "n_events", "sum_value", "last_ts")
        .collect()
    }
    assert got == want


def test_merge_profiles_null_user_key_merges(spark):
    # regression: a plain full_outer on user_id never matches NULL=NULL,
    # so NULL-user rows duplicated across batches instead of merging
    import datetime as dt

    from pyspark.sql import Row

    from deep_db_learning_spark.streaming.node_store import merge_profiles

    t1 = dt.datetime(2024, 1, 1)
    t2 = dt.datetime(2024, 1, 2)
    schema = "user_id bigint, n_events bigint, sum_value double, last_ts timestamp"
    old = spark.createDataFrame(
        [(None, 2, 1.5, t1), (7, 1, 1.0, t1)], schema
    )
    delta = spark.createDataFrame([(None, 3, 2.5, t2)], schema)
    got = {r["user_id"]: (r["n_events"], r["sum_value"], r["last_ts"])
           for r in merge_profiles(old, delta).collect()}
    assert got[None] == (5, 4.0, t2)
    assert got[7] == (1, 1.0, t1)
    assert len(got) == 2


def test_stream_vectors_into_store(spark, db, tmp_path):
    """Streaming IVF store maintenance (r6): two micro-batches of
    vectors append into the versioned snapshot store with frozen
    centroids; the final store is bit-identical to assigning the whole
    corpus against the same model (the ivf_append contract under
    foreachBatch), and the drift verdict lands beside the snapshot."""
    import os

    from pyspark.sql import functions as F

    from deep_db_learning_spark.operators.similarity import (
        _assign_lists,
        ivf_index_deterministic,
    )
    from deep_db_learning_spark.streaming import (
        SnapshotStore,
        stream_vectors_into_store,
    )

    emb = db.df("embeddings").select("vec_id", "embedding")
    _, model = ivf_index_deterministic(
        emb.filter(F.col("vec_id") % 2 == 0), n_lists=4, n_iters=2
    )
    in_dir = str(tmp_path / "in")
    emb.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    emb.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = stream_vectors_into_store(
        stream, str(tmp_path / "store"), str(tmp_path / "ck"), model
    )
    q.awaitTermination(120)

    store = SnapshotStore(str(tmp_path / "store"))
    assert store.latest_version() == 2  # one commit per micro-batch
    final = store.read(spark)
    got = sorted((r["vec_id"], r["list_id"]) for r in final.collect())
    full = emb.withColumn(
        "list_id", _assign_lists(model.clusterCenters(), "embedding", 1)[0]
    )
    want = sorted((r["vec_id"], r["list_id"]) for r in full.collect())
    assert got == want
    # the second batch carried a drift verdict
    drift = spark.read.parquet(os.path.join(str(tmp_path / "store"), "drift_v2"))
    rows = drift.collect()
    assert rows and {"list_id", "n_old", "n_new", "refit"} <= set(drift.columns)


def test_stream_vectors_store_missing_stats_fallback(spark, db, tmp_path):
    """r7 advice fix: a MISSING per-version stats snapshot degrades
    gracefully to re-deriving running stats from the store (the only
    case the except clause may swallow), and the append still commits
    the correct next version."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from deep_db_learning_spark.operators.similarity import (
        _assign_lists,
        ivf_index_deterministic,
    )
    from deep_db_learning_spark.streaming import (
        SnapshotStore,
        stream_vectors_into_store,
    )

    emb = db.df("embeddings").select("vec_id", "embedding")
    _, model = ivf_index_deterministic(
        emb.filter(F.col("vec_id") % 2 == 0), n_lists=4, n_iters=2
    )
    in_dir = str(tmp_path / "in")
    store_dir = str(tmp_path / "store")
    ck = str(tmp_path / "ck")
    emb.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    def run():
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = stream_vectors_into_store(stream, store_dir, ck, model)
        q.awaitTermination(120)

    run()  # v1 + stats_v1
    shutil.rmtree(os.path.join(store_dir, "stats_v1"))
    emb.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    run()  # prev stats missing -> O(store) re-derivation path

    store = SnapshotStore(store_dir)
    assert store.latest_version() == 2
    got = sorted(
        (r["vec_id"], r["list_id"]) for r in store.read(spark).collect()
    )
    want = sorted(
        (r["vec_id"], r["list_id"])
        for r in emb.withColumn(
            "list_id", _assign_lists(model.clusterCenters(), "embedding", 1)[0]
        ).collect()
    )
    assert got == want
    assert os.path.isdir(os.path.join(store_dir, "stats_v2"))


def test_stream_docs_into_index(spark, db, tmp_path):
    """Streaming inverted-index maintenance (r7): two micro-batches of
    documents append postings with batch-only tokenization; the final
    index is bit-identical to building over the whole corpus, the
    running (n_docs, total_tokens) counters are exact, and BM25 over
    the stored index + counters matches the direct-scan BM25 on the
    full corpus bit-for-bit (zero corpus scans at query time)."""
    from pyspark.sql import functions as F

    from deep_db_learning_spark.operators import search
    from deep_db_learning_spark.streaming import (
        SnapshotStore,
        read_index_stats,
        stream_docs_into_index,
    )

    docs = db.df("documents").select("doc_id", "text")
    in_dir = str(tmp_path / "in")
    store_dir = str(tmp_path / "idx")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = stream_docs_into_index(stream, store_dir, str(tmp_path / "ck"))
    q.awaitTermination(120)

    store = SnapshotStore(store_dir)
    assert store.latest_version() == 2
    got = sorted(map(tuple, store.read(spark).collect()))
    want = sorted(
        map(tuple, search.build_postings(docs, "text", "doc_id").collect())
    )
    assert got == want
    n_docs, total_tokens = read_index_stats(spark, store_dir)
    assert (n_docs, total_tokens) == search.corpus_token_stats(docs, "text")

    queries = [(0, "hash join spark"), (1, "slow query big table")]
    from_store = sorted(
        map(
            tuple,
            search.bm25_topk_from_index(
                store.read(spark), "doc_id", queries, n_docs, total_tokens, k=5
            ).collect(),
        )
    )
    direct = sorted(
        map(
            tuple,
            search.bm25_topk(docs, "text", "doc_id", queries, k=5).collect(),
        )
    )
    assert from_store == direct


def test_snapshot_store_batch_cursor_makes_replays_idempotent(spark, db, tmp_path):
    """r7 exactly-once upgrade: the store records the last committed
    batch_id atomically with the snapshot pointer, so replaying the
    SAME input (lost/stale checkpoint — the documented at-least-once
    window of snapshot stores without txn logs) appends nothing and
    the store stays bit-identical. Batch-API commits (no batch_id)
    keep a None cursor."""
    import shutil

    from pyspark.sql import functions as F

    from deep_db_learning_spark.streaming import (
        SnapshotStore,
        stream_docs_into_index,
    )

    docs = db.df("documents").select("doc_id", "text").limit(40)
    in_dir = str(tmp_path / "in")
    store_dir = str(tmp_path / "idx")
    ck = str(tmp_path / "ck")
    docs.coalesce(1).write.mode("append").parquet(in_dir)

    def run():
        stream = spark.readStream.schema(docs.schema).parquet(in_dir)
        q = stream_docs_into_index(stream, store_dir, ck)
        q.awaitTermination(120)

    run()
    store = SnapshotStore(store_dir)
    v1 = store.latest_version()
    assert store.last_batch_id() == 0
    before = sorted(map(tuple, store.read(spark).collect()))

    # lose the checkpoint → the engine replays batch 0 from scratch;
    # the cursor must swallow it
    shutil.rmtree(ck)
    run()
    assert store.latest_version() == v1  # no new commit
    assert sorted(map(tuple, store.read(spark).collect())) == before

    # a batch-API commit leaves no cursor
    plain = SnapshotStore(str(tmp_path / "plain"))
    plain.commit(docs.limit(1))
    assert plain.latest_version() == 1 and plain.last_batch_id() is None


def test_snapshot_store_torn_commit_converges(spark, db, tmp_path, monkeypatch):
    """Chaos test for the atomic-pointer contract under the UGLIEST
    interleaving (VERDICT r11 task 7): kill the writer AFTER the
    snapshot delta write but BEFORE the pointer flip, AND lose the
    streaming checkpoint — restart must converge to the bit-identical
    store. The torn commit leaves an orphan ``v2`` directory with the
    pointer still at ``v1:batch0``; the restarted stream's cursor
    skips the already-committed batch, recomputes the lost one, and
    its overwrite-mode snapshot write reclaims the orphan directory
    before the pointer finally flips."""
    import os
    import shutil
    import time

    import pytest

    from deep_db_learning_spark.streaming.node_store import (
        SnapshotStore,
        stream_profiles_into_store,
    )

    ev = db.df("events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    wave_a = ev.where(F.col("event_id") % 2 == 0)
    wave_b = ev.where(F.col("event_id") % 2 == 1)
    src = str(tmp_path / "in")
    ck = str(tmp_path / "ck")
    store_dir = str(tmp_path / "store")

    def run():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = stream_profiles_into_store(stream, store_dir, checkpoint=ck)
        q.awaitTermination()

    wave_a.coalesce(1).write.mode("append").parquet(src)
    run()
    store = SnapshotStore(store_dir)
    assert store.latest_version() == 1 and store.last_batch_id() == 0

    # wave 2 arrives strictly later (file-source ordering is by mod
    # time — the replay below must rediscover the same batch order)
    time.sleep(1.1)
    wave_b.coalesce(1).write.mode("append").parquet(src)

    real_commit = SnapshotStore.commit

    def torn(self, df, batch_id=None):
        v = (self.latest_version() or 0) + 1
        df.write.mode("overwrite").parquet(os.path.join(self.path, f"v{v}"))
        raise RuntimeError("killed between delta write and pointer flip")

    monkeypatch.setattr(SnapshotStore, "commit", torn)
    with pytest.raises(Exception, match="pointer flip"):
        run()
    # torn state: orphan v2 on disk, pointer (and cursor) untouched
    assert store.latest_version() == 1 and store.last_batch_id() == 0
    assert 2 in store.versions()

    monkeypatch.setattr(SnapshotStore, "commit", real_commit)
    shutil.rmtree(ck)  # and the checkpoint is gone too
    run()
    assert store.latest_version() == 2 and store.last_batch_id() == 1
    got = {
        r["user_id"]: (r["n_events"], r["sum_value"], r["last_ts"])
        for r in store.read(spark).collect()
    }
    want = {
        r["user_id"]: (r["n_events"], r["sum_value"], r["last_ts"])
        for r in user_profile_features(ev)
        .select("user_id", "n_events", "sum_value", "last_ts")
        .collect()
    }
    assert got == want


def test_stream_dedup_into_band_index(spark, db, tmp_path):
    """Streaming dedup-on-arrival (r7): two micro-batches dedup against
    the standing band index then within themselves; the final kept
    corpus and index are bit-identical to the batch-mode composition
    (within-batch LSH dedup of batch 1, then cross-corpus dedup of
    batch 2 against the survivors, then its within-batch pass)."""
    from pyspark.sql import functions as F

    from deep_db_learning_spark.operators.dedup import (
        minhash_band_index,
        minhash_dedup_against,
        minhash_lsh_dedup,
    )
    from deep_db_learning_spark.streaming import (
        SnapshotStore,
        stream_dedup_into_band_index,
    )

    docs = db.df("documents").select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)
    in_dir = str(tmp_path / "in")
    kept_dir = str(tmp_path / "kept")
    b1.coalesce(1).write.mode("append").parquet(in_dir)
    b2.coalesce(1).write.mode("append").parquet(in_dir)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = stream_dedup_into_band_index(
        stream, str(tmp_path / "idx"), str(tmp_path / "ck"), kept_dir
    )
    q.awaitTermination(180)

    kept_stream = {
        r["doc_id"] for r in spark.read.parquet(kept_dir).collect()
    }
    # batch-mode composition
    k1 = minhash_lsh_dedup(b1, "text", "doc_id", threshold=0.7)
    k2 = minhash_dedup_against(b2, k1, "text", "doc_id", threshold=0.7)
    k2 = minhash_lsh_dedup(k2, "text", "doc_id", threshold=0.7)
    want = {r["doc_id"] for r in k1.unionByName(k2).collect()}
    assert kept_stream == want
    assert len(kept_stream) < docs.count()  # dups actually dropped

    idx = SnapshotStore(str(tmp_path / "idx")).read(spark)
    got_idx = sorted(map(tuple, idx.collect()))
    want_idx = sorted(
        map(
            tuple,
            minhash_band_index(k1, "text", "doc_id")
            .unionByName(minhash_band_index(k2, "text", "doc_id"))
            .collect(),
        )
    )
    assert got_idx == want_idx


# jobs the third batch of test_stream_dedup_three_batches_jobs fires,
# the stream's own included: 22 on local[4], split as at perfbench's
# bench scale (band rows 1, the one bucket join 3, the against-store
# survivors 6, the within-batch shingle cut 4 and survivors 5, the kept
# write and the index commit 3). Banding the batch three times and
# verifying against the store through id distincts, semi-joins and a
# shingle cut fired 36 or 37; re-running the against-store verify for
# each of its consumers fired 73
CRAWL_BATCH_MAX_JOBS = 22


def test_stream_dedup_three_batches_jobs(spark, db, tmp_path):
    """Three micro-batches, one stream run each (the crawl's
    arrival shape): the third batch, which dedups against a non-empty
    index and then within itself, fires at most CRAWL_BATCH_MAX_JOBS
    Spark jobs, because the batch is banded once, one bucket join
    yields both candidate sets, and each frame with more than one
    consumer is materialized once; the kept corpus and index equal the
    batch-mode composition."""
    from pyspark.sql import functions as F

    from deep_db_learning_spark.checkpoint import cut_lineage
    from deep_db_learning_spark.operators.dedup import (
        minhash_band_index,
        minhash_dedup_against,
        minhash_lsh_dedup,
    )
    from deep_db_learning_spark.streaming import (
        SnapshotStore,
        stream_dedup_into_band_index,
    )
    from deep_db_learning_spark.streaming.crawl import read_parts

    docs = db.df("documents").select("doc_id", "text")
    batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    in_dir = str(tmp_path / "in")
    kept_dir = str(tmp_path / "kept")
    idx_dir = str(tmp_path / "idx")
    sc = spark.sparkContext
    for b in batches:
        b.coalesce(1).write.mode("append").parquet(in_dir)
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = stream_dedup_into_band_index(
            stream, idx_dir, str(tmp_path / "ck"), kept_dir
        )
        q.awaitTermination(180)
        assert q.exception() is None
    # foreachBatch runs on the stream thread, under the run's job group
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(str(q.runId)))
    assert 0 < n_jobs <= CRAWL_BATCH_MAX_JOBS

    # batch-mode composition: each batch deduped against the union of
    # the earlier batches' survivors, then within itself; each
    # survivor set is cut once, as it feeds every later stage
    k1 = cut_lineage(
        minhash_lsh_dedup(batches[0], "text", "doc_id", threshold=0.7)
    )
    k2 = cut_lineage(
        minhash_lsh_dedup(
            minhash_dedup_against(
                batches[1], k1, "text", "doc_id", threshold=0.7
            ),
            "text", "doc_id", threshold=0.7,
        )
    )
    k3 = cut_lineage(
        minhash_lsh_dedup(
            minhash_dedup_against(
                batches[2], k1.unionByName(k2), "text", "doc_id",
                threshold=0.7,
            ),
            "text", "doc_id", threshold=0.7,
        )
    )
    kept = k1.unionByName(k2).unionByName(k3)
    want = sorted(map(tuple, kept.collect()))
    assert sorted(map(tuple, read_parts(spark, kept_dir).collect())) == want
    assert len(want) < docs.count()  # dups actually dropped
    want_idx = sorted(
        map(tuple, minhash_band_index(kept, "text", "doc_id").collect())
    )
    got_idx = sorted(map(tuple, SnapshotStore(idx_dir).read(spark).collect()))
    assert got_idx == want_idx


def _shingles_above_joins(df, marker: str) -> bool:
    """True when ``df``'s optimized plan computes ``marker`` (a shingle
    expression) somewhere, and every node that computes it has a join
    below it: the shingles are taken from joined rows, never from a
    side before the join."""
    lines = df._jdf.queryExecution().optimizedPlan().toString().splitlines()
    depth = [len(line) - len(line.lstrip(" :+-")) for line in lines]
    hits = [i for i, line in enumerate(lines) if marker in line]
    for i in hits:
        below = []
        for k in range(i + 1, len(lines)):
            if depth[k] <= depth[i]:
                break
            below.append(lines[k])
        if not any("Join " in line for line in below):
            return False
    return bool(hits)


def test_crawl_within_pair_of_a_store_loser_keeps_partner(
    spark, tmp_path, monkeypatch
):
    """Two batches, six planted texts. Doc 2 near-duplicates the stored
    doc 1 and doc 3 near-duplicates doc 2 but not doc 1, so the store
    removes doc 2 and keeps doc 3; the within-batch pair (2, 3) then
    must not remove doc 3, because its lower-id side is already gone.
    Neither candidate verify shingles a doc outside the candidate
    pairs: every shingle node has a join with the candidates below it
    (the against-store verify shingles the rows joined to each pair,
    the within verify the docs semi-joined to the pair ids)."""
    from deep_db_learning_spark.operators import dedup
    from deep_db_learning_spark.operators.dedup import (
        minhash_dedup_against,
        minhash_lsh_dedup,
    )
    from deep_db_learning_spark.streaming import (
        SnapshotStore,
        stream_dedup_into_band_index,
    )
    from deep_db_learning_spark.streaming.crawl import read_parts

    words = (
        "amber basil cedar delta ember fjord grove harbor island jasper "
        "kettle lantern meadow nectar orchid pepper quartz river saddle "
        "timber umbra velvet walnut xenon yarrow zephyr anchor beacon "
        "canyon dune estuary falcon glacier heron inlet juniper kelp "
        "lagoon marsh nimbus oasis pebble quill reef summit tundra upland "
        "valley willow yonder zenith alder birch cobalt drift elm fern "
        "granite hollow iris"
    ).split()

    def swap(text, lo, new):
        w = text.split()
        w[lo:lo + len(new)] = new
        return " ".join(w)

    # 9-char shingle Jaccard: (1, 2) 0.80, (2, 3) 0.81, (1, 3) 0.64
    t1 = " ".join(words)
    t2 = swap(t1, 8, ["copper", "lumen", "sparrow", "thistle", "bramble"])
    t3 = swap(t2, 44, ["garnet", "osprey", "mallow", "tarn", "wicker"])
    u4 = (
        "columnar storage engines compress each column separately and "
        "skip whole row groups using the min and max statistics"
    )
    u5 = (
        "the night train crossed the frozen plateau while the passengers "
        "slept under heavy wool blankets until the border station"
    )
    schema = "doc_id bigint, text string"
    b1 = spark.createDataFrame([(1, t1), (4, u4)], schema)
    b2 = spark.createDataFrame([(2, t2), (3, t3), (5, u5), (6, u4)], schema)

    # the planted case is live: alone, the within-batch pass removes
    # doc 3, and the store removes docs 2 and 6 but not doc 3
    ids = lambda df: sorted(r["doc_id"] for r in df.collect())  # noqa: E731
    assert ids(minhash_lsh_dedup(b2, "text", "doc_id")) == [2, 5, 6]
    assert ids(minhash_dedup_against(b2, b1, "text", "doc_id")) == [3, 5]

    in_dir = str(tmp_path / "in")
    kept_dir = str(tmp_path / "kept")
    idx_dir = str(tmp_path / "idx")
    for b in (b1, b2):
        b.coalesce(1).write.mode("append").parquet(in_dir)
        q = stream_dedup_into_band_index(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir),
            idx_dir, str(tmp_path / "ck"), kept_dir,
        )
        q.awaitTermination(180)
        assert q.exception() is None
    assert ids(read_parts(spark, kept_dir)) == [1, 3, 4, 5]
    assert SnapshotStore(idx_dir).read(spark).count() == 16 * 4

    # shingles sit above the join with the candidates in both verifies
    cross = spark.createDataFrame(
        [(2, 1), (3, 1), (6, 4)], "__new_id bigint, __ref_id bigint"
    )
    against = minhash_dedup_against(
        b2, b1, "text", "doc_id", candidates=cross
    )
    assert ids(against) == [3, 5]
    assert _shingles_above_joins(against, "array_distinct(CASE WHEN")
    # the within verify shingles each candidate doc once, behind a
    # cut: with the cuts stubbed out its whole plan is visible
    within = spark.createDataFrame([(2, 3)], "id_a bigint, id_b bigint")
    monkeypatch.setattr(dedup, "cut_lineage", lambda frame, eager=True: frame)
    survivors = minhash_lsh_dedup(
        against, "text", "doc_id", candidates=within
    )
    assert ids(survivors) == [3, 5]
    assert _shingles_above_joins(survivors, "sh_fn(")


def test_doc_index_stats_survive_crash_window(spark, db, tmp_path):
    """r8 hardening (ADVICE): stats are written BEFORE the pointer
    flips, so every committed version has its stats even if the writer
    dies mid-commit; an orphan stats_v{n} from a pre-flip crash is
    overwritten by the replay; and read_index_stats on a legacy store
    whose stats are missing degrades to a postings re-derivation
    instead of raising."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from deep_db_learning_spark.operators import search
    from deep_db_learning_spark.streaming import (
        SnapshotStore,
        read_index_stats,
        stream_docs_into_index,
    )

    docs = db.df("documents").select("doc_id", "text").limit(40)
    half1 = docs.filter(F.col("doc_id") % 2 == 0)
    in_dir = str(tmp_path / "in")
    store_dir = str(tmp_path / "idx")
    ck = str(tmp_path / "ck")
    half1.coalesce(1).write.mode("append").parquet(in_dir)

    def run():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = stream_docs_into_index(stream, store_dir, ck)
        q.awaitTermination(120)

    run()
    store = SnapshotStore(store_dir)
    assert store.latest_version() == 1
    assert os.path.isdir(os.path.join(store_dir, "stats_v1"))

    # a pre-flip crash leaves an ORPHAN stats_v2 (stats written, pointer
    # not flipped) — the replayed batch must overwrite it, not trip on it
    spark.createDataFrame(
        [(999999, 999999)], "n_docs bigint, total_tokens bigint"
    ).write.mode("overwrite").parquet(os.path.join(store_dir, "stats_v2"))
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    run()
    assert store.latest_version() == 2
    assert read_index_stats(spark, store_dir) == search.corpus_token_stats(
        docs, "text"
    )

    # legacy store with missing stats: fallback re-derives from postings
    shutil.rmtree(os.path.join(store_dir, "stats_v2"))
    n_docs, total_tokens = read_index_stats(spark, store_dir)
    post = store.read(spark)
    assert n_docs == post.select("doc_id").distinct().count()
    assert total_tokens == post.agg(F.sum("tf")).first()[0]


def test_vacuum_snapshots_retention(spark, db, tmp_path):
    """r8 retention (VERDICT Missing #3): vacuuming a versioned
    snapshot store deletes superseded v{n} directories AND their
    sidecars (stats_v{n}), leaves the pointed-to snapshot bit-identical,
    and a replayed batch after vacuum is still swallowed by the
    cursor."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from deep_db_learning_spark.operators import search
    from deep_db_learning_spark.streaming import (
        SnapshotStore,
        read_index_stats,
        stream_docs_into_index,
        vacuum_snapshots,
    )

    docs = db.df("documents").select("doc_id", "text").limit(60)
    in_dir = str(tmp_path / "in")
    store_dir = str(tmp_path / "idx")
    ck = str(tmp_path / "ck")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    def run(ckpt):
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = stream_docs_into_index(stream, store_dir, ckpt)
        q.awaitTermination(120)

    run(ck)
    store = SnapshotStore(store_dir)
    assert store.latest_version() == 3
    before = sorted(map(tuple, store.read(spark).collect()))
    stats_before = read_index_stats(spark, store_dir)

    # a fresh empty store vacuums to nothing
    assert vacuum_snapshots(SnapshotStore(str(tmp_path / "empty"))) == []

    removed = vacuum_snapshots(store, keep_last=2)
    assert removed == [1]
    assert sorted(os.listdir(store_dir)) == sorted(
        ["_LATEST", "v2", "v3", "stats_v2", "stats_v3",
         "_claim_v2", "_claim_v3"]
    )
    removed = vacuum_snapshots(store, keep_last=1)
    assert removed == [2]
    # keep_last=0 is clamped: the pointed-to version survives
    assert vacuum_snapshots(store, keep_last=0) == []
    assert store.latest_version() == 3 and store.last_batch_id() == 2
    assert sorted(map(tuple, store.read(spark).collect())) == before
    assert read_index_stats(spark, store_dir) == stats_before

    # lost checkpoint → replay of all three batches: cursor swallows
    # them, nothing is recommitted, the vacuumed store stays identical
    shutil.rmtree(ck)
    run(str(tmp_path / "ck2"))
    assert store.latest_version() == 3
    assert sorted(map(tuple, store.read(spark).collect())) == before


def test_stream_maintainers_apply_retention_inline(spark, db, tmp_path):
    """keep_last wires vacuum into the single writer: after the stream
    drains, only the retained snapshot versions (and their sidecars)
    remain, and the surviving snapshot equals the no-retention run."""
    import os

    from pyspark.sql import functions as F

    from deep_db_learning_spark.streaming import (
        SnapshotStore,
        read_index_stats,
        stream_docs_into_index,
    )

    docs = db.df("documents").select("doc_id", "text").limit(40)
    in_dir = str(tmp_path / "in")
    for i in range(2):
        docs.filter(F.col("doc_id") % 2 == i).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    def run(store_dir, ck, **kw):
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = stream_docs_into_index(stream, store_dir, ck, **kw)
        q.awaitTermination(120)

    kept = str(tmp_path / "kept")
    run(kept, str(tmp_path / "ck1"), keep_last=1)
    plain = str(tmp_path / "plain")
    run(plain, str(tmp_path / "ck2"))

    assert sorted(os.listdir(kept)) == ["_LATEST", "_claim_v2", "stats_v2", "v2"]
    a = sorted(map(tuple, SnapshotStore(kept).read(spark).collect()))
    b = sorted(map(tuple, SnapshotStore(plain).read(spark).collect()))
    assert a == b
    assert read_index_stats(spark, kept) == read_index_stats(spark, plain)


def test_crawl_kept_corpus_compaction_and_retention(spark, db, tmp_path):
    """r8: the crawl outputs get the same retention treatment as the
    stores — compact_kept_corpus folds the per-batch kept partitions
    behind the manifest (reads identical before/after, covered
    leftovers invisible), keep_last vacuums superseded band-index
    snapshots, and a third batch arriving AFTER compaction still
    dedups against the compacted corpus."""
    import os

    from pyspark.sql import functions as F

    from deep_db_learning_spark.streaming import SnapshotStore
    from deep_db_learning_spark.streaming.crawl import (
        compact_kept_corpus,
        read_parts,
        stream_dedup_into_band_index,
    )

    docs = db.df("documents").select("doc_id", "text").limit(90)
    in_dir = str(tmp_path / "in")
    kept_dir = str(tmp_path / "kept")
    idx_dir = str(tmp_path / "idx")
    for i in range(2):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    def run(ck):
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = stream_dedup_into_band_index(
            stream, idx_dir, ck, kept_dir, keep_last=1
        )
        q.awaitTermination(180)

    run(str(tmp_path / "ck"))
    store = SnapshotStore(idx_dir)
    # inline retention: only the latest band-index snapshot survives
    assert [d for d in os.listdir(idx_dir) if d.startswith("v")] == ["v2"]
    idx_before = sorted(map(tuple, store.read(spark).collect()))
    kept_before = sorted(
        map(tuple, read_parts(spark, kept_dir).collect())
    )

    n = compact_kept_corpus(spark, kept_dir)
    assert n == 2
    assert sorted(
        d for d in os.listdir(kept_dir) if d.startswith("batch=")
    ) == []
    assert sorted(map(tuple, read_parts(spark, kept_dir).collect())) == kept_before

    # batch 3 arrives post-compaction: dedups against the compacted
    # corpus and appends its own batch=2 partition beside compacted_1
    docs.filter(F.col("doc_id") % 3 == 2).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    run(str(tmp_path / "ck"))
    assert store.last_batch_id() == 2
    after = sorted(map(tuple, read_parts(spark, kept_dir).collect()))
    assert len(after) >= len(kept_before)
    assert sorted(map(tuple, store.read(spark).collect())) != idx_before


def test_snapshot_store_time_travel(spark, tmp_path):
    """read(version=) returns historical snapshots (Delta-style time
    travel) while they are retained; vacuumed or future versions raise
    instead of silently aliasing to the latest."""
    import pytest

    from deep_db_learning_spark.streaming import (
        SnapshotStore,
        vacuum_snapshots,
    )

    store = SnapshotStore(str(tmp_path / "s"))
    for i in range(3):
        store.commit(spark.range(i + 1).selectExpr("id AS x"))
    assert store.versions() == [1, 2, 3]
    assert store.read(spark, version=1).count() == 1
    assert store.read(spark, version=2).count() == 2
    assert store.read(spark).count() == 3
    with pytest.raises(ValueError):
        store.read(spark, version=9)
    vacuum_snapshots(store, keep_last=1)
    assert store.versions() == [3]
    with pytest.raises(ValueError):
        store.read(spark, version=1)
    assert store.read(spark, version=3).count() == 3


def test_stream_rolling_anomaly_matches_batch_twin(spark, db, tmp_path):
    """The stateful streaming z-score operator reproduces the batch
    RANGE-frame rolling_anomaly BIT-FOR-BIT when events arrive per-key
    in time order across micro-batches (running decimal folds with
    exact eviction = the batch decimal fold)."""
    import os
    import time

    from pyspark.sql import functions as F

    from deep_db_learning_spark.operators.temporal import rolling_anomaly
    from deep_db_learning_spark.streaming.stateful import (
        stream_rolling_anomaly,
    )

    ev = db.df("events").select("event_id", "user_id", "ts", "value")
    batch = rolling_anomaly(
        ev, "user_id", "ts", "value",
        window_seconds=7 * 86400, z_threshold=2.0, min_points=5,
    )
    want = sorted(
        (r["event_id"], r["roll_n"], r["roll_mean"], r["roll_std"],
         r["zscore"], r["is_anomaly"])
        for r in batch.collect()
    )

    # three ts-range drops with increasing mtimes -> per-user in-order
    # arrival across micro-batches (the documented contract)
    lo, hi = ev.agg(
        F.min(F.unix_micros(F.col("ts").cast("timestamp"))),
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))),
    ).first()
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    cuts = [lo + (hi - lo) * (i + 1) // 3 for i in range(2)]
    preds = [us <= cuts[0], (us > cuts[0]) & (us <= cuts[1]), us > cuts[1]]
    src = str(tmp_path / "in")
    now = time.time()
    for i, p in enumerate(preds):
        d = os.path.join(src, f"b{i}")
        ev.filter(p).coalesce(1).write.mode("overwrite").parquet(d)
        for root, _dirs, files in os.walk(d):
            for f in files:
                os.utime(os.path.join(root, f), (now + i, now + i))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    scored = stream_rolling_anomaly(
        stream, window_seconds=7 * 86400, z_threshold=2.0, min_points=5
    )
    q = (
        scored.writeStream.format("memory")
        .queryName("roll_anom_test")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        (r["event_id"], r["roll_n"], r["roll_mean"], r["roll_std"],
         r["zscore"], r["is_anomaly"])
        for r in spark.sql("SELECT * FROM roll_anom_test").collect()
    )
    assert len(got) == len(want) > 0
    assert got == want


def test_snapshot_diff_between_versions(spark, tmp_path):
    """Time-travel diff: added/removed/changed classification against
    a python dict diff of the same two snapshots; self-diff empty."""
    from deep_db_learning_spark.streaming.node_store import (
        SnapshotStore,
        snapshot_diff,
    )

    store = SnapshotStore(str(tmp_path / "diff_store"))
    v1 = store.commit(
        spark.createDataFrame(
            [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c")],
            "user_id bigint, score double, tag string",
        )
    )
    v2 = store.commit(
        spark.createDataFrame(
            [(1, 10.0, "a"), (2, 25.0, "b"), (4, 40.0, "d")],
            "user_id bigint, score double, tag string",
        )
    )
    got = {
        r["user_id"]: (r["op"], r["old"], r["new"])
        for r in snapshot_diff(spark, store, "user_id", v1, v2).collect()
    }
    assert set(got) == {2, 3, 4}
    assert got[2][0] == "changed" and got[2][1]["score"] == 20.0 \
        and got[2][2]["score"] == 25.0
    assert got[3][0] == "removed" and got[3][2] is None
    assert got[4][0] == "added" and got[4][1] is None
    # unchanged key 1 is omitted; self-diff is empty; v_to=None = latest
    assert snapshot_diff(spark, store, "user_id", v2, v2).count() == 0
    assert snapshot_diff(spark, store, "user_id", v1).count() == 3


def test_snapshot_store_refuses_second_concurrent_writer(spark, tmp_path):
    """Single-writer contract (r13, VERDICT r12 task 7): two live
    writer instances interleaving commits on one store path — the
    stale writer's next commit refuses loudly (before touching the
    data directory) instead of silently losing the other writer's
    merge. Crash-replay stays legal: a FRESH instance attaches at the
    current pointer and may commit."""
    import pytest

    from deep_db_learning_spark.streaming import (
        ConcurrentWriteError,
        SnapshotStore,
    )

    path = str(tmp_path / "s")
    a = SnapshotStore(path)
    a.commit(spark.range(1).selectExpr("id AS x"))          # a -> v1
    b = SnapshotStore(path)  # second live writer on the same path
    b.commit(spark.range(2).selectExpr("id AS x"))          # b -> v2
    # a's view is stale: its next commit must refuse, and must NOT
    # have advanced the store
    with pytest.raises(ConcurrentWriteError):
        a.commit(spark.range(3).selectExpr("id AS x"))
    assert a.latest_version() == 2
    assert a.read(spark).count() == 2  # b's snapshot intact
    # ...and symmetrically: b committing again is fine, then a again
    # still refuses (the fence does not self-heal — the operator must
    # restart the writer deliberately)
    b.commit(spark.range(4).selectExpr("id AS x"))          # b -> v3
    with pytest.raises(ConcurrentWriteError):
        a.commit(spark.range(5).selectExpr("id AS x"))
    # a restarted writer (fresh instance = deliberate takeover /
    # crash replay) attaches at the pointer and commits
    a2 = SnapshotStore(path)
    assert a2.commit(spark.range(6).selectExpr("id AS x")) == 4
    assert a2.read(spark).count() == 6


def test_snapshot_store_first_commit_race_one_loses(spark, tmp_path):
    """First-commit fence (r14, VERDICT r13 task 6): two FRESH writers
    racing their very first commit on an empty store — the O_EXCL
    claim file is the conditional put, so exactly one wins and the
    loser refuses loudly BEFORE touching the data directory."""
    import os

    import pytest

    from deep_db_learning_spark.streaming import (
        ConcurrentWriteError,
        SnapshotStore,
    )

    path = str(tmp_path / "race")
    a = SnapshotStore(path)
    b = SnapshotStore(path)
    # a is mid-first-commit: it has claimed v1 but not yet flipped the
    # pointer (the widest window of the old race)
    a._claim(1, None)
    # b, which also observed an empty store, must lose loudly — and
    # must not have created any data directory
    with pytest.raises(ConcurrentWriteError):
        b.commit(spark.range(2).selectExpr("id AS x"))
    assert b.latest_version() is None
    assert not os.path.isdir(os.path.join(path, "v1"))
    # a finishes its commit: re-entering its OWN claim is legal
    assert a.commit(spark.range(1).selectExpr("id AS x")) == 1
    assert a.read(spark).count() == 1
    # b attaching FRESH after the loss (restart) commits v2 normally
    b2 = SnapshotStore(path)
    assert b2.commit(spark.range(2).selectExpr("id AS x")) == 2


def test_snapshot_store_steals_dead_writers_torn_claim(spark, tmp_path):
    """A claim left by a writer that died before flipping the pointer
    (torn first commit) must NOT brick the store: a restarted writer
    detects the dead pid and takes the claim over, keeping crash
    replay legal."""
    import os

    from deep_db_learning_spark.streaming import SnapshotStore

    path = str(tmp_path / "torn")
    os.makedirs(path, exist_ok=True)
    # a torn claim from a writer whose pid no longer exists: run a
    # real short-lived process and use its (reaped, dead) pid
    import subprocess

    p = subprocess.Popen(["true"])
    p.wait()  # reaped: the pid is guaranteed dead
    dead_pid = p.pid
    with open(os.path.join(path, "_claim_v1"), "w") as f:
        f.write(f"{dead_pid}:deadbeef")
    w = SnapshotStore(path)
    assert w.commit(spark.range(3).selectExpr("id AS x")) == 1
    assert w.read(spark).count() == 3
    # the stolen claim now carries the live writer's identity
    with open(os.path.join(path, "_claim_v1")) as f:
        assert f.read().split(":", 1)[0] == str(os.getpid())


def test_vacuum_removes_claim_files(spark, tmp_path):
    """Retention removes superseded claim tokens (files, not dirs)
    along with their snapshots."""
    import os

    from deep_db_learning_spark.streaming import SnapshotStore
    from deep_db_learning_spark.streaming.node_store import vacuum_snapshots

    store = SnapshotStore(str(tmp_path / "vac"))
    for i in range(1, 4):
        store.commit(spark.range(i).selectExpr("id AS x"))
    assert vacuum_snapshots(store, keep_last=1) == [1, 2]
    left = sorted(os.listdir(store.path))
    assert "v3" in left and "_claim_v3" in left
    assert "v1" not in left and "v2" not in left
    assert "_claim_v1" not in left and "_claim_v2" not in left
