"""Mutation + streaming operator tests."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from nebula_spark.operators.mutate import (
    EDGE_KEY, VERTEX_KEY, commit_table, delete_rows, insert_rows, ttl_vacuum,
    update_rows,
)


def test_insert_overwrites_key(spark):
    t = spark.createDataFrame([("v1", 10), ("v2", 20)], "_vid string, age long")
    rows = spark.createDataFrame([("v2", 99), ("v3", 30)], "_vid string, age long")
    out = {r["_vid"]: r.age for r in insert_rows(t, rows, VERTEX_KEY).collect()}
    assert out == {"v1": 10, "v2": 99, "v3": 30}


def test_insert_if_not_exists(spark):
    t = spark.createDataFrame([("v1", 10)], "_vid string, age long")
    rows = spark.createDataFrame([("v1", 99), ("v2", 20)], "_vid string, age long")
    out = {r["_vid"]: r.age
           for r in insert_rows(t, rows, VERTEX_KEY, if_not_exists=True).collect()}
    assert out == {"v1": 10, "v2": 20}


def test_update_partial_props_and_upsert(spark):
    t = spark.createDataFrame([("v1", 10, "a"), ("v2", 20, "b")],
                              "_vid string, age long, name string")
    upd = spark.createDataFrame([("v2", 99), ("v9", 5)], "_vid string, age long")
    plain = update_rows(t, upd, VERTEX_KEY)
    got = {r["_vid"]: (r.age, r.name) for r in plain.collect()}
    assert got == {"v1": (10, "a"), "v2": (99, "b")}  # name preserved
    up = update_rows(t, upd, VERTEX_KEY, insertable=True)
    got = {r["_vid"]: (r.age, r.name) for r in up.collect()}
    assert got["v9"] == (5, None)


def test_delete_edge_by_composite_key(spark):
    e = spark.createDataFrame([("a", "b", 0, 1), ("a", "b", 1, 2), ("a", "c", 0, 3)],
                              "_src string, _dst string, _rank long, w long")
    keys = spark.createDataFrame([("a", "b", 1)], "_src string, _dst string, _rank long")
    out = delete_rows(e, keys, EDGE_KEY).collect()
    assert {(r["_src"], r["_dst"], r["_rank"]) for r in out} == {("a", "b", 0), ("a", "c", 0)}


def test_ttl_vacuum(spark):
    now = F.current_timestamp()
    t = spark.range(1).select(
        F.lit("old").alias("_vid"), (now - F.expr("INTERVAL 2 HOUR")).alias("ts")
    ).unionByName(spark.range(1).select(
        F.lit("new").alias("_vid"), now.alias("ts")))
    out = ttl_vacuum(t, "ts", 3600).collect()
    assert [r["_vid"] for r in out] == ["new"]


def test_commit_table_swap(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    commit_table(spark.range(5).toDF("n"), p)
    assert spark.read.parquet(p).count() == 5
    commit_table(spark.range(3).toDF("n"), p)
    assert spark.read.parquet(p).count() == 3


def test_windowed_counts_batch_and_sessionize(spark, tpch):
    from nebula_spark.streaming import sessionize, windowed_event_counts
    ev = tpch["events"]
    w = windowed_event_counts(ev, "1 day")
    assert w.columns == ["window_start", "event_type", "n", "sum_value"]
    total = w.agg(F.sum("n")).first()[0]
    assert total == ev.count()
    s = sessionize(ev.filter(F.col("user_id") < 5), gap="30 minutes")
    rows = s.collect()
    assert all(r.n_events >= 1 and r.first_ts <= r.last_ts for r in rows)


def test_streaming_end_to_end(spark, tmp_path):
    """Real stream: file source → windowed agg → memory sink."""
    from nebula_spark.streaming import windowed_event_counts
    src_dir = str(tmp_path / "stream_in")
    os.makedirs(src_dir)
    spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "click", 1.0),
         (2, "2024-01-01 10:20:00", "click", 2.0),
         (3, "2024-01-01 11:05:00", "view", 3.0)],
        "event_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts")).write.parquet(src_dir + "/b0")
    stream = (spark.readStream.schema("event_id long, ts timestamp, "
                                      "event_type string, value double")
              .parquet(src_dir + "/*"))
    agg = windowed_event_counts(stream, "1 hour", watermark="2 hours")
    q = (agg.writeStream.format("memory").queryName("win_test")
         .outputMode("complete").start())
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM win_test").collect()
    finally:
        q.stop()
    got = {(str(r.window_start), r.event_type): r.n for r in rows}
    assert got[("2024-01-01 10:00:00", "click")] == 2
    assert got[("2024-01-01 11:00:00", "view")] == 1


def test_stateful_stream(spark, tmp_path):
    """applyInPandasWithState: per-user running totals over micro-batches."""
    from nebula_spark.streaming.ingest import running_user_state
    src_dir = str(tmp_path / "state_in")
    os.makedirs(src_dir)
    spark.createDataFrame(
        [(1, 7, 1.5), (2, 7, 2.5), (3, 8, 1.0)],
        "event_id long, user_id long, value double",
    ).write.parquet(src_dir + "/b0")
    stream = (spark.readStream
              .schema("event_id long, user_id long, value double")
              .parquet(src_dir + "/*"))
    q = (running_user_state(stream).writeStream.format("memory")
         .queryName("state_test").outputMode("update").start())
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM state_test").collect()
    finally:
        q.stop()
    got = {r.user_id: (r.n_events, r.total_value) for r in rows}
    assert got[7] == (2, 4.0) and got[8] == (1, 1.0)


def test_sliding_windows_batch(spark):
    """Sliding windows: a 10:20 event lands in windows starting 09:30,
    10:00 (1h window, 30m slide)."""
    from nebula_spark.streaming.ingest import sliding_event_counts
    df = spark.createDataFrame(
        [(1, "2024-01-01 10:20:00", "click", 1.0)],
        "event_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    rows = sliding_event_counts(df, "1 hour", "30 minutes").collect()
    starts = sorted(str(r.window_start) for r in rows)
    assert starts == ["2024-01-01 09:30:00", "2024-01-01 10:00:00"]
    assert all(r.n == 1 for r in rows)


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Streaming exact-dedup: duplicate event_ids inside the watermark
    horizon are dropped; batch mode degenerates to dropDuplicates."""
    from nebula_spark.streaming.ingest import stream_dedup
    src_dir = str(tmp_path / "dedup_in")
    os.makedirs(src_dir)
    batch = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "click", 1.0),
         (1, "2024-01-01 10:00:30", "click", 1.0),   # dup id
         (2, "2024-01-01 10:01:00", "view", 2.0)],
        "event_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    batch.write.parquet(src_dir + "/b0")
    # batch path
    assert stream_dedup(batch).count() == 2
    # stream path
    stream = (spark.readStream.schema("event_id long, ts timestamp, "
                                      "event_type string, value double")
              .parquet(src_dir + "/*"))
    q = (stream_dedup(stream).writeStream.format("memory")
         .queryName("dedup_test").outputMode("append").start())
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT event_id FROM dedup_test").collect()
    finally:
        q.stop()
    assert sorted(r.event_id for r in got) == [1, 2]


def test_enrich_stream_static_join(spark, tmp_path):
    """Stream-static broadcast join: events enriched with a dimension."""
    from nebula_spark.streaming.ingest import enrich_stream
    src_dir = str(tmp_path / "enrich_in")
    os.makedirs(src_dir)
    spark.createDataFrame(
        [(1, 7, 1.0), (2, 8, 2.0)],
        "event_id long, user_id long, value double",
    ).write.parquet(src_dir + "/b0")
    dim = spark.createDataFrame([(7, "gold"), (8, "trial")],
                                "user_id long, tier string")
    stream = (spark.readStream
              .schema("event_id long, user_id long, value double")
              .parquet(src_dir + "/*"))
    q = (enrich_stream(stream, dim, "user_id").writeStream.format("memory")
         .queryName("enrich_test").outputMode("append").start())
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT event_id, tier FROM enrich_test").collect()
    finally:
        q.stop()
    assert {(r.event_id, r.tier) for r in got} == {(1, "gold"), (2, "trial")}


def test_write_read_jsonl_shuffled(spark, tmp_path):
    """JSONL export in reproducible-shuffle order; files are ranged by
    the md5 shuffle key and re-read losslessly."""
    from nebula_spark.sources.sink import read_jsonl, write_jsonl
    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id")).alias("text"))
    out = str(tmp_path / "corpus")
    write_jsonl(df, out, id_col="doc_id", seed=9, num_partitions=4)
    back = read_jsonl(spark, out, "doc_id long, shuffle_key long, text string")
    assert back.count() == 100
    assert sorted(r.doc_id for r in back.collect()) == list(range(100))
    # same seed → byte-identical layout on rewrite
    out2 = str(tmp_path / "corpus2")
    write_jsonl(df, out2, id_col="doc_id", seed=9, num_partitions=4)
    a = [r.asDict() for r in read_jsonl(
        spark, out, "doc_id long, shuffle_key long, text string").collect()]
    b = [r.asDict() for r in read_jsonl(
        spark, out2, "doc_id long, shuffle_key long, text string").collect()]
    assert sorted(a, key=lambda r: r["doc_id"]) == \
        sorted(b, key=lambda r: r["doc_id"])


def test_interval_join_stream_stream(spark, tmp_path):
    """Stream-stream interval join: clicks attach to impressions of the
    same user within 5 minutes; late/out-of-range clicks drop."""
    import json

    from nebula_spark.streaming.ingest import interval_join

    imp_dir, clk_dir = tmp_path / "imp", tmp_path / "clk"
    imp_dir.mkdir(), clk_dir.mkdir()
    (imp_dir / "a.json").write_text("\n".join(json.dumps(r) for r in [
        {"user_id": 1, "ts": "2024-01-01 10:00:00", "ad": "A"},
        {"user_id": 2, "ts": "2024-01-01 10:00:00", "ad": "B"},
    ]))
    (clk_dir / "a.json").write_text("\n".join(json.dumps(r) for r in [
        {"user_id": 1, "ts": "2024-01-01 10:03:00"},   # within 5 min -> match
        {"user_id": 2, "ts": "2024-01-01 10:09:00"},   # too late -> no match
        {"user_id": 1, "ts": "2024-01-01 09:59:00"},   # before -> no match
    ]))
    imps = (spark.readStream
            .schema("user_id long, ts timestamp, ad string")
            .json(str(imp_dir)).withColumnRenamed("ts", "its"))
    clks = (spark.readStream
            .schema("user_id long, ts timestamp")
            .json(str(clk_dir)).withColumnRenamed("ts", "cts"))
    joined = interval_join(imps, clks, "user_id", "its", "cts",
                           within="5 minutes")
    q = (joined.writeStream.format("memory").queryName("ij_test")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    try:
        q.processAllAvailable()
        rows = spark.table("ij_test").collect()
    finally:
        q.stop()
    assert [(r["user_id"], r["l_ad"]) for r in rows] == [(1, "A")]


def test_interval_join_batch_same_semantics(spark):
    from nebula_spark.streaming.ingest import interval_join
    imps = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "A"), (2, "2024-01-01 10:00:00", "B")],
        "user_id long, its string, ad string").withColumn(
            "its", F.to_timestamp("its"))
    clks = spark.createDataFrame(
        [(1, "2024-01-01 10:03:00"), (2, "2024-01-01 10:09:00")],
        "user_id long, cts string").withColumn(
            "cts", F.to_timestamp("cts"))
    out = interval_join(imps, clks, "user_id", "its", "cts").collect()
    assert [(r["user_id"], r["l_ad"]) for r in out] == [(1, "A")]
