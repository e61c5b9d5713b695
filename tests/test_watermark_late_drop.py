"""Watermark semantics (SURVEY §2.10): a watermarked stream emits only
windows the watermark has closed — that withholding is what bounds
streaming state on an unbounded input.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_streaming_session_window_subset_of_batch(spark, tmp_path):
    """Native session_window in a watermarked stream: every session the
    stream emits (append mode = only watermark-closed sessions) must
    exist in the batch sessionization with the identical count; sessions
    still open at end-of-input are withheld, never emitted partial."""
    from notion_vector_store_etl_pipeline_spark.sources import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "user_id"
    )
    src = str(tmp_path / "sessions_src")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)

    def sessionize(df):
        return df.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        ).agg(F.count(F.lit(1)).alias("n_events"))

    q = (
        sessionize(stream.withWatermark("ts", "1 hour"))
        .select("user_id", F.col("w.start").alias("start"), "n_events")
        .writeStream.format("memory")
        .queryName("stream_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.user_id, str(r.start)): r.n_events
        for r in spark.sql("SELECT * FROM stream_sessions").collect()
    }
    want = {
        (r.user_id, str(r.start)): r.n_events
        for r in sessionize(events)
        .select("user_id", F.col("w.start").alias("start"), "n_events")
        .collect()
    }
    assert got, "stream emitted no closed sessions"
    for key, n in got.items():
        assert want.get(key) == n, (key, n, want.get(key))
    # append mode must withhold open sessions, not emit partials
    assert len(got) <= len(want)
