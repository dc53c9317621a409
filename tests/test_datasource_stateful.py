"""Spark-4 streaming surface tests: stateful dedup, stream-stream joins,
watermarked dedup and transformWithStateInPandas."""

import os


def test_streaming_dedup_by_key(spark, tmp_path):
    from quantum_rag_data_pipeline_spark.streaming.stateful import streaming_dedup_by_key

    src = str(tmp_path / "src")
    os.makedirs(src)
    # two files with overlapping keys → duplicates across micro-batches
    spark.createDataFrame(
        [("k1", 1), ("k2", 2), ("k1", 3)], "k string, v int"
    ).coalesce(1).write.parquet(f"{src}/f1")
    spark.createDataFrame(
        [("k2", 4), ("k3", 5), ("k1", 6)], "k string, v int"
    ).coalesce(1).write.parquet(f"{src}/f2")

    stream = (
        spark.readStream.schema("k string, v int")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    deduped = streaming_dedup_by_key(stream, "k", "k string, v int")
    q = (
        deduped.writeStream.format("memory").queryName("dedup_out")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    out = spark.table("dedup_out").collect()
    keys = [r["k"] for r in out]
    assert sorted(keys) == ["k1", "k2", "k3"]  # exactly one row per key


def test_stream_stream_join_equals_batch(spark, tmp_path):
    """Watermarked stream-stream click->purchase join, drained with
    availableNow over a static directory (nothing is late), must equal
    the batch join with the identical predicate."""
    import datetime as dt

    from quantum_rag_data_pipeline_spark.streaming.joins import (
        clicks_before_purchases_stream,
    )

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def at(m):
        return t0 + dt.timedelta(minutes=m)

    clicks = [(1, at(0)), (1, at(50)), (2, at(5)), (3, at(0))]
    purchases = [(1, at(20)), (1, at(60)), (2, at(45)), (3, at(200))]
    cdf = spark.createDataFrame(clicks, "user_id long, ts timestamp")
    pdf = spark.createDataFrame(purchases, "user_id long, ts timestamp")
    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purch")
    cdf.write.parquet(cdir)
    pdf.write.parquet(pdir)

    cs = spark.readStream.schema("user_id long, ts timestamp").parquet(cdir)
    ps = spark.readStream.schema("user_id long, ts timestamp").parquet(pdir)
    out = clicks_before_purchases_stream(cs, ps, interval="30 minutes")
    q = (
        out.writeStream.format("memory").queryName("ssj")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["click_ts"], r["purchase_ts"], r["gap_us"])
        for r in spark.table("ssj").collect()
    }

    batch = clicks_before_purchases_stream(cdf, pdf, interval="30 minutes")
    want = {
        (r["user_id"], r["click_ts"], r["purchase_ts"], r["gap_us"])
        for r in batch.collect()
    }
    # expected pairs: u1 click@0 -> purchase@20 (20m); u1 click@50 ->
    # purchase@60 (10m); u2 click@5 NOT -> purchase@45 (40m > 30m);
    # u3 click@0 NOT -> purchase@200
    assert want == {
        (1, at(0), at(20), 20 * 60 * 1_000_000),
        (1, at(50), at(60), 10 * 60 * 1_000_000),
    }
    assert got == want


def test_drop_duplicates_within_watermark_stream(spark, tmp_path):
    """Built-in streaming dedup: re-delivered doc fingerprints inside the
    watermark horizon are suppressed (the engine-native sibling of
    streaming_dedup_by_key)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        ("fp1", t0), ("fp1", t0 + dt.timedelta(minutes=5)),  # dup, in horizon
        ("fp2", t0 + dt.timedelta(minutes=1)),
    ]
    df = spark.createDataFrame(rows, "fp string, ts timestamp")
    src = str(tmp_path / "dd")
    df.write.parquet(src)
    stream = (
        spark.readStream.schema("fp string, ts timestamp").parquet(src)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["fp"])
    )
    q = (
        stream.writeStream.format("memory").queryName("ddww")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted(r["fp"] for r in spark.table("ddww").collect())
    assert got == ["fp1", "fp2"]


def test_transform_with_state_totals(spark, tmp_path):
    # Spark 4's transformWithStateInPandas needs a working protobuf for
    # its state server; skip cleanly where the container lacks it.
    import pytest

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("google.protobuf unavailable in this container")
    from quantum_rag_data_pipeline_spark.streaming.stateful import (
        streaming_transform_with_state,
    )
    from quantum_rag_data_pipeline_spark.streaming.daily_stream import drain_available_now

    src = spark.createDataFrame(
        [(1, 1.25), (1, 2.50), (2, 0.10)], "user_id long, value double"
    )
    d = str(tmp_path / "tws_src")
    src.coalesce(1).write.parquet(d)
    stream = spark.readStream.schema(src.schema).parquet(d)
    out = streaming_transform_with_state(stream, "user_id", "value")
    got = {r.user_id: (r.n_events, r.value_cents)
           for r in drain_available_now(out, "tws_test", output_mode="append").collect()}
    assert got == {1: (2, 375), 2: (1, 10)}
