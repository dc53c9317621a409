"""Stage-split profile of the parquet drain path (round-13 judge item 4).

The r12 driver bench read `streaming_outer_join_null_emission` at
12.67 s vs its 2.56 s anchor, and quiet triage split it ~6.6 s
plan-build-side vs ~0.5 s exec — but triage's "build" bucket contains
the ENTIRE drain (the query function runs the stream to completion
before returning a batch frame), so the split says nothing about WHERE
inside the drain the time goes. This tool re-runs that consumer's exact
pipeline (cited: queries/analytics_ml.py::streaming_outer_join_null_
emission) with a timestamp at every drain phase, plus Spark's own
per-micro-batch ``durationMs`` breakdown from ``recentProgress``:

- ``plan_build``   — stream-source + join DataFrame construction (py4j)
- ``stream_start`` — ``writeStream.start()`` returning (stream planning,
                     checkpoint init, WAL setup)
- ``stream_run``   — ``awaitTermination`` (micro-batches: state store
                     commits, shuffle, the foreachBatch parquet writes)
- ``read_back``    — ``spark.read.parquet`` of the drained result
                     through a noop-sink action
- ``batch_arith``  — the downstream matched/null/withheld aggregation

``durationMs`` per batch attributes stream_run further: addBatch (the
actual work), plus commit/WAL/state overheads (commitBatch/walCommit,
commitOffsets, latestOffset, queryPlanning, triggerExecution).

    python tools/profile_drain.py [--runs 3]

Prints one line per phase (min/median over runs) and a JSON tail.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402


def build_join_stream(spark, sf_dir):
    """The outer-join consumer's stream definition, byte-for-byte the
    shape of queries/analytics_ml.py::streaming_outer_join_null_emission
    up to the drain call (same landing-zone source, same watermarks)."""
    from pyspark.sql.types import LongType, TimestampNTZType

    from quantum_rag_data_pipeline_spark.paths import landing_root
    from quantum_rag_data_pipeline_spark.streaming.joins import (
        clicks_left_outer_purchases_stream,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    tag = os.path.basename(os.path.normpath(sf_dir))
    landing = f"{landing_root()}/{tag}/events"
    os.makedirs(landing, exist_ok=True)
    link = f"{landing}/events.parquet"
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/events.parquet", link)
    stream = spark.readStream.schema(schema).parquet(landing)
    if isinstance(stream.schema["ts"].dataType, LongType):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(stream.schema["ts"].dataType, TimestampNTZType):
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = (
        stream.filter("event_type='click'")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        stream.filter("event_type='purchase'")
        .select(F.col("user_id").alias("p_user_id"),
                F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
    )
    return clicks_left_outer_purchases_stream(clicks, purchases)


def one_run(spark, sf_dir, run_idx: int) -> dict:
    """One fully-instrumented drain: phase wall times + per-batch
    durationMs. Mirrors drain_available_now's parquet path (state
    partition scoping, numbered run dir) with timestamps inserted."""
    import shutil

    from quantum_rag_data_pipeline_spark.paths import artifact_root

    phases: dict[str, float] = {}
    t0 = time.perf_counter()
    joined = build_join_stream(spark, sf_dir)
    phases["plan_build"] = time.perf_counter() - t0

    base = os.path.join(artifact_root(), "stream_drain",
                        spark.sparkContext.applicationId,
                        f"profile_outer_join_{run_idx}")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    out = os.path.join(base, "0")

    def _write_batch(batch_df, _epoch):
        batch_df.write.mode("append").parquet(out)

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        t1 = time.perf_counter()
        q = (joined.writeStream.foreachBatch(_write_batch)
             .queryName("profile_drain").outputMode("append")
             .trigger(availableNow=True).start())
        phases["stream_start"] = time.perf_counter() - t1
        t2 = time.perf_counter()
        q.awaitTermination()
        phases["stream_run"] = time.perf_counter() - t2
        progress = [json.loads(p.json) for p in (q.recentProgress or [])]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    t3 = time.perf_counter()
    drained = spark.read.parquet(out)
    drained.write.mode("overwrite").format("noop").save()
    phases["read_back"] = time.perf_counter() - t3

    t4 = time.perf_counter()
    matched = drained.filter(F.col("purchase_ts").isNotNull()).agg(
        F.lit("matched").alias("category"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    nulls = drained.filter(F.col("purchase_ts").isNull()).agg(
        F.lit("null_emitted").alias("category"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    from quantum_rag_data_pipeline_spark.sources.registry import load_table
    ev = load_table(spark, "events", sf_dir)
    n_clicks = ev.filter(F.col("event_type") == "click").agg(
        F.count(F.lit(1)).alias("_n"))
    emitted = drained.select("user_id", "click_ts").distinct().agg(
        F.count(F.lit(1)).alias("_e"))
    withheld = n_clicks.crossJoin(emitted).select(
        F.lit("withheld").alias("category"),
        (F.col("_n") - F.col("_e")).cast("bigint").alias("n_rows"))
    matched.unionByName(nulls).unionByName(withheld) \
        .write.mode("overwrite").format("noop").save()
    phases["batch_arith"] = time.perf_counter() - t4
    phases["total"] = time.perf_counter() - t0

    # per-batch durationMs: what the stream engine itself billed where
    batches = []
    for p in progress:
        d = p.get("durationMs") or {}
        batches.append({k: d.get(k) for k in sorted(d)})
    return {"phases": phases, "n_batches": len(progress), "batches": batches}


def main() -> int:
    runs = 3
    if "--runs" in sys.argv:
        runs = int(sys.argv[sys.argv.index("--runs") + 1])

    from bench import era_probe

    probe = era_probe()
    print(f"era: probe {probe}")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from quantum_rag_data_pipeline_spark.queries import QUERIES
    from quantum_rag_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="profile_drain")
    spark.sparkContext.setLogLevel("ERROR")
    # same warm-up discipline as bench.py: JVM + STREAMING engine —
    # without warm_streaming, run 0's stream_start/stream_run would
    # absorb the ~2-3 s one-time engine spin-up and the tool would
    # misattribute session overhead to the drain machinery it exists
    # to measure (round-13 self-review).
    QUERIES["j2_join_agg"](spark, sf_dir).write.mode("overwrite") \
        .format("noop").save()
    from bench import warm_streaming
    warm_streaming(spark)

    results = [one_run(spark, sf_dir, i) for i in range(runs)]
    keys = ["plan_build", "stream_start", "stream_run", "read_back",
            "batch_arith", "total"]
    summary = {}
    for k in keys:
        vals = [r["phases"][k] for r in results]
        summary[k] = {"min": round(min(vals), 3),
                      "med": round(statistics.median(vals), 3)}
        print(f"{k:13s} min={summary[k]['min']:7.3f}s "
              f"med={summary[k]['med']:7.3f}s")
    # the engine's own billing for the LAST run's batches
    print(f"n_batches={results[-1]['n_batches']}; last run durationMs "
          f"per batch:")
    for i, b in enumerate(results[-1]["batches"]):
        print(f"  batch {i}: {b}")
    print(json.dumps({"era": probe, "summary": summary,
                      "last_run_batches": results[-1]["batches"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
