"""SparkSession factory.

One place to pin the session semantics the whole engine depends on:

- **UTC timezone** — the reference works in naive local timestamps
  (``TIMESTAMP WITHOUT TIME ZONE``, reference
  ``src/scripts/create_weather_table.py:53``); pinning the session to UTC
  makes Spark's ``TimestampType`` behave identically.
- **ANSI off** — preserves the reference's permissive-cast semantics
  (bad cells become NULL and are dropped, reference ``src/main.py:74-79``)
  via ``try_cast``-like behavior instead of runtime errors.
- **AQE on** — runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic broadcast selection; this is the main lever that
  makes the same plan work at sf0.001 locally and at 100 TB on a cluster.
- **Arrow on** — every pandas UDF moves data in Arrow batches, not pickled
  rows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "quantum-rag-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master``/``shuffle_partitions`` default from env so the same code
    runs under pytest (local[*], small shuffle counts) and on a real
    cluster (leave master unset; size shuffle partitions to ~2-3x total
    cores or let AQE coalesce from a high initial number).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local-mode driver == all executors: size the heap for 32 task
        # slots (0.6×heap/32 per-task execution memory). 8g gave ~150MB a
        # slot and GC-thrashed the heavy queries (2-5× run-to-run
        # variance); 48g on the 128 GiB box makes timings stable. On a
        # real cluster this conf is ignored in favor of executor sizing.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp — read as long, converted in the registry.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

