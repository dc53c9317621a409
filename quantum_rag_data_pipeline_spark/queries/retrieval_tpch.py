"""Corpus segment: rollups, TPC-H Q3/Q5/Q10, association rules, vector retrieval, personalized pagerank.

Queries 184-217 of the registration order. The monolithic queries.py
was split in round 5 into contiguous registration-order slices; this
file's internal order plus the package __init__'s import sequence
preserve the order that tools/verify_ledger.py audits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quantum_rag_data_pipeline_spark.operators import curation as cur_ops
from quantum_rag_data_pipeline_spark.operators import graph as graph_ops
from quantum_rag_data_pipeline_spark.operators import similarity as sim_ops
from quantum_rag_data_pipeline_spark.operators import text as text_ops
from quantum_rag_data_pipeline_spark.paths import landing_root
from quantum_rag_data_pipeline_spark.queries._registry import _t, query



# ---------------------------------------------------------------------------
# Time-hierarchy rollup via GROUPING SETS (one pass, three grains)
# ---------------------------------------------------------------------------

@query(
    "time_hierarchy_rollup",
    oracle="""
    WITH base AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(date_trunc('week', CAST(o_orderdate AS DATE)) AS DATE) AS week,
             CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month,
             CAST(o_totalprice AS DECIMAL(30,2)) AS rev
      FROM orders WHERE o_orderdate >= DATE '2001-01-01'
    )
    SELECT CASE WHEN day IS NOT NULL THEN 'day'
                WHEN week IS NOT NULL THEN 'week' ELSE 'month' END AS grain,
           COALESCE(day, week, month) AS period_start,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(rev) AS DOUBLE), 2) AS revenue
    FROM base
    GROUP BY GROUPING SETS ((day), (week), (month))
    """,
)
def time_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain time rollup in ONE scan: GROUPING SETS ((day),
    (week), (month)) aggregates the same order slice at three calendar
    grains simultaneously — the dashboard pattern that would otherwise
    be three scans or a self-union. Spark expands the sets into a
    single Expand + hash aggregate, so the fact table is read once and
    the shuffle carries one row per (grain, period) — at 100 TB the
    3x scan saving is the win. Grain is recovered from which key is
    non-null (order dates are never null, so COALESCE is exact);
    week/month boundaries use date_trunc, identical Monday-start
    semantics in both engines; revenue rides the decimal grid."""
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("date")
    )
    o.select(
        F.col("o_orderdate").cast("date").alias("day"),
        F.date_trunc("week", F.col("o_orderdate").cast("date")).cast("date")
        .alias("week"),
        F.date_trunc("month", F.col("o_orderdate").cast("date")).cast("date")
        .alias("month"),
        F.col("o_totalprice").cast("decimal(30,2)").alias("rev"),
    ).createOrReplaceTempView("orders_time_base")
    return spark.sql("""
        SELECT CASE WHEN day IS NOT NULL THEN 'day'
                    WHEN week IS NOT NULL THEN 'week' ELSE 'month' END AS grain,
               COALESCE(day, week, month) AS period_start,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(CAST(SUM(rev) AS DOUBLE), 2) AS revenue
        FROM orders_time_base
        GROUP BY GROUPING SETS ((day), (week), (month))
    """)


# ---------------------------------------------------------------------------
# Attribution model comparison (first / last / linear in one pass)
# ---------------------------------------------------------------------------

@query(
    "attribution_model_compare",
    oracle="""
    WITH purch AS (
      SELECT event_id AS p_id, user_id, ts AS p_ts, value AS v
      FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
      SELECT event_id AS c_id, user_id, ts AS c_ts
      FROM events WHERE event_type = 'click'
    ),
    touches AS (
      SELECT p.p_id, p.v, c.c_id, c.c_ts,
             isodow(CAST(c.c_ts AS DATE)) AS wd,
             COUNT(*) OVER (PARTITION BY p.p_id) AS n_touches,
             ROW_NUMBER() OVER (PARTITION BY p.p_id ORDER BY c.c_ts, c.c_id)
               AS rn_first,
             ROW_NUMBER() OVER (PARTITION BY p.p_id ORDER BY c.c_ts DESC, c.c_id DESC)
               AS rn_last
      FROM purch p JOIN clicks c
        ON c.user_id = p.user_id
       AND c.c_ts <= p.p_ts AND c.c_ts > p.p_ts - INTERVAL 3 DAY
    ),
    credits AS (
      SELECT 'first_touch' AS model, wd,
             CAST(ROUND(v * 100.0) AS BIGINT) AS cents
      FROM touches WHERE rn_first = 1
      UNION ALL
      SELECT 'last_touch', wd, CAST(ROUND(v * 100.0) AS BIGINT)
      FROM touches WHERE rn_last = 1
      UNION ALL
      SELECT 'linear', wd, CAST(ROUND(v * 100.0 / n_touches) AS BIGINT)
      FROM touches
    )
    SELECT model, CAST(wd AS INT) AS click_weekday,
           CAST(COUNT(*) AS BIGINT) AS n_credits,
           CAST(SUM(cents) AS DOUBLE) / 100.0 AS credited_revenue
    FROM credits GROUP BY model, wd
    """,
)
def attribution_model_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three marketing attribution models — first-touch, last-touch,
    linear — over the SAME bounded-interval touch join (clicks within
    3 days before a purchase), compared side by side per click weekday.
    One range join builds the touch table; per-purchase windows
    (partitioned by purchase id, a handful of rows each) rank the
    touches once, and all three models read off that single ranked
    table — no per-model rescans, which is the scale discipline (the
    touch join dominates; it must run once). Rankings are made
    deterministic with the (ts, event_id) composite order; every
    credit rounds to INTEGER CENTS per touch before the rollup — the
    auditable convention real billing pipelines use, and the
    representable-threshold rounding rule (fractional cent rounding
    diverges across engines at half-cent boundaries; integer rounding
    never does)."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"), F.col("value").alias("v"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"), "user_id", F.col("ts").alias("c_ts")
    )
    touches = purch.join(
        clicks,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 3 DAYS")),
    ).select(
        "p_id", "v", "c_id", "c_ts",
        (F.weekday(F.col("c_ts").cast("date")) + 1).alias("wd"),
    )
    w = Window.partitionBy("p_id")
    ranked = touches.select(
        "p_id", "v", "wd",
        F.count(F.lit(1)).over(w).alias("n_touches"),
        F.row_number().over(w.orderBy("c_ts", "c_id")).alias("rn_first"),
        F.row_number().over(
            w.orderBy(F.col("c_ts").desc(), F.col("c_id").desc())
        ).alias("rn_last"),
    )
    first = ranked.filter(F.col("rn_first") == 1).select(
        F.lit("first_touch").alias("model"), "wd",
        F.round(F.col("v") * 100.0).cast("bigint").alias("cents"),
    )
    last = ranked.filter(F.col("rn_last") == 1).select(
        F.lit("last_touch").alias("model"), "wd",
        F.round(F.col("v") * 100.0).cast("bigint").alias("cents"),
    )
    linear = ranked.select(
        F.lit("linear").alias("model"), "wd",
        F.round(F.col("v") * 100.0 / F.col("n_touches")).cast("bigint")
        .alias("cents"),
    )
    return (
        first.unionByName(last).unionByName(linear)
        .groupBy("model", F.col("wd").cast("int").alias("click_weekday"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_credits"),
            (F.sum("cents").cast("double") / 100.0).alias("credited_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Label-centroid cosine distance matrix (cluster separability report)
# ---------------------------------------------------------------------------

@query(
    "label_centroid_distances",
    oracle="""
    WITH x AS (
      SELECT label, d.d AS dim,
             CAST(ROUND(CAST(e.embedding[d.d + 1] AS DOUBLE) * 1000000.0)
                  AS BIGINT) AS r6
      FROM embeddings e CROSS JOIN (SELECT unnest(range(0, 64)) AS d) d
    ),
    cent AS (
      SELECT label, dim,
             CAST(ROUND(CAST(SUM(r6) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m6
      FROM x GROUP BY label, dim
    ),
    pairs AS (
      SELECT a.label AS label_a, b.label AS label_b,
             SUM(a.m6 * b.m6) AS dot,
             SUM(a.m6 * a.m6) AS na2, SUM(b.m6 * b.m6) AS nb2
      FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
      GROUP BY a.label, b.label
    )
    SELECT CAST(label_a AS INT) AS label_a, CAST(label_b AS INT) AS label_b,
           CAST(CAST(ROUND(CAST(dot AS DOUBLE)
                           / (SQRT(CAST(na2 AS DOUBLE)) * SQRT(CAST(nb2 AS DOUBLE)))
                           * 1000000.0) AS BIGINT) AS DOUBLE) / 1000000.0
             AS centroid_cosine
    FROM pairs
    """,
)
def label_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-separability report: per-label embedding centroids and
    the full pairwise centroid-cosine matrix — the cheap O(k²·d) stand-
    in for silhouette analysis (which is O(n²) and off the table at
    scale). Centroids are one partial-aggregable grouped mean on the
    integer micro-grid (k·d partial sums cross the wire, vectors never
    shuffle); the 45-pair matrix is a self-join of the k·d centroid
    table on dim. High inter-centroid cosine = labels that embed
    closely = clusters a downstream IVF/SemDeDup pass will confuse;
    this is the audit you run BEFORE trusting label-blocked
    operations. All products are exact int64; the single fractional
    value per pair rounds on the representable integer threshold."""
    e = _t(spark, sf_dir, "embeddings")
    x = e.select(
        "label", F.posexplode("embedding").alias("dim", "_f")
    ).select(
        "label", "dim",
        F.round(F.col("_f").cast("double") * 1000000.0).cast("bigint").alias("r6"),
    )
    cent = x.groupBy("label", "dim").agg(
        F.round(F.sum("r6").cast("double") / F.count(F.lit(1)))
        .cast("bigint").alias("m6")
    )
    a = cent.select(
        F.col("label").alias("label_a"), "dim", F.col("m6").alias("ma")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "dim", F.col("m6").alias("mb")
    )
    pairs = (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(F.col("ma") * F.col("mb")).alias("dot"),
            F.sum(F.col("ma") * F.col("ma")).alias("na2"),
            F.sum(F.col("mb") * F.col("mb")).alias("nb2"),
        )
    )
    cos6 = F.round(
        F.col("dot").cast("double")
        / (F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double")))
        * 1000000.0
    ).cast("bigint")
    return pairs.select(
        F.col("label_a").cast("int").alias("label_a"),
        F.col("label_b").cast("int").alias("label_b"),
        (cos6.cast("double") / 1000000.0).alias("centroid_cosine"),
    )


# ---------------------------------------------------------------------------
# Observed write metrics (df.observe — QA metrics without a second scan)
# ---------------------------------------------------------------------------

@query(
    "observed_write_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE), 2)
             AS total_revenue,
           CAST(MAX(CAST(o_orderdate AS DATE)) AS DATE) AS max_order_day,
           TRUE AS observed_equals_recomputed
    FROM orders
    """,
)
def observed_write_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``df.observe`` — data-quality metrics collected DURING a write,
    not by a second scan: an Observation attaches named aggregates to
    the frame, the noop write drives them, and the metrics arrive on
    the driver when the action finishes. At 100 TB this is the only
    affordable way to get row counts / control totals on every pipeline
    write (a verification re-scan would double the job). The query then
    RE-computes the same aggregates declaratively and pins
    observed == recomputed at the gate — catching the classic
    observe-layer bugs (metrics read before the action, partial-task
    double counting). The observed values themselves are returned as a
    literal 1-row frame; the decimal grid keeps both sides exact."""
    from pyspark.sql import Observation

    o = _t(spark, sf_dir, "orders")
    obs = Observation("write_qa")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("rev"),
        F.max(F.col("o_orderdate").cast("date")).alias("max_day"),
    )
    observed.write.mode("overwrite").format("noop").save()
    got = obs.get
    recomputed = o.agg(
        F.count(F.lit(1)).alias("n2"),
        F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("rev2"),
        F.max(F.col("o_orderdate").cast("date")).alias("max2"),
    ).first()
    parity = (
        int(got["n_rows"]) == int(recomputed["n2"])
        and got["rev"] == recomputed["rev2"]
        and got["max_day"] == recomputed["max2"]
    )
    # Arrow createDataFrame path (round 15, guide §4): a list-of-tuples
    # literal compiles to a pickled python RDD that spawns python-worker
    # tasks on every action; the pandas path plans as a JVM local
    # relation.
    import pandas as pd

    out = spark.createDataFrame(
        pd.DataFrame([(int(got["n_rows"]), float(got["rev"]), got["max_day"],
                       bool(parity))],
                     columns=["n_rows", "_rev", "max_order_day",
                              "observed_equals_recomputed"]),
        "n_rows bigint, _rev double, max_order_day date, observed_equals_recomputed boolean",
    )
    return out.select(
        "n_rows",
        F.round(F.col("_rev"), 2).alias("total_revenue"),
        "max_order_day", "observed_equals_recomputed",
    )


# ---------------------------------------------------------------------------
# Streaming UPDATE-mode emission semantics (per-batch changed groups)
# ---------------------------------------------------------------------------

@query(
    "streaming_update_mode_semantics",
    oracle="""
    WITH even AS (
      SELECT event_type, COUNT(*) AS c FROM events
      WHERE event_id % 2 = 0 GROUP BY event_type
    ),
    total AS (
      SELECT event_type, COUNT(*) AS c FROM events GROUP BY event_type
    )
    SELECT t.event_type,
           CAST(CASE WHEN e.c IS NOT NULL THEN 2 ELSE 1 END AS BIGINT)
             AS n_emissions,
           CAST(COALESCE(e.c, t.c) AS BIGINT) AS first_emitted_count,
           CAST(t.c AS BIGINT) AS final_count
    FROM total t LEFT JOIN even e USING (event_type)
    """,
)
def streaming_update_mode_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE-mode emission contract pinned: a streaming aggregation in
    update mode re-emits a group EVERY micro-batch in which its value
    changed — unlike append (closed windows only) or complete (all
    groups always). The landing dir is split deterministically into an
    even-id file and an odd-id file with pinned mtimes, drained with
    maxFilesPerTrigger=1, so batch 1 emits the even-half counts and
    batch 2 re-emits every group at its full count; the memory sink
    accumulates BOTH emissions and the query reads the per-group
    emission count, first emission, and final state back out of it.
    The oracle derives all three from the even/total split. This is
    the semantics a downstream upsert sink must be built for —
    update-mode consumers see the same key many times and must be
    idempotent on the latest value."""
    import os
    import shutil

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    tag = os.path.basename(os.path.normpath(sf_dir))
    landing = f"{landing_root()}/{tag}/events_split2"
    if not os.path.exists(f"{landing}/b_odd.parquet"):
        os.makedirs(landing, exist_ok=True)
        for nm, pred, mtime in (
            ("a_even", "event_id % 2 = 0", 1_000_000_000),
            ("b_odd", "event_id % 2 = 1", 1_000_000_100),
        ):
            tmp = f"{landing}/_stage_{nm}"
            src.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
            part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
            shutil.move(f"{tmp}/{part}", f"{landing}/{nm}.parquet")
            shutil.rmtree(tmp)
            os.utime(f"{landing}/{nm}.parquet", (mtime, mtime))
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    agg = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    from quantum_rag_data_pipeline_spark.streaming.daily_stream import (
        drain_available_now,
    )

    sink = drain_available_now(agg, "update_mode_semantics", output_mode="update",
                               sink="blocks")  # bounded: event_type x batch emissions
    return sink.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_emissions"),
        F.min("c").cast("bigint").alias("first_emitted_count"),
        F.max("c").cast("bigint").alias("final_count"),
    )


# ---------------------------------------------------------------------------
# File provenance audit (hidden _metadata column over a partitioned lake)
# ---------------------------------------------------------------------------

@query(
    "file_provenance_audit",
    oracle="""
    WITH d AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day FROM events)
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(1 AS BIGINT) AS n_files,
           TRUE AS file_path_matches_partition
    FROM d GROUP BY day
    """,
)
def file_provenance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level provenance via the hidden ``_metadata`` column — which
    physical file produced each row, with zero scan overhead (the
    values come from the reader, not the data). Over the day-partitioned
    lake layout (one file per day, the `partition_pruning_measurement`
    landing), the query counts rows and distinct files per day and pins
    that every row's file path lives under its own day's partition
    directory — the audit that catches misplaced files after a manual
    backfill, and the mechanism incident response uses to trace bad
    rows back to an ingest batch. Provenance queries like this are why
    writers should keep partition values IN the path at 100 TB."""
    import os

    ev = _t(spark, sf_dir, "events")
    tag = os.path.basename(os.path.normpath(sf_dir))
    base = f"{landing_root()}/{tag}/events_by_day"
    if not os.path.exists(f"{base}/_SUCCESS"):
        ev.withColumn("day", F.to_date("ts")).repartition("day") \
            .write.mode("overwrite").partitionBy("day").parquet(base)
    pr = spark.read.parquet(base).select(
        "day",
        F.col("_metadata.file_path").alias("fp"),
    )
    return pr.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("fp").cast("bigint").alias("n_files"),
        (
            F.sum(
                F.when(
                    F.col("fp").contains(F.concat(F.lit("day="), F.col("day").cast("string"))),
                    0,
                ).otherwise(1)
            ) == 0
        ).alias("file_path_matches_partition"),
    )


# ---------------------------------------------------------------------------
# Array-function surface (higher-order + set algebra on collected arrays)
# ---------------------------------------------------------------------------

@query(
    "array_functions_surface",
    oracle="""
    WITH seq AS (
      SELECT user_id, list(DISTINCT event_type ORDER BY event_type) AS types,
             COUNT(*) AS n_events
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           array_to_string(types, ',') AS distinct_types,
           CAST(len(types) AS INT) AS n_types,
           array_to_string(list_sort(list_intersect(types, ['click', 'purchase', 'view'])),
                           ',') AS funnel_types,
           CAST(len(list_filter(types, t -> t LIKE '%c%')) AS INT) AS n_with_c,
           CAST(n_events AS BIGINT) AS n_events
    FROM seq WHERE user_id < 200
    """,
)
def array_functions_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complex-type function surface in one query: per-user event
    types as a SORTED array (collect_set is unordered in a distributed
    engine — sort_array makes it canonical), set algebra
    (array_intersect against a literal funnel set), and a higher-order
    filter lambda — all JVM-side column expressions inside whole-stage
    codegen, zero Python. Arrays serialize to strings at the compare
    boundary because the hash gate sorts scalar columns; the
    intersection is re-sorted explicitly — set operations guarantee
    MEMBERSHIP, not order, and DuckDB's list_intersect proves it by
    returning a different order than Spark's. One shuffle for the
    per-user collect; everything after is per-row."""
    ev = _t(spark, sf_dir, "events")
    seq = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_set("event_type")).alias("types"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return seq.filter(F.col("user_id") < 200).select(
        "user_id",
        F.array_join("types", ",").alias("distinct_types"),
        F.size("types").cast("int").alias("n_types"),
        F.array_join(
            F.array_sort(
                F.array_intersect(
                    "types", F.array(F.lit("click"), F.lit("purchase"), F.lit("view"))
                )
            ), ",",
        ).alias("funnel_types"),
        F.size(F.filter("types", lambda t: t.contains("c"))).cast("int")
        .alias("n_with_c"),
        F.col("n_events").cast("bigint").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# NULL-semantics matrix (the aggregate/sort/comparison contract, pinned)
# ---------------------------------------------------------------------------

@query(
    "null_semantics_matrix",
    oracle="""
    WITH t AS (
      SELECT o_orderkey, NULLIF(o_orderstatus, 'O') AS st,
             CASE WHEN o_orderstatus = 'O' THEN NULL
                  ELSE CAST(o_totalprice AS DECIMAL(30,2)) END AS v
      FROM orders WHERE o_orderkey < 8000
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS count_star,
           CAST(COUNT(st) AS BIGINT) AS count_col,
           CAST(COUNT(DISTINCT st) AS BIGINT) AS count_distinct_col,
           ROUND(CAST(SUM(v) AS DOUBLE), 2) AS sum_skips_nulls,
           ROUND(CAST(SUM(v) AS DOUBLE)
                 / COUNT(v), 2) AS avg_skips_nulls,
           CAST(SUM(CASE WHEN st IS DISTINCT FROM 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS is_distinct_from_matches,
           CAST(SUM(CASE WHEN (st = 'F') IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS three_valued_unknowns,
           (SELECT st FROM t ORDER BY st ASC NULLS FIRST, o_orderkey LIMIT 1)
             IS NULL AS asc_nulls_first_leads_null
    FROM t
    """,
)
def null_semantics_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NULL contract in one driver-verified row: COUNT(*) counts
    rows but COUNT(col) skips nulls; COUNT(DISTINCT) ignores them
    entirely; SUM/AVG aggregate over the non-null subset (so
    SUM/COUNT(col), not SUM/COUNT(*), is the real mean); IS DISTINCT
    FROM treats NULL as a comparable value while ``=`` yields UNKNOWN
    (counted explicitly as the three-valued-logic residue); and ASC NULLS
    FIRST puts the nulls ahead in a sort. Every one of these is a
    place naive SQL silently computes the wrong statistic on nullable
    data; pinning them at the gate documents the engine contract the
    rest of the corpus builds on."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 8000)
    t = o.select(
        "o_orderkey",
        F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("st"),
        F.when(
            F.col("o_orderstatus") == "O", F.lit(None).cast("decimal(30,2)")
        ).otherwise(F.col("o_totalprice").cast("decimal(30,2)")).alias("v"),
    )
    first_sorted = t.orderBy(
        F.col("st").asc_nulls_first(), "o_orderkey"
    ).limit(1).select(F.col("st").isNull().alias("leads_null"))
    agg = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("count_star"),
        F.count("st").cast("bigint").alias("count_col"),
        F.countDistinct("st").cast("bigint").alias("count_distinct_col"),
        F.round(F.sum("v").cast("double"), 2).alias("sum_skips_nulls"),
        F.round(F.sum("v").cast("double") / F.count("v"), 2)
        .alias("avg_skips_nulls"),
        F.sum(
            F.when(~F.col("st").eqNullSafe("F"), 1).otherwise(0)
        ).cast("bigint").alias("is_distinct_from_matches"),
        F.sum(
            F.when((F.col("st") == "F").isNull(), 1).otherwise(0)
        ).cast("bigint").alias("three_valued_unknowns"),
    )
    return agg.crossJoin(F.broadcast(first_sorted)).select(
        "count_star", "count_col", "count_distinct_col",
        "sum_skips_nulls", "avg_skips_nulls",
        "is_distinct_from_matches", "three_valued_unknowns",
        F.col("leads_null").alias("asc_nulls_first_leads_null"),
    )


# ---------------------------------------------------------------------------
# Timezone wall-clock conversion (UTC instants -> IANA zone, DST-correct)
# ---------------------------------------------------------------------------

@query(
    "timezone_wall_clock_histogram",
    oracle="""
    WITH w AS (
      SELECT hour(timezone('America/New_York',
                           CAST(ts AS TIMESTAMP) AT TIME ZONE 'UTC')) AS h
      FROM events
    )
    SELECT CAST(h AS INT) AS ny_hour,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(h BETWEEN 9 AND 16 AS BOOLEAN) AS business_hours
    FROM w GROUP BY h
    """,
)
def timezone_wall_clock_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone-correct wall-clock analytics: event instants (stored
    UTC — the only sane storage convention) are converted to
    America/New_York WALL time with the engine's IANA tzdb
    (from_utc_timestamp), and the hour histogram + business-hours flag
    come from the converted clock. This is where naive `hour(ts)`
    analytics silently lie to an operations team in a different zone —
    and where DST makes a fixed-offset shift wrong for half the year;
    both engines resolve the zone rules from the same IANA database so
    the replay is exact. The conversion is a per-row JVM expression
    inside codegen; the rollup is a 24-row partial aggregate."""
    ev = _t(spark, sf_dir, "events")
    w = ev.select(
        F.hour(F.from_utc_timestamp("ts", "America/New_York")).alias("h")
    )
    return w.groupBy(F.col("h").cast("int").alias("ny_hour")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.first(F.col("h").between(9, 16)).alias("business_hours"),
    )


# ---------------------------------------------------------------------------
# Accumulating-snapshot fact: order lifecycle milestone durations
# ---------------------------------------------------------------------------

@query(
    "order_lifecycle_durations",
    oracle="""
    WITH lc AS (
      SELECT l_orderkey,
             MIN(CAST(l_shipdate AS DATE)) AS first_ship,
             MAX(CAST(l_shipdate AS DATE)) AS last_ship,
             COUNT(*) AS n_lines
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(CAST(datediff('day', CAST(o.o_orderdate AS DATE),
                                        lc.first_ship) AS BIGINT)) AS DOUBLE)
                 / COUNT(*), 4) AS avg_days_to_first_ship,
           ROUND(CAST(SUM(CAST(datediff('day', lc.first_ship, lc.last_ship)
                               AS BIGINT)) AS DOUBLE)
                 / COUNT(*), 4) AS avg_fulfillment_spread,
           CAST(SUM(CASE WHEN datediff('day', CAST(o.o_orderdate AS DATE),
                                       lc.last_ship) > 90
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_orders_over_90d
    FROM orders o JOIN lc ON lc.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def order_lifecycle_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accumulating-snapshot fact build — the Kimball pattern for
    processes with milestones: each order's lifecycle collapses to
    (ordered -> first line shipped -> last line shipped), the
    fulfillment SPREAD (days between first and last shipment — the
    split-shipment cost driver) rides along, and orders whose final
    shipment exceeds the 90-day SLA are counted — then everything
    aggregates by priority. One grouped pass over lineitem produces
    the per-order snapshot (MIN/MAX — all partial-aggregable), one
    co-keyed join attaches the order header, and the rollup is a
    5-row aggregate. Day differences are exact integers, so the
    averages are int-sum / count — no float accumulation at all until
    the final division."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    lc = li.groupBy("l_orderkey").agg(
        F.min(F.col("l_shipdate").cast("date")).alias("first_ship"),
        F.max(F.col("l_shipdate").cast("date")).alias("last_ship"),
    )
    j = o.join(lc, o["o_orderkey"] == lc["l_orderkey"])
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(
            F.sum(
                F.datediff(F.col("first_ship"), F.col("o_orderdate").cast("date"))
                .cast("bigint")
            ).cast("double") / F.count(F.lit(1)), 4,
        ).alias("avg_days_to_first_ship"),
        F.round(
            F.sum(
                F.datediff(F.col("last_ship"), F.col("first_ship")).cast("bigint")
            ).cast("double") / F.count(F.lit(1)), 4,
        ).alias("avg_fulfillment_spread"),
        F.sum(
            F.when(
                F.datediff(F.col("last_ship"), F.col("o_orderdate").cast("date")) > 90,
                1,
            ).otherwise(0)
        ).cast("bigint").alias("n_orders_over_90d"),
    )


# ---------------------------------------------------------------------------
# Top-N per group + OTHER bucket (the BI long-tail rollup)
# ---------------------------------------------------------------------------

@query(
    "topn_plus_other_rollup",
    oracle="""
    WITH rev AS (
      SELECT n.n_name AS nation, r.r_name AS region,
             SUM(CAST(o.o_totalprice AS DECIMAL(30,2))) AS rev
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY n.n_name, r.r_name
    ),
    ranked AS (
      SELECT region, nation, rev,
             ROW_NUMBER() OVER (PARTITION BY region
                                ORDER BY rev DESC, nation) AS rk
      FROM rev
    )
    SELECT region,
           CASE WHEN rk <= 3 THEN nation ELSE 'OTHER' END AS nation_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_nations,
           ROUND(CAST(SUM(rev) AS DOUBLE), 2) AS revenue
    FROM ranked
    GROUP BY region, CASE WHEN rk <= 3 THEN nation ELSE 'OTHER' END
    """,
)
def topn_plus_other_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BI long-tail rollup: top-3 nations per region keep their
    identity, everything else collapses into an OTHER bucket whose
    revenue still totals correctly — the chart-ready shape every
    dashboard needs and naive LIMIT-per-group silently gets wrong (it
    DROPS the tail instead of bucketing it, understating the total).
    The star join runs with broadcast dimensions (nation/region are
    tiny; customer hashes once), ranking happens on the 25-row
    aggregate — never on the fact table — and the deterministic
    (revenue DESC, name) order makes the bucket assignment replayable.
    Decimal revenue end to end."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    from pyspark.sql.window import Window

    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("rev"))
    )
    ranked = rev.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("region").orderBy(F.col("rev").desc(), "nation")
        ),
    )
    return (
        ranked.withColumn(
            "nation_bucket",
            F.when(F.col("rk") <= 3, F.col("nation")).otherwise(F.lit("OTHER")),
        )
        .groupBy("region", "nation_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nations"),
            F.round(F.sum("rev").cast("double"), 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch — exactly replayable estimator
# ---------------------------------------------------------------------------

@query(
    "kmv_distinct_sketch",
    oracle="""
    WITH h AS (
      SELECT DISTINCT o_orderkey,
             (o_orderkey * 2654435761 + 40503) % 4294967296 AS hv
      FROM orders
    ),
    ranked AS (
      SELECT hv, ROW_NUMBER() OVER (ORDER BY hv, o_orderkey) AS rk FROM h
    ),
    kth AS (SELECT hv AS hk FROM ranked WHERE rk = 64),
    exact AS (SELECT COUNT(*) AS n FROM h)
    SELECT CAST(64 AS INT) AS k,
           CAST(e.n AS BIGINT) AS exact_distinct,
           ROUND(63.0 * 4294967296.0 / k2.hk, 2) AS kmv_estimate,
           ABS(63.0 * 4294967296.0 / k2.hk - e.n) / e.n <= 0.5
             AS within_loose_bound
    FROM exact e CROSS JOIN kth k2
    """,
)
def kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) cardinality sketch — the distinct-count
    estimator that, unlike HLL, is EXACTLY replayable: keep the k
    smallest hash values; if the k-th smallest is h_k on a hash space
    of size M, the estimate is (k-1)·M/h_k (uniform order statistics).
    The sketch is mergeable (union = k smallest of the concatenation),
    supports set intersection via the inclusion-exclusion-free
    Jaccard-over-combined-sketch trick, and its per-partition state is
    k values — the same partial-agg shape as every sketch in this
    corpus. The engine keeps the k-minimum set with one TakeOrdered
    over the deterministic Knuth hashes (no full sort); the oracle
    replays it bit-for-bit and the standard-error bound
    (~1/sqrt(k-2) ≈ 13%, pinned at a loose 50%) is driver-verified
    against the exact count."""
    o = _t(spark, sf_dir, "orders")
    h = o.select("o_orderkey").distinct().select(
        "o_orderkey",
        ((F.col("o_orderkey") * 2654435761 + 40503) % 4294967296).alias("hv"),
    )
    kmin = h.orderBy("hv", "o_orderkey").limit(64)
    kth = kmin.agg(F.max("hv").alias("hk"))
    exact = h.agg(F.count(F.lit(1)).alias("n"))
    est = F.lit(63.0) * 4294967296.0 / F.col("hk")
    return exact.crossJoin(F.broadcast(kth)).select(
        F.lit(64).cast("int").alias("k"),
        F.col("n").cast("bigint").alias("exact_distinct"),
        F.round(est, 2).alias("kmv_estimate"),
        (F.abs(est - F.col("n")) / F.col("n") <= 0.5).alias("within_loose_bound"),
    )


# ---------------------------------------------------------------------------
# CDC log apply (latest-wins upsert/delete materialization)
# ---------------------------------------------------------------------------

@query(
    "cdc_log_apply",
    oracle="""
    WITH log AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN event_type = 'purchase' THEN 'delete'
                  ELSE 'upsert' END AS op
      FROM events WHERE event_type IN ('view', 'click', 'purchase')
    ),
    latest AS (
      SELECT user_id, op, value
      FROM (
        SELECT user_id, op, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM log
      ) WHERE rn = 1
    )
    SELECT CAST(SUM(CASE WHEN op = 'upsert' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_live_rows,
           CAST(SUM(CASE WHEN op = 'delete' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_deleted_rows,
           ROUND(CAST(SUM(CASE WHEN op = 'upsert'
                          THEN CAST(ROUND(value * 100.0) AS BIGINT) END)
                      AS DOUBLE) / 100.0, 2) AS live_value_total
    FROM latest
    """,
)
def cdc_log_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY side of change-data-capture — `snapshot_diff_cdc`
    builds a change log, this query CONSUMES one: events become an
    ordered op log (view/click = upsert with a new value, purchase =
    delete), and materializing the current table is latest-op-wins per
    key with deletes tombstoning the row — exactly how a Delta/Hudi
    MERGE applies a Debezium feed. The reduction is one per-key window
    over the log (ordered by the (ts, event_id) total order, because
    CDC feeds NEED a tiebreaker for same-timestamp ops — the classic
    apply bug this query pins), then a 1-row audit of live rows,
    tombstones, and the surviving value total in integer cents. At
    100 TB the window partitions by key, so state per task is one
    row, and the log never needs a global sort."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    from pyspark.sql.window import Window

    log = ev.select(
        "user_id", "ts", "event_id", "value",
        F.when(F.col("event_type") == "purchase", F.lit("delete"))
        .otherwise(F.lit("upsert")).alias("op"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    latest = (
        log.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return latest.agg(
        F.sum(F.when(F.col("op") == "upsert", 1).otherwise(0))
        .cast("bigint").alias("n_live_rows"),
        F.sum(F.when(F.col("op") == "delete", 1).otherwise(0))
        .cast("bigint").alias("n_deleted_rows"),
        F.round(
            F.sum(
                F.when(
                    F.col("op") == "upsert",
                    F.round(F.col("value") * 100.0).cast("bigint"),
                )
            ).cast("double") / 100.0, 2,
        ).alias("live_value_total"),
    )


# ---------------------------------------------------------------------------
# Band (theta) join against a literal tier dimension
# ---------------------------------------------------------------------------

@query(
    "band_join_price_tiers",
    oracle="""
    WITH tiers AS (
      SELECT * FROM (VALUES
        ('budget',   0.0,      100000.0),
        ('standard', 100000.0, 200000.0),
        ('premium',  200000.0, 300000.0),
        ('luxury',   300000.0, 450000.0),
        ('ultra',    450000.0, 1000000000.0)
      ) AS t(tier, lo, hi)
    )
    SELECT t.tier,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(30,2))) AS DOUBLE), 2)
             AS revenue
    FROM orders o JOIN tiers t
      ON o.o_totalprice >= t.lo AND o.o_totalprice < t.hi
    GROUP BY t.tier
    """,
)
def band_join_price_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A pure THETA join — no equi-key at all, the join condition is a
    band predicate (price >= lo AND price < hi) against a 5-row tier
    dimension. Catalyst has no hash key to use, so this plans as a
    BroadcastNestedLoopJoin: every fact row probes the broadcast tier
    table — which is exactly the right physical strategy when the
    inner side is tiny and the predicate is arbitrary (the nested loop
    is O(n·5), embarrassingly parallel, no shuffle of the fact side at
    all). The disjoint half-open bands make the join provably 1:1, so
    counts are conservation-checked against the raw table in the
    pytest. The same shape at 100 TB: tier tables, rate cards, SLA
    bands — broadcast theta joins, never shuffles."""
    o = _t(spark, sf_dir, "orders")
    # pandas → Arrow → JVM local relation (guide §4): no python tasks in
    # the broadcast build of this literal tier table (round 15).
    import pandas as pd

    tiers = spark.createDataFrame(
        pd.DataFrame(
            [
                ("budget", 0.0, 100000.0),
                ("standard", 100000.0, 200000.0),
                ("premium", 200000.0, 300000.0),
                ("luxury", 300000.0, 450000.0),
                ("ultra", 450000.0, 1000000000.0),
            ],
            columns=["tier", "lo", "hi"],
        ),
        "tier string, lo double, hi double",
    )
    j = o.join(
        F.broadcast(tiers),
        (o["o_totalprice"] >= tiers["lo"]) & (o["o_totalprice"] < tiers["hi"]),
    )
    return j.groupBy("tier").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(30,2)")).cast("double"), 2
        ).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# GROUP BY ALL / ORDER BY ALL surface (analyst-SQL ergonomics)
# ---------------------------------------------------------------------------

@query(
    "group_by_all_surface",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE), 2)
             AS sum_qty
    FROM lineitem
    WHERE l_shipdate < DATE '1998-09-01'
    GROUP BY ALL
    """,
)
def group_by_all_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL — the analyst-SQL ergonomic both Spark 4 and DuckDB
    adopted (every non-aggregate select item becomes a grouping key
    automatically), pinned here with the ORACLE RUNNING THE IDENTICAL
    QUERY TEXT: same grouping inference in both engines or the hash
    gate fails. Semantically it's the TPC-H Q1 shape — scan, filter,
    2-key hash aggregate with map-side partials; the surface sugar
    changes nothing physical, which is the point of pinning it."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gba")
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE), 2)
                 AS sum_qty
        FROM lineitem_gba
        WHERE l_shipdate < DATE '1998-09-01'
        GROUP BY ALL
    """)


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest (per-type MAE on a holdout week)
# ---------------------------------------------------------------------------

@query(
    "seasonal_naive_backtest",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT) AS v_cents
      FROM events GROUP BY event_type, day
    ),
    mx AS (SELECT MAX(day) AS end_day FROM daily),
    joined AS (
      SELECT a.event_type, a.day, a.v_cents,
             b.v_cents AS pred_cents
      FROM daily a
      JOIN daily b ON b.event_type = a.event_type
                  AND b.day = a.day - INTERVAL 7 DAY
      CROSS JOIN mx
      WHERE a.day > mx.end_day - INTERVAL 7 DAY
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days_scored,
           ROUND(CAST(SUM(ABS(v_cents - pred_cents)) AS DOUBLE) / 100.0
                 / COUNT(*), 2) AS mae,
           ROUND(CAST(SUM(ABS(v_cents - pred_cents)) AS DOUBLE)
                 / SUM(ABS(v_cents)), 6) AS wape
    FROM joined GROUP BY event_type
    """,
)
def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-model backtesting at its distributed core: the
    seasonal-naive baseline (predict today = same weekday last week —
    the forecast every fancier model must beat) scored on the final
    week of the corpus with MAE and WAPE per event type. The 'model'
    is a self-join of the daily rollup on (type, day-7) — which is how
    ANY lag-based forecast evaluates at scale: never a per-series loop,
    one co-partitioned join on the series key. Daily totals are exact
    integer cents, so the error sums are integers until the final
    divisions. WAPE rather than MAPE because MAPE explodes on
    near-zero days — the practitioner's choice, pinned here."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100.0).cast("bigint")).cast("bigint")
        .alias("v_cents")
    )
    mx = daily.agg(F.max("day").alias("end_day"))
    a = daily
    b = daily.select(
        F.col("event_type").alias("b_type"), F.col("day").alias("b_day"),
        F.col("v_cents").alias("pred_cents"),
    )
    joined = (
        a.join(
            b,
            (F.col("b_type") == F.col("event_type"))
            & (F.col("b_day") == F.date_sub(F.col("day"), 7)),
        )
        .crossJoin(F.broadcast(mx))
        .filter(F.col("day") > F.date_sub(F.col("end_day"), 7))
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days_scored"),
        F.round(
            F.sum(F.abs(F.col("v_cents") - F.col("pred_cents"))).cast("double")
            / 100.0 / F.count(F.lit(1)), 2,
        ).alias("mae"),
        F.round(
            F.sum(F.abs(F.col("v_cents") - F.col("pred_cents"))).cast("double")
            / F.sum(F.abs(F.col("v_cents"))), 6,
        ).alias("wape"),
    )


# ---------------------------------------------------------------------------
# Conformal prediction interval (distribution-free coverage guarantee)
# ---------------------------------------------------------------------------

@query(
    "conformal_interval_coverage",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY event_type, day
    ),
    mx AS (SELECT MAX(day) AS end_day FROM daily),
    scored AS (
      SELECT a.event_type, a.day, a.v, b.v AS pred,
             ABS(a.v - b.v) AS abs_resid,
             a.day > mx.end_day - INTERVAL 7 DAY AS is_test
      FROM daily a
      JOIN daily b ON b.event_type = a.event_type
                  AND b.day = a.day - INTERVAL 7 DAY
      CROSS JOIN mx
    ),
    q AS (  -- conformal quantile: ceil(0.9*(n_cal+1))-th smallest calib residual
      SELECT r.abs_resid AS qhat
      FROM (
        SELECT abs_resid,
               ROW_NUMBER() OVER (ORDER BY abs_resid, event_type, day) AS rk,
               COUNT(*) OVER () AS n_cal
        FROM scored WHERE NOT is_test
      ) r
      WHERE r.rk = CAST(CEIL(0.9 * (r.n_cal + 1)) AS BIGINT)
    )
    SELECT CAST((SELECT COUNT(*) FROM scored WHERE NOT is_test) AS BIGINT)
             AS n_calibration,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           ROUND(q.qhat / 100.0, 2) AS interval_halfwidth,
           CAST(SUM(CASE WHEN s.abs_resid <= q.qhat THEN 1 ELSE 0 END) AS BIGINT)
             AS n_covered,
           CAST(SUM(CASE WHEN s.abs_resid <= q.qhat THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) >= 0.75 AS coverage_near_nominal
    FROM scored s CROSS JOIN q
    WHERE s.is_test
    GROUP BY q.qhat
    """,
)
def conformal_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split conformal prediction on the seasonal-naive forecast — the
    DISTRIBUTION-FREE interval method modern ML serving uses: the 90%
    interval half-width is the ceil(0.9·(n+1))-th smallest calibration
    residual (an ORDER STATISTIC, no distributional assumption, no
    interpolation — exactly replayable), and the marginal coverage
    guarantee P(|resid| <= qhat) >= 0.9 holds by exchangeability alone.
    The query calibrates on all but the last week, scores the last
    week, and pins observed coverage >= 0.75 (nominal 0.9 minus
    small-sample slack) at the gate. The quantile comes from a
    rank-window over the calibration residuals; everything else is the
    same co-partitioned lag join as the backtest — conformal adds ONE
    scalar to a pipeline that already exists, which is why it scales."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100.0).cast("bigint")).cast("bigint")
        .alias("v")
    )
    mx = daily.agg(F.max("day").alias("end_day"))
    b = daily.select(
        F.col("event_type").alias("b_type"), F.col("day").alias("b_day"),
        F.col("v").alias("pred"),
    )
    scored = (
        daily.join(
            b,
            (F.col("b_type") == F.col("event_type"))
            & (F.col("b_day") == F.date_sub(F.col("day"), 7)),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "event_type", "day",
            F.abs(F.col("v") - F.col("pred")).alias("abs_resid"),
            (F.col("day") > F.date_sub(F.col("end_day"), 7)).alias("is_test"),
        )
    )
    cal = scored.filter(~F.col("is_test"))
    ranked = cal.select(
        "abs_resid",
        F.row_number().over(
            Window.orderBy("abs_resid", "event_type", "day")
        ).alias("rk"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("n_cal"),
    )
    q = ranked.filter(
        F.col("rk") == F.ceil(0.9 * (F.col("n_cal") + 1)).cast("bigint")
    ).select(F.col("abs_resid").alias("qhat"), "n_cal")
    test = scored.filter(F.col("is_test"))
    return test.crossJoin(F.broadcast(q)).groupBy("qhat", "n_cal").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sum(F.when(F.col("abs_resid") <= F.col("qhat"), 1).otherwise(0))
        .cast("bigint").alias("n_covered"),
    ).select(
        F.col("n_cal").cast("bigint").alias("n_calibration"),
        "n_test",
        F.round(F.col("qhat") / 100.0, 2).alias("interval_halfwidth"),
        "n_covered",
        (F.col("n_covered").cast("double") / F.col("n_test") >= 0.75)
        .alias("coverage_near_nominal"),
    )


# ---------------------------------------------------------------------------
# Data-expectations report (a dbt-style test suite in one pass per table)
# ---------------------------------------------------------------------------

@query(
    "data_expectations_report",
    oracle="""
    WITH o AS (SELECT * FROM orders)
    SELECT 'orders.o_orderkey.not_null' AS expectation,
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violations,
           SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) = 0 AS passed
    FROM o
    UNION ALL
    SELECT 'orders.o_orderkey.unique',
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT),
           COUNT(*) = COUNT(DISTINCT o_orderkey)
    FROM o
    UNION ALL
    SELECT 'orders.o_orderstatus.accepted_values',
           CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                         THEN 1 ELSE 0 END) AS BIGINT),
           SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                    THEN 1 ELSE 0 END) = 0
    FROM o
    UNION ALL
    SELECT 'orders.o_totalprice.positive',
           CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT),
           SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) = 0
    FROM o
    UNION ALL
    SELECT 'orders.o_custkey.relationship_customer',
           CAST((SELECT COUNT(*) FROM o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
           (SELECT COUNT(*) FROM o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) = 0
    """,
)
def data_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A dbt-style expectation suite as ONE query: not_null, unique,
    accepted_values, range, and relationship checks on the orders
    table, each reported as (expectation, violation count, pass flag).
    The four scalar checks share a single scan (conditional aggregates
    — dbt would run four separate queries); the FK check is a LEFT
    ANTI join with the keys-only projection. This is the contract
    layer a 100 TB warehouse runs after every load, and the violation
    COUNT matters as much as the flag — triage needs magnitude, a
    boolean gate doesn't."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    scalars = o.agg(
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias("nn"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("uq"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        ).alias("av"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias("pos"),
    )
    orphans = o.join(
        c.select("c_custkey"), o["o_custkey"] == c["c_custkey"], "left_anti"
    ).agg(F.count(F.lit(1)).alias("fk"))
    j = scalars.crossJoin(F.broadcast(orphans))

    def row(name: str, col: str):
        return j.select(
            F.lit(name).alias("expectation"),
            F.col(col).cast("bigint").alias("n_violations"),
            (F.col(col) == 0).alias("passed"),
        )

    return (
        row("orders.o_orderkey.not_null", "nn")
        .unionByName(row("orders.o_orderkey.unique", "uq"))
        .unionByName(row("orders.o_orderstatus.accepted_values", "av"))
        .unionByName(row("orders.o_totalprice.positive", "pos"))
        .unionByName(row("orders.o_custkey.relationship_customer", "fk"))
    )


# ---------------------------------------------------------------------------
# Feature-leakage audit: point-in-time vs latest-value join, quantified
# ---------------------------------------------------------------------------

@query(
    "feature_leakage_audit",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT) AS spend
      FROM events GROUP BY user_id, day
    ),
    cum AS (
      SELECT user_id, day,
             SUM(spend) OVER (PARTITION BY user_id ORDER BY day
                              ROWS UNBOUNDED PRECEDING) AS cum_spend
      FROM daily
    ),
    latest AS (
      SELECT user_id, arg_max(cum_spend, day) AS final_spend FROM cum GROUP BY user_id
    ),
    fact AS (
      SELECT user_id, CAST(ts AS DATE) AS day, event_id
      FROM events WHERE event_type = 'purchase'
    ),
    pit AS (
      SELECT f.user_id, f.event_id,
             (SELECT MAX(c.cum_spend) FROM cum c
              WHERE c.user_id = f.user_id AND c.day <= f.day) AS feat_pit
      FROM fact f
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_feature_rows,
           CAST(SUM(CASE WHEN p.feat_pit <> l.final_spend THEN 1 ELSE 0 END)
                AS BIGINT) AS n_leaky_rows,
           ROUND(CAST(SUM(CASE WHEN p.feat_pit <> l.final_spend
                          THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
             AS leak_rate,
           ROUND(CAST(SUM(l.final_spend - p.feat_pit) AS DOUBLE) / 100.0 / COUNT(*),
                 2) AS avg_future_info_leaked
    FROM pit p JOIN latest l USING (user_id)
    """,
)
def feature_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantifying TRAINING-SERVING LEAKAGE — the difference between
    the feature value a model should see (cumulative user spend AS OF
    the purchase date, an as-of join against the running-sum series)
    and the value a naive latest-snapshot join gives it (the user's
    FINAL spend, which includes the future). The audit joins both
    feature versions to every purchase row and reports how many rows
    differ and how much future information leaks on average — the
    number that explains 'why did offline AUC not transfer to prod'.
    The as-of side reuses the per-key running-sum + max-filter shape
    (one window, one grouped argmax — no per-row subquery actually
    runs in Spark; the oracle's correlated subquery is DuckDB-side
    decorrelated the same way). Integer-cent arithmetic throughout."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100.0).cast("bigint")).cast("bigint")
        .alias("spend")
    )
    w = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = daily.select(
        "user_id", "day", F.sum("spend").over(w).alias("cum_spend")
    )
    latest = cum.groupBy("user_id").agg(
        F.max_by("cum_spend", "day").alias("final_spend")
    )
    fact = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("f_user"), F.to_date("ts").alias("f_day"), "event_id"
    )
    pit = (
        fact.join(cum, (F.col("user_id") == F.col("f_user")) & (F.col("day") <= F.col("f_day")))
        .groupBy("f_user", "event_id")
        .agg(F.max("cum_spend").alias("feat_pit"))
        .withColumnRenamed("f_user", "user_id")
    )
    return pit.join(latest, "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_feature_rows"),
        F.sum(F.when(F.col("feat_pit") != F.col("final_spend"), 1).otherwise(0))
        .cast("bigint").alias("n_leaky_rows"),
        F.round(
            F.sum(
                F.when(F.col("feat_pit") != F.col("final_spend"), 1).otherwise(0)
            ).cast("double") / F.count(F.lit(1)), 6,
        ).alias("leak_rate"),
        F.round(
            F.sum(F.col("final_spend") - F.col("feat_pit")).cast("double")
            / 100.0 / F.count(F.lit(1)), 2,
        ).alias("avg_future_info_leaked"),
    )


# ---------------------------------------------------------------------------
# TPC-H classics — the canonical multi-join analytics plans
# ---------------------------------------------------------------------------

@query(
    "tpch_q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(30,2))
                          * CAST(ROUND(100 - 100 * l.l_discount) AS BIGINT))
                      AS DOUBLE) / 100.0, 2) AS revenue,
           CAST(o.o_orderdate AS DATE) AS o_orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1998-03-15'
      AND l.l_shipdate > DATE '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority) — the canonical
    filter-join-aggregate-topk plan: segment-filtered customers join
    orders join lineitem, revenue aggregates per order, top 10 by
    revenue. The shape every OLAP engine is judged on: both date
    filters and the segment filter push to the scans (ReadSchema shows
    3-4 columns of 16), the customer side shrinks before joining, and
    the top-10 runs as TakeOrderedAndProject — no global sort. The
    discount multiply is re-expressed on an integer percent grid
    ((100-100·disc) is an exact integer for 2-dp discounts) so revenue
    is decimal-exact and partition-order free. Citation: reference has
    no joins beyond time-equi (SURVEY §2.4) — the TPC-H classics are
    north-star breadth."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("date")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("date")
    )
    rev_cents = F.sum(
        F.col("l_extendedprice").cast("decimal(30,2)")
        * F.round(100 - 100 * F.col("l_discount")).cast("bigint")
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(F.round(rev_cents.cast("double") / 100.0, 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "tpch_q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(30,2))
                          * CAST(ROUND(100 - 100 * l.l_discount) AS BIGINT))
                      AS DOUBLE) / 100.0, 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= DATE '1996-01-01'
      AND o.o_orderdate < DATE '1997-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC
    """,
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume) — the 6-way star-with-a-twist:
    the supplier join carries the CORRELATION predicate
    c_nationkey = s_nationkey ('local' = customer and supplier share a
    nation), which is what separates this from a plain star and forces
    the optimizer to pick a join order that keeps the correlated key
    alive. nation/region broadcast; customer/orders/lineitem hash-join
    on their natural keys; the year filter prunes orders before any
    join. Revenue on the integer-percent decimal grid as in Q3."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    )
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev_cents = F.sum(
        F.col("l_extendedprice").cast("decimal(30,2)")
        * F.round(100 - 100 * F.col("l_discount")).cast("bigint")
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(
            su,
            (li["l_suppkey"] == su["s_suppkey"])
            & (c["c_nationkey"] == su["s_nationkey"]),
        )
        .join(F.broadcast(n), su["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(F.round(rev_cents.cast("double") / 100.0, 2).alias("revenue"))
        .orderBy(F.col("revenue").desc())
    )


@query(
    "tpch_q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(30,2))
                          * CAST(ROUND(100 - 100 * l.l_discount) AS BIGINT))
                      AS DOUBLE) / 100.0, 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= DATE '1996-10-01'
      AND o.o_orderdate < DATE '1997-01-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned items) — who cost us the most in returns
    last quarter: returnflag-filtered lineitems join their quarter's
    orders and the customer/nation dims, revenue per customer, top 20.
    The grouping key carries customer ATTRIBUTES (name, nation) along
    with the key — the classic wide-group shape where you group by
    the key and let the functionally-dependent columns ride (cheaper
    than a post-join). Return-flag and date filters prune both fact
    scans before the join; TakeOrderedAndProject for the top 20."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    rev_cents = F.sum(
        F.col("l_extendedprice").cast("decimal(30,2)")
        * F.round(100 - 100 * F.col("l_discount")).cast("bigint")
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(rev_cents.cast("double") / 100.0, 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Column-encoding planner (storage-layout statistics per column)
# ---------------------------------------------------------------------------

@query(
    "column_encoding_planner",
    oracle="""
    WITH stats AS (
      SELECT 'lang' AS col, COUNT(DISTINCT lang) AS n_distinct,
             COUNT(*) AS n_rows,
             ROUND(CAST(SUM(CAST(LENGTH(lang) AS BIGINT)) AS DOUBLE)
                   / COUNT(*), 2) AS avg_len
      FROM documents
      UNION ALL
      SELECT 'source', COUNT(DISTINCT source), COUNT(*),
             ROUND(CAST(SUM(CAST(LENGTH(source) AS BIGINT)) AS DOUBLE)
                   / COUNT(*), 2)
      FROM documents
      UNION ALL
      SELECT 'text', COUNT(DISTINCT text), COUNT(*),
             ROUND(CAST(SUM(CAST(LENGTH(text) AS BIGINT)) AS DOUBLE)
                   / COUNT(*), 2)
      FROM documents
    )
    SELECT col,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           ROUND(CAST(n_distinct AS DOUBLE) / n_rows, 6) AS distinct_ratio,
           avg_len,
           CAST(n_distinct AS DOUBLE) / n_rows <= 0.1 AS recommend_dictionary
    FROM stats
    """,
)
def column_encoding_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-encoding planning statistics — the numbers a lakehouse
    writer needs to choose parquet encodings: per-column distinct
    count, distinct ratio, and average value length, with a
    dictionary-encoding recommendation at the standard <=10%% distinct
    threshold (low-cardinality strings dictionary-encode ~10-50x;
    high-cardinality text should stay plain + page-compressed). At
    100 TB this drives 2-5x storage differences, and the stats are ONE
    shared scan of conditional aggregates — exactly how table
    maintenance jobs (Delta OPTIMIZE ANALYZE, Iceberg rewrite) gather
    them. Kin to `compaction_bin_packing`/`zone_map_pruning` on the
    physical-design side of the corpus."""
    d = _t(spark, sf_dir, "documents")

    def col_stats(cn: str) -> DataFrame:
        return d.agg(
            F.lit(cn).alias("col"),
            F.countDistinct(cn).cast("bigint").alias("n_distinct"),
            F.count(F.lit(1)).alias("n_rows"),
            F.round(
                F.sum(F.length(cn).cast("bigint")).cast("double")
                / F.count(F.lit(1)), 2,
            ).alias("avg_len"),
        )

    u = col_stats("lang").unionByName(col_stats("source")).unionByName(
        col_stats("text")
    )
    return u.select(
        "col", "n_distinct",
        F.round(F.col("n_distinct").cast("double") / F.col("n_rows"), 6)
        .alias("distinct_ratio"),
        "avg_len",
        (F.col("n_distinct").cast("double") / F.col("n_rows") <= 0.1)
        .alias("recommend_dictionary"),
    )


# ---------------------------------------------------------------------------
# Bigram PMI keyphrase mining (collocation detection, integer-count logs)
# ---------------------------------------------------------------------------

@query(
    "bigram_pmi_keyphrases",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         t -> t <> '') AS tk
      FROM documents WHERE lang = 'en'
    ),
    uni AS (
      SELECT unnest(tk) AS w FROM toks
    ),
    ucnt AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM ucnt),
    bi AS (
      SELECT tk[i] AS w1, tk[i + 1] AS w2
      FROM toks, (SELECT unnest(range(1, 200)) AS i) ix
      WHERE i < len(tk)
    ),
    bcnt AS (
      SELECT w1, w2, COUNT(*) AS cb FROM bi GROUP BY w1, w2 HAVING COUNT(*) >= 5
    ),
    scored AS (
      SELECT b.w1, b.w2, b.cb,
             CAST(ROUND(ln(CAST(b.cb * n.n AS DOUBLE)
                           / (c1.c * CAST(c2.c AS BIGINT))) * 1000000.0)
                  AS BIGINT) AS pmi6
      FROM bcnt b
      JOIN ucnt c1 ON c1.w = b.w1
      JOIN ucnt c2 ON c2.w = b.w2
      CROSS JOIN n
    )
    SELECT w1, w2, CAST(cb AS BIGINT) AS n_occurrences,
           CAST(pmi6 AS DOUBLE) / 1000000.0 AS pmi
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY pmi6 DESC, w1, w2) AS rk FROM scored
    ) WHERE rk <= 20
    """,
)
def bigram_pmi_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information — the
    statistic that finds 'new york'-style phrases: PMI(a,b) =
    ln(P(ab) / P(a)P(b)), high when a bigram co-occurs far above
    chance. Exactly the tokenizer-merge signal `bpe_merge_candidates`
    counts, completed with the probabilistic score. Bigrams come from
    one pass pairing each token with its successor (posexplode +
    self-join on position — sequence order is data, not partition
    order); a min-count floor kills the unstable tail before scoring.
    Replay-exact via the integer-ratio-ln + micro-unit rule: cb·N and
    c1·c2 are exact int64 products, so both engines feed libm the
    same double. Top-20 by PMI, deterministically tie-broken."""
    d = _t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    from pyspark.sql.window import Window

    # inline explodes — see bm25_keyword_search: attribute-input generates
    # get InferFiltersFromGenerate's size>0/isnotnull filters, which
    # substitute the tokenization 3-4x per row per branch.
    tk = text_ops.tokens("text")
    uni = d.select(F.explode(tk).alias("w"))
    ucnt = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n = ucnt.agg(F.sum("c").cast("bigint").alias("n"))
    pos = d.select("doc_id", F.posexplode(tk).alias("i", "w1"))
    nxt = d.select("doc_id", F.posexplode(tk).alias("i2", "w2"))
    bi = pos.join(
        nxt,
        (pos["doc_id"] == nxt["doc_id"]) & (nxt["i2"] == pos["i"] + 1),
    ).select("w1", "w2")
    bcnt = (
        bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
        .filter(F.col("cb") >= 5)
    )
    c1 = ucnt.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    c2 = ucnt.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    scored = (
        bcnt.join(F.broadcast(c1), "w1").join(F.broadcast(c2), "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1", "w2", "cb",
            F.round(
                F.log(
                    (F.col("cb") * F.col("n")).cast("double")
                    / (F.col("c1") * F.col("c2").cast("bigint"))
                ) * 1000000.0
            ).cast("bigint").alias("pmi6"),
        )
    )
    top = scored.select(
        "*",
        F.row_number().over(
            Window.orderBy(F.col("pmi6").desc(), "w1", "w2")
        ).alias("rk"),
    ).filter(F.col("rk") <= 20)
    return top.select(
        "w1", "w2",
        F.col("cb").cast("bigint").alias("n_occurrences"),
        (F.col("pmi6").cast("double") / 1000000.0).alias("pmi"),
    )


# ---------------------------------------------------------------------------
# LATERAL correlated subquery (greatest-n-per-group, SQL-standard form)
# ---------------------------------------------------------------------------

@query(
    "lateral_correlated_topk",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment,
           t.o_orderkey AS top_orderkey,
           ROUND(CAST(t.o_totalprice AS DOUBLE), 2) AS top_price
    FROM customer c,
    LATERAL (
      SELECT o.o_orderkey, o.o_totalprice
      FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o.o_totalprice DESC, o.o_orderkey
      LIMIT 1
    ) t
    WHERE c.c_custkey < 300
    """,
)
def lateral_correlated_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-standard greatest-n-per-group: a LATERAL correlated
    subquery — 'for each customer, their single largest order' written
    as a per-row subquery with ORDER BY ... LIMIT 1, the form ANSI
    analysts reach for first. Catalyst DECORRELATES it into the same
    window/aggregate plan the DataFrame row_number() idiom produces —
    there is no per-customer re-execution, which is the entire point
    of pinning it: the ergonomic form and the scalable form are the
    same plan. DuckDB runs the identical text; inner ordering is made
    total with the orderkey tiebreak so LIMIT 1 is deterministic."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer_lat")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_lat")
    return spark.sql("""
        SELECT c.c_custkey, c.c_mktsegment,
               t.o_orderkey AS top_orderkey,
               ROUND(CAST(t.o_totalprice AS DOUBLE), 2) AS top_price
        FROM customer_lat c,
        LATERAL (
          SELECT o.o_orderkey, o.o_totalprice
          FROM orders_lat o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o.o_totalprice DESC, o.o_orderkey
          LIMIT 1
        ) t
        WHERE c.c_custkey < 300
    """)


# ---------------------------------------------------------------------------
# RFM customer segmentation (recency / frequency / monetary quartiles)
# ---------------------------------------------------------------------------

@query(
    "rfm_segmentation",
    oracle="""
    WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS end_day FROM orders),
    rfm AS (
      SELECT o_custkey,
             datediff('day', MAX(CAST(o_orderdate AS DATE)), mx.end_day) AS recency,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DECIMAL(30,2))
               AS monetary
      FROM orders CROSS JOIN mx
      GROUP BY o_custkey, mx.end_day
    ),
    scored AS (
      SELECT o_custkey,
             NTILE(4) OVER (ORDER BY recency DESC, o_custkey) AS r_score,
             NTILE(4) OVER (ORDER BY frequency, o_custkey) AS f_score,
             NTILE(4) OVER (ORDER BY monetary, o_custkey) AS m_score
      FROM rfm
    ),
    labeled AS (
      SELECT CASE
               WHEN r_score = 4 AND f_score = 4 THEN 'champion'
               WHEN r_score >= 3 AND f_score >= 3 THEN 'loyal'
               WHEN r_score <= 1 AND f_score >= 3 THEN 'at_risk'
               WHEN r_score <= 1 AND f_score <= 1 THEN 'lost'
               ELSE 'regular'
             END AS segment,
             r_score, f_score, m_score
      FROM scored
    )
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(CAST(SUM(r_score) AS DOUBLE) / COUNT(*), 4) AS avg_r,
           ROUND(CAST(SUM(f_score) AS DOUBLE) / COUNT(*), 4) AS avg_f,
           ROUND(CAST(SUM(m_score) AS DOUBLE) / COUNT(*), 4) AS avg_m
    FROM labeled GROUP BY segment
    """,
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the retention team's workhorse: per-customer
    Recency (days since last order), Frequency, Monetary rolled into
    quartile scores (NTILE over deterministic total orders — ties
    broken by key, or the segmentation isn't reproducible between
    runs), then the classic champion/loyal/at-risk/lost rule grid.
    One grouped pass builds the RFM triple; the three NTILEs run over
    the CUSTOMER-level aggregate (~n_customers rows, not orders) —
    fine as a global window at this grain, and at true 100 TB grain
    the two-level rank construction (`global_id_assignment`) swaps in
    without changing semantics. Integer scores make every downstream
    average exact."""
    o = _t(spark, sf_dir, "orders")
    from pyspark.sql.window import Window

    mx = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("end_day"))
    rfm = o.crossJoin(F.broadcast(mx)).groupBy("o_custkey", "end_day").agg(
        F.datediff(F.first("end_day"), F.max(F.col("o_orderdate").cast("date")))
        .alias("recency"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("monetary"),
    )
    scored = rfm.select(
        "o_custkey",
        F.ntile(4).over(
            Window.orderBy(F.col("recency").desc(), "o_custkey")
        ).alias("r_score"),
        F.ntile(4).over(Window.orderBy("frequency", "o_custkey")).alias("f_score"),
        F.ntile(4).over(Window.orderBy("monetary", "o_custkey")).alias("m_score"),
    )
    labeled = scored.select(
        F.when((F.col("r_score") == 4) & (F.col("f_score") == 4), "champion")
        .when((F.col("r_score") >= 3) & (F.col("f_score") >= 3), "loyal")
        .when((F.col("r_score") <= 1) & (F.col("f_score") >= 3), "at_risk")
        .when((F.col("r_score") <= 1) & (F.col("f_score") <= 1), "lost")
        .otherwise("regular").alias("segment"),
        "r_score", "f_score", "m_score",
    )
    return labeled.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.round(F.sum("r_score").cast("double") / F.count(F.lit(1)), 4).alias("avg_r"),
        F.round(F.sum("f_score").cast("double") / F.count(F.lit(1)), 4).alias("avg_f"),
        F.round(F.sum("m_score").cast("double") / F.count(F.lit(1)), 4).alias("avg_m"),
    )


# ---------------------------------------------------------------------------
# Association rules with confidence and lift (market-basket completion)
# ---------------------------------------------------------------------------

@query(
    "association_rules_lift",
    oracle="""
    WITH sup AS (
      SELECT l_partkey FROM lineitem
      GROUP BY l_partkey HAVING COUNT(DISTINCT l_orderkey) >= 8
    ),
    items AS (
      SELECT DISTINCT l.l_orderkey, l.l_partkey
      FROM lineitem l JOIN sup USING (l_partkey)
    ),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_baskets FROM items),
    isup AS (SELECT l_partkey, COUNT(*) AS s FROM items GROUP BY l_partkey),
    pairs AS (
      SELECT a.l_partkey AS x, b.l_partkey AS y, COUNT(*) AS sxy
      FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey <> b.l_partkey
      GROUP BY x, y HAVING COUNT(*) >= 3
    )
    SELECT p.x AS antecedent, p.y AS consequent,
           CAST(p.sxy AS BIGINT) AS support_count,
           CAST(CAST(ROUND(CAST(p.sxy AS DOUBLE) / sx.s * 1000000.0) AS BIGINT)
                AS DOUBLE) / 1000000.0 AS confidence,
           CAST(CAST(ROUND(CAST(p.sxy AS DOUBLE) * n.n_baskets
                           / (sx.s * CAST(sy.s AS BIGINT)) * 1000000.0) AS BIGINT)
                AS DOUBLE) / 1000000.0 AS lift
    FROM pairs p
    JOIN isup sx ON sx.l_partkey = p.x
    JOIN isup sy ON sy.l_partkey = p.y
    CROSS JOIN n
    WHERE CAST(p.sxy AS DOUBLE) / sx.s >= 0.10
    """,
)
def association_rules_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules x=>y with CONFIDENCE and LIFT — the step after
    `copurchase_pairs_apriori` that turns co-occurrence counts into
    actionable rules: confidence = P(y|x) filters weak rules, lift =
    P(y|x)/P(y) filters rules that are just popularity (lift <= 1 means
    x tells you nothing about y). Same support-pruned basket self-join
    as the pairs query, DIRECTED this time (x != y, both directions
    kept, because confidence is asymmetric); item supports broadcast
    back onto the surviving pairs. All ratios are exact-integer
    quotients rounded on the micro-grid. The 0.10 confidence floor and
    min-support 3 are the knobs real recommenders tune (set for this
    corpus's basket sparsity — confidence tops out ~0.14 here)."""
    li = _t(spark, sf_dir, "lineitem")
    sup = (
        li.groupBy("l_partkey")
        .agg(F.count_distinct("l_orderkey").alias("_s"))
        .filter(F.col("_s") >= 8)
        .select("l_partkey")
    )
    items = (
        li.join(sup, "l_partkey").select("l_orderkey", "l_partkey").distinct()
    )
    n = items.agg(F.countDistinct("l_orderkey").cast("bigint").alias("n_baskets"))
    isup = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("s"))
    # pair counts from the shared co-purchase artifact (symmetric pairs
    # mirrored; artifact keeps co >= 2, this query needs >= 3 — a subset)
    ed = graph_ops.copurchase_edges(spark, sf_dir, with_counts=True)
    pairs = (
        ed.select(F.col("u").alias("x"), F.col("v").alias("y"), F.col("co").alias("sxy"))
        .unionByName(ed.select(F.col("v").alias("x"), F.col("u").alias("y"),
                               F.col("co").alias("sxy")))
        .filter(F.col("sxy") >= 3)
    )
    sx = isup.select(F.col("l_partkey").alias("x"), F.col("s").alias("sx"))
    sy = isup.select(F.col("l_partkey").alias("y"), F.col("s").alias("sy"))
    conf6 = F.round(
        F.col("sxy").cast("double") / F.col("sx") * 1000000.0
    ).cast("bigint")
    lift6 = F.round(
        F.col("sxy").cast("double") * F.col("n_baskets")
        / (F.col("sx") * F.col("sy").cast("bigint")) * 1000000.0
    ).cast("bigint")
    return (
        pairs.join(F.broadcast(sx), "x").join(F.broadcast(sy), "y")
        .crossJoin(F.broadcast(n))
        .filter(F.col("sxy").cast("double") / F.col("sx") >= 0.10)
        .select(
            F.col("x").alias("antecedent"), F.col("y").alias("consequent"),
            F.col("sxy").cast("bigint").alias("support_count"),
            (conf6.cast("double") / 1000000.0).alias("confidence"),
            (lift6.cast("double") / 1000000.0).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Best-window snippet extraction (RAG highlighting)
# ---------------------------------------------------------------------------

@query(
    "snippet_best_window",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             generate_subscripts(tk, 1) - 1 AS pos,
             unnest(tk) AS token
      FROM (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           t -> t <> '') AS tk
        FROM documents WHERE doc_id < 120
      )
    ),
    hits AS (
      SELECT doc_id, pos FROM toks WHERE token IN ('data', 'model', 'learning')
    ),
    windows AS (
      SELECT a.doc_id, a.pos AS win_start, COUNT(*) AS n_matches
      FROM hits a JOIN hits b
        ON b.doc_id = a.doc_id AND b.pos >= a.pos AND b.pos < a.pos + 24
      GROUP BY a.doc_id, a.pos
    ),
    best AS (
      SELECT doc_id, win_start, n_matches,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY n_matches DESC, win_start) AS rk
      FROM windows
    )
    SELECT doc_id, CAST(win_start AS INT) AS win_start,
           CAST(n_matches AS BIGINT) AS n_matches
    FROM best WHERE rk = 1
    """,
)
def snippet_best_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-result snippet selection: for each matching document,
    find the 24-token window containing the MOST query-term hits — the
    highlighting primitive every retrieval UI needs after BM25 ranks
    the doc. Candidate windows only ever START at a hit position (an
    optimal window can always be slid left onto its first hit — the
    standard trick that makes this O(hits²-per-doc) instead of
    O(doc_len)), so the work is a per-doc self-join of the small hit
    table, never of the token table. Per-doc argmax with
    deterministic earliest-window tie-break. At 100 TB the hit table
    is the only thing shuffled — postings-scale, not corpus-scale."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    from pyspark.sql.window import Window

    toks = d.select("doc_id", F.posexplode(text_ops.tokens("text")).alias("pos", "token"))
    hits = toks.filter(F.col("token").isin("data", "model", "learning")).select(
        "doc_id", "pos"
    )
    a = hits.select("doc_id", F.col("pos").alias("win_start"))
    b = hits.select(F.col("doc_id").alias("b_doc"), F.col("pos").alias("b_pos"))
    windows = (
        a.join(
            b,
            (F.col("b_doc") == F.col("doc_id"))
            & (F.col("b_pos") >= F.col("win_start"))
            & (F.col("b_pos") < F.col("win_start") + 24),
        )
        .groupBy("doc_id", "win_start")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )
    best = windows.select(
        "*",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(
                F.col("n_matches").desc(), "win_start"
            )
        ).alias("rk"),
    ).filter(F.col("rk") == 1)
    return best.select(
        "doc_id",
        F.col("win_start").cast("int").alias("win_start"),
        F.col("n_matches").cast("bigint").alias("n_matches"),
    )


# ---------------------------------------------------------------------------
# Filtered vector search (metadata predicate BEFORE the distance scan)
# ---------------------------------------------------------------------------

@query(
    "filtered_vector_search",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 5
    ),
    corpus AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE label IN (2, 3, 5) AND vec_id >= 5
    ),
    scored AS (
      SELECT q.query_id, c.vec_id, c.label,
             ROUND(list_dot_product(q.qv, c.v)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
      FROM q CROSS JOIN corpus c
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rk
      FROM scored
    )
    SELECT query_id, vec_id, CAST(label AS INT) AS label, cosine
    FROM ranked WHERE rk <= 5
    """,
)
def filtered_vector_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — the vector-DB feature benchmarks argue
    about: a metadata predicate (label IN (2,3,5)) restricts the
    corpus BEFORE any distance is computed (pre-filtering), not after
    top-k (post-filtering, which silently under-returns when the
    filter is selective — the classic recall bug). In Spark the
    predicate is just a pushed-down scan filter ahead of the broadcast
    cosine scan, so filtered search costs LESS than unfiltered — the
    opposite of graph-index vector stores, where filters break the
    index and this feature is hard. Query side broadcasts; corpus
    never shuffles; per-query top-5 by window over the scored slice.
    Unrolled sequential dots keep both engines bit-equal."""
    e = _t(spark, sf_dir, "embeddings")
    from pyspark.sql.window import Window

    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    corpus = e.filter(F.col("label").isin(2, 3, 5) & (F.col("vec_id") >= 5)).select(
        "vec_id", "label", F.col("embedding").alias("v")
    )
    scored = F.broadcast(q).crossJoin(corpus).select(
        "query_id", "vec_id", "label",
        F.round(
            sim_ops.dot(F.col("qv"), F.col("v"), 64)
            / (
                F.sqrt(sim_ops.dot(F.col("qv"), F.col("qv"), 64))
                * F.sqrt(sim_ops.dot(F.col("v"), F.col("v"), 64))
            ), 6,
        ).alias("cosine"),
    )
    ranked = scored.select(
        "*",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "vec_id")
        ).alias("rk"),
    ).filter(F.col("rk") <= 5)
    return ranked.select(
        "query_id", "vec_id", F.col("label").cast("int").alias("label"), "cosine"
    )


# ---------------------------------------------------------------------------
# Multi-vector (late-interaction) retrieval — MaxSim pooling per document
# ---------------------------------------------------------------------------

@query(
    "multivector_maxsim_retrieval",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 8
    ),
    corpus AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id >= 8
    ),
    persim AS (
      SELECT q.query_id, c.label,
             ROUND(list_dot_product(q.qv, c.v)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
      FROM q CROSS JOIN corpus c
    ),
    pooled AS (
      SELECT query_id, label, MAX(cosine) AS maxsim, COUNT(*) AS n_vectors
      FROM persim GROUP BY query_id, label
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY maxsim DESC, label) AS rk
      FROM pooled
    )
    SELECT query_id, CAST(label AS INT) AS label, maxsim,
           CAST(n_vectors AS BIGINT) AS n_vectors
    FROM ranked WHERE rk <= 3
    """,
)
def multivector_maxsim_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-vector document retrieval with MAX-pooled similarity — the
    late-interaction shape (ColBERT-family) where a document is a BAG
    of vectors (here: each label's vector set) and relevance is the
    best-matching vector, not a single pooled embedding — the design
    that preserves fine-grained matches single-vector pooling averages
    away. Physically it's the broadcast cosine scan feeding a grouped
    MAX — MaxSim pooling is a plain partial-aggregable aggregate, so
    the multi-vector index costs ONE extra groupBy over its
    single-vector cousin, which is why this representation scales.
    Top-3 documents (labels) per query, deterministic tie-break."""
    e = _t(spark, sf_dir, "embeddings")
    from pyspark.sql.window import Window

    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    corpus = e.filter(F.col("vec_id") >= 8).select(
        "label", F.col("embedding").alias("v")
    )
    persim = F.broadcast(q).crossJoin(corpus).select(
        "query_id", "label",
        F.round(
            sim_ops.dot(F.col("qv"), F.col("v"), 64)
            / (
                F.sqrt(sim_ops.dot(F.col("qv"), F.col("qv"), 64))
                * F.sqrt(sim_ops.dot(F.col("v"), F.col("v"), 64))
            ), 6,
        ).alias("cosine"),
    )
    pooled = persim.groupBy("query_id", "label").agg(
        F.max("cosine").alias("maxsim"),
        F.count(F.lit(1)).alias("n_vectors"),
    )
    ranked = pooled.select(
        "*",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.col("maxsim").desc(), "label")
        ).alias("rk"),
    ).filter(F.col("rk") <= 3)
    return ranked.select(
        "query_id", F.col("label").cast("int").alias("label"),
        "maxsim", F.col("n_vectors").cast("bigint").alias("n_vectors"),
    )


# ---------------------------------------------------------------------------
# Quantile-transform feature scaler (rank/(n+1), no single-partition sort)
# ---------------------------------------------------------------------------

@query(
    "quantile_transform_scaler",
    oracle="""
    WITH ranked AS (
      SELECT o_totalprice,
             ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rk,
             COUNT(*) OVER () AS n
      FROM orders
    ),
    transformed AS (
      SELECT CAST(FLOOR(CAST(rk AS DOUBLE) / (n + 1) * 10) AS INT) AS decile,
             CAST(rk AS DOUBLE) / (n + 1) AS qv,
             o_totalprice
      FROM ranked
    )
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(MIN(qv), 6) AS min_q, ROUND(MAX(qv), 6) AS max_q,
           ROUND(CAST(MIN(o_totalprice) AS DOUBLE), 2) AS min_price,
           ROUND(CAST(MAX(o_totalprice) AS DOUBLE), 2) AS max_price
    FROM transformed GROUP BY decile
    """,
)
def quantile_transform_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantile-transform feature scaler (sklearn's
    QuantileTransformer shape): every value maps to its empirical
    quantile rank/(n+1) — uniform marginals regardless of the input
    distribution, the preprocessing step that makes heavy-tailed
    monetary features usable by distance-based models. The global rank
    comes from the TWO-LEVEL id construction
    (`curation.assign_global_ids`) — no single-partition window ever
    touches the full table, which is what makes an exact (not
    sketch-approximated) transform feasible at 100 TB. Verified at
    decile grain: each decile holds ~n/10 rows and the per-decile
    price ranges are contiguous and increasing."""
    o = _t(spark, sf_dir, "orders")
    ranked = cur_ops.assign_global_ids(
        o.select("o_totalprice", "o_orderkey"), "o_totalprice", ["o_orderkey"],
        id_name="rk0",
    ).withColumn("rk", F.col("rk0") + 1)
    n = ranked.agg(F.count(F.lit(1)).alias("n"))
    t = ranked.crossJoin(F.broadcast(n)).select(
        "o_totalprice",
        (F.col("rk").cast("double") / (F.col("n") + 1)).alias("qv"),
    ).withColumn(
        "decile", F.floor(F.col("qv") * 10).cast("int")
    )
    return t.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(F.min("qv"), 6).alias("min_q"),
        F.round(F.max("qv"), 6).alias("max_q"),
        F.round(F.min("o_totalprice").cast("double"), 2).alias("min_price"),
        F.round(F.max("o_totalprice").cast("double"), 2).alias("max_price"),
    )


# ---------------------------------------------------------------------------
# Personalized PageRank (seed-restart, pure-integer mass — zero rounding)
# ---------------------------------------------------------------------------

@query(
    "personalized_pagerank_seeds",
    oracle="""
    WITH sup AS (
      SELECT l_partkey FROM lineitem
      GROUP BY l_partkey HAVING COUNT(DISTINCT l_orderkey) >= 8
    ),
    items AS (
      SELECT DISTINCT l.l_orderkey, l.l_partkey
      FROM lineitem l JOIN sup USING (l_partkey)
    ),
    edges AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY u, v HAVING COUNT(*) >= 2
    ),
    both_ AS (SELECT u AS s, v AS t FROM edges
              UNION ALL SELECT v AS s, u AS t FROM edges),
    deg AS (SELECT s, COUNT(*) AS d FROM both_ GROUP BY s),
    seeds AS (
      SELECT s FROM (
        SELECT s, ROW_NUMBER() OVER (ORDER BY d DESC, s) AS rk FROM deg
      ) WHERE rk <= 3
    ),
    pr0 AS (
      SELECT deg.s AS node, deg.d,
             CASE WHEN sd.s IS NOT NULL
                  THEN CAST(333333333 AS BIGINT) ELSE 0 END AS pr
      FROM deg LEFT JOIN seeds sd ON sd.s = deg.s
    ),
    m1 AS (
      SELECT b.t AS node, SUM(p.pr // p.d) AS mass
      FROM both_ b JOIN pr0 p ON p.node = b.s GROUP BY b.t
    ),
    pr1 AS (
      SELECT p.node, p.d,
             (15 * (CASE WHEN sd.s IS NOT NULL
                         THEN CAST(333333333 AS BIGINT) ELSE 0 END)
              + 85 * COALESCE(m.mass, 0)) // 100 AS pr
      FROM pr0 p
      LEFT JOIN m1 m ON m.node = p.node
      LEFT JOIN seeds sd ON sd.s = p.node
    ),
    m2 AS (
      SELECT b.t AS node, SUM(p.pr // p.d) AS mass
      FROM both_ b JOIN pr1 p ON p.node = b.s GROUP BY b.t
    ),
    pr2 AS (
      SELECT p.node, p.d,
             (15 * (CASE WHEN sd.s IS NOT NULL
                         THEN CAST(333333333 AS BIGINT) ELSE 0 END)
              + 85 * COALESCE(m.mass, 0)) // 100 AS pr
      FROM pr1 p
      LEFT JOIN m2 m ON m.node = p.node
      LEFT JOIN seeds sd ON sd.s = p.node
    )
    SELECT node, CAST(pr AS DOUBLE) / 1000000000.0 AS ppr,
           node IN (SELECT s FROM seeds) AS is_seed
    FROM (
      SELECT node, pr, ROW_NUMBER() OVER (ORDER BY pr DESC, node) AS rn
      FROM pr2
    ) WHERE rn <= 15
    """,
)
def personalized_pagerank_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank — random walk with restart to a seed set
    (the 3 highest-degree parts), the graph-proximity recommender
    behind 'people who bought X': unlike global PageRank
    (`pagerank_copurchase`), the teleport returns to the SEEDS, so
    mass concentrates in their neighborhood and the ranking answers
    'what is close to these nodes', not 'what is globally central'.
    Two power iterations with the same destination-keyed shuffle per
    round — and the entire mass ledger is PURE int64 nano-units
    (floor-divided contributions, integer damping (15·s + 85·m)//100):
    no decimal grid, no rounding thresholds, nothing for engines to
    disagree on — the strongest form of the replay rules in
    docs/DETERMINISM.md. Floor division leaks ≤1 nano-unit per edge
    per round (documented, deterministic); top-15 with seed flags."""
    li = _t(spark, sf_dir, "lineitem")
    from pyspark.sql.window import Window

    # shared materialized co-purchase edge artifact (built once per
    # session+testdata; oracle still derives the graph from lineitem)
    edges = graph_ops.copurchase_edges(spark, sf_dir)
    both = edges.select(F.col("u").alias("s"), F.col("v").alias("t")).unionAll(
        edges.select(F.col("v").alias("s"), F.col("u").alias("t"))
    ).localCheckpoint(eager=False)
    deg = both.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    seeds = (
        deg.select(
            "s",
            F.row_number().over(Window.orderBy(F.col("d").desc(), "s")).alias("rk"),
        )
        .filter(F.col("rk") <= 3)
        .select("s")
    )
    seed_ind = F.when(F.col("is_seed"), F.lit(333333333).cast("bigint")).otherwise(
        F.lit(0).cast("bigint")
    )
    pr = (
        deg.join(
            F.broadcast(seeds.withColumn("is_seed", F.lit(True))), "s", "left"
        )
        .select(
            F.col("s").alias("node"), "d",
            F.coalesce(F.col("is_seed"), F.lit(False)).alias("is_seed"),
        )
        .withColumn("pr", seed_ind)
    )
    for _ in range(2):
        contrib = both.join(
            pr.select(F.col("node").alias("s"), "pr", "d"), "s"
        ).select(F.col("t").alias("node"), F.expr("pr div d").alias("c"))
        mass = contrib.groupBy("node").agg(F.sum("c").alias("mass"))
        pr = (
            pr.drop("pr")
            .join(mass, "node", "left")
            .select(
                "node", "d", "is_seed",
                F.expr(
                    "(15 * (CASE WHEN is_seed THEN CAST(333333333 AS BIGINT) "
                    "ELSE CAST(0 AS BIGINT) END) + 85 * COALESCE(mass, CAST(0 AS BIGINT))) div 100"
                ).alias("pr"),
            )
            .localCheckpoint(eager=False)
        )
    top = pr.select(
        "node", "pr", "is_seed",
        F.row_number().over(Window.orderBy(F.col("pr").desc(), "node")).alias("rn"),
    ).filter(F.col("rn") <= 15)
    return top.select(
        "node",
        (F.col("pr").cast("double") / 1000000000.0).alias("ppr"),
        "is_seed",
    )


# ---------------------------------------------------------------------------
# Rank-matched cohort pairing (observational-comparison prep)
# ---------------------------------------------------------------------------

@query(
    "matched_cohort_rank_pairing",
    oracle="""
    WITH activity AS (
      SELECT user_id, COUNT(*) AS n_events,
             ((user_id * 2654435761 + 283521) % 4294967296) % 2 AS treated
      FROM events GROUP BY user_id
    ),
    a AS (
      SELECT user_id, n_events,
             ROW_NUMBER() OVER (ORDER BY n_events, user_id) AS rk,
             COUNT(*) OVER () AS na
      FROM activity WHERE treated = 1
    ),
    b AS (
      SELECT user_id, n_events,
             ROW_NUMBER() OVER (ORDER BY n_events, user_id) AS rk,
             COUNT(*) OVER () AS nb
      FROM activity WHERE treated = 0
    ),
    pairs AS (
      SELECT a.user_id AS treated_id, a.n_events AS treated_events,
             b.user_id AS control_id, b.n_events AS control_events
      FROM a JOIN b
        ON b.rk = LEAST(b.nb, GREATEST(1, (a.rk * b.nb + a.na // 2) // a.na))
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(ABS(treated_events - control_events)) AS BIGINT)
             AS total_activity_gap,
           ROUND(CAST(SUM(ABS(treated_events - control_events)) AS DOUBLE)
                 / COUNT(*), 4) AS avg_activity_gap,
           CAST(MAX(ABS(treated_events - control_events)) AS BIGINT)
             AS worst_pair_gap
    FROM pairs
    """,
)
def matched_cohort_rank_pairing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariate-matched comparison prep: each hash-assigned TREATED
    user is matched to a CONTROL user at the SAME ACTIVITY QUANTILE —
    rank-aligned matching, the scalable cousin of nearest-neighbor
    propensity matching (exact NN matching is a sequential greedy
    algorithm; quantile alignment gives the same covariate balance in
    two rank windows and one equi-join on the mapped rank, fully
    parallel). Assignment is the deterministic Knuth hash — the shape
    of correcting an A/B test whose arms drifted imbalanced. The
    mapped rank is pure integer arithmetic ((rk·nb + na//2) // na, a
    rounded rescale) so the pairing is deterministic; the output
    audits the achieved balance — total/average/worst activity gap —
    the number you check BEFORE trusting any outcome comparison.
    Ranks come from windows over the user-level aggregate."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    activity = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
    ).withColumn(
        "treated", ((F.col("user_id") * 2654435761 + 283521) % 4294967296) % 2
    )
    w = Window.orderBy("n_events", "user_id")
    wc = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    a = activity.filter(F.col("treated") == 1).select(
        F.col("user_id").alias("treated_id"),
        F.col("n_events").alias("treated_events"),
        F.row_number().over(w).alias("rk"), F.count(F.lit(1)).over(wc).alias("na"),
    )
    b = activity.filter(F.col("treated") == 0).select(
        F.col("user_id").alias("control_id"),
        F.col("n_events").alias("control_events"),
        F.row_number().over(w).alias("b_rk"), F.count(F.lit(1)).over(wc).alias("nb"),
    )
    mapped = F.least(
        F.col("nb"),
        F.greatest(
            F.lit(1).cast("bigint"),
            F.expr("(rk * nb + na div 2) div na"),
        ),
    )
    pairs = a.join(b, b["b_rk"] == mapped)
    gap = F.abs(F.col("treated_events") - F.col("control_events"))
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(gap).cast("bigint").alias("total_activity_gap"),
        F.round(F.sum(gap).cast("double") / F.count(F.lit(1)), 4)
        .alias("avg_activity_gap"),
        F.max(gap).cast("bigint").alias("worst_pair_gap"),
    )


# ---------------------------------------------------------------------------
# Perceptual-hash image near-dup (block-bucketed aHash over media payloads)
# ---------------------------------------------------------------------------

@query(
    "image_phash_near_dup",
    oracle="""
    WITH ids AS (
      SELECT doc_id AS media_id FROM documents WHERE doc_id % 3 = 0
    ),
    pop AS (  -- originals + re-encoded twins (two pixels nudged +-8)
      SELECT media_id, FALSE AS is_twin FROM ids
      UNION ALL
      SELECT media_id + 1000000, TRUE FROM ids
    ),
    px AS (
      SELECT p.media_id, p.is_twin, j.j,
             CAST(((p.media_id % 1000000) * (2654435761 + j.j * 81006))
                  % 4294967296 // 256 % 256 AS BIGINT)
             + CASE WHEN p.is_twin AND j.j = 17 THEN 8
                    WHEN p.is_twin AND j.j = 41 THEN -8 ELSE 0 END AS v
      FROM pop p CROSS JOIN (SELECT unnest(range(0, 64)) AS j) j
    ),
    tot AS (
      SELECT media_id, is_twin, SUM(v) AS s FROM px GROUP BY media_id, is_twin
    ),
    bits AS (
      SELECT px.media_id, px.is_twin, px.j // 16 AS blk,
             CASE WHEN px.v * 64 > t.s THEN (1 << (px.j % 16)) ELSE 0 END AS b
      FROM px JOIN tot t USING (media_id)
    ),
    blocks AS (
      SELECT media_id, is_twin, blk, CAST(SUM(b) AS BIGINT) AS bv
      FROM bits GROUP BY media_id, is_twin, blk
    ),
    cands AS (
      SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
      FROM blocks a JOIN blocks b
        ON a.blk = b.blk AND a.bv = b.bv AND a.media_id < b.media_id
    ),
    ham AS (
      SELECT c.id_a, c.id_b,
             CAST(SUM(bit_count(xor(ba.bv, bb.bv))) AS BIGINT) AS hamming
      FROM cands c
      JOIN blocks ba ON ba.media_id = c.id_a
      JOIN blocks bb ON bb.media_id = c.id_b AND bb.blk = ba.blk
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b, hamming,
           id_b = id_a + 1000000 AS is_injected_twin
    FROM ham WHERE hamming <= 2
    """,
)
def image_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate IMAGE detection — the multimodal
    twin of `dedup_simhash`: every image gets a 64-bit average-hash
    (bit j = pixel j above the image mean), re-encoded copies land
    within a few bits, and candidate pairs come from a 4x16-bit
    BLOCK-BUCKET join (≤2 corrupted blocks ⇒ ≥2 clean blocks ⇒ a
    guaranteed bucket hit — the same pigeonhole as SimHash banding),
    then exact Hamming rescore via XOR+bit_count on the block ints.
    Near-dups are INJECTED: each image gets a 'reencoded' twin with
    two pixels nudged ±8 (sum-preserving, so the aHash threshold
    doesn't move and at most those 2 bits flip) — every twin pair MUST
    surface with hamming ≤ 2. Pixels are the engine's deterministic
    fake decode (`operators/multimodal.py` — real codecs aren't in
    this container; the Arrow-batched mapInPandas plumbing and the
    bucket-join shape are the real, scale-tested parts). At 100 TB
    the hash computation rides the media scan and only 4 small
    (block, value) keys per image ever shuffle."""
    import pandas as pd

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    pop = d.select(F.col("doc_id").alias("media_id"), F.lit(False).alias("is_twin")) \
        .unionByName(
            d.select(
                (F.col("doc_id") + 1000000).alias("media_id"),
                F.lit(True).alias("is_twin"),
            )
        )

    def ahash(batches):
        for pdf in batches:
            out = []
            for mid, tw in zip(pdf["media_id"], pdf["is_twin"]):
                base = int(mid) % 1000000
                # j-dependent odd multiplier: an affine-in-id formula
                # would shift every pixel by the same constant mod 256,
                # collapsing the aHash space (measured: 2855 spurious
                # pairs); varying the multiplier mixes per-position
                # bits 8-15 of the product, not the low byte: the low
                # byte of base*odd sees only base mod 256, so ids 256
                # apart would collide with hamming 0
                px = [
                    (base * (2654435761 + j * 81006)) % 4294967296 // 256 % 256
                    for j in range(64)
                ]
                if tw:
                    px[17] += 8
                    px[41] -= 8
                s = sum(px)
                blocks = [0, 0, 0, 0]
                for j, v in enumerate(px):
                    if v * 64 > s:
                        blocks[j // 16] |= 1 << (j % 16)
                out.append((int(mid), bool(tw), *blocks))
            yield pd.DataFrame(
                out, columns=["media_id", "is_twin", "b0", "b1", "b2", "b3"]
            )

    hashed = pop.mapInPandas(
        ahash,
        "media_id long, is_twin boolean, b0 long, b1 long, b2 long, b3 long",
    ).cache()  # tools/ab.py, 10 pairs, sf0.1: 0.66 -> 0.86 s uncached, cached won 10/10
    blocks = hashed.select(
        "media_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("blk"), F.col(f"b{i}").alias("bv"))
                    for i in range(4)
                ]
            )
        ).alias("e"),
    ).select("media_id", "e.blk", "e.bv")
    a = blocks.select(F.col("media_id").alias("id_a"), "blk", "bv")
    b = blocks.select(F.col("media_id").alias("id_b"), "blk", "bv")
    cands = (
        a.join(b, ["blk", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ha = hashed.select(
        F.col("media_id").alias("id_a"),
        *[F.col(f"b{i}").alias(f"a{i}") for i in range(4)],
    )
    hb = hashed.select(
        F.col("media_id").alias("id_b"),
        *[F.col(f"b{i}").alias(f"bb{i}") for i in range(4)],
    )
    hamming = sum(
        F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"bb{i}"))) for i in range(4)
    )
    return (
        cands.join(F.broadcast(ha), "id_a").join(F.broadcast(hb), "id_b")
        .select(
            "id_a", "id_b",
            hamming.cast("bigint").alias("hamming"),
            (F.col("id_b") == F.col("id_a") + 1000000).alias("is_injected_twin"),
        )
        .filter(F.col("hamming") <= 2)
    )
