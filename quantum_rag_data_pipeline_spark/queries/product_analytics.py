"""Corpus segment: engagement/SLO/inventory analytics, record linkage, information theory, decision stumps.

Queries 250-270 of the registration order. The monolithic queries.py
was split in round 5 into contiguous registration-order slices; this
file's internal order plus the package __init__'s import sequence
preserve the order that tools/verify_ledger.py audits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quantum_rag_data_pipeline_spark.queries._registry import _t, query



# ---------------------------------------------------------------------------
# DAU/MAU stickiness (the engagement ratio)
# ---------------------------------------------------------------------------

@query(
    "dau_mau_stickiness",
    oracle="""
    WITH dau AS (
      SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
             CAST(ts AS DATE) AS day,
             COUNT(DISTINCT user_id) AS dau
      FROM events GROUP BY 1, 2
    ),
    mau AS (
      SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
             COUNT(DISTINCT user_id) AS mau
      FROM events GROUP BY 1
    )
    SELECT d.month,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(CAST(SUM(d.dau) AS DOUBLE) / COUNT(*), 4) AS avg_dau,
           CAST(MAX(m.mau) AS BIGINT) AS mau,
           ROUND(CAST(SUM(d.dau) AS DOUBLE) / COUNT(*) / MAX(m.mau), 6)
             AS stickiness
    FROM dau d JOIN mau m ON m.month = d.month
    GROUP BY d.month
    """,
)
def dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness — the engagement ratio product teams report
    beside the growth-accounting ledger: average daily actives over
    monthly actives, 1.0 meaning every monthly user shows up every
    day. Two distinct-count aggregates at different grains (the
    month grain is NOT the sum of day grains — distinct doesn't
    decompose, which is exactly why both must be computed and why
    approx sketches (`streaming_approx_distinct`) matter at scale),
    joined on month. Integer counts; one final ratio."""
    ev = _t(spark, sf_dir, "events")
    dau = ev.groupBy(
        F.date_trunc("month", "ts").cast("date").alias("month"),
        F.to_date("ts").alias("day"),
    ).agg(F.countDistinct("user_id").alias("dau"))
    mau = ev.groupBy(
        F.date_trunc("month", "ts").cast("date").alias("month")
    ).agg(F.countDistinct("user_id").alias("mau"))
    return (
        dau.join(mau, "month")
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.round(F.sum("dau").cast("double") / F.count(F.lit(1)), 4)
            .alias("avg_dau"),
            F.max("mau").cast("bigint").alias("mau"),
            F.round(
                F.sum("dau").cast("double") / F.count(F.lit(1)) / F.max("mau"), 6
            ).alias("stickiness"),
        )
    )


# ---------------------------------------------------------------------------
# Latency percentile SLO report (exact order-statistic p50/p90/p99)
# ---------------------------------------------------------------------------

@query(
    "latency_percentile_slo",
    oracle="""
    WITH lat AS (
      SELECT o.o_orderpriority AS pri,
             datediff('day', CAST(o.o_orderdate AS DATE),
                      CAST(l.l_shipdate AS DATE)) AS days,
             l.l_orderkey, l.l_linenumber
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    ranked AS (
      SELECT pri, days,
             ROW_NUMBER() OVER (PARTITION BY pri
                                ORDER BY days, l_orderkey, l_linenumber) AS rk,
             COUNT(*) OVER (PARTITION BY pri) AS n
      FROM lat
    )
    SELECT pri AS o_orderpriority,
           CAST(MAX(n) AS BIGINT) AS n_lines,
           CAST(MIN(CASE WHEN rk = (n + 1) // 2 THEN days END) AS BIGINT) AS p50,
           CAST(MIN(CASE WHEN rk = CEIL(0.90 * n) THEN days END) AS BIGINT) AS p90,
           CAST(MIN(CASE WHEN rk = CEIL(0.99 * n) THEN days END) AS BIGINT) AS p99
    FROM ranked GROUP BY pri
    """,
)
def latency_percentile_slo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The latency SLO report — p50/p90/p99 order-to-ship days per
    priority tier, the numbers an operations SLA is written against —
    with EXACT order-statistic percentiles (rank = ceil(q·n), total
    order tie-broken by line identity; DETERMINISM.md rule 4, no
    engine interpolation in play). Per-tier rank windows partition by
    priority so no global sort happens; the three percentiles come out
    of ONE ranked pass via conditional MIN — not three separate
    quantile calls, the difference between one shuffle and three. The
    tail percentiles (p99 tail) are exactly what GK sketches
    (`quantile_sketch_bounds`) approximate when n makes exact ranks
    expensive — this is the exact-tier of that trade."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    from pyspark.sql.window import Window

    lat = o.join(li, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_orderpriority").alias("pri"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("days"),
        "l_orderkey", "l_linenumber",
    )
    ranked = lat.select(
        "pri", "days",
        F.row_number().over(
            Window.partitionBy("pri").orderBy("days", "l_orderkey", "l_linenumber")
        ).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("pri")).alias("n"),
    )
    return ranked.groupBy(F.col("pri").alias("o_orderpriority")).agg(
        F.max("n").cast("bigint").alias("n_lines"),
        F.min(
            F.when(F.col("rk") == F.floor((F.col("n") + 1) / 2), F.col("days"))
        ).cast("bigint").alias("p50"),
        F.min(
            F.when(F.col("rk") == F.ceil(0.90 * F.col("n")), F.col("days"))
        ).cast("bigint").alias("p90"),
        F.min(
            F.when(F.col("rk") == F.ceil(0.99 * F.col("n")), F.col("days"))
        ).cast("bigint").alias("p99"),
    )


# ---------------------------------------------------------------------------
# Deterministic negative sampling for implicit-feedback training
# ---------------------------------------------------------------------------

@query(
    "negative_sampling_implicit",
    oracle="""
    WITH pos AS (
      SELECT DISTINCT l.l_orderkey % 100 AS u, l.l_partkey AS item
      FROM lineitem l WHERE l.l_partkey < 500
    ),
    items AS (SELECT DISTINCT item FROM pos),
    n_items AS (SELECT CAST(COUNT(*) AS BIGINT) AS ni FROM items),
    ranked_items AS (
      SELECT item, ROW_NUMBER() OVER (ORDER BY item) - 1 AS idx FROM items
    ),
    draws AS (
      SELECT p.u, p.item AS pos_item, k.k,
             ((p.u * 1000003 + p.item * 31 + k.k) * 2654435761 % 4294967296)
               % n_items.ni AS idx
      FROM pos p
      CROSS JOIN (SELECT unnest(range(0, 3)) AS k) k
      CROSS JOIN n_items
    ),
    cand AS (
      SELECT d.u, d.pos_item, ri.item AS neg_item
      FROM draws d JOIN ranked_items ri ON ri.idx = d.idx
    ),
    clean AS (
      SELECT c.u, c.pos_item, c.neg_item FROM cand c
      WHERE NOT EXISTS (
        SELECT 1 FROM pos p2 WHERE p2.u = c.u AND p2.item = c.neg_item
      )
    )
    SELECT CAST((SELECT COUNT(*) FROM pos) AS BIGINT) AS n_positives,
           CAST((SELECT COUNT(*) FROM draws) AS BIGINT) AS n_drawn,
           CAST(COUNT(*) AS BIGINT) AS n_clean_negatives,
           ROUND(CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM draws), 6)
             AS acceptance_rate
    FROM clean
    """,
)
def negative_sampling_implicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEGATIVE SAMPLING for implicit-feedback training — the data-prep
    step every two-tower/matrix-factorization recommender needs:
    each (user, item) positive draws 3 candidate negatives from the
    item catalog by deterministic hash (index into the ranked item
    table — uniform over the catalog, reproducible under repartition,
    DETERMINISM.md rule 6), then ACCIDENTAL POSITIVES are removed with
    an anti-join against the interaction table — the correctness step
    naive samplers skip, silently training on false negatives. The
    report carries the acceptance rate (drawn -> clean), which is also
    the diagnostic for catalogs where positives are so dense uniform
    sampling stops working. Shuffles: one distinct, one idx equi-join
    against the broadcast ranked catalog, one anti-join on (u, item)."""
    li = _t(spark, sf_dir, "lineitem")
    from pyspark.sql.window import Window

    pos = (
        li.filter(F.col("l_partkey") < 500)
        .select(
            (F.col("l_orderkey") % 100).alias("u"), F.col("l_partkey").alias("item")
        )
        .distinct()
    )
    items = pos.select("item").distinct()
    ranked_items = items.select(
        "item", (F.row_number().over(Window.orderBy("item")) - 1).alias("idx")
    )
    n_items = items.agg(F.count(F.lit(1)).cast("bigint").alias("ni"))
    ks = spark.range(0, 3).select(F.col("id").alias("k"))
    draws = (
        pos.crossJoin(F.broadcast(ks)).crossJoin(F.broadcast(n_items))
        .select(
            "u", F.col("item").alias("pos_item"),
            (
                (
                    (F.col("u") * 1000003 + F.col("item") * 31 + F.col("k"))
                    * 2654435761
                ) % 4294967296 % F.col("ni")
            ).alias("idx"),
        )
    )
    cand = draws.join(F.broadcast(ranked_items), "idx").select(
        "u", "pos_item", F.col("item").alias("neg_item")
    )
    clean = cand.join(
        pos.select("u", F.col("item").alias("neg_item")),
        ["u", "neg_item"], "left_anti",
    )
    n_pos = pos.agg(F.count(F.lit(1)).cast("bigint").alias("n_positives"))
    n_drawn = draws.agg(F.count(F.lit(1)).cast("bigint").alias("n_drawn"))
    return (
        clean.agg(F.count(F.lit(1)).cast("bigint").alias("n_clean_negatives"))
        .crossJoin(F.broadcast(n_pos)).crossJoin(F.broadcast(n_drawn))
        .select(
            "n_positives", "n_drawn", "n_clean_negatives",
            F.round(
                F.col("n_clean_negatives").cast("double") / F.col("n_drawn"), 6
            ).alias("acceptance_rate"),
        )
    )


# ---------------------------------------------------------------------------
# ABC inventory classification (cumulative-revenue Pareto classes)
# ---------------------------------------------------------------------------

@query(
    "abc_inventory_classification",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             SUM(CAST(ROUND(l_extendedprice * 100.0) AS BIGINT)) AS cents
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS t FROM rev),
    ranked AS (
      SELECT l_partkey, cents,
             SUM(cents) OVER (ORDER BY cents DESC, l_partkey
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM rev
    ),
    classed AS (
      SELECT CASE WHEN cum * 100 <= t.t * 80 THEN 'A'
                  WHEN cum * 100 <= t.t * 95 THEN 'B'
                  ELSE 'C' END AS abc_class,
             cents
      FROM ranked CROSS JOIN tot t
    )
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(CAST(SUM(cents) AS DOUBLE) / 100.0, 2) AS revenue,
           ROUND(CAST(SUM(cents) AS DOUBLE) / MAX(t2.t), 6) AS revenue_share
    FROM classed CROSS JOIN tot t2
    GROUP BY abc_class
    """,
)
def abc_inventory_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC analysis — the supply-chain Pareto classification: parts
    ranked by revenue, class A until 80% of cumulative revenue, B to
    95%, C the tail — deciding which items get tight stock control
    (A), periodic review (B), or bulk treatment (C). The cumulative
    boundary test runs as INTEGER cross-multiplication
    (cum·100 ≤ total·80 — no ratio, no float drift at the class
    boundary), and the running sum orders by the deterministic
    (revenue, key) total order. One grouped pass for part revenue,
    one global ordered window over the PART aggregate (part-level
    cardinality, not lineitem), one 3-row rollup."""
    li = _t(spark, sf_dir, "lineitem")
    from pyspark.sql.window import Window

    rev = li.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100.0).cast("bigint")).alias("cents")
    )
    tot = rev.agg(F.sum("cents").cast("bigint").alias("t"))
    ranked = rev.select(
        "l_partkey", "cents",
        F.sum("cents").over(
            Window.orderBy(F.col("cents").desc(), "l_partkey")
            .rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum"),
    )
    classed = ranked.crossJoin(F.broadcast(tot)).select(
        F.when(F.col("cum") * 100 <= F.col("t") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("t") * 95, "B")
        .otherwise("C").alias("abc_class"),
        "cents", "t",
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.round(F.sum("cents").cast("double") / 100.0, 2).alias("revenue"),
        F.round(F.sum("cents").cast("double") / F.max("t"), 6)
        .alias("revenue_share"),
    )


# ---------------------------------------------------------------------------
# A/B sample-size / power calculation (closed-form, from observed arms)
# ---------------------------------------------------------------------------

@query(
    "sample_size_power_calc",
    oracle="""
    WITH arms AS (
      SELECT
        SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n1,
        SUM(CASE WHEN event_type = 'view' AND value > 50 THEN 1 ELSE 0 END) AS c1,
        SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n2,
        SUM(CASE WHEN event_type = 'click' AND value > 50 THEN 1 ELSE 0 END) AS c2
      FROM events
    ),
    rates AS (
      SELECT n1, n2,
             ROUND(CAST(c1 AS DOUBLE) / n1, 6) AS p1,
             ROUND(CAST(c2 AS DOUBLE) / n2, 6) AS p2
      FROM arms
    )
    SELECT CAST(n1 AS BIGINT) AS n_control, CAST(n2 AS BIGINT) AS n_treatment,
           p1, p2,
           ROUND(p2 - p1, 6) AS observed_effect,
           CAST(CEIL(
             (1.959964 * sqrt(2 * ((p1 + p2) / 2) * (1 - (p1 + p2) / 2))
              + 0.841621 * sqrt(p1 * (1 - p1) + p2 * (1 - p2)))
             * (1.959964 * sqrt(2 * ((p1 + p2) / 2) * (1 - (p1 + p2) / 2))
                + 0.841621 * sqrt(p1 * (1 - p1) + p2 * (1 - p2)))
             / ((p2 - p1) * (p2 - p1))
           ) AS BIGINT) AS n_required_per_arm,
           n1 >= CEIL(
             (1.959964 * sqrt(2 * ((p1 + p2) / 2) * (1 - (p1 + p2) / 2))
              + 0.841621 * sqrt(p1 * (1 - p1) + p2 * (1 - p2)))
             * (1.959964 * sqrt(2 * ((p1 + p2) / 2) * (1 - (p1 + p2) / 2))
                + 0.841621 * sqrt(p1 * (1 - p1) + p2 * (1 - p2)))
             / ((p2 - p1) * (p2 - p1))
           ) AS adequately_powered
    FROM rates
    """,
)
def sample_size_power_calc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A/B SAMPLE-SIZE calculation — the question every experiment
    review asks first: at the observed conversion rates, how many
    subjects per arm does 80% power at α=0.05 require, and did this
    test have them? The classic two-proportion formula
    n = (z_{α/2}·√(2p̄q̄) + z_β·√(p₁q₁+p₂q₂))² / (p₂−p₁)² with the
    normal quantiles as exact literals (1.959964, 0.841621) — pure
    IEEE arithmetic on the 1-row sufficient statistics, replayed
    identically. An underpowered 'significant' result is the most
    common way A/B programs fool themselves; `ab_test_welch` gives
    the verdict, this query audits whether the verdict was earned."""
    ev = _t(spark, sf_dir, "events")
    arms = ev.agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("n1"),
        F.sum(
            F.when((F.col("event_type") == "view") & (F.col("value") > 50), 1)
            .otherwise(0)
        ).alias("c1"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("n2"),
        F.sum(
            F.when((F.col("event_type") == "click") & (F.col("value") > 50), 1)
            .otherwise(0)
        ).alias("c2"),
    )
    rates = arms.select(
        "n1", "n2",
        F.round(F.col("c1").cast("double") / F.col("n1"), 6).alias("p1"),
        F.round(F.col("c2").cast("double") / F.col("n2"), 6).alias("p2"),
    )
    pbar = (F.col("p1") + F.col("p2")) / 2
    term = (
        F.lit(1.959964) * F.sqrt(2 * pbar * (1 - pbar))
        + F.lit(0.841621)
        * F.sqrt(
            F.col("p1") * (1 - F.col("p1")) + F.col("p2") * (1 - F.col("p2"))
        )
    )
    n_req = F.ceil(
        term * term / ((F.col("p2") - F.col("p1")) * (F.col("p2") - F.col("p1")))
    )
    return rates.select(
        F.col("n1").alias("n_control"),
        F.col("n2").alias("n_treatment"),
        "p1", "p2",
        F.round(F.col("p2") - F.col("p1"), 6).alias("observed_effect"),
        n_req.cast("bigint").alias("n_required_per_arm"),
        (F.col("n1") >= n_req).alias("adequately_powered"),
    )


# ---------------------------------------------------------------------------
# Segment uplift report (heterogeneous treatment effects, hash-assigned)
# ---------------------------------------------------------------------------

@query(
    "segment_uplift_report",
    oracle="""
    WITH base AS (
      SELECT c.c_mktsegment AS segment,
             ((o.o_custkey * 2654435761 + 283521) % 4294967296) % 2 AS treated,
             CASE WHEN o.o_totalprice > 250000 THEN 1 ELSE 0 END AS converted
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    )
    SELECT segment,
           CAST(SUM(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_treated,
           CAST(SUM(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_control,
           ROUND(CAST(SUM(CASE WHEN treated = 1 THEN converted ELSE 0 END) AS DOUBLE)
                 / SUM(CASE WHEN treated = 1 THEN 1 ELSE 0 END), 6) AS rate_treated,
           ROUND(CAST(SUM(CASE WHEN treated = 0 THEN converted ELSE 0 END) AS DOUBLE)
                 / SUM(CASE WHEN treated = 0 THEN 1 ELSE 0 END), 6) AS rate_control,
           ROUND(CAST(SUM(CASE WHEN treated = 1 THEN converted ELSE 0 END) AS DOUBLE)
                 / SUM(CASE WHEN treated = 1 THEN 1 ELSE 0 END)
                 - CAST(SUM(CASE WHEN treated = 0 THEN converted ELSE 0 END) AS DOUBLE)
                   / SUM(CASE WHEN treated = 0 THEN 1 ELSE 0 END), 6) AS uplift
    FROM base GROUP BY segment
    """,
)
def segment_uplift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous treatment effects — UPLIFT per customer segment,
    not just the average: the same hash-assigned arms as
    `matched_cohort_rank_pairing`, conversion compared treated-vs-
    control WITHIN each market segment — the report that finds the
    segment where a treatment actually works (or backfires) while the
    overall average hides it, Simpson's paradox being the standing
    hazard this slicing exists to catch. With a null treatment (pure
    hash split) the uplifts hover near zero — which doubles as the
    A/A-test sanity every experimentation platform runs before real
    traffic. One join, one conditional-aggregate pass; all the rates
    come from the same shuffled segment groups."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    base = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("segment"),
        (((F.col("o_custkey") * 2654435761 + 283521) % 4294967296) % 2)
        .alias("treated"),
        F.when(F.col("o_totalprice") > 250000, 1).otherwise(0).alias("converted"),
    )
    t = F.col("treated") == 1
    rate_t = (
        F.sum(F.when(t, F.col("converted")).otherwise(0)).cast("double")
        / F.sum(F.when(t, 1).otherwise(0))
    )
    rate_c = (
        F.sum(F.when(~t, F.col("converted")).otherwise(0)).cast("double")
        / F.sum(F.when(~t, 1).otherwise(0))
    )
    return base.groupBy("segment").agg(
        F.sum(F.when(t, 1).otherwise(0)).cast("bigint").alias("n_treated"),
        F.sum(F.when(~t, 1).otherwise(0)).cast("bigint").alias("n_control"),
        F.round(rate_t, 6).alias("rate_treated"),
        F.round(rate_c, 6).alias("rate_control"),
        F.round(rate_t - rate_c, 6).alias("uplift"),
    )


# ---------------------------------------------------------------------------
# Id-sequence gap audit (ingest-completeness integrity check)
# ---------------------------------------------------------------------------

@query(
    "id_sequence_gap_audit",
    oracle="""
    WITH s AS (
      SELECT event_id,
             event_id - LAG(event_id) OVER (ORDER BY event_id) AS step
      FROM events
    ),
    stats AS (
      SELECT CAST(MIN(event_id) AS BIGINT) AS min_id,
             CAST(MAX(event_id) AS BIGINT) AS max_id,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct
      FROM events
    )
    SELECT st.min_id, st.max_id, st.n_rows,
           CAST(st.max_id - st.min_id + 1 - st.n_distinct AS BIGINT)
             AS n_missing_ids,
           CAST(st.n_rows - st.n_distinct AS BIGINT) AS n_duplicate_ids,
           CAST((SELECT COUNT(*) FROM s WHERE step > 1) AS BIGINT) AS n_gap_runs,
           st.max_id - st.min_id + 1 = st.n_distinct AND st.n_rows = st.n_distinct
             AS sequence_complete
    FROM stats st
    """,
)
def id_sequence_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-completeness audit over an id column that SHOULD be
    dense — the ingest integrity check that catches dropped batches
    (missing-id runs) and replayed batches (duplicate ids) in one
    pass: missing = (max − min + 1) − distinct (pure arithmetic, no
    spine join), duplicates = rows − distinct, and the number of gap
    RUNS (not just missing count — 1000 ids missing in one run is a
    dropped file; in 1000 runs it's a filter bug) from one ordered
    LAG pass. The global window runs over ids only — at 100 TB the
    arithmetic identities need only MIN/MAX/COUNT partials, and the
    gap-run scan is the single detail that needs the sort."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    s = ev.select(
        "event_id",
        (F.col("event_id") - F.lag("event_id").over(Window.orderBy("event_id")))
        .alias("step"),
    )
    gap_runs = s.filter(F.col("step") > 1).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gap_runs")
    )
    stats = ev.agg(
        F.min("event_id").cast("bigint").alias("min_id"),
        F.max("event_id").cast("bigint").alias("max_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("event_id").cast("bigint").alias("n_distinct"),
    )
    return stats.crossJoin(F.broadcast(gap_runs)).select(
        "min_id", "max_id", "n_rows",
        (F.col("max_id") - F.col("min_id") + 1 - F.col("n_distinct"))
        .cast("bigint").alias("n_missing_ids"),
        (F.col("n_rows") - F.col("n_distinct")).cast("bigint")
        .alias("n_duplicate_ids"),
        "n_gap_runs",
        (
            (F.col("max_id") - F.col("min_id") + 1 == F.col("n_distinct"))
            & (F.col("n_rows") == F.col("n_distinct"))
        ).alias("sequence_complete"),
    )


# ---------------------------------------------------------------------------
# Time-decayed popularity ranking (exact dyadic half-life weights)
# ---------------------------------------------------------------------------

@query(
    "decayed_popularity_ranking",
    oracle="""
    WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS end_day FROM orders),
    w AS (
      SELECT l.l_partkey,
             LEAST(19, datediff('day', CAST(o.o_orderdate AS DATE), mx.end_day)
                       // 28) AS half_lives
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      CROSS JOIN mx
    ),
    scored AS (
      SELECT l_partkey,
             CAST(SUM(1048576 // (1 << half_lives)) AS BIGINT) AS score_u,
             COUNT(*) AS n_sales
      FROM w GROUP BY l_partkey
    )
    SELECT l_partkey,
           CAST(score_u AS DOUBLE) / 1048576.0 AS decayed_score,
           CAST(n_sales AS BIGINT) AS n_lifetime_sales,
           CAST(ROW_NUMBER() OVER (ORDER BY score_u DESC, l_partkey) AS INT) AS rk
    FROM scored
    ORDER BY score_u DESC, l_partkey LIMIT 15
    """,
)
def decayed_popularity_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRENDING ranking — popularity with a 28-day half-life, so a part
    selling hard THIS month outranks an all-time best-seller that went
    quiet: each sale contributes 2^-h where h = age in half-lives.
    The decay is EXACT dyadic arithmetic — 2^20 integer units halved
    by bit-shift per elapsed half-life (capped at 19, beyond which the
    weight is sub-unit noise) — no pow(), no transcendental replay
    risk, and the per-item reduce is an int64 sum, fully partial-
    aggregable (the decisive property: exponential decay against a
    FIXED reference time is a plain weighted sum; only decay-to-'now'
    needs state). Top-15 trending parts with lifetime counts shown
    for contrast."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    from pyspark.sql.window import Window

    mx = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("end_day"))
    w = (
        li.join(o, o["o_orderkey"] == li["l_orderkey"])
        .crossJoin(F.broadcast(mx))
        .select(
            "l_partkey",
            F.least(
                F.lit(19),
                F.expr(
                    "datediff(end_day, CAST(o_orderdate AS DATE)) div 28"
                ),
            ).alias("half_lives"),
        )
    )
    scored = w.groupBy("l_partkey").agg(
        F.sum(F.expr("1048576 div shiftleft(1, half_lives)"))
        .cast("bigint").alias("score_u"),
        F.count(F.lit(1)).alias("n_sales"),
    )
    return (
        scored.select(
            "l_partkey",
            (F.col("score_u").cast("double") / 1048576.0).alias("decayed_score"),
            F.col("n_sales").cast("bigint").alias("n_lifetime_sales"),
            F.row_number().over(
                Window.orderBy(F.col("score_u").desc(), "l_partkey")
            ).cast("int").alias("rk"),
        )
        .orderBy(F.col("decayed_score").desc(), "l_partkey")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Funnel window-sensitivity sweep (3 conversion windows in one pass)
# ---------------------------------------------------------------------------

@query(
    "funnel_window_sensitivity",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS v_ts FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    firstc AS (
      SELECT v.user_id,
             MIN(e.ts) AS c_ts
      FROM v JOIN events e ON e.user_id = v.user_id
        AND e.event_type = 'click' AND e.ts > v.v_ts
      GROUP BY v.user_id
    ),
    gaps AS (
      SELECT f.user_id,
             epoch_us(f.c_ts) - epoch_us(v.v_ts) AS gap_us
      FROM firstc f JOIN v USING (user_id)
    )
    SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_viewers,
           CAST(SUM(CASE WHEN gap_us <= 900000000 THEN 1 ELSE 0 END) AS BIGINT)
             AS converted_15m,
           CAST(SUM(CASE WHEN gap_us <= 3600000000 THEN 1 ELSE 0 END) AS BIGINT)
             AS converted_1h,
           CAST(SUM(CASE WHEN gap_us <= 21600000000 THEN 1 ELSE 0 END) AS BIGINT)
             AS converted_6h,
           CAST(COUNT(*) AS BIGINT) AS converted_ever
    FROM gaps
    """,
)
def funnel_window_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window SENSITIVITY — the analysis that should precede
    any funnel definition: view -> first-click conversion counted
    under 15-minute, 1-hour, and 6-hour attribution windows
    simultaneously, from ONE pass (the gap to first click is computed
    once; the three windows are conditional counts over it — a
    parameter sweep as conditional aggregation, not three pipeline
    runs). If the 15m and 6h numbers tell different stories, the
    窓幅 is doing the storytelling — this query makes that visible
    before anyone standardizes on a number. Monotone by construction
    across windows (pinned in the pytest); integer-microsecond gaps."""
    ev = _t(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("v_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    firstc = (
        v.join(
            clicks,
            (F.col("cu") == F.col("user_id")) & (F.col("cts") > F.col("v_ts")),
        )
        .groupBy("user_id", "v_ts")
        .agg(F.min("cts").alias("c_ts"))
    )
    gaps = firstc.select(
        (F.unix_micros("c_ts") - F.unix_micros("v_ts")).alias("gap_us")
    )
    n_viewers = v.agg(F.count(F.lit(1)).cast("bigint").alias("n_viewers"))
    return gaps.agg(
        F.sum(F.when(F.col("gap_us") <= 900000000, 1).otherwise(0))
        .cast("bigint").alias("converted_15m"),
        F.sum(F.when(F.col("gap_us") <= 3600000000, 1).otherwise(0))
        .cast("bigint").alias("converted_1h"),
        F.sum(F.when(F.col("gap_us") <= 21600000000, 1).otherwise(0))
        .cast("bigint").alias("converted_6h"),
        F.count(F.lit(1)).cast("bigint").alias("converted_ever"),
    ).crossJoin(F.broadcast(n_viewers)).select(
        "n_viewers", "converted_15m", "converted_1h", "converted_6h",
        "converted_ever",
    )


# ---------------------------------------------------------------------------
# Action trigram paths (3-step behavioral sequences)
# ---------------------------------------------------------------------------

@query(
    "action_trigram_paths",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type, 1) OVER w AS prev1,
             LAG(event_type, 2) OVER w AS prev2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    tri AS (
      SELECT prev2 || '>' || prev1 || '>' || event_type AS path,
             user_id
      FROM seq WHERE prev2 IS NOT NULL
    )
    SELECT path,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM tri GROUP BY path
    ORDER BY n_occurrences DESC, path LIMIT 15
    """,
)
def action_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral PATH mining at trigram depth — the most common
    3-step action sequences across users, one level deeper than the
    Markov transition matrix (`markov_transition_matrix` sees
    pairs; real funnels live in longer motifs like
    view>click>purchase vs view>click>view). Two LAGs over the
    per-user event-time order turn every event into the trigram it
    completes — sequence order is DATA (ts, event_id total order),
    never partition order — and the rollup counts both occurrences
    and distinct users carrying the path (a path 1 user loops 500
    times is not a product insight). Top-15, deterministically
    tie-broken."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type",
        F.lag("event_type", 1).over(w).alias("prev1"),
        F.lag("event_type", 2).over(w).alias("prev2"),
    )
    tri = seq.filter(F.col("prev2").isNotNull()).select(
        F.concat_ws(">", "prev2", "prev1", "event_type").alias("path"),
        "user_id",
    )
    return (
        tri.groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy(F.col("n_occurrences").desc(), "path")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Item debut velocity (cold-start cohort report)
# ---------------------------------------------------------------------------

@query(
    "item_debut_velocity",
    oracle="""
    WITH sales AS (
      SELECT l.l_partkey, CAST(o.o_orderdate AS DATE) AS day
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    debut AS (
      SELECT l_partkey, MIN(day) AS first_day FROM sales GROUP BY l_partkey
    ),
    early AS (
      SELECT d.l_partkey,
             CAST(date_trunc('month', d.first_day) AS DATE) AS debut_month,
             COUNT(*) AS first28_sales
      FROM debut d JOIN sales s
        ON s.l_partkey = d.l_partkey
       AND s.day < d.first_day + INTERVAL 28 DAY
      GROUP BY d.l_partkey, d.first_day
    )
    SELECT debut_month,
           CAST(COUNT(*) AS BIGINT) AS n_new_items,
           ROUND(CAST(SUM(first28_sales) AS DOUBLE) / COUNT(*), 4)
             AS avg_first28_sales,
           CAST(MAX(first28_sales) AS BIGINT) AS best_debut
    FROM early
    WHERE debut_month >= DATE '1995-03-01'
    GROUP BY debut_month
    """,
)
def item_debut_velocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLD-START velocity — how fast newly-introduced items sell in
    their first 28 days, cohorted by debut month: the merchandising
    report that separates a weak launch month from weak launches, and
    the ground truth a cold-start recommender is evaluated against.
    Debut = MIN(sale day) per item (one grouped pass), early sales =
    a self-join of the sales table bounded to the item's first 28
    days (co-keyed on partkey — the bounded-interval family's shape).
    The first partial month of the corpus is trimmed because its
    'debuts' are just the dataset boundary — the left-censoring trap
    every debut analysis must dodge."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    sales = li.join(o, o["o_orderkey"] == li["l_orderkey"]).select(
        "l_partkey", F.col("o_orderdate").cast("date").alias("day")
    )
    debut = sales.groupBy("l_partkey").agg(F.min("day").alias("first_day"))
    s2 = sales.select(F.col("l_partkey").alias("pk"), F.col("day").alias("s_day"))
    early = (
        debut.join(
            s2,
            (F.col("pk") == F.col("l_partkey"))
            & (F.col("s_day") < F.date_add(F.col("first_day"), 28)),
        )
        .groupBy("l_partkey", "first_day")
        .agg(F.count(F.lit(1)).alias("first28_sales"))
    )
    return (
        early.select(
            F.date_trunc("month", "first_day").cast("date").alias("debut_month"),
            "first28_sales",
        )
        .filter(F.col("debut_month") >= F.lit("1995-03-01").cast("date"))
        .groupBy("debut_month")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_new_items"),
            F.round(
                F.sum("first28_sales").cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_first28_sales"),
            F.max("first28_sales").cast("bigint").alias("best_debut"),
        )
    )


# ---------------------------------------------------------------------------
# Day-N retention curve (D1/D7/D14 bounded-horizon retention)
# ---------------------------------------------------------------------------

@query(
    "dn_retention_curve",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    firsts AS (SELECT user_id, MIN(day) AS d0 FROM days GROUP BY user_id),
    mx AS (SELECT MAX(day) AS end_day FROM days),
    eligible AS (
      SELECT f.user_id, f.d0,
             f.d0 + INTERVAL 1 DAY <= mx.end_day AS e1,
             f.d0 + INTERVAL 7 DAY <= mx.end_day AS e7,
             f.d0 + INTERVAL 14 DAY <= mx.end_day AS e14
      FROM firsts f CROSS JOIN mx
    ),
    flags AS (
      SELECT e.user_id, e.e1, e.e7, e.e14,
             MAX(CASE WHEN d.day = e.d0 + INTERVAL 1 DAY THEN 1 ELSE 0 END) AS r1,
             MAX(CASE WHEN d.day = e.d0 + INTERVAL 7 DAY THEN 1 ELSE 0 END) AS r7,
             MAX(CASE WHEN d.day = e.d0 + INTERVAL 14 DAY THEN 1 ELSE 0 END) AS r14
      FROM eligible e JOIN days d ON d.user_id = e.user_id
      GROUP BY e.user_id, e.e1, e.e7, e.e14
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(CAST(SUM(CASE WHEN e1 THEN r1 ELSE 0 END) AS DOUBLE)
                 / SUM(CASE WHEN e1 THEN 1 ELSE 0 END), 6) AS d1_retention,
           ROUND(CAST(SUM(CASE WHEN e7 THEN r7 ELSE 0 END) AS DOUBLE)
                 / SUM(CASE WHEN e7 THEN 1 ELSE 0 END), 6) AS d7_retention,
           ROUND(CAST(SUM(CASE WHEN e14 THEN r14 ELSE 0 END) AS DOUBLE)
                 / SUM(CASE WHEN e14 THEN 1 ELSE 0 END), 6) AS d14_retention
    FROM flags
    """,
)
def dn_retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Day-N retention curve — D1/D7/D14 exact-day retention from
    each user's first active day, THE growth metric — with the
    eligibility correction naive versions skip: a user whose D14
    hasn't arrived yet must be excluded from the D14 DENOMINATOR, not
    counted as churned (right-censoring again — Kaplan-Meier's lesson
    applied to the retention table). One dedup to (user, day), one
    first-day aggregate, one co-keyed join computing all three flags
    in a single pass with per-horizon eligible denominators. Exact-day
    (not rolling-window) retention, the stricter convention."""
    ev = _t(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    firsts = days.groupBy("user_id").agg(F.min("day").alias("d0"))
    mx = days.agg(F.max("day").alias("end_day"))
    eligible = firsts.crossJoin(F.broadcast(mx)).select(
        "user_id", "d0",
        (F.date_add(F.col("d0"), 1) <= F.col("end_day")).alias("e1"),
        (F.date_add(F.col("d0"), 7) <= F.col("end_day")).alias("e7"),
        (F.date_add(F.col("d0"), 14) <= F.col("end_day")).alias("e14"),
    )
    d2 = days.select(F.col("user_id").alias("du"), F.col("day").alias("d_day"))
    flags = (
        eligible.join(d2, F.col("du") == F.col("user_id"))
        .groupBy("user_id", "e1", "e7", "e14")
        .agg(
            F.max(
                F.when(F.col("d_day") == F.date_add(F.col("d0"), 1), 1).otherwise(0)
            ).alias("r1"),
            F.max(
                F.when(F.col("d_day") == F.date_add(F.col("d0"), 7), 1).otherwise(0)
            ).alias("r7"),
            F.max(
                F.when(F.col("d_day") == F.date_add(F.col("d0"), 14), 1).otherwise(0)
            ).alias("r14"),
        )
    )
    return flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.round(
            F.sum(F.when(F.col("e1"), F.col("r1")).otherwise(0)).cast("double")
            / F.sum(F.when(F.col("e1"), 1).otherwise(0)), 6,
        ).alias("d1_retention"),
        F.round(
            F.sum(F.when(F.col("e7"), F.col("r7")).otherwise(0)).cast("double")
            / F.sum(F.when(F.col("e7"), 1).otherwise(0)), 6,
        ).alias("d7_retention"),
        F.round(
            F.sum(F.when(F.col("e14"), F.col("r14")).otherwise(0)).cast("double")
            / F.sum(F.when(F.col("e14"), 1).otherwise(0)), 6,
        ).alias("d14_retention"),
    )


# ---------------------------------------------------------------------------
# Session abandonment rate (outcome classification per session)
# ---------------------------------------------------------------------------

@query(
    "session_abandonment_rate",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_type,
             epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts))
               AS gap_us
      FROM events
    ),
    sess AS (
      SELECT user_id, sid,
             CAST(MIN(ts) AS DATE) AS day,
             MAX(CASE WHEN event_type IN ('view', 'click') THEN 1 ELSE 0 END)
               AS browsed,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS bought
      FROM (
        SELECT user_id, ts, event_type,
               SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS sid
        FROM ordered
      )
      GROUP BY user_id, sid
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN browsed = 1 AND bought = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_abandoned,
           ROUND(CAST(SUM(CASE WHEN browsed = 1 AND bought = 0 THEN 1 ELSE 0 END)
                      AS DOUBLE)
                 / SUM(CASE WHEN browsed = 1 THEN 1 ELSE 0 END), 6)
             AS abandonment_rate
    FROM sess GROUP BY day
    """,
)
def session_abandonment_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session ABANDONMENT — the daily share of browsing sessions
    (contains a view or click) that end without a purchase: the
    conversion team's primary leak metric, computed at the SESSION
    grain the way checkout analytics define it (user-grain
    'did they ever buy' hides same-day recovery; event-grain counts
    double). Reuses the 30-minute gaps-and-islands sessionizer, then
    one outcome flag per session and a per-day rollup with the
    browsing-session denominator (a purchase-only session — deep link,
    re-order — is neither abandoned nor counted). Same session
    substrate as `peak_concurrency_analysis` and
    `interval_overlap_join`."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    wuser = Window.partitionBy("user_id").orderBy("ts")
    sess = (
        ev.select(
            "user_id", "ts", "event_type",
            F.when(
                F.lag("ts").over(wuser).isNull()
                | (
                    F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wuser))
                    > 1800000000
                ), 1,
            ).otherwise(0).alias("is_start"),
        )
        .withColumn(
            "sid",
            F.sum("is_start").over(wuser.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").cast("date").alias("day"),
            F.max(
                F.when(F.col("event_type").isin("view", "click"), 1).otherwise(0)
            ).alias("browsed"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("bought"),
        )
    )
    abandoned = F.when((F.col("browsed") == 1) & (F.col("bought") == 0), 1).otherwise(0)
    return sess.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum(abandoned).cast("bigint").alias("n_abandoned"),
        F.round(
            F.sum(abandoned).cast("double")
            / F.sum(F.when(F.col("browsed") == 1, 1).otherwise(0)), 6,
        ).alias("abandonment_rate"),
    )


# ---------------------------------------------------------------------------
# Multiwindow SLO burn-rate alerts (SRE error-budget policy)
# ---------------------------------------------------------------------------

@query(
    "slo_burn_rate_multiwindow",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             COUNT(*) AS n,
             SUM(CASE WHEN value < 10 THEN 1 ELSE 0 END) AS errs
      FROM events GROUP BY 1
    ),
    win AS (
      SELECT day, n, errs,
             SUM(errs) OVER w1 AS e1, SUM(n) OVER w1 AS n1,
             SUM(errs) OVER w7 AS e7, SUM(n) OVER w7 AS n7
      FROM daily
      WINDOW w1 AS (ORDER BY day RANGE BETWEEN INTERVAL 0 DAY PRECEDING
                                          AND CURRENT ROW),
             w7 AS (ORDER BY day RANGE BETWEEN INTERVAL 6 DAY PRECEDING
                                          AND CURRENT ROW)
    )
    SELECT day,
           ROUND(CAST(e1 AS DOUBLE) / n1 / 0.10, 4) AS burn_1d,
           ROUND(CAST(e7 AS DOUBLE) / n7 / 0.10, 4) AS burn_7d,
           (CAST(e1 AS DOUBLE) / n1 / 0.10 > 1.0
            AND CAST(e7 AS DOUBLE) / n7 / 0.10 > 1.0) AS page_alert
    FROM win
    """,
)
def slo_burn_rate_multiwindow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SRE MULTIWINDOW burn-rate alert (error budget policy): with
    a 10% error-rate SLO, burn rate = observed-rate / budget-rate over
    a short (1d) AND a long (7d) window, and the page fires only when
    BOTH exceed 1x — the short window gives fast detection, the long
    window stops a 5-minute blip from paging at 3am (the flapping
    problem single-window alerts have). 'Errors' here are the
    low-value event proxy; the windows are calendar-exact RANGE frames
    over the daily rollup (gap-correct like
    `range_frame_trailing_revenue`), integer counts until the final
    two ratios. One row per day with both burn rates and the paging
    decision — the table an alert rule evaluates."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("value") < 10, 1).otherwise(0)).alias("errs"),
    )
    ed = F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
    w1 = Window.orderBy(ed).rangeBetween(0, 0)
    w7 = Window.orderBy(ed).rangeBetween(-6, 0)
    win = daily.select(
        "day",
        F.sum("errs").over(w1).alias("e1"), F.sum("n").over(w1).alias("n1"),
        F.sum("errs").over(w7).alias("e7"), F.sum("n").over(w7).alias("n7"),
    )
    b1 = F.col("e1").cast("double") / F.col("n1") / 0.10
    b7 = F.col("e7").cast("double") / F.col("n7") / 0.10
    return win.select(
        "day",
        F.round(b1, 4).alias("burn_1d"),
        F.round(b7, 4).alias("burn_7d"),
        ((b1 > 1.0) & (b7 > 1.0)).alias("page_alert"),
    )


# ---------------------------------------------------------------------------
# Little's law identity (L = lambda x W, pinned exactly on session data)
# ---------------------------------------------------------------------------

@query(
    "littles_law_identity",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts,
             epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts))
               AS gap_us
      FROM events
    ),
    sess AS (
      SELECT user_id, sid,
             epoch_us(MIN(ts)) AS s_us, epoch_us(MAX(ts)) AS e_us
      FROM (
        SELECT user_id, ts,
               SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS sid
        FROM ordered
      ) GROUP BY user_id, sid
    ),
    horizon AS (
      SELECT MIN(s_us) AS t0, MAX(e_us) AS t1 FROM sess
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
             CAST(SUM(e_us - s_us) AS BIGINT) AS total_busy_us
      FROM sess
    )
    SELECT a.n_sessions,
           ROUND(CAST(a.total_busy_us AS DOUBLE) / (h.t1 - h.t0), 6)
             AS avg_concurrency_L,
           ROUND(CAST(a.n_sessions AS DOUBLE) / (h.t1 - h.t0) * 1000000.0, 9)
             AS arrival_rate_per_sec,
           ROUND(CAST(a.total_busy_us AS DOUBLE) / a.n_sessions / 1000000.0, 4)
             AS avg_duration_sec_W,
           ABS(CAST(a.total_busy_us AS DOUBLE) / (h.t1 - h.t0)
               - CAST(a.n_sessions AS DOUBLE) / (h.t1 - h.t0)
                 * (CAST(a.total_busy_us AS DOUBLE) / a.n_sessions)) < 1e-9
             AS littles_law_holds
    FROM agg a CROSS JOIN horizon h
    """,
)
def littles_law_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LITTLE'S LAW on the session data — L = λ·W (time-average
    concurrency = arrival rate x average duration), the queueing
    identity capacity planning rests on: here L is total busy
    session-seconds over the horizon, λ is sessions per second, W is
    mean session duration, and the identity holds EXACTLY by algebra
    (both sides reduce to Σdur/T — the pinned boolean proves the
    pipeline computes each quantity consistently, the way
    `incremental_agg_maintenance` pins its merge). Why it matters:
    any TWO of (L, λ, W) give the third — measure arrivals and
    durations, get concurrency (peak sizing, cf.
    `peak_concurrency_analysis` for the max rather than the mean)
    without ever sampling state. Integer-microsecond sums end to
    end; three scalars and a 1-row report."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    wuser = Window.partitionBy("user_id").orderBy("ts")
    sess = (
        ev.select(
            "user_id", "ts",
            F.when(
                F.lag("ts").over(wuser).isNull()
                | (
                    F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wuser))
                    > 1800000000
                ), 1,
            ).otherwise(0).alias("is_start"),
        )
        .withColumn(
            "sid",
            F.sum("is_start").over(wuser.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.unix_micros(F.min("ts")).alias("s_us"),
            F.unix_micros(F.max("ts")).alias("e_us"),
        )
    )
    horizon = sess.agg(F.min("s_us").alias("t0"), F.max("e_us").alias("t1"))
    agg = sess.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum(F.col("e_us") - F.col("s_us")).cast("bigint").alias("total_busy_us"),
    )
    j = agg.crossJoin(F.broadcast(horizon))
    L = F.col("total_busy_us").cast("double") / (F.col("t1") - F.col("t0"))
    lam = F.col("n_sessions").cast("double") / (F.col("t1") - F.col("t0"))
    W = F.col("total_busy_us").cast("double") / F.col("n_sessions")
    return j.select(
        "n_sessions",
        F.round(L, 6).alias("avg_concurrency_L"),
        F.round(lam * 1000000.0, 9).alias("arrival_rate_per_sec"),
        F.round(W / 1000000.0, 4).alias("avg_duration_sec_W"),
        (F.abs(L - lam * W) < 1e-9).alias("littles_law_holds"),
    )


# ---------------------------------------------------------------------------
# Probabilistic record linkage — Fellegi-Sunter scoring over blocked pairs
# ---------------------------------------------------------------------------

# Agreement/disagreement weights log2(m/u) / log2((1-m)/(1-u)) for the three
# compared fields, precomputed once so Spark and DuckDB share the exact same
# double literals (runtime log() in two engines can differ in the last ulp).
_FS_W = {
    "name": (8.891784, -4.31904),     # m=0.95, u=0.002
    "bal": (5.491853, -3.292782),     # m=0.90, u=0.02
    "seg": (1.847997, -2.906891),     # m=0.90, u=0.25
}

@query(
    "record_linkage_fellegi_sunter",
    oracle=f"""
    WITH a AS (
      SELECT c_custkey AS a_id, UPPER(c_name) AS a_name, c_nationkey AS nk,
             c_mktsegment AS a_seg, c_acctbal AS a_bal
      FROM customer
    ),
    b AS (
      SELECT c_custkey + 1000000 AS b_id, c_custkey AS b_true,
             UPPER(c_name) AS b_name, c_nationkey AS nk,
             CASE WHEN c_custkey % 5 = 0 THEN 'CORRUPTED' ELSE c_mktsegment END AS b_seg,
             ROUND(c_acctbal) AS b_bal
      FROM customer WHERE c_custkey % 3 <> 0
    ),
    scored AS (
      SELECT a.a_id, b.b_id, b.b_true,
             (CASE WHEN a.a_name = b.b_name THEN {_FS_W['name'][0]!r} ELSE {_FS_W['name'][1]!r} END
              + CASE WHEN ABS(a.a_bal - b.b_bal) <= 0.5 THEN {_FS_W['bal'][0]!r} ELSE {_FS_W['bal'][1]!r} END
              + CASE WHEN a.a_seg = b.b_seg THEN {_FS_W['seg'][0]!r} ELSE {_FS_W['seg'][1]!r} END) AS score
      FROM a JOIN b ON SUBSTR(a.a_name, LENGTH(a.a_name) - 2, 3)
                     = SUBSTR(b.b_name, LENGTH(b.b_name) - 2, 3)
    ),
    classified AS (
      SELECT CASE WHEN score > 12.0 THEN 'match'
                  WHEN score > 0.0 THEN 'possible'
                  ELSE 'non_match' END AS decision,
             (a_id = b_true) AS is_true
      FROM scored
    )
    SELECT decision,
           COUNT(*) AS n_pairs,
           CAST(SUM(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true_pairs
    FROM classified GROUP BY decision
    """,
)
def record_linkage_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROBABILISTIC RECORD LINKAGE (Fellegi-Sunter 1969), the standard
    model behind entity-resolution engines like Splink: file B is a
    deterministic 'messy re-entry' of the customer file (ids shifted,
    balances rounded, every 5th segment corrupted, a third of rows
    absent), candidate pairs are BLOCKED on (nationkey, name-prefix) so
    the pair space is linear-ish rather than |A|x|B|, and each pair
    scores a sum of per-field log2(m/u) agreement weights — agreement
    on a high-discriminating field (name, u=0.002) earns +8.9 while
    agreement on a 4-value segment (u=0.25) earns only +1.8; the
    classic match/possible/non-match thresholds partition the scores.
    Weights are shared double LITERALS (no runtime log) and the
    three-term sum is fixed-order, so Spark and the oracle agree
    bitwise. Blocking is the 100 TB story: the equi-join on the
    name's last-3-digit suffix (1k blocks, each O(n/1k) a side)
    is a plain shuffle-hash join — never a cartesian — and scales
    with block-size skew, not corpus size; suffix blocks also admit
    REAL non-matching candidates (key 123 vs 1123), so all three
    decision bands are exercised.
    Output: per-decision pair counts plus how many are TRUE links
    (B row derived from that exact A row) — the precision/recall
    table a linkage tuner reads."""
    cust = _t(spark, sf_dir, "customer")
    a = cust.select(
        F.col("c_custkey").alias("a_id"),
        F.upper("c_name").alias("a_name"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("a_seg"),
        F.col("c_acctbal").alias("a_bal"),
    )
    b = cust.filter(F.col("c_custkey") % 3 != 0).select(
        (F.col("c_custkey") + 1000000).alias("b_id"),
        F.col("c_custkey").alias("b_true"),
        F.upper("c_name").alias("b_name"),
        F.col("c_nationkey").alias("nk"),
        F.when(F.col("c_custkey") % 5 == 0, F.lit("CORRUPTED"))
        .otherwise(F.col("c_mktsegment")).alias("b_seg"),
        F.round("c_acctbal").alias("b_bal"),
    )
    pairs = a.join(b, F.substring(a["a_name"], -3, 3) == F.substring(b["b_name"], -3, 3))
    wn, wb, ws = _FS_W["name"], _FS_W["bal"], _FS_W["seg"]
    score = (
        F.when(F.col("a_name") == F.col("b_name"), F.lit(wn[0])).otherwise(F.lit(wn[1]))
        + F.when(F.abs(F.col("a_bal") - F.col("b_bal")) <= 0.5, F.lit(wb[0])).otherwise(F.lit(wb[1]))
        + F.when(F.col("a_seg") == F.col("b_seg"), F.lit(ws[0])).otherwise(F.lit(ws[1]))
    )
    classified = pairs.select(
        F.when(score > 12.0, F.lit("match"))
        .when(score > 0.0, F.lit("possible"))
        .otherwise(F.lit("non_match")).alias("decision"),
        (F.col("a_id") == F.col("b_true")).alias("is_true"),
    )
    return classified.groupBy("decision").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("is_true"), 1).otherwise(0)).alias("n_true_pairs"),
    )


# ---------------------------------------------------------------------------
# l-diversity audit — the privacy check one step past k-anonymity
# ---------------------------------------------------------------------------

@query(
    "l_diversity_audit",
    oracle="""
    WITH classes AS (
      SELECT c_nationkey, c_mktsegment,
             COUNT(*) AS k_size,
             COUNT(DISTINCT CAST(FLOOR(c_acctbal / 2000.0) AS BIGINT)) AS l_distinct
      FROM customer
      GROUP BY c_nationkey, c_mktsegment
    )
    SELECT c_nationkey, c_mktsegment, k_size, l_distinct,
           (k_size >= 5) AS meets_k5,
           (l_distinct >= 3) AS meets_l3
    FROM classes
    """,
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-DIVERSITY (Machanavajjhala 2007) — the audit one step past
    `k_anonymity_audit`: k-anonymity stops re-identification but not
    ATTRIBUTE disclosure (a class of 50 people all sharing one salary
    band leaks the band without naming anyone), so each equivalence
    class over the quasi-identifiers (nation, segment) must also carry
    >= l DISTINCT values of the sensitive attribute (balance band,
    2k-wide). One hash aggregate with COUNT DISTINCT inside — Spark
    runs it as a two-phase partial/final expand, no second shuffle.
    Output: every equivalence class with its k, its l, and both
    compliance flags — the release-readiness table a privacy review
    signs off on."""
    cust = _t(spark, sf_dir, "customer")
    classes = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("k_size"),
        F.countDistinct(
            F.floor(F.col("c_acctbal") / 2000.0).cast("bigint")
        ).alias("l_distinct"),
    )
    return classes.select(
        "c_nationkey", "c_mktsegment", "k_size", "l_distinct",
        (F.col("k_size") >= 5).alias("meets_k5"),
        (F.col("l_distinct") >= 3).alias("meets_l3"),
    )


# ---------------------------------------------------------------------------
# Mutual information between two categorical views of the event stream
# ---------------------------------------------------------------------------

@query(
    "mutual_information_features",
    oracle="""
    WITH base AS (
      SELECT event_type AS x, CAST(FLOOR(value / 50.0) AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL
    ),
    joint AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS cxy FROM base GROUP BY x, y),
    mx AS (SELECT x, CAST(SUM(cxy) AS BIGINT) AS cx FROM joint GROUP BY x),
    my AS (SELECT y, CAST(SUM(cxy) AS BIGINT) AS cy FROM joint GROUP BY y),
    tot AS (SELECT CAST(SUM(cxy) AS BIGINT) AS n FROM joint),
    mi_terms AS (
      SELECT CAST(ROUND(j.cxy * ln(CAST(j.cxy * t.n AS DOUBLE) / (mx.cx * my.cy))
                        * 1000000.0) AS BIGINT) AS t6
      FROM joint j JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot t
    ),
    hx_terms AS (
      SELECT CAST(ROUND(cx * ln(CAST(t.n AS DOUBLE) / cx) * 1000000.0) AS BIGINT) AS t6
      FROM mx CROSS JOIN tot t
    ),
    hy_terms AS (
      SELECT CAST(ROUND(cy * ln(CAST(t.n AS DOUBLE) / cy) * 1000000.0) AS BIGINT) AS t6
      FROM my CROSS JOIN tot t
    )
    SELECT t.n AS n_events,
           ROUND(CAST((SELECT SUM(t6) FROM mi_terms) AS DOUBLE) / 1000000.0 / t.n, 6) AS mi_nats,
           ROUND(CAST((SELECT SUM(t6) FROM hx_terms) AS DOUBLE) / 1000000.0 / t.n, 6) AS h_x,
           ROUND(CAST((SELECT SUM(t6) FROM hy_terms) AS DOUBLE) / 1000000.0 / t.n, 6) AS h_y,
           ROUND((CAST((SELECT SUM(t6) FROM mi_terms) AS DOUBLE) / 1000000.0 / t.n)
                 / SQRT((CAST((SELECT SUM(t6) FROM hx_terms) AS DOUBLE) / 1000000.0 / t.n)
                        * (CAST((SELECT SUM(t6) FROM hy_terms) AS DOUBLE) / 1000000.0 / t.n)), 6)
             AS nmi_sqrt
    FROM tot t
    """,
)
def mutual_information_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL INFORMATION between event_type and the 50-wide value band
    — the model-free dependence measure feature selection ranks
    candidate features by (I(X;Y)=0 iff independent; unlike Pearson it
    sees any relationship, not just linear). Everything stays in exact
    integer counts until the log: each term feeds ln() a RATIO OF
    INT64 PRODUCTS (cxy*N)/(cx*cy) so both engines call libm on the
    identical double, per-term results round to integer MICRO-NATS,
    and the final sums are order-independent integer adds (the
    `kl_divergence_langs` replay-exactness recipe). Also emits the
    marginal entropies and the sqrt-normalized NMI (the [0,1]
    clustering-comparison form). Joint table is |X|x|Y| (~50 cells) —
    the aggregate is partial-aggregable and the joins are broadcast-
    sized at any corpus scale."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = ev.select(
        F.col("event_type").alias("x"),
        F.floor(F.col("value") / 50.0).cast("bigint").alias("y"),
    )
    joint = base.groupBy("x", "y").agg(F.count(F.lit(1)).cast("bigint").alias("cxy"))
    mx = joint.groupBy("x").agg(F.sum("cxy").cast("bigint").alias("cx"))
    my = joint.groupBy("y").agg(F.sum("cxy").cast("bigint").alias("cy"))
    tot = joint.agg(F.sum("cxy").cast("bigint").alias("n"))
    mi6 = (
        joint.join(F.broadcast(mx), "x").join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                F.col("cxy")
                * F.log((F.col("cxy") * F.col("n")).cast("double") / (F.col("cx") * F.col("cy")))
                * 1000000.0
            ).cast("bigint").alias("t6")
        )
        .agg(F.sum("t6").alias("mi6"))
    )
    hx6 = (
        mx.crossJoin(F.broadcast(tot))
        .select(
            F.round(
                F.col("cx") * F.log(F.col("n").cast("double") / F.col("cx")) * 1000000.0
            ).cast("bigint").alias("t6")
        )
        .agg(F.sum("t6").alias("hx6"))
    )
    hy6 = (
        my.crossJoin(F.broadcast(tot))
        .select(
            F.round(
                F.col("cy") * F.log(F.col("n").cast("double") / F.col("cy")) * 1000000.0
            ).cast("bigint").alias("t6")
        )
        .agg(F.sum("t6").alias("hy6"))
    )
    j = tot.crossJoin(F.broadcast(mi6)).crossJoin(F.broadcast(hx6)).crossJoin(F.broadcast(hy6))
    mi = F.col("mi6").cast("double") / 1000000.0 / F.col("n")
    hx = F.col("hx6").cast("double") / 1000000.0 / F.col("n")
    hy = F.col("hy6").cast("double") / 1000000.0 / F.col("n")
    return j.select(
        F.col("n").alias("n_events"),
        F.round(mi, 6).alias("mi_nats"),
        F.round(hx, 6).alias("h_x"),
        F.round(hy, 6).alias("h_y"),
        F.round(mi / F.sqrt(hx * hy), 6).alias("nmi_sqrt"),
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation per market segment (integer Σd² formula)
# ---------------------------------------------------------------------------

@query(
    "spearman_rank_correlation",
    oracle="""
    WITH j AS (
      SELECT c.c_mktsegment AS seg, o.o_orderkey AS k,
             o.o_totalprice AS price, c.c_acctbal AS bal
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    ranked AS (
      SELECT seg,
             ROW_NUMBER() OVER (PARTITION BY seg ORDER BY price, k) AS rp,
             ROW_NUMBER() OVER (PARTITION BY seg ORDER BY bal, k) AS rb
      FROM j
    ),
    agg AS (
      SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM((rp - rb) * (rp - rb)) AS BIGINT) AS sum_d2
      FROM ranked GROUP BY seg
    )
    SELECT seg, n, sum_d2,
           ROUND(1.0 - 6.0 * sum_d2 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * n - 1.0)), 6)
             AS spearman_rho
    FROM agg
    """,
)
def spearman_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN'S RHO between order price and the customer's account
    balance, per market segment — the robust (monotonic, not linear)
    correlation; Pearson on RANKS, computed via the exact integer
    Σd² identity rho = 1 - 6Σd²/(n(n²-1)) so the whole pipeline is
    integer arithmetic until one final division (no mean-centering,
    no float accumulation order to disagree on). Ranks are dense
    per-segment windows — PARTITIONED, so no single-partition global
    sort (the `global_id_assignment` scale rule); ties broken by
    orderkey for a well-defined permutation. At 100 TB the segment
    partitioning is the parallelism unit; a global variant would
    range-partition the sort the way `zorder_layout_key` does.
    Output: one row per segment with n, Σd², and rho."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    from pyspark.sql.window import Window

    j = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("seg"),
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.col("c_acctbal").alias("bal"),
    )
    ranked = j.select(
        "seg",
        F.row_number().over(Window.partitionBy("seg").orderBy("price", "k")).alias("rp"),
        F.row_number().over(Window.partitionBy("seg").orderBy("bal", "k")).alias("rb"),
    )
    agg = ranked.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("rp") - F.col("rb")) * (F.col("rp") - F.col("rb")))
        .cast("bigint").alias("sum_d2"),
    )
    rho = 1.0 - 6.0 * F.col("sum_d2") / (
        F.col("n").cast("double") * (F.col("n").cast("double") * F.col("n") - 1.0)
    )
    return agg.select("seg", "n", "sum_d2", F.round(rho, 6).alias("spearman_rho"))


# ---------------------------------------------------------------------------
# Chi-square independence test + Cramér's V over the event contingency table
# ---------------------------------------------------------------------------

@query(
    "chi_square_independence",
    oracle="""
    WITH base AS (
      SELECT event_type AS x, CAST(FLOOR(value / 50.0) AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL
    ),
    joint AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS o FROM base GROUP BY x, y),
    mx AS (SELECT x, CAST(SUM(o) AS BIGINT) AS cx FROM joint GROUP BY x),
    my AS (SELECT y, CAST(SUM(o) AS BIGINT) AS cy FROM joint GROUP BY y),
    tot AS (
      SELECT CAST(SUM(o) AS BIGINT) AS n,
             CAST((SELECT COUNT(*) FROM mx) AS BIGINT) AS kx,
             CAST((SELECT COUNT(*) FROM my) AS BIGINT) AS ky
      FROM joint
    ),
    cells AS (
      SELECT CAST(ROUND(
               CAST(j.o * t.n - mx.cx * my.cy AS DOUBLE)
               * CAST(j.o * t.n - mx.cx * my.cy AS DOUBLE)
               / CAST(t.n * mx.cx * my.cy AS DOUBLE) * 1000000.0
             ) AS BIGINT) AS t6,
             CAST(ROUND(
               CAST(mx.cx * my.cy AS DOUBLE) / t.n * 1000000.0
             ) AS BIGINT) AS e6
      FROM joint j JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot t
    ),
    s AS (
      -- zero cells (o=0) each contribute (0-e)^2/e = e; their total is
      -- n - sum(e over observed cells) in closed form, so no zero-cell
      -- row ever materializes
      SELECT SUM(t6) + (SELECT n * 1000000 FROM tot) - SUM(e6) AS s6
      FROM cells
    )
    SELECT t.n AS n_events,
           (t.kx - 1) * (t.ky - 1) AS dof,
           ROUND(CAST((SELECT s6 FROM s) AS DOUBLE) / 1000000.0, 4) AS chi2,
           ROUND(CAST((SELECT s6 FROM s) AS DOUBLE) / 1000000.0
                 / ((t.kx - 1) * (t.ky - 1)), 4) AS chi2_per_dof,
           ROUND(SQRT(CAST((SELECT s6 FROM s) AS DOUBLE) / 1000000.0
                      / (t.n * CASE WHEN t.kx < t.ky THEN t.kx - 1 ELSE t.ky - 1 END)), 6)
             AS cramers_v
    FROM tot t
    """,
)
def chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEARSON'S CHI-SQUARE test of independence on the (event_type x
    value-band) contingency table, plus CRAMÉR'S V — the [0,1] effect
    size that, unlike the raw statistic, doesn't grow with n (the A/B
    platform's guard against 'significant but trivial'). The identity
    used keeps everything exactly replayable: (o-e)²/e is rewritten as
    d²/(n·cx·cy) with d = o·n - cx·cy an EXACT int64 (never squared in
    integer space — d² would overflow at sf0.1; the square happens in
    IEEE double where +-*/ are bit-identical across engines), each
    cell micro-rounds to int, the sum is order-free integer addition;
    ZERO cells' contributions (each (0-e)^2/e = e) enter via the closed
    form n - Σ_observed e, so no empty cell ever materializes.
    Contingency table is |X|x|Y| (~50 cells) from one partial-agg pass
    over the fact table; marginal joins are broadcast at any scale.
    Output: n, degrees of freedom, chi2, chi2/dof, Cramér's V."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = ev.select(
        F.col("event_type").alias("x"),
        F.floor(F.col("value") / 50.0).cast("bigint").alias("y"),
    )
    joint = base.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    mx = joint.groupBy("x").agg(F.sum("o").cast("bigint").alias("cx"))
    my = joint.groupBy("y").agg(F.sum("o").cast("bigint").alias("cy"))
    kx = mx.agg(F.count(F.lit(1)).cast("bigint").alias("kx"))
    ky = my.agg(F.count(F.lit(1)).cast("bigint").alias("ky"))
    tot = (
        joint.agg(F.sum("o").cast("bigint").alias("n"))
        .crossJoin(F.broadcast(kx)).crossJoin(F.broadcast(ky))
    )
    d = (F.col("o") * F.col("n") - F.col("cx") * F.col("cy")).cast("double")
    cells6 = (
        joint.join(F.broadcast(mx), "x").join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                d * d / (F.col("n") * F.col("cx") * F.col("cy")).cast("double")
                * 1000000.0
            ).cast("bigint").alias("t6"),
            F.round(
                (F.col("cx") * F.col("cy")).cast("double") / F.col("n")
                * 1000000.0
            ).cast("bigint").alias("e6"),
        )
        .agg(F.sum("t6").alias("s6"), F.sum("e6").alias("se6"))
    )
    j = tot.crossJoin(F.broadcast(cells6))
    # zero cells (o=0, cx>0, cy>0) each contribute (0-e)^2/e = e to
    # Pearson's statistic; summing only observed cells UNDERSTATED chi2
    # (round-5 replication finding: 16.33 vs the true 20.01 at sf0.001).
    # Their total is n - sum(e over observed) in closed form.
    chi2 = (
        F.col("s6") + F.col("n") * 1000000 - F.col("se6")
    ).cast("double") / 1000000.0
    dof = (F.col("kx") - 1) * (F.col("ky") - 1)
    mindim = F.when(F.col("kx") < F.col("ky"), F.col("kx") - 1).otherwise(F.col("ky") - 1)
    return j.select(
        F.col("n").alias("n_events"),
        dof.alias("dof"),
        F.round(chi2, 4).alias("chi2"),
        F.round(chi2 / dof, 4).alias("chi2_per_dof"),
        F.round(F.sqrt(chi2 / (F.col("n") * mindim)), 6).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# Decision stump — exact best Gini split via cumulative bucket counts
# ---------------------------------------------------------------------------

@query(
    "decision_stump_best_split",
    oracle="""
    WITH base AS (
      SELECT CAST(FLOOR(value / 10.0) AS BIGINT) AS bucket,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS pos
      FROM events WHERE value IS NOT NULL
    ),
    buckets AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pos) AS BIGINT) AS p
      FROM base GROUP BY bucket
    ),
    cum AS (
      SELECT bucket,
             SUM(n) OVER (ORDER BY bucket) AS nl,
             SUM(p) OVER (ORDER BY bucket) AS pl,
             (SELECT SUM(n) FROM buckets) AS nt,
             (SELECT SUM(p) FROM buckets) AS pt
      FROM buckets
    ),
    cand AS (
      SELECT CAST((bucket + 1) * 10.0 AS DOUBLE) AS threshold,
             CAST(nl AS BIGINT) AS n_left, CAST(nt - nl AS BIGINT) AS n_right,
             CAST(pl AS BIGINT) AS pos_left, CAST(pt - pl AS BIGINT) AS pos_right,
             CAST(ROUND(
               (2.0 * pl * (nl - pl) / CAST(nl AS DOUBLE)
                + 2.0 * (pt - pl) * ((nt - nl) - (pt - pl)) / CAST(nt - nl AS DOUBLE))
               / CAST(nt AS DOUBLE) * 1000000.0) AS BIGINT) AS gini6
      FROM cum WHERE nl < nt
    )
    SELECT threshold, n_left, n_right, pos_left, pos_right,
           ROUND(CAST(gini6 AS DOUBLE) / 1000000.0, 6) AS weighted_gini
    FROM cand
    QUALIFY ROW_NUMBER() OVER (ORDER BY gini6, threshold) = 1
    """,
)
def decision_stump_best_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECISION STUMP learning — the exact best binary split of `value`
    for predicting click events by weighted GINI IMPURITY, the inner
    loop of every tree ensemble (XGBoost/LightGBM grow trees from
    exactly this histogram-of-buckets + cumulative-scan shape). One
    partial-agg pass builds the (bucket, count, positives) histogram
    (~50 rows), a single ordered prefix-scan turns it into every
    candidate split's left/right class counts SIMULTANEOUSLY (the
    cumulative trick that makes split-finding O(buckets) not
    O(buckets x rows)), and binary Gini is computed as 2p(1-p) scaled
    to micro-units for a tie-free integer argmin. The window is over
    the ~50-row histogram, not the fact table — single-partition is
    FINE there (histogram size is fixed by bucketing, independent of
    corpus scale). Output: the winning threshold with its split
    counts and impurity — the stump a boosting round would commit."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    from pyspark.sql.window import Window

    base = ev.select(
        F.floor(F.col("value") / 10.0).cast("bigint").alias("bucket"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("pos"),
    )
    buckets = base.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("p"),
    )
    tot = buckets.agg(
        F.sum("n").cast("bigint").alias("nt"), F.sum("p").cast("bigint").alias("pt")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = buckets.select(
        "bucket",
        F.sum("n").over(w).alias("nl"),
        F.sum("p").over(w).alias("pl"),
    ).crossJoin(F.broadcast(tot))
    nl, pl = F.col("nl"), F.col("pl")
    nr, pr = F.col("nt") - nl, F.col("pt") - pl
    gini6 = F.round(
        (
            2.0 * pl * (nl - pl) / nl.cast("double")
            + 2.0 * pr * (nr - pr) / nr.cast("double")
        )
        / F.col("nt").cast("double")
        * 1000000.0
    ).cast("bigint")
    cand = cum.filter(nl < F.col("nt")).select(
        ((F.col("bucket") + 1) * 10.0).alias("threshold"),
        nl.cast("bigint").alias("n_left"),
        nr.cast("bigint").alias("n_right"),
        pl.cast("bigint").alias("pos_left"),
        pr.cast("bigint").alias("pos_right"),
        gini6.alias("gini6"),
    )
    best = cand.withColumn(
        "rn", F.row_number().over(Window.orderBy("gini6", "threshold"))
    ).filter(F.col("rn") == 1)
    return best.select(
        "threshold", "n_left", "n_right", "pos_left", "pos_right",
        F.round(F.col("gini6").cast("double") / 1000000.0, 6).alias("weighted_gini"),
    )
