"""Corpus segment: phash near-dup, label propagation, WL, Bellman-Ford, funnels, TPC-H Q1/Q18, calibration.

Queries 218-249 of the registration order. The monolithic queries.py
was split in round 5 into contiguous registration-order slices; this
file's internal order plus the package __init__'s import sequence
preserve the order that tools/verify_ledger.py audits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from quantum_rag_data_pipeline_spark.operators import graph as graph_ops
from quantum_rag_data_pipeline_spark.operators import similarity as sim_ops
from quantum_rag_data_pipeline_spark.operators import text as text_ops
from quantum_rag_data_pipeline_spark.paths import landing_root
from quantum_rag_data_pipeline_spark.queries._registry import _t, query



# ---------------------------------------------------------------------------
# Seasonally-adjusted anomaly detection (trend + weekday + robust MAD gate)
# ---------------------------------------------------------------------------

@query(
    "seasonal_adjusted_anomalies",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS rev
      FROM orders GROUP BY 1
    ),
    trended AS (
      SELECT day, rev,
             ROUND(CAST(SUM(rev) OVER w AS DOUBLE) / COUNT(*) OVER w, 4) AS trend
      FROM daily
      WINDOW w AS (ORDER BY day RANGE BETWEEN INTERVAL 3 DAY PRECEDING
                                          AND INTERVAL 3 DAY FOLLOWING)
    ),
    detr AS (
      SELECT day, isodow(day) AS wd,
             CAST(ROUND(CAST(rev AS DOUBLE) - trend, 4) AS DECIMAL(30,4)) AS dt
      FROM trended
    ),
    seas AS (
      SELECT wd, ROUND(CAST(SUM(dt) AS DOUBLE) / COUNT(*), 4) AS s
      FROM detr GROUP BY wd
    ),
    resid AS (
      SELECT d.day, CAST(ROUND(CAST(d.dt AS DOUBLE) - s.s, 4) AS DECIMAL(30,4)) AS r
      FROM detr d JOIN seas s ON s.wd = d.wd
    ),
    med AS (
      SELECT r AS m FROM (
        SELECT r, ROW_NUMBER() OVER (ORDER BY r, day) AS rk, COUNT(*) OVER () AS n
        FROM resid
      ) WHERE rk = (n + 1) // 2
    ),
    absdev AS (
      SELECT resid.day, resid.r, ABS(CAST(resid.r - med.m AS DECIMAL(30,4))) AS ad
      FROM resid CROSS JOIN med
    ),
    mad AS (
      SELECT ad AS m FROM (
        SELECT ad, ROW_NUMBER() OVER (ORDER BY ad, day) AS rk, COUNT(*) OVER () AS n
        FROM absdev
      ) WHERE rk = (n + 1) // 2
    )
    SELECT a.day, ROUND(CAST(a.r AS DOUBLE), 2) AS residual,
           a.ad > 3 * mad.m AS is_anomaly
    FROM absdev a CROSS JOIN mad
    WHERE a.ad > 3 * mad.m
    """,
)
def seasonal_adjusted_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted anomaly detection — the composition the
    pieces were built for: the centered-MA trend and weekday seasonal
    index (`weekday_seasonality_decomposition`) come OFF the daily
    revenue first, and only the residual is gated, with a robust
    3-MAD threshold (`length_outlier_mad`'s estimator) — so a normal
    weekend dip is never an 'anomaly' and a true outlier isn't hidden
    inside weekday variance, the failure modes of naive z-scoring the
    raw series. Median and MAD are exact order statistics over the
    daily residual table (rule 4 of docs/DETERMINISM.md); output is
    the anomalous days only. Everything runs over one-row-per-day
    aggregates; the fact table is scanned once."""
    o = _t(spark, sf_dir, "orders")
    from pyspark.sql.window import Window

    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("rev")
    )
    w = (
        Window.orderBy(F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")))
        .rangeBetween(-3, 3)
    )
    detr = daily.select(
        "day",
        (F.weekday("day") + 1).alias("wd"),
        F.round(
            F.col("rev").cast("double")
            - F.round(
                F.sum("rev").over(w).cast("double") / F.count(F.lit(1)).over(w), 4
            ), 4,
        ).cast("decimal(30,4)").alias("dt"),
    )
    seas = detr.groupBy("wd").agg(
        F.round(F.sum("dt").cast("double") / F.count(F.lit(1)), 4).alias("s")
    )
    resid = detr.join(F.broadcast(seas), "wd").select(
        "day",
        F.round(F.col("dt").cast("double") - F.col("s"), 4)
        .cast("decimal(30,4)").alias("r"),
    )

    def exact_median(df: DataFrame, col: str, out: str) -> DataFrame:
        ranked = df.select(
            F.col(col),
            F.row_number().over(Window.orderBy(col, "day")).alias("rk"),
            F.count(F.lit(1)).over(
                Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            ).alias("n"),
        )
        return ranked.filter(
            F.col("rk") == F.floor((F.col("n") + 1) / 2)
        ).select(F.col(col).alias(out))

    med = exact_median(resid, "r", "m")
    absdev = resid.crossJoin(F.broadcast(med)).select(
        "day", "r",
        F.abs((F.col("r") - F.col("m")).cast("decimal(30,4)")).alias("ad"),
    )
    mad = exact_median(absdev, "ad", "mm")
    return (
        absdev.crossJoin(F.broadcast(mad))
        .filter(F.col("ad") > 3 * F.col("mm"))
        .select(
            "day",
            F.round(F.col("r").cast("double"), 2).alias("residual"),
            (F.col("ad") > 3 * F.col("mm")).alias("is_anomaly"),
        )
    )


# ---------------------------------------------------------------------------
# Price/volume variance decomposition (FP&A bridge analysis)
# ---------------------------------------------------------------------------

@query(
    "price_volume_decomposition",
    oracle="""
    WITH p1 AS (
      SELECT o_orderpriority,
             COUNT(*) AS n,
             SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS rev_c
      FROM orders
      WHERE o_orderdate >= DATE '1999-01-01' AND o_orderdate < DATE '2000-01-01'
      GROUP BY 1
    ),
    p2 AS (
      SELECT o_orderpriority,
             COUNT(*) AS n,
             SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS rev_c
      FROM orders
      WHERE o_orderdate >= DATE '2000-01-01' AND o_orderdate < DATE '2001-01-01'
      GROUP BY 1
    )
    SELECT p1.o_orderpriority,
           CAST((p2.rev_c - p1.rev_c) AS DOUBLE) / 100.0 AS total_change,
           ROUND(CAST(p2.n - p1.n AS DOUBLE) * (CAST(p1.rev_c AS DOUBLE) / p1.n)
                 / 100.0, 2) AS volume_effect,
           ROUND(CAST(p2.n AS DOUBLE)
                 * (CAST(p2.rev_c AS DOUBLE) / p2.n
                    - CAST(p1.rev_c AS DOUBLE) / p1.n) / 100.0, 2) AS price_effect,
           ABS(CAST(p2.rev_c - p1.rev_c AS DOUBLE) / 100.0
               - (CAST(p2.n - p1.n AS DOUBLE) * (CAST(p1.rev_c AS DOUBLE) / p1.n)
                  / 100.0
                  + CAST(p2.n AS DOUBLE)
                    * (CAST(p2.rev_c AS DOUBLE) / p2.n
                       - CAST(p1.rev_c AS DOUBLE) / p1.n) / 100.0)) < 0.1
             AS bridge_closes
    FROM p1 JOIN p2 USING (o_orderpriority)
    """,
)
def price_volume_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/volume bridge — the FP&A decomposition of a revenue change
    between two years: ΔR = Δn·p̄₁ (volume effect, at old average
    price) + n₂·Δp̄ (price effect, at new volume), which telescopes
    EXACTLY — the 'bridge closes' flag proves the two effects sum to
    the total change (within float tolerance of the cent grid), the
    property that makes the decomposition auditable rather than
    approximate. One conditional-aggregate pass per period (count +
    integer-cent revenue), a 5-row join, closed-form scalar math —
    the whole analysis is two scans of pruned year slices regardless
    of table size."""
    o = _t(spark, sf_dir, "orders")

    def period(y1: str, y2: str, tag: str) -> DataFrame:
        return (
            o.filter(
                (F.col("o_orderdate") >= F.lit(y1).cast("date"))
                & (F.col("o_orderdate") < F.lit(y2).cast("date"))
            )
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias(f"n{tag}"),
                F.sum(F.round(F.col("o_totalprice") * 100.0).cast("bigint"))
                .alias(f"rev{tag}"),
            )
        )

    p1 = period("1999-01-01", "2000-01-01", "1")
    p2 = period("2000-01-01", "2001-01-01", "2")
    j = p1.join(p2, "o_orderpriority")
    avg1 = F.col("rev1").cast("double") / F.col("n1")
    avg2 = F.col("rev2").cast("double") / F.col("n2")
    total = (F.col("rev2") - F.col("rev1")).cast("double") / 100.0
    vol = F.round((F.col("n2") - F.col("n1")).cast("double") * avg1 / 100.0, 2)
    price = F.round(F.col("n2").cast("double") * (avg2 - avg1) / 100.0, 2)
    return j.select(
        "o_orderpriority",
        total.alias("total_change"),
        vol.alias("volume_effect"),
        price.alias("price_effect"),
        (
            F.abs(
                total
                - (
                    (F.col("n2") - F.col("n1")).cast("double") * avg1 / 100.0
                    + F.col("n2").cast("double") * (avg2 - avg1) / 100.0
                )
            ) < 0.1
        ).alias("bridge_closes"),
    )


# ---------------------------------------------------------------------------
# Bag-of-words dedup (word-order-permutation near-duplicates)
# ---------------------------------------------------------------------------

@query(
    "dedup_bag_of_words",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           t -> t <> '')), ' ')) AS bow_fp,
             md5(array_to_string(
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           t -> t <> ''), ' ')) AS exact_fp
      FROM documents
    ),
    groups AS (
      SELECT bow_fp,
             COUNT(*) AS n_docs,
             COUNT(DISTINCT exact_fp) AS n_exact_variants
      FROM toks GROUP BY bow_fp
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bow_groups,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_docs > 1 THEN n_docs - 1 ELSE 0 END) AS BIGINT)
             AS n_bow_duplicates,
           CAST(SUM(CASE WHEN n_exact_variants > 1
                         THEN n_exact_variants - 1 ELSE 0 END) AS BIGINT)
             AS n_order_permuted_variants
    FROM groups
    """,
)
def dedup_bag_of_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words fingerprint dedup — the recipe that catches what
    exact-hash dedup can't: documents whose WORDS are identical but
    reordered (template reshuffles, list-order jitter, scraped tables)
    collide on the hash of their SORTED token multiset while their
    exact fingerprints differ. The report separates the two layers:
    bow-level duplicates (removable under the bag policy) vs
    order-permuted variants specifically (bow collision + exact
    difference — the pairs ONLY this recipe finds; zero on this corpus
    is itself the finding, and the pytest proves the detector isn't
    blind by feeding it a constructed permuted pair). Same
    hash-only-shuffle shape as `dedup_exact`: text never leaves the
    map side."""
    d = _t(spark, sf_dir, "documents")
    # materialize the token array once: both fingerprints referencing the
    # tokenize expression directly evaluated it twice per row (catalyst
    # CSE stops at lambdas; a multiply-referenced non-cheap alias keeps
    # the projections un-collapsed).
    toks = d.select(
        "doc_id", text_ops.tokens("text").alias("_tk")
    ).select(
        "doc_id",
        F.md5(F.array_join(F.array_sort("_tk"), " ")).alias("bow_fp"),
        F.md5(F.array_join("_tk", " ")).alias("exact_fp"),
    )
    groups = toks.groupBy("bow_fp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("exact_fp").alias("n_exact_variants"),
    )
    return groups.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bow_groups"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum(
            F.when(F.col("n_docs") > 1, F.col("n_docs") - 1).otherwise(0)
        ).cast("bigint").alias("n_bow_duplicates"),
        F.sum(
            F.when(
                F.col("n_exact_variants") > 1, F.col("n_exact_variants") - 1
            ).otherwise(0)
        ).cast("bigint").alias("n_order_permuted_variants"),
    )


# ---------------------------------------------------------------------------
# IGNORE NULLS window-function semantics (first/last/nth over sparse data)
# ---------------------------------------------------------------------------

@query(
    "window_ignore_nulls_matrix",
    oracle="""
    WITH t AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'view' THEN NULL ELSE value END AS v
      FROM events WHERE user_id < 40
    ),
    w AS (
      SELECT user_id,
             first_value(v IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS first_nn,
             last_value(v IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS last_nn,
             nth_value(v, 2 IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS second_nn,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM t
    )
    SELECT user_id,
           ROUND(first_nn, 2) AS first_non_null,
           ROUND(last_nn, 2) AS last_non_null,
           ROUND(second_nn, 2) AS second_non_null
    FROM w WHERE rn = 1
    """,
)
def window_ignore_nulls_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IGNORE NULLS window contract over sparse measurements:
    first_value / last_value / nth_value skipping nulls — what LOCF,
    'latest known reading', and 'second observation' analytics actually
    need, and a place where the DEFAULT (RESPECT NULLS) silently
    returns null and ships a broken dashboard. The frame must be the
    full partition (the last_value default frame ends at CURRENT ROW —
    the other classic silent bug, pinned here by using the explicit
    UNBOUNDED frame). Both engines accept the same IGNORE NULLS
    syntax; one row per user via the rn=1 filter. Values round on the
    cent grid at the output."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    from pyspark.sql.window import Window

    t = ev.select(
        "user_id", "ts", "event_id",
        F.when(F.col("event_type") == "view", F.lit(None).cast("double"))
        .otherwise(F.col("value")).alias("v"),
    )
    full = (
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w = t.select(
        "user_id",
        F.first("v", ignorenulls=True).over(full).alias("first_nn"),
        F.last("v", ignorenulls=True).over(full).alias("last_nn"),
        F.nth_value("v", 2, ignoreNulls=True).over(full).alias("second_nn"),
        F.row_number().over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ).alias("rn"),
    )
    return w.filter(F.col("rn") == 1).select(
        "user_id",
        F.round("first_nn", 2).alias("first_non_null"),
        F.round("last_nn", 2).alias("last_non_null"),
        F.round("second_nn", 2).alias("second_non_null"),
    )


# ---------------------------------------------------------------------------
# regexp_extract_all surface (multi-match extraction in one pass)
# ---------------------------------------------------------------------------

@query(
    "regexp_extract_all_surface",
    oracle="""
    WITH ex AS (
      SELECT doc_id,
             regexp_extract_all(text, '\\b[a-z]*(?:ss|tt|ll|ee|oo|rr)[a-z]*\\b') AS doubled,
             regexp_extract_all(text, '\\b[st][a-z]+\\b') AS st_words
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           CAST(len(doubled) AS INT) AS n_doubled,
           COALESCE(array_to_string(list_sort(list_distinct(doubled)), ','), '')
             AS doubled_sorted,
           CAST(len(st_words) AS INT) AS n_st_words
    FROM ex
    WHERE len(doubled) > 0 OR len(st_words) > 0
    """,
)
def regexp_extract_all_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-match regex extraction — `regexp_extract_all` pulls EVERY
    match into an array in one engine-side pass (the log-parsing /
    entity-scraping primitive; a per-match UDF loop would be the slow
    path this replaces). Patterns stay inside RE2's subset — DuckDB's
    regex engine has NO backreferences ((.)\\1 parses in Java, fails
    in RE2; found the hard way), so doubled letters are a
    non-capturing alternation and both engines also disagree on the
    DEFAULT extraction group (Spark: group 1, DuckDB: full match) —
    idx=0 pins the full-match contract. Extracted arrays are dedup'd and sorted before
    the string boundary (match ORDER and capture-group extraction
    detail are engine specifics; the match SET on the full pattern is
    the contract). Counts stay ints."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    ex = d.select(
        "doc_id",
        # idx=0 = the FULL match: Spark defaults to capture group 1,
        # DuckDB to group 0 — the one semantic difference in this API
        F.regexp_extract_all(
            "text", F.lit(r"\b[a-z]*(?:ss|tt|ll|ee|oo|rr)[a-z]*\b"), F.lit(0)
        ).alias("doubled"),
        F.regexp_extract_all(
            "text", F.lit(r"\b[st][a-z]+\b"), F.lit(0)
        ).alias("st_words"),
    )
    return ex.filter(
        (F.size("doubled") > 0) | (F.size("st_words") > 0)
    ).select(
        "doc_id",
        F.size("doubled").cast("int").alias("n_doubled"),
        F.array_join(F.array_sort(F.array_distinct("doubled")), ",")
        .alias("doubled_sorted"),
        F.size("st_words").cast("int").alias("n_st_words"),
    )


# ---------------------------------------------------------------------------
# Label-propagation community detection (modal-neighbor label, 2 rounds)
# ---------------------------------------------------------------------------

@query(
    "label_propagation_communities",
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
    nodes AS (SELECT DISTINCT s AS node FROM both_),
    l0 AS (SELECT node, node AS lbl FROM nodes),
    v1 AS (
      SELECT b.t AS node, l.lbl, COUNT(*) AS c
      FROM both_ b JOIN l0 l ON l.node = b.s GROUP BY b.t, l.lbl
    ),
    l1 AS (
      SELECT node,
             9999999 - (MAX(c * 10000000 + (9999999 - lbl)) % 10000000) AS lbl
      FROM v1 GROUP BY node
    ),
    v2 AS (
      SELECT b.t AS node, l.lbl, COUNT(*) AS c
      FROM both_ b JOIN l1 l ON l.node = b.s GROUP BY b.t, l.lbl
    ),
    l2 AS (
      SELECT node,
             9999999 - (MAX(c * 10000000 + (9999999 - lbl)) % 10000000) AS lbl
      FROM v2 GROUP BY node
    )
    SELECT lbl AS community,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM l2 GROUP BY lbl
    ORDER BY n_members DESC, community LIMIT 10
    """,
)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation community detection (2 semi-synchronous
    rounds): every node adopts its neighbors' MODAL label — the
    community algorithm that needs no modularity optimization and runs
    as two grouped aggregates per round (neighbor-label counts, then
    per-node argmax). Distinct from connected components (min-label
    finds REACHABILITY; modal-label finds DENSITY — a bridge edge
    can't flip a whole community). The argmax is the tie-free integer
    composite c·10^7 + (10^7-1-lbl): max count wins, smallest label
    breaks ties, and the winning label decodes back arithmetically —
    no engine-specific arg_max semantics in play (DETERMINISM.md rule
    5). Top-10 communities by size."""
    # shared materialized co-purchase edge artifact (built once per
    # session+testdata; oracle still derives the graph from lineitem)
    edges = graph_ops.copurchase_edges(spark, sf_dir)
    both = edges.select(F.col("u").alias("s"), F.col("v").alias("t")).unionAll(
        edges.select(F.col("v").alias("s"), F.col("u").alias("t"))
    ).localCheckpoint(eager=False)
    lbl = both.select(F.col("s").alias("node")).distinct().withColumn(
        "lbl", F.col("node")
    )
    for _ in range(2):
        votes = (
            both.join(lbl.select(F.col("node").alias("s"), "lbl"), "s")
            .groupBy(F.col("t").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        lbl = votes.groupBy("node").agg(
            (
                9999999
                - (
                    F.max(F.col("c") * 10000000 + (9999999 - F.col("lbl")))
                    % 10000000
                )
            ).alias("lbl")
        ).localCheckpoint(eager=False)
    return (
        lbl.groupBy(F.col("lbl").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
        .orderBy(F.col("n_members").desc(), "community")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Weisfeiler-Lehman node signatures (structural-role refinement)
# ---------------------------------------------------------------------------

@query(
    "wl_node_signatures",
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
    deg AS (SELECT s AS node, COUNT(*) AS d FROM both_ GROUP BY s),
    s0 AS (SELECT node, md5(CAST(d AS VARCHAR)) AS sig FROM deg),
    n1 AS (
      SELECT b.t AS node,
             md5(array_to_string(list(l.sig ORDER BY l.sig), '|')) AS nbr
      FROM both_ b JOIN s0 l ON l.node = b.s GROUP BY b.t
    ),
    s1 AS (
      SELECT s0.node, md5(s0.sig || ':' || n1.nbr) AS sig
      FROM s0 JOIN n1 USING (node)
    ),
    n2 AS (
      SELECT b.t AS node,
             md5(array_to_string(list(l.sig ORDER BY l.sig), '|')) AS nbr
      FROM both_ b JOIN s1 l ON l.node = b.s GROUP BY b.t
    ),
    s2 AS (
      SELECT s1.node, md5(s1.sig || ':' || n2.nbr) AS sig
      FROM s1 JOIN n2 USING (node)
    )
    SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(DISTINCT sig) FROM s0) AS BIGINT) AS classes_r0,
           CAST((SELECT COUNT(DISTINCT sig) FROM s1) AS BIGINT) AS classes_r1,
           CAST(COUNT(DISTINCT sig) AS BIGINT) AS classes_r2,
           (SELECT COUNT(DISTINCT sig) FROM s1) >=
             (SELECT COUNT(DISTINCT sig) FROM s0)
           AND COUNT(DISTINCT sig) >= (SELECT COUNT(DISTINCT sig) FROM s1)
             AS refinement_monotone
    FROM s2
    """,
)
def wl_node_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weisfeiler-Lehman color refinement over the co-purchase graph —
    the structural-role fingerprint behind graph-isomorphism tests and
    GNN expressiveness bounds: each round, a node's signature becomes
    the hash of (own signature + SORTED neighbor signatures), so nodes
    stay same-class only while their neighborhoods look identical at
    growing radius. Each round is one grouped sorted-concat + hash —
    the same postings-shaped shuffle as every graph pass here, strings
    never longer than 32 hex chars times degree. The query pins WL's
    REFINEMENT theorem at the gate: class counts can only grow round
    over round (refinement_monotone TRUE), with degree classes as
    round 0. Sorted aggregation makes the neighbor multiset canonical
    (DETERMINISM.md rule 7)."""
    # shared materialized co-purchase edge artifact (built once per
    # session+testdata; oracle still derives the graph from lineitem)
    edges = graph_ops.copurchase_edges(spark, sf_dir)
    both = edges.select(F.col("u").alias("s"), F.col("v").alias("t")).unionAll(
        edges.select(F.col("v").alias("s"), F.col("u").alias("t"))
    ).localCheckpoint(eager=False)
    deg = both.groupBy(F.col("s").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    sig = deg.select("node", F.md5(F.col("d").cast("string")).alias("sig"))
    counts = [sig.select(F.countDistinct("sig").alias("c"))]
    for _ in range(2):
        nbr = (
            both.join(sig.select(F.col("node").alias("s"), "sig"), "s")
            .groupBy(F.col("t").alias("node"))
            .agg(
                F.md5(
                    F.array_join(F.sort_array(F.collect_list("sig")), "|")
                ).alias("nbr")
            )
        )
        sig = sig.join(nbr, "node").select(
            "node", F.md5(F.concat(F.col("sig"), F.lit(":"), F.col("nbr"))).alias("sig")
        ).localCheckpoint(eager=False)
        counts.append(sig.select(F.countDistinct("sig").alias("c")))
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n"))
    c0 = counts[0].select(F.col("c").alias("c0"))
    c1 = counts[1].select(F.col("c").alias("c1"))
    c2 = counts[2].select(F.col("c").alias("c2"))
    return (
        n_nodes.crossJoin(F.broadcast(c0)).crossJoin(F.broadcast(c1))
        .crossJoin(F.broadcast(c2))
        .select(
            F.col("n").cast("bigint").alias("n_nodes"),
            F.col("c0").cast("bigint").alias("classes_r0"),
            F.col("c1").cast("bigint").alias("classes_r1"),
            F.col("c2").cast("bigint").alias("classes_r2"),
            ((F.col("c1") >= F.col("c0")) & (F.col("c2") >= F.col("c1")))
            .alias("refinement_monotone"),
        )
    )


# ---------------------------------------------------------------------------
# Chained streaming window aggregations (daily -> weekly, two stateful ops)
# ---------------------------------------------------------------------------

@query(
    "streaming_chained_window_aggs",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, COUNT(*) AS n FROM events GROUP BY 1
    ),
    wm AS (SELECT MAX(ts) - INTERVAL 2 DAY AS w FROM events),
    weekly AS (
      SELECT CAST(DATE '1970-01-01'
                  + INTERVAL ((datediff('day', DATE '1970-01-01',
                                        CAST(day AS DATE)) // 7) * 7) DAY
                  AS TIMESTAMP) AS week_start,
             MAX(n) AS max_daily, SUM(n) AS total, COUNT(*) AS n_days
      FROM daily GROUP BY 1
    )
    SELECT week_start,
           CAST(max_daily AS BIGINT) AS max_daily_events,
           CAST(total AS BIGINT) AS total_events,
           CAST(n_days AS BIGINT) AS n_days
    FROM weekly CROSS JOIN wm
    WHERE week_start + INTERVAL 7 DAY <= wm.w
    """,
)
def streaming_chained_window_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful window aggregations in one streaming query —
    daily counts re-aggregated into weekly rollups (max/sum/count of
    the daily values) — the multi-grain streaming pipeline Spark
    could not express before 3.4 (two stateful operators back to
    back; `window_time()` turns the inner window struct back into an
    event-time column the outer window can consume). Emission
    composes: a week emits only when the watermark passes its end, by
    which point every daily window inside it has closed — so emitted
    weekly rows are COMPLETE, the property the oracle pins by deriving
    the same closed-week set (epoch-aligned 7-day buckets, end ≤
    max(ts) − 2d) from the batch data. The withheld tail week is the
    append-mode contract, same as `streaming_watermark_append_
    semantics` one grain down."""
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    tag = os.path.basename(os.path.normpath(sf_dir))
    landing = f"{landing_root()}/{tag}/events"
    os.makedirs(landing, exist_ok=True)
    link = f"{landing}/events.parquet"
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/events.parquet", link)
    from pyspark.sql.types import LongType, TimestampNTZType

    stream = spark.readStream.schema(schema).parquet(landing)
    if isinstance(stream.schema["ts"].dataType, LongType):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(stream.schema["ts"].dataType, TimestampNTZType):
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    daily = (
        stream.withWatermark("ts", "2 days")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    weekly = (
        daily.groupBy(F.window(F.window_time("w"), "7 days").alias("ww"))
        .agg(
            F.max("n").alias("max_daily"),
            F.sum("n").alias("total"),
            F.count(F.lit(1)).alias("n_days"),
        )
    )
    from quantum_rag_data_pipeline_spark.streaming.daily_stream import (
        drain_available_now,
    )

    out = drain_available_now(
        weekly, "chained_window_aggs", output_mode="append",
        sink="blocks",  # bounded: one row per closed week
    )
    return out.select(
        F.col("ww.start").alias("week_start"),
        F.col("max_daily").cast("bigint").alias("max_daily_events"),
        F.col("total").cast("bigint").alias("total_events"),
        F.col("n_days").cast("bigint").alias("n_days"),
    )


# ---------------------------------------------------------------------------
# Bounded Bellman-Ford shortest paths (weighted relaxation rounds)
# ---------------------------------------------------------------------------

@query(
    "bellman_ford_bounded",
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
      SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS co
      FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY u, v HAVING COUNT(*) >= 2
    ),
    wboth AS (
      SELECT u AS s, v AS t, 1000000 // co AS w FROM edges
      UNION ALL SELECT v, u, 1000000 // co FROM edges
    ),
    src AS (SELECT MIN(s) AS s0 FROM wboth),
    d0 AS (
      SELECT DISTINCT s AS node,
             CASE WHEN s = src.s0 THEN CAST(0 AS BIGINT) ELSE NULL END AS dist
      FROM wboth CROSS JOIN src
    ),
    d1 AS (
      SELECT n.node,
             LEAST(COALESCE(n.dist, 9223372036854775807),
                   COALESCE(MIN(p.dist + e.w), 9223372036854775807)) AS dist
      FROM d0 n
      LEFT JOIN wboth e ON e.t = n.node
      LEFT JOIN d0 p ON p.node = e.s AND p.dist IS NOT NULL
      GROUP BY n.node, n.dist
    ),
    d1c AS (
      SELECT node, CASE WHEN dist = 9223372036854775807 THEN NULL
                        ELSE dist END AS dist FROM d1
    ),
    d2 AS (
      SELECT n.node,
             LEAST(COALESCE(n.dist, 9223372036854775807),
                   COALESCE(MIN(p.dist + e.w), 9223372036854775807)) AS dist
      FROM d1c n
      LEFT JOIN wboth e ON e.t = n.node
      LEFT JOIN d1c p ON p.node = e.s AND p.dist IS NOT NULL
      GROUP BY n.node, n.dist
    ),
    d2c AS (
      SELECT node, CASE WHEN dist = 9223372036854775807 THEN NULL
                        ELSE dist END AS dist FROM d2
    )
    SELECT node, CAST(dist AS BIGINT) AS dist_micro,
           CAST(ROW_NUMBER() OVER (ORDER BY dist, node) AS INT) AS rk
    FROM d2c WHERE dist IS NOT NULL
    ORDER BY dist, node LIMIT 20
    """,
)
def bellman_ford_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round Bellman-Ford over the WEIGHTED co-purchase graph
    (edge cost 1e6 // co-count — strong ties are short): distances
    relax per round as dist(v) = min(dist(v), min over in-edges of
    dist(u) + w) — one outer-joined grouped MIN per round, the
    message-passing shape shared with BFS but carrying WEIGHTED
    integer distances (BFS counts hops; this finds cheapest paths,
    and at round k the distances are exact for all ≤ k-edge paths).
    Integer edge costs make every relaxation exact (no float adds to
    order), and the infinity sentinel is explicit int64-max so the
    min-fold needs no null semantics gymnastics. Two rounds from the
    lowest-id node; 20 closest nodes out."""
    from pyspark.sql.window import Window

    # shared materialized co-purchase edge artifact (built once per
    # session+testdata; oracle still derives the graph from lineitem)
    edges = graph_ops.copurchase_edges(spark, sf_dir, with_counts=True)
    w = F.expr("1000000 div co")
    wboth = edges.select(
        F.col("u").alias("s"), F.col("v").alias("t"), w.alias("w")
    ).unionAll(
        edges.select(F.col("v").alias("s"), F.col("u").alias("t"), w.alias("w"))
    ).localCheckpoint(eager=False)
    src = wboth.agg(F.min("s").alias("s0"))
    INF = 9223372036854775807
    dist = (
        wboth.select(F.col("s").alias("node")).distinct()
        .crossJoin(F.broadcast(src))
        .select(
            "node",
            F.when(F.col("node") == F.col("s0"), F.lit(0).cast("bigint"))
            .alias("dist"),
        )
    )
    for _ in range(2):
        relax = (
            dist.alias("n")
            .join(wboth.alias("e"), F.col("e.t") == F.col("n.node"), "left")
            .join(
                dist.alias("p"),
                (F.col("p.node") == F.col("e.s")) & F.col("p.dist").isNotNull(),
                "left",
            )
            .groupBy(F.col("n.node").alias("node"), F.col("n.dist").alias("old"))
            .agg(
                F.least(
                    F.coalesce(F.col("old"), F.lit(INF)),
                    F.coalesce(F.min(F.col("p.dist") + F.col("e.w")), F.lit(INF)),
                ).alias("dist")
            )
        )
        dist = relax.select(
            "node",
            F.when(F.col("dist") == INF, F.lit(None).cast("bigint"))
            .otherwise(F.col("dist")).alias("dist"),
        ).localCheckpoint(eager=False)
    reach = dist.filter(F.col("dist").isNotNull())
    # TOP-20 PRE-CUT (round 14): the sorted-limit runs FIRST
    # (TakeOrderedAndProject — scalable) and row_number ranks the 20-row
    # frame; the old shape ranked every reachable node through an
    # unpartitioned window (SinglePartition full sort) before limiting.
    # Same total order (dist, node) both places → identical rows + ranks.
    return (
        reach.orderBy("dist", "node")
        .limit(20)
        .select(
            "node",
            F.col("dist").cast("bigint").alias("dist_micro"),
            F.row_number().over(Window.orderBy("dist", "node")).cast("int")
            .alias("rk"),
        )
        .orderBy("dist_micro", "node")  # keep the returned-frame order contract
    )


# ---------------------------------------------------------------------------
# Strict funnel with bounded step gaps (earliest-qualifying-next semantics)
# ---------------------------------------------------------------------------

@query(
    "strict_funnel_bounded_gaps",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS v_ts FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT v.user_id, v.v_ts, MIN(e.ts) AS c_ts
      FROM v JOIN events e ON e.user_id = v.user_id
        AND e.event_type = 'click'
        AND e.ts > v.v_ts AND e.ts <= v.v_ts + INTERVAL 1 HOUR
      GROUP BY v.user_id, v.v_ts
    ),
    p AS (
      SELECT c.user_id, c.v_ts, c.c_ts, MIN(e.ts) AS p_ts
      FROM c JOIN events e ON e.user_id = c.user_id
        AND e.event_type = 'purchase'
        AND e.ts > c.c_ts AND e.ts <= c.c_ts + INTERVAL 1 HOUR
      GROUP BY c.user_id, c.v_ts, c.c_ts
    )
    SELECT 'viewed' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(NULL AS DOUBLE) AS median_gap_seconds
    FROM v
    UNION ALL
    SELECT 'clicked_within_1h', COUNT(*),
           (SELECT CAST(g AS DOUBLE) / 1000000.0 FROM (
              SELECT epoch_us(c_ts) - epoch_us(v_ts) AS g,
                     ROW_NUMBER() OVER (ORDER BY epoch_us(c_ts) - epoch_us(v_ts),
                                        user_id) AS rk,
                     COUNT(*) OVER () AS n
              FROM c) WHERE rk = (n + 1) // 2)
    FROM c
    UNION ALL
    SELECT 'purchased_within_1h_of_click', COUNT(*),
           (SELECT CAST(g AS DOUBLE) / 1000000.0 FROM (
              SELECT epoch_us(p_ts) - epoch_us(c_ts) AS g,
                     ROW_NUMBER() OVER (ORDER BY epoch_us(p_ts) - epoch_us(c_ts),
                                        user_id) AS rk,
                     COUNT(*) OVER () AS n
              FROM p) WHERE rk = (n + 1) // 2)
    FROM p
    """,
)
def strict_funnel_bounded_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STRICT funnel — each step must follow the previous within a
    bounded gap (view -> click ≤ 1h -> purchase ≤ 1h), anchored at the
    user's FIRST view and advancing to the EARLIEST qualifying next
    event. `funnel_conversion` answers 'did the user ever do all
    three in order'; this answers 'did the SEQUENCE happen as a
    session-like flow' — the difference between intent attribution
    and coincidence, and the semantics real funnel products default
    to. Each stage is one bounded-interval join + grouped MIN
    (earliest-qualifier is an aggregate, not a window — co-keyed on
    user, no fan-out survives the MIN), with exact order-statistic
    median step gaps riding along. Monotone by construction; the
    pytest pins the stage counts against the unbounded funnel."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    v = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("v_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    c = (
        v.join(
            clicks,
            (F.col("cu") == F.col("user_id"))
            & (F.col("cts") > F.col("v_ts"))
            & (F.col("cts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy("user_id", "v_ts")
        .agg(F.min("cts").alias("c_ts"))
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    p = (
        c.join(
            purch,
            (F.col("pu") == F.col("user_id"))
            & (F.col("pts") > F.col("c_ts"))
            & (F.col("pts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy("user_id", "v_ts", "c_ts")
        .agg(F.min("pts").alias("p_ts"))
    )

    def stage(df: DataFrame, name: str, gap: Column | None) -> DataFrame:
        n = df.agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        if gap is None:
            return n.select(
                F.lit(name).alias("stage"), "n_users",
                F.lit(None).cast("double").alias("median_gap_seconds"),
            )
        # SCALE NOTE (round 15, VERDICT r14 item 5 — measured NEGATIVE
        # here, change reverted): the unpartitioned rank window below
        # moves the stage's gap frame to one task. At sf0.1 that frame
        # is 35 rows (clicked) / 1 row (purchased) and the two-level
        # replacement (1h/128 gap buckets + assign_global_ids, which is
        # sound because the funnel's 1-hour join bound makes fixed-width
        # buckets value-ordered) measured CONSISTENTLY slower — A/B
        # in OPTIMIZATION_r15.md §6: old min 0.843/med 0.883 s vs
        # two-level min 1.275/med 1.318 s, old won all 5 alternating
        # pairs (two extra exchanges + broadcast per median dominate a
        # 35-row sort). At 100 TB, converted-user frames are large and
        # the two-level shape recorded there IS the move — swap stage()'s
        # median for it there.
        g = df.select(gap.alias("g"), "user_id")
        med = g.select(
            "g",
            F.row_number().over(Window.orderBy("g", "user_id")).alias("rk"),
            F.count(F.lit(1)).over(
                Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            ).alias("nn"),
        ).filter(F.col("rk") == F.floor((F.col("nn") + 1) / 2)).agg(
            # agg, not select: an EMPTY stage must still yield one row
            # (NULL median) exactly like the oracle's scalar subquery
            (F.min("g").cast("double") / 1000000.0).alias("median_gap_seconds")
        )
        return n.crossJoin(F.broadcast(med)).select(
            F.lit(name).alias("stage"), "n_users", "median_gap_seconds"
        )

    # integer microsecond gaps: ordering and median selection stay exact
    gap_vc = F.unix_micros("c_ts") - F.unix_micros("v_ts")
    gap_cp = F.unix_micros("p_ts") - F.unix_micros("c_ts")
    return (
        stage(v, "viewed", None)
        .unionByName(stage(c, "clicked_within_1h", gap_vc))
        .unionByName(stage(p, "purchased_within_1h_of_click", gap_cp))
    )


# ---------------------------------------------------------------------------
# Growth accounting (new / retained / churned / resurrected users)
# ---------------------------------------------------------------------------

@query(
    "user_growth_accounting",
    oracle="""
    WITH weekly AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS wk
      FROM events
    ),
    firsts AS (SELECT user_id, MIN(wk) AS first_wk FROM weekly GROUP BY user_id),
    weeks AS (SELECT DISTINCT wk FROM weekly),
    lagged AS (
      SELECT w.wk,
             cur.user_id AS cur_user,
             prev.user_id AS prev_user,
             f.first_wk
      FROM weeks w
      LEFT JOIN weekly cur ON cur.wk = w.wk
      LEFT JOIN weekly prev ON prev.user_id = cur.user_id
                            AND prev.wk = w.wk - INTERVAL 7 DAY
      LEFT JOIN firsts f ON f.user_id = cur.user_id
    ),
    churn AS (
      SELECT CAST(p.wk + INTERVAL 7 DAY AS DATE) AS wk, COUNT(*) AS n_churned
      FROM weekly p
      WHERE NOT EXISTS (
        SELECT 1 FROM weekly n
        WHERE n.user_id = p.user_id AND n.wk = p.wk + INTERVAL 7 DAY
      ) AND p.wk + INTERVAL 7 DAY <= (SELECT MAX(wk) FROM weeks)
      GROUP BY p.wk
    )
    SELECT l.wk AS week_start,
           CAST(SUM(CASE WHEN l.first_wk = l.wk THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new,
           CAST(SUM(CASE WHEN l.prev_user IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_retained,
           CAST(SUM(CASE WHEN l.prev_user IS NULL AND l.first_wk < l.wk
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
           CAST(COALESCE(MAX(c.n_churned), 0) AS BIGINT) AS n_churned
    FROM lagged l LEFT JOIN churn c ON c.wk = l.wk
    GROUP BY l.wk
    """,
)
def user_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting — the four-quadrant weekly active-user ledger
    every growth team lives by: each week's actives split into NEW
    (first week ever), RETAINED (also active last week), RESURRECTED
    (active before, but not last week), plus the week's CHURN (active
    last week, gone this week) — and the identity
    WAU(t) = new + retained + resurrected holds by construction while
    WAU(t) − WAU(t−1) = new + resurrected − churned closes the ledger
    (the pytest pins both). One dedup to (user, week), one self-join
    at lag-7d, one first-week table — all co-keyed on user_id, no
    window over the raw events at all."""
    ev = _t(spark, sf_dir, "events")
    weekly = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("wk")
    ).distinct()
    firsts = weekly.groupBy("user_id").agg(F.min("wk").alias("first_wk"))
    prev = weekly.select(
        F.col("user_id").alias("p_user"), F.col("wk").alias("p_wk")
    )
    lagged = (
        weekly.join(
            prev,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("p_wk") == F.date_sub(F.col("wk"), 7)),
            "left",
        )
        .join(firsts, "user_id")
    )
    counts = lagged.groupBy(F.col("wk").alias("week_start")).agg(
        F.sum(F.when(F.col("first_wk") == F.col("wk"), 1).otherwise(0))
        .cast("bigint").alias("n_new"),
        F.sum(F.when(F.col("p_user").isNotNull(), 1).otherwise(0))
        .cast("bigint").alias("n_retained"),
        F.sum(
            F.when(
                F.col("p_user").isNull() & (F.col("first_wk") < F.col("wk")), 1
            ).otherwise(0)
        ).cast("bigint").alias("n_resurrected"),
    )
    nxt = weekly.select(
        F.col("user_id").alias("n_user"), F.col("wk").alias("n_wk")
    )
    max_wk = weekly.agg(F.max("wk").alias("mx"))
    churn = (
        weekly.join(
            nxt,
            (F.col("n_user") == F.col("user_id"))
            & (F.col("n_wk") == F.date_add(F.col("wk"), 7)),
            "left_anti",
        )
        .crossJoin(F.broadcast(max_wk))
        .filter(F.date_add(F.col("wk"), 7) <= F.col("mx"))
        .groupBy(F.date_add(F.col("wk"), 7).alias("week_start"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_churned"))
    )
    return counts.join(churn, "week_start", "left").select(
        "week_start", "n_new", "n_retained", "n_resurrected",
        F.coalesce(F.col("n_churned"), F.lit(0)).cast("bigint").alias("n_churned"),
    )


# ---------------------------------------------------------------------------
# Peak-concurrency analysis (interval sweep over session spans)
# ---------------------------------------------------------------------------

@query(
    "peak_concurrency_analysis",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts,
             epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts))
               AS gap_us
      FROM events
    ),
    starts AS (
      SELECT user_id, ts,
             CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END
               AS is_start
      FROM ordered
    ),
    sess AS (
      SELECT user_id,
             MIN(ts) AS s_ts, MAX(ts) AS e_ts
      FROM (
        SELECT user_id, ts,
               SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM starts
      )
      GROUP BY user_id, sid
    ),
    deltas AS (
      SELECT s_ts AS t, 1 AS d, user_id FROM sess
      UNION ALL
      SELECT e_ts, -1, user_id FROM sess
    ),
    swept AS (
      SELECT t, d,
             SUM(d) OVER (ORDER BY t, d, user_id ROWS UNBOUNDED PRECEDING)
               AS concurrent
      FROM deltas
    )
    SELECT CAST((SELECT COUNT(*) FROM sess) AS BIGINT) AS n_sessions,
           CAST(MAX(concurrent) AS BIGINT) AS peak_concurrent,
           (SELECT MIN(t) FROM swept
            WHERE concurrent = (SELECT MAX(concurrent) FROM swept))
             AS first_peak_at
    FROM swept
    """,
)
def peak_concurrency_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency — how many user sessions were open AT ONCE, and
    when the first peak happened: the interval-sweep algorithm
    (sessions become +1/−1 boundary events, a running sum over the
    time-ordered boundary stream IS the concurrency curve, its max the
    capacity-planning number). Sessions come from the standard 30-min
    gaps-and-islands; the sweep's ordering is made TOTAL with
    (t, delta, user) — ends sort before starts at the same instant
    (delta −1 < +1), the convention that decides whether back-to-back
    sessions count as overlapping, pinned rather than left to chance.
    The boundary stream is 2 rows per session — the sweep's global
    running sum runs over session-scale, not event-scale, data."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    wuser = Window.partitionBy("user_id").orderBy("ts")
    starts = ev.select(
        "user_id", "ts",
        F.when(
            F.lag("ts").over(wuser).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wuser))
                > 1800000000
            ), 1,
        ).otherwise(0).alias("is_start"),
    )
    sess = (
        starts.withColumn(
            "sid",
            F.sum("is_start").over(wuser.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s_ts"), F.max("ts").alias("e_ts"))
    )
    deltas = sess.select(
        F.col("s_ts").alias("t"), F.lit(1).alias("d"), "user_id"
    ).unionByName(
        sess.select(F.col("e_ts").alias("t"), F.lit(-1).alias("d"), "user_id")
    )
    sweep = Window.orderBy("t", "d", "user_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    # tools/ab.py, 10 pairs, sf0.1: 1.31 -> 2.23 s uncached, cached won 10/10
    swept = deltas.select(
        "t", F.sum("d").over(sweep).alias("concurrent")
    ).cache()
    peak = swept.agg(F.max("concurrent").alias("pk"))
    first_at = (
        swept.crossJoin(F.broadcast(peak))
        .filter(F.col("concurrent") == F.col("pk"))
        .agg(F.min("t").alias("first_peak_at"))
    )
    n_sess = sess.agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
    return (
        n_sess.crossJoin(F.broadcast(peak)).crossJoin(F.broadcast(first_at))
        .select(
            "n_sessions",
            F.col("pk").cast("bigint").alias("peak_concurrent"),
            "first_peak_at",
        )
    )


# ---------------------------------------------------------------------------
# 2-D Pareto skyline in one window pass (dominance without the n² join)
# ---------------------------------------------------------------------------

@query(
    "pareto_skyline_2d",
    oracle="""
    WITH pts AS (
      SELECT o_orderkey,
             CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS pc,
             CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                  AS BIGINT) AS ed
      FROM orders
    ),
    swept AS (
      SELECT o_orderkey, pc, ed,
             MAX(ed) OVER (ORDER BY pc DESC
                           RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS best_ed_higher_price
      FROM pts
    ),
    sky AS (
      SELECT o_orderkey, pc, ed FROM swept
      WHERE best_ed_higher_price IS NULL OR ed > best_ed_higher_price
    )
    SELECT o_orderkey,
           CAST(pc AS DOUBLE) / 100.0 AS price,
           CAST(DATE '1970-01-01' + INTERVAL (ed) DAY AS DATE) AS order_day,
           CAST((SELECT COUNT(*) FROM sky) AS BIGINT) AS skyline_size
    FROM sky
    ORDER BY pc DESC, o_orderkey LIMIT 25
    """,
)
def pareto_skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Pareto SKYLINE (maximal-vector) operator — orders no other
    order beats on BOTH price and recency — computed the way that
    scales: sort by price (integer cents) and keep a row iff its date
    beats the running max date over all STRICTLY higher-priced rows —
    a single calendar-exact RANGE window (1 PRECEDING on the cent
    grid excludes price ties, so equal-price rows can't dominate each
    other), turning the textbook O(n²) dominance self-join into one
    sort. This is the classic skyline query from the DB literature
    (Börzsönyi et al.) as a window idiom; ties and strictness are
    pinned by integer grids on both axes. Top-25 of the frontier by
    price, with the full frontier size riding along."""
    o = _t(spark, sf_dir, "orders")
    from pyspark.sql.window import Window

    pts = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100.0).cast("bigint").alias("pc"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).cast("bigint").alias("ed"),
    )
    w = Window.orderBy(F.col("pc").desc()).rangeBetween(
        Window.unboundedPreceding, -1
    )
    swept = pts.withColumn("best", F.max("ed").over(w))
    sky = swept.filter(
        F.col("best").isNull() | (F.col("ed") > F.col("best"))
    )
    size = sky.agg(F.count(F.lit(1)).cast("bigint").alias("skyline_size"))
    return (
        sky.crossJoin(F.broadcast(size))
        .select(
            "o_orderkey",
            (F.col("pc").cast("double") / 100.0).alias("price"),
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("ed").cast("int"))
            .alias("order_day"),
            "skyline_size",
        )
        .orderBy(F.col("price").desc(), "o_orderkey")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Multiset semantics: INTERSECT ALL / EXCEPT ALL vs their DISTINCT twins
# ---------------------------------------------------------------------------

@query(
    "multiset_ops_semantics",
    oracle="""
    WITH a AS (SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'),
    b AS (SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '2-HIGH')
    SELECT 'intersect_all' AS op, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b)
    UNION ALL
    SELECT 'intersect_distinct', CAST(COUNT(*) AS BIGINT)
    FROM (SELECT k FROM a INTERSECT SELECT k FROM b)
    UNION ALL
    SELECT 'except_all', CAST(COUNT(*) AS BIGINT)
    FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
    UNION ALL
    SELECT 'except_distinct', CAST(COUNT(*) AS BIGINT)
    FROM (SELECT k FROM a EXCEPT SELECT k FROM b)
    """,
)
def multiset_ops_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BAG vs SET operation semantics, quantified: INTERSECT ALL keeps
    min(multiplicity) copies per key and EXCEPT ALL subtracts
    multiplicities — while the DISTINCT forms collapse to membership.
    The gap between the two answers IS the duplicate structure of the
    inputs, and picking the wrong form is a classic silent-wrong-count
    bug (e.g. 'orders in both priority tiers' needs ALL; 'customers in
    both' needs DISTINCT). Spark's intersectAll/exceptAll implement
    the SQL-standard bag semantics with a counted hash aggregate —
    same shuffle shape as distinct, no row explosion."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("k")
    )
    b = o.filter(F.col("o_orderpriority") == "2-HIGH").select(
        F.col("o_custkey").alias("k")
    )

    def count_of(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("op"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )

    return (
        count_of(a.intersectAll(b), "intersect_all")
        .unionByName(count_of(a.intersect(b), "intersect_distinct"))
        .unionByName(count_of(a.exceptAll(b), "except_all"))
        .unionByName(count_of(a.subtract(b), "except_distinct"))
    )


# ---------------------------------------------------------------------------
# Window startTime offset (business-day alignment semantics)
# ---------------------------------------------------------------------------

@query(
    "window_origin_offset_semantics",
    oracle="""
    WITH w AS (
      SELECT CAST(date_trunc('day', ts - INTERVAL 6 HOUR) + INTERVAL 6 HOUR
                  AS TIMESTAMP) AS win_start,
             value
      FROM events
    )
    SELECT win_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT) AS value_cents
    FROM w GROUP BY win_start
    """,
)
def window_origin_offset_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling windows with a non-midnight ORIGIN — `window(ts, '1
    day', '1 day', '6 hours')` buckets events into 6am-to-6am
    'business days', the alignment ops teams actually report on (a
    midnight cut splits every night shift in half). The startTime
    parameter shifts the epoch-aligned window grid; the oracle derives
    the identical bucketing arithmetically (truncate the 6h-shifted
    timestamp, shift back) — pinning that Spark's window origin math
    is exactly the textbook floor((t - origin)/width) and not an
    engine quirk. Counts and integer-cent sums per business day."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 day", "1 day", "6 hours").alias("w")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.round(F.col("value") * 100.0).cast("bigint"))
            .cast("bigint").alias("value_cents"),
        )
        .select(F.col("w.start").alias("win_start"), "n_events", "value_cents")
    )


# ---------------------------------------------------------------------------
# Approximate distinct users in a STREAMING aggregation (sketches + state)
# ---------------------------------------------------------------------------

@query(
    "streaming_approx_distinct",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS stream_estimate_within_5pct,
           TRUE AS stream_equals_batch_estimate
    FROM events GROUP BY event_type
    """,
)
def streaming_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregation INSIDE a streaming query: per-type
    approx_count_distinct over the event stream (complete mode — the
    HLL± state lives in the state store and merges per micro-batch).
    The estimate must (a) match the BATCH estimate on identical data
    bit-for-bit — HLL merge is max-based, so batch vs micro-batch
    accumulation order is immaterial, the same mergeability contract
    `hll_sketch_mergeability` pins for the Datasketches variant — and
    (b) land within 5% of the exact count. Both pins ride as booleans
    (the estimate itself is engine-internal); the exact count is the
    oracle's replay. This is the DAU-dashboard shape: distinct-count
    state in O(sketch) bytes per key, not O(users)."""
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    tag = os.path.basename(os.path.normpath(sf_dir))
    landing = f"{landing_root()}/{tag}/events"
    os.makedirs(landing, exist_ok=True)
    link = f"{landing}/events.parquet"
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/events.parquet", link)
    stream = spark.readStream.schema(schema).parquet(landing)
    agg = stream.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("est")
    )
    from quantum_rag_data_pipeline_spark.streaming.daily_stream import (
        drain_available_now,
    )

    streamed = drain_available_now(
        agg, "stream_approx_distinct", output_mode="complete",
        sink="blocks",  # bounded: one row per event_type
    ).select(F.col("event_type"), F.col("est").alias("stream_est"))
    ev = _t(spark, sf_dir, "events")
    batch = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("batch_est"),
        F.countDistinct("user_id").cast("bigint").alias("exact_users"),
    )
    return streamed.join(batch, "event_type").select(
        "event_type", "exact_users",
        (
            F.abs(F.col("stream_est") - F.col("exact_users"))
            / F.col("exact_users") <= 0.05
        ).alias("stream_estimate_within_5pct"),
        (F.col("stream_est") == F.col("batch_est"))
        .alias("stream_equals_batch_estimate"),
    )


# ---------------------------------------------------------------------------
# Shadow-model comparison (old vs candidate scorer on identical traffic)
# ---------------------------------------------------------------------------

@query(
    "shadow_model_compare",
    oracle="""
    WITH feats AS (
      SELECT doc_id,
             ROUND(n_chars / 1000.0, 6) AS x1,
             ROUND((LENGTH(text) - LENGTH(REPLACE(text, ' ', '')))
                   / CAST(n_chars AS DOUBLE), 6) AS x2
      FROM documents
    ),
    scored AS (
      SELECT doc_id,
             ROUND(-0.2 + 0.5 * x1 + 1.0 * x2, 6) AS z_old,
             ROUND(-0.4 + 0.3 * x1 + 1.6 * x2, 6) AS z_new
      FROM feats
    ),
    decided AS (
      SELECT doc_id, z_old > 0 AS keep_old, z_new > 0 AS keep_new FROM scored
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN keep_old THEN 1 ELSE 0 END) AS BIGINT) AS kept_old,
           CAST(SUM(CASE WHEN keep_new THEN 1 ELSE 0 END) AS BIGINT) AS kept_new,
           CAST(SUM(CASE WHEN keep_old AND NOT keep_new THEN 1 ELSE 0 END)
                AS BIGINT) AS newly_dropped,
           CAST(SUM(CASE WHEN keep_new AND NOT keep_old THEN 1 ELSE 0 END)
                AS BIGINT) AS newly_kept,
           ROUND(CAST(SUM(CASE WHEN keep_old <> keep_new THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS decision_flip_rate
    FROM decided
    """,
)
def shadow_model_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHADOW DEPLOYMENT comparison — the MLOps gate before swapping a
    quality model: the candidate scorer runs on identical traffic next
    to the incumbent, and what matters is not offline accuracy but the
    DECISION DIFF — how many documents flip keep/drop, split by
    direction (newly_dropped is the risk; newly_kept is the recall
    claim). Both scorers are fixed-weight linear models over the same
    feature projection (one scan computes both — shadow evaluation is
    free when scoring is columnar), thresholded at zero so no sigmoid
    enters the replay. The flip rate is the number that decides
    whether the rollout needs a human review of the disagreement
    sample."""
    d = _t(spark, sf_dir, "documents")
    feats = d.select(
        "doc_id",
        F.round(F.col("n_chars") / 1000.0, 6).alias("x1"),
        F.round(
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "))))
            / F.col("n_chars").cast("double"), 6,
        ).alias("x2"),
    )
    scored = feats.select(
        "doc_id",
        (F.round(-0.2 + 0.5 * F.col("x1") + 1.0 * F.col("x2"), 6) > 0)
        .alias("keep_old"),
        (F.round(-0.4 + 0.3 * F.col("x1") + 1.6 * F.col("x2"), 6) > 0)
        .alias("keep_new"),
    )
    return scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("keep_old"), 1).otherwise(0)).cast("bigint")
        .alias("kept_old"),
        F.sum(F.when(F.col("keep_new"), 1).otherwise(0)).cast("bigint")
        .alias("kept_new"),
        F.sum(F.when(F.col("keep_old") & ~F.col("keep_new"), 1).otherwise(0))
        .cast("bigint").alias("newly_dropped"),
        F.sum(F.when(F.col("keep_new") & ~F.col("keep_old"), 1).otherwise(0))
        .cast("bigint").alias("newly_kept"),
        F.round(
            F.sum(
                F.when(F.col("keep_old") != F.col("keep_new"), 1).otherwise(0)
            ).cast("double") / F.count(F.lit(1)), 6,
        ).alias("decision_flip_rate"),
    )


# ---------------------------------------------------------------------------
# Business-day latency (closed-form weekday arithmetic, no calendar table)
# ---------------------------------------------------------------------------

@query(
    "business_days_latency",
    oracle="""
    WITH lc AS (
      SELECT l_orderkey, MIN(CAST(l_shipdate AS DATE)) AS first_ship
      FROM lineitem GROUP BY l_orderkey
    ),
    base AS (
      SELECT o.o_orderpriority,
             datediff('day', DATE '1970-01-05', CAST(o.o_orderdate AS DATE)) AS e1,
             datediff('day', DATE '1970-01-05', lc.first_ship) AS e2
      FROM orders o JOIN lc ON lc.l_orderkey = o.o_orderkey
    ),
    bd AS (
      SELECT o_orderpriority,
             (5 * (e2 // 7) + LEAST(e2 % 7, 5))
             - (5 * (e1 // 7) + LEAST(e1 % 7, 5)) AS bdays
      FROM base
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(bdays) AS DOUBLE) / COUNT(*), 4) AS avg_business_days,
           CAST(SUM(CASE WHEN bdays BETWEEN 0 AND 20 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_within_20bd
    FROM bd GROUP BY o_orderpriority
    """,
)
def business_days_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-first-ship latency in BUSINESS days — the SLA unit
    contracts are written in — via the closed-form weekday identity:
    with e = days since a Monday epoch (1970-01-05), the count of
    weekdays before e is f(e) = 5·(e div 7) + min(e mod 7, 5), and
    business days between two dates is just f(e₂) − f(e₁) — pure
    integer arithmetic, NO calendar dimension table, no explode, no
    join — which at 100 TB is the difference between a projection and
    a billion-row calendar join. (Holidays DO need a table — that's
    `delivery_completeness_audit`'s spine; weekends never do.) Rollup
    by priority with a 20-business-day SLA count."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    lc = li.groupBy("l_orderkey").agg(
        F.min(F.col("l_shipdate").cast("date")).alias("first_ship")
    )
    monday = F.lit("1970-01-05").cast("date")
    base = o.join(lc, o["o_orderkey"] == lc["l_orderkey"]).select(
        "o_orderpriority",
        F.datediff(F.col("o_orderdate").cast("date"), monday).alias("e1"),
        F.datediff(F.col("first_ship"), monday).alias("e2"),
    )

    def f(e: str) -> Column:
        return 5 * F.expr(f"{e} div 7") + F.least(F.expr(f"{e} % 7"), F.lit(5))

    bd = base.select(
        "o_orderpriority", (f("e2") - f("e1")).alias("bdays")
    )
    return bd.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(F.sum("bdays").cast("double") / F.count(F.lit(1)), 4)
        .alias("avg_business_days"),
        F.sum(F.when(F.col("bdays").between(0, 20), 1).otherwise(0))
        .cast("bigint").alias("n_within_20bd"),
    )


# ---------------------------------------------------------------------------
# Suffix-stripping normalization (stemming-lite vocabulary compression)
# ---------------------------------------------------------------------------

@query(
    "stemming_vocab_reduction",
    oracle="""
    WITH toks AS (
      SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                t -> t <> '')) AS w
      FROM documents WHERE lang = 'en'
    ),
    stemmed AS (
      SELECT w,
             CASE
               WHEN LENGTH(w) > 5 AND w LIKE '%ing' THEN LEFT(w, LENGTH(w) - 3)
               WHEN LENGTH(w) > 4 AND w LIKE '%ed' THEN LEFT(w, LENGTH(w) - 2)
               WHEN LENGTH(w) > 3 AND w LIKE '%es' THEN LEFT(w, LENGTH(w) - 2)
               WHEN LENGTH(w) > 3 AND w LIKE '%s' AND w NOT LIKE '%ss'
                 THEN LEFT(w, LENGTH(w) - 1)
               ELSE w
             END AS stem
      FROM toks
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT w) AS BIGINT) AS vocab_raw,
           CAST(COUNT(DISTINCT stem) AS BIGINT) AS vocab_stemmed,
           ROUND(1.0 - CAST(COUNT(DISTINCT stem) AS DOUBLE)
                       / COUNT(DISTINCT w), 6) AS vocab_reduction,
           CAST(SUM(CASE WHEN stem <> w THEN 1 ELSE 0 END) AS BIGINT)
             AS n_tokens_changed
    FROM stemmed
    """,
)
def stemming_vocab_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-stripping normalization (Porter step-1 lite: -ing/-ed/
    -es/-s with length guards and the -ss exception) and its effect on
    vocabulary size — the classic IR trade: smaller vocab = denser
    postings and better term recall, at the cost of conflations. The
    rules are pure CASE/LIKE column expressions inside codegen (a UDF
    stemmer would be the 10-100x-slower path for what is string
    suffix logic), and the report quantifies exactly what the
    normalization bought: raw vs stemmed vocabulary, reduction ratio,
    and how many token OCCURRENCES were touched. Feeds the same
    tokenizer the BM25/TF-IDF family uses, so the reduction number is
    directly actionable there."""
    d = _t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    toks = d.select(F.explode(text_ops.tokens("text")).alias("w"))
    ln = F.length("w")
    stem = (
        F.when(
            (ln > 5) & F.col("w").endswith("ing"), F.expr("LEFT(w, LENGTH(w) - 3)")
        )
        .when((ln > 4) & F.col("w").endswith("ed"), F.expr("LEFT(w, LENGTH(w) - 2)"))
        .when((ln > 3) & F.col("w").endswith("es"), F.expr("LEFT(w, LENGTH(w) - 2)"))
        .when(
            (ln > 3) & F.col("w").endswith("s") & ~F.col("w").endswith("ss"),
            F.expr("LEFT(w, LENGTH(w) - 1)"),
        )
        .otherwise(F.col("w"))
    )
    stemmed = toks.select("w", stem.alias("stem"))
    return stemmed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.countDistinct("w").cast("bigint").alias("vocab_raw"),
        F.countDistinct("stem").cast("bigint").alias("vocab_stemmed"),
        F.round(
            1.0 - F.countDistinct("stem").cast("double") / F.countDistinct("w"), 6
        ).alias("vocab_reduction"),
        F.sum(F.when(F.col("stem") != F.col("w"), 1).otherwise(0))
        .cast("bigint").alias("n_tokens_changed"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q1 pricing summary (the canonical wide-aggregate scan)
# ---------------------------------------------------------------------------

@query(
    "tpch_q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE), 2)
             AS sum_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE), 2)
             AS sum_base_price,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))
                          * CAST(ROUND(100 - 100 * l_discount) AS BIGINT))
                      AS DOUBLE) / 100.0, 2) AS sum_disc_price,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))
                          * CAST(ROUND(100 - 100 * l_discount) AS BIGINT)
                          * CAST(ROUND(100 + 100 * l_tax) AS BIGINT))
                      AS DOUBLE) / 10000.0, 2) AS sum_charge,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE)
                 / COUNT(*), 4) AS avg_qty,
           ROUND(CAST(SUM(CAST(ROUND(100 * l_discount) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) / 100.0, 4) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '2001-06-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 — THE aggregate benchmark query: one pruned scan, a
    2-key hash aggregate computing seven measures including the
    compound disc_price = price·(1−disc) and charge =
    price·(1−disc)·(1+tax). Every compound lands on an exact grid:
    discount and tax are 2-dp rates, so (100−100·disc) and
    (100+100·tax) are exact int64 percents, the products stay in
    DECIMAL, and one final division restores scale — the decimal-grid
    treatment of the query the spec defines with exact-numeric
    arithmetic. Map-side partials carry 7 accumulators per group,
    4 groups total; this is the pure whole-stage-codegen throughput
    test of the corpus."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-06-01").cast("date")
    )
    disc_pct = F.round(100 - 100 * F.col("l_discount")).cast("bigint")
    tax_pct = F.round(100 + 100 * F.col("l_tax")).cast("bigint")
    dec_price = F.col("l_extendedprice").cast("decimal(30,2)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum(F.col("l_quantity").cast("decimal(30,2)")).cast("double"), 2)
        .alias("sum_qty"),
        F.round(F.sum(dec_price).cast("double"), 2).alias("sum_base_price"),
        F.round(F.sum(dec_price * disc_pct).cast("double") / 100.0, 2)
        .alias("sum_disc_price"),
        F.round(
            F.sum(dec_price * disc_pct * tax_pct).cast("double") / 10000.0, 2
        ).alias("sum_charge"),
        F.round(
            F.sum(F.col("l_quantity").cast("decimal(30,2)")).cast("double")
            / F.count(F.lit(1)), 4,
        ).alias("avg_qty"),
        F.round(
            F.sum(F.round(100 * F.col("l_discount")).cast("bigint")).cast("double")
            / F.count(F.lit(1)) / 100.0, 4,
        ).alias("avg_disc"),
        F.count(F.lit(1)).cast("bigint").alias("count_order"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q18 large-volume customers (HAVING-subquery semi-join plan)
# ---------------------------------------------------------------------------

@query(
    "tpch_q18_large_volume",
    oracle="""
    WITH big AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(30,2))) > 150
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS o_orderdate,
           ROUND(CAST(o.o_totalprice AS DOUBLE), 2) AS o_totalprice,
           ROUND(CAST(SUM(CAST(l.l_quantity AS DECIMAL(30,2))) AS DOUBLE), 2)
             AS total_qty
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def tpch_q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers) — the HAVING-subquery plan:
    the qualifying order set is itself an aggregate (orders whose
    total line quantity exceeds the threshold), consumed as an IN
    predicate that Catalyst turns into a LEFT SEMI join — aggregate
    feeding semi-join feeding the 3-way join, the pattern that
    separates optimizers that decorrelate from those that re-execute.
    The quantity threshold runs on the decimal grid both times it's
    computed (once to qualify, once to report). Top-20 by order
    value."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(30,2)")).alias("q"))
        .filter(F.col("q") > 150)
        .select(F.col("l_orderkey").alias("big_key"))
    )
    qualified = o.join(big, o["o_orderkey"] == F.col("big_key"), "left_semi")
    return (
        c.join(qualified, qualified["o_custkey"] == c["c_custkey"])
        .join(li, li["l_orderkey"] == qualified["o_orderkey"])
        .groupBy(
            "c_name", "c_custkey", "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            F.round(F.col("o_totalprice").cast("double"), 2).alias("o_totalprice"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(30,2)")).cast("double"), 2
            ).alias("total_qty")
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Categorical imputation with measured holdout accuracy (data repair)
# ---------------------------------------------------------------------------

@query(
    "categorical_imputation_accuracy",
    oracle="""
    WITH masked AS (
      SELECT c_custkey, c_nationkey, c_mktsegment,
             (c_custkey * 2654435761 % 4294967296) % 10 = 0 AS is_masked
      FROM customer
    ),
    modal AS (
      SELECT c_nationkey, c_mktsegment AS modal_segment
      FROM (
        SELECT c_nationkey, c_mktsegment,
               ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                  ORDER BY COUNT(*) DESC, c_mktsegment) AS rk
        FROM masked WHERE NOT is_masked
        GROUP BY c_nationkey, c_mktsegment
      ) WHERE rk = 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_masked,
           CAST(SUM(CASE WHEN m.c_mktsegment = md.modal_segment
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           ROUND(CAST(SUM(CASE WHEN m.c_mktsegment = md.modal_segment
                          THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
             AS imputation_accuracy,
           ROUND(1.0 / (SELECT COUNT(DISTINCT c_mktsegment) FROM customer), 6)
             AS random_baseline
    FROM masked m JOIN modal md USING (c_nationkey)
    WHERE m.is_masked
    """,
)
def categorical_imputation_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data repair with MEASURED quality: a deterministic 10% of
    customers have their market segment 'masked', the remaining 90%
    train a modal imputer per nation (the groupwise-mode fill every
    cleaning pipeline reaches for), and because the masked truth is
    known, the query reports actual imputation ACCURACY against the
    1/k random baseline — the honest version of imputation, where the
    fill rule ships with its measured error instead of silently
    fabricating data. The mode is a count + deterministic-rank window
    over the nation-segment aggregate (25x5 rows); the holdout join
    broadcasts it. Same evaluate-your-cleaner discipline as
    `conformal_interval_coverage` on the numeric side."""
    c = _t(spark, sf_dir, "customer")
    from pyspark.sql.window import Window

    masked = c.select(
        "c_custkey", "c_nationkey", "c_mktsegment",
        (((F.col("c_custkey") * 2654435761) % 4294967296) % 10 == 0)
        .alias("is_masked"),
    )
    modal = (
        masked.filter(~F.col("is_masked"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "c_nationkey", "c_mktsegment",
            F.row_number().over(
                Window.partitionBy("c_nationkey")
                .orderBy(F.col("n").desc(), "c_mktsegment")
            ).alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .select("c_nationkey", F.col("c_mktsegment").alias("modal_segment"))
    )
    k = c.agg(F.countDistinct("c_mktsegment").alias("k"))
    holdout = masked.filter(F.col("is_masked")).join(
        F.broadcast(modal), "c_nationkey"
    )
    return holdout.crossJoin(F.broadcast(k)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_masked"),
        F.sum(
            F.when(F.col("c_mktsegment") == F.col("modal_segment"), 1).otherwise(0)
        ).cast("bigint").alias("n_correct"),
        F.round(
            F.sum(
                F.when(F.col("c_mktsegment") == F.col("modal_segment"), 1).otherwise(0)
            ).cast("double") / F.count(F.lit(1)), 6,
        ).alias("imputation_accuracy"),
        F.round(F.lit(1.0) / F.first("k"), 6).alias("random_baseline"),
    )


# ---------------------------------------------------------------------------
# PSI drift monitor (population stability index between two periods)
# ---------------------------------------------------------------------------

@query(
    "psi_drift_monitor",
    oracle="""
    WITH mx AS (
      -- integer-microsecond midpoint: DuckDB interval/2 halves the day
      -- and sub-day components separately (lossy); epoch math is exact
      SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid_us
      FROM events
    ),
    binned AS (
      SELECT CASE WHEN epoch_us(ts) < mx.mid_us THEN 'ref' ELSE 'cur' END AS period,
             LEAST(9, GREATEST(0, CAST(FLOOR(value / 10.0) AS INT))) AS bin
      FROM events CROSS JOIN mx
    ),
    cnt AS (
      SELECT bin,
             SUM(CASE WHEN period = 'ref' THEN 1 ELSE 0 END) + 1 AS cr,
             SUM(CASE WHEN period = 'cur' THEN 1 ELSE 0 END) + 1 AS cc
      FROM binned GROUP BY bin
    ),
    tot AS (
      SELECT CAST(SUM(cr) AS BIGINT) AS nr, CAST(SUM(cc) AS BIGINT) AS nc FROM cnt
    ),
    terms AS (
      SELECT CAST(ROUND(
               (CAST(c.cr AS DOUBLE) / t.nr - CAST(c.cc AS DOUBLE) / t.nc)
               * ln(CAST(c.cr * t.nc AS DOUBLE) / (c.cc * CAST(t.nr AS BIGINT)))
               * 1000000.0) AS BIGINT) AS psi6
      FROM cnt c CROSS JOIN tot t
    )
    SELECT CAST((SELECT COUNT(*) FROM cnt) AS BIGINT) AS n_bins,
           ROUND(CAST(SUM(psi6) AS DOUBLE) / 1000000.0, 6) AS psi,
           CAST(SUM(psi6) AS DOUBLE) / 1000000.0 < 0.1 AS stable_population
    FROM terms
    """,
)
def psi_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index — the model-monitoring metric credit
    risk and MLOps teams alert on: PSI = Σ (p_ref − p_cur)·ln(p_ref /
    p_cur) over value bins, comparing the first half of the event
    stream against the second (PSI < 0.1 = stable, > 0.25 = retrain).
    Laplace +1 on every bin count keeps empty bins finite — and keeps
    the ln argument a RATIO OF EXACT INTEGERS (cr·nc / cc·nr), the
    DETERMINISM.md rule-3 treatment, with terms summed in integer
    micro-units. Two conditional-count aggregates over fixed
    value-range bins — at 100 TB this is one pass, and the bins (not
    quantiles) are deliberate: fixed bins make PSI comparable across
    monitoring runs."""
    ev = _t(spark, sf_dir, "events")
    # midpoint in exact microseconds (interval arithmetic differs across
    # engines; integer epoch math doesn't)
    mx = ev.agg(
        F.timestamp_micros(
            ((F.unix_micros(F.min("ts")) + F.unix_micros(F.max("ts"))) / 2)
            .cast("bigint")
        ).alias("mid")
    )
    binned = ev.crossJoin(F.broadcast(mx)).select(
        F.when(F.col("ts") < F.col("mid"), "ref").otherwise("cur").alias("period"),
        F.least(
            F.lit(9), F.greatest(F.lit(0), F.floor(F.col("value") / 10.0).cast("int"))
        ).alias("bin"),
    )
    cnt = binned.groupBy("bin").agg(
        (F.sum(F.when(F.col("period") == "ref", 1).otherwise(0)) + 1).alias("cr"),
        (F.sum(F.when(F.col("period") == "cur", 1).otherwise(0)) + 1).alias("cc"),
    )
    tot = cnt.agg(
        F.sum("cr").cast("bigint").alias("nr"), F.sum("cc").cast("bigint").alias("nc")
    )
    terms = cnt.crossJoin(F.broadcast(tot)).select(
        F.round(
            (
                F.col("cr").cast("double") / F.col("nr")
                - F.col("cc").cast("double") / F.col("nc")
            )
            * F.log(
                (F.col("cr") * F.col("nc")).cast("double")
                / (F.col("cc") * F.col("nr").cast("bigint"))
            )
            * 1000000.0
        ).cast("bigint").alias("psi6")
    )
    n_bins = cnt.agg(F.count(F.lit(1)).cast("bigint").alias("n_bins"))
    return terms.agg(
        F.round(F.sum("psi6").cast("double") / 1000000.0, 6).alias("psi"),
        (F.sum("psi6").cast("double") / 1000000.0 < 0.1).alias("stable_population"),
    ).crossJoin(F.broadcast(n_bins)).select("n_bins", "psi", "stable_population")


# ---------------------------------------------------------------------------
# Calibration reliability + expected calibration error (ECE)
# ---------------------------------------------------------------------------

@query(
    "calibration_reliability_ece",
    oracle="""
    WITH scored AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             ROUND(0.5 + 0.5 * z / (1.0 + ABS(z)), 6) AS p
      FROM (
        SELECT lang,
               ROUND(-1.2 + 0.9 * ROUND(n_chars / 1000.0, 6)
                     + 2.0 * ROUND((LENGTH(text) - LENGTH(REPLACE(text, ' ', '')))
                                   / CAST(n_chars AS DOUBLE), 6), 6) AS z
        FROM documents
      )
    ),
    binned AS (
      SELECT LEAST(9, CAST(FLOOR(p * 10) AS INT)) AS bin, y, p FROM scored
    ),
    bins AS (
      SELECT bin, COUNT(*) AS n,
             CAST(SUM(y) AS BIGINT) AS n_pos,
             SUM(CAST(ROUND(p * 1000000.0) AS BIGINT)) AS p6_sum
      FROM binned GROUP BY bin
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM bins)
    SELECT CAST(b.bin AS INT) AS bin,
           CAST(b.n AS BIGINT) AS n_docs,
           ROUND(CAST(b.p6_sum AS DOUBLE) / 1000000.0 / b.n, 6) AS avg_predicted,
           ROUND(CAST(b.n_pos AS DOUBLE) / b.n, 6) AS observed_rate,
           ROUND(CAST(SUM(ABS(x.p6_sum - x.n_pos * 1000000) ) AS DOUBLE)
                 / 1000000.0 / t.nt, 6) AS ece
    FROM bins b
    CROSS JOIN tot t
    CROSS JOIN bins x
    GROUP BY b.bin, b.n, b.n_pos, b.p6_sum, t.nt
    """,
)
def calibration_reliability_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model CALIBRATION audit — the reliability diagram plus expected
    calibration error: a fixed rational-sigmoid scorer predicts
    P(lang=en), predictions bucket into 10 probability bins, and each
    bin compares its AVERAGE PREDICTED probability with the OBSERVED
    positive rate; ECE is the prediction-weighted absolute gap. A
    model can have great AUC and terrible calibration — and it's the
    calibrated probability that downstream thresholds, bidding, and
    expected-loss math consume, which is why monitoring plots THIS
    curve. One scan bins and aggregates; the ECE total rides along on
    every row via a self-cross of the tiny bin table. Probabilities
    sum in integer micro-units; the sigmoid is the IEEE-rational one
    from `logreg_gd_steps` (no transcendentals)."""
    d = _t(spark, sf_dir, "documents")
    z = F.round(
        -1.2
        + 0.9 * F.round(F.col("n_chars") / 1000.0, 6)
        + 2.0
        * F.round(
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "))))
            / F.col("n_chars").cast("double"), 6,
        ), 6,
    )
    scored = d.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.round(0.5 + 0.5 * z / (1.0 + F.abs(z)), 6).alias("p"),
    )
    binned = scored.select(
        F.least(F.lit(9), F.floor(F.col("p") * 10).cast("int")).alias("bin"),
        "y", "p",
    )
    bins = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
        F.sum(F.round(F.col("p") * 1000000.0).cast("bigint")).alias("p6_sum"),
    )
    tot = bins.agg(F.sum("n").cast("bigint").alias("nt"))
    ece = (
        bins.agg(
            F.sum(F.abs(F.col("p6_sum") - F.col("n_pos") * 1000000)).alias("gap6")
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                F.col("gap6").cast("double") / 1000000.0 / F.col("nt"), 6
            ).alias("ece")
        )
    )
    return bins.crossJoin(F.broadcast(ece)).select(
        F.col("bin").cast("int").alias("bin"),
        F.col("n").cast("bigint").alias("n_docs"),
        F.round(F.col("p6_sum").cast("double") / 1000000.0 / F.col("n"), 6)
        .alias("avg_predicted"),
        F.round(F.col("n_pos").cast("double") / F.col("n"), 6)
        .alias("observed_rate"),
        "ece",
    )


# ---------------------------------------------------------------------------
# Cumulative gains by score decile (the targeting-model lift chart)
# ---------------------------------------------------------------------------

@query(
    "cumulative_gains_by_decile",
    oracle="""
    WITH scored AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             ROUND(-1.2 + 0.9 * ROUND(n_chars / 1000.0, 6)
                   + 2.0 * ROUND((LENGTH(text) - LENGTH(REPLACE(text, ' ', '')))
                                 / CAST(n_chars AS DOUBLE), 6), 6) AS z,
             doc_id
      FROM documents
    ),
    ranked AS (
      SELECT y, ROW_NUMBER() OVER (ORDER BY z DESC, doc_id) AS rk,
             COUNT(*) OVER () AS n
      FROM scored
    ),
    deciled AS (
      SELECT LEAST(9, ((rk - 1) * 10) // n) AS decile, y FROM ranked
    ),
    per AS (
      SELECT decile, COUNT(*) AS n_docs, CAST(SUM(y) AS BIGINT) AS n_pos
      FROM deciled GROUP BY decile
    ),
    tot AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS p, CAST(SUM(n_docs) AS BIGINT) AS n
            FROM per)
    SELECT CAST(pr.decile AS INT) AS decile,
           CAST(pr.n_docs AS BIGINT) AS n_docs,
           CAST(pr.n_pos AS BIGINT) AS n_pos,
           ROUND(CAST(SUM(pr2.n_pos) AS DOUBLE) / t.p, 6) AS cumulative_gain,
           ROUND((CAST(pr.n_pos AS DOUBLE) / pr.n_docs)
                 / (CAST(t.p AS DOUBLE) / t.n), 6) AS lift
    FROM per pr
    JOIN per pr2 ON pr2.decile <= pr.decile
    CROSS JOIN tot t
    GROUP BY pr.decile, pr.n_docs, pr.n_pos, t.p, t.n
    """,
)
def cumulative_gains_by_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GAINS/LIFT chart — how targeting models earn their keep:
    rank the population by model score, cut into deciles, and report
    each decile's share of all positives captured cumulatively (gain)
    plus its positive-rate multiple over random (lift). 'Top decile
    captures 30% of positives at 3x lift' is the sentence that sells
    a model to a marketing team; a model whose decile-1 lift ~ 1 is
    dead on arrival regardless of AUC. Global ranks come from a
    deterministic (score, id) total order; the cumulative sums run
    over the 10-row decile table, not the population. Same fixed
    scorer as the calibration query — the two views of one model."""
    d = _t(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    z = F.round(
        -1.2
        + 0.9 * F.round(F.col("n_chars") / 1000.0, 6)
        + 2.0
        * F.round(
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "))))
            / F.col("n_chars").cast("double"), 6,
        ), 6,
    )
    scored = d.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        z.alias("z"), "doc_id",
    )
    ranked = scored.select(
        "y",
        F.row_number().over(Window.orderBy(F.col("z").desc(), "doc_id")).alias("rk"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("n"),
    )
    deciled = ranked.select(
        F.least(F.lit(9), F.expr("((rk - 1) * 10) div n").cast("int")).alias("decile"),
        "y",
    )
    per = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("y").cast("bigint").alias("n_pos"),
    )
    tot = per.agg(
        F.sum("n_pos").cast("bigint").alias("p"),
        F.sum("n_docs").cast("bigint").alias("n"),
    )
    cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("int").alias("decile"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_pos").cast("bigint").alias("n_pos"),
            F.round(
                F.sum("n_pos").over(cum).cast("double") / F.col("p"), 6
            ).alias("cumulative_gain"),
            F.round(
                (F.col("n_pos").cast("double") / F.col("n_docs"))
                / (F.col("p").cast("double") / F.col("n")), 6,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Exact AUC by rank-sum (Mann-Whitney U with tie-correct average ranks)
# ---------------------------------------------------------------------------

@query(
    "auc_exact_rank_sum",
    oracle="""
    WITH scored AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             ROUND(-1.2 + 0.9 * ROUND(n_chars / 1000.0, 6)
                   + 2.0 * ROUND((LENGTH(text) - LENGTH(REPLACE(text, ' ', '')))
                                 / CAST(n_chars AS DOUBLE), 6), 6) AS z
      FROM documents
    ),
    grp AS (
      SELECT z, COUNT(*) AS c, CAST(SUM(y) AS BIGINT) AS cpos FROM scored GROUP BY z
    ),
    cum AS (
      SELECT z, c, cpos,
             COALESCE(SUM(c) OVER (ORDER BY z
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND 1 PRECEDING), 0) AS before
      FROM grp
    ),
    u AS (
      SELECT CAST(SUM(cpos * (2 * before + c + 1)) AS BIGINT) AS two_ranksum,
             CAST(SUM(cpos) AS BIGINT) AS np,
             CAST(SUM(c - cpos) AS BIGINT) AS nn
      FROM cum
    )
    SELECT np AS n_positives, nn AS n_negatives,
           ROUND((CAST(two_ranksum AS DOUBLE) - CAST(np AS DOUBLE) * (np + 1))
                 / (2.0 * np * nn), 6) AS auc,
           (CAST(two_ranksum AS DOUBLE) - CAST(np AS DOUBLE) * (np + 1))
             / (2.0 * np * nn) > 0.5 AS better_than_random
    FROM u
    """,
)
def auc_exact_rank_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT AUC via the Mann-Whitney rank-sum identity — AUC =
    (R₊ − n₊(n₊+1)/2) / (n₊·n₋), with TIE-CORRECT average ranks
    (tied scores share the mean of their rank span — skipping this
    overstates AUC on any discretized score). The scalable form:
    group by distinct score (the tie groups), one running sum over
    the score-ordered group table for ranks-before, then a single
    integer dot product — 2·R₊ = Σ c₊·(2·before + c + 1) stays in
    exact int64, so the only float is the final ratio. No per-pair
    comparison ever happens (the naive AUC is O(n₊·n₋) pairs); the
    rank identity is why AUC scales. Completes the eval suite with
    `calibration_reliability_ece` and `cumulative_gains_by_decile` —
    discrimination, calibration, and business lift of one model."""
    d = _t(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    z = F.round(
        -1.2
        + 0.9 * F.round(F.col("n_chars") / 1000.0, 6)
        + 2.0
        * F.round(
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "))))
            / F.col("n_chars").cast("double"), 6,
        ), 6,
    )
    scored = d.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"), z.alias("z")
    )
    grp = scored.groupBy("z").agg(
        F.count(F.lit(1)).alias("c"), F.sum("y").cast("bigint").alias("cpos")
    )
    cum = grp.select(
        "z", "c", "cpos",
        F.coalesce(
            F.sum("c").over(
                Window.orderBy("z").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("before"),
    )
    u = cum.agg(
        F.sum(F.col("cpos") * (2 * F.col("before") + F.col("c") + 1))
        .cast("bigint").alias("two_ranksum"),
        F.sum("cpos").cast("bigint").alias("np"),
        F.sum(F.col("c") - F.col("cpos")).cast("bigint").alias("nn"),
    )
    auc = (
        F.col("two_ranksum").cast("double")
        - F.col("np").cast("double") * (F.col("np") + 1)
    ) / (2.0 * F.col("np") * F.col("nn"))
    return u.select(
        F.col("np").alias("n_positives"),
        F.col("nn").alias("n_negatives"),
        F.round(auc, 6).alias("auc"),
        (auc > 0.5).alias("better_than_random"),
    )


# ---------------------------------------------------------------------------
# Role-playing date dimensions (order-month x ship-month matrix)
# ---------------------------------------------------------------------------

@query(
    "role_playing_date_dims",
    oracle="""
    WITH lc AS (
      SELECT l_orderkey, MIN(CAST(l_shipdate AS DATE)) AS first_ship
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT CAST(date_trunc('month', CAST(o.o_orderdate AS DATE)) AS DATE)
             AS order_month,
           CAST(date_trunc('month', lc.first_ship) AS DATE) AS ship_month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(30,2))) AS DOUBLE), 2)
             AS revenue
    FROM orders o JOIN lc ON lc.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= DATE '2001-01-01'
    GROUP BY 1, 2
    """,
)
def role_playing_date_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLE-PLAYING dimensions — the same calendar serving two roles in
    one fact: every order lands in BOTH its order-month and its (first)
    ship-month, and the cross-matrix of the two is the classic
    bookings-vs-fulfillment lag report ('January bookings shipped in
    March' is a supply-chain alarm). In a star schema this is the date
    dimension joined twice under different roles; with Spark's
    date_trunc the roles are projections, no dimension table needed —
    but the GROUPING shape (two time keys from one row) is exactly the
    role-playing pattern. One co-keyed join to attach first-ship, one
    2-key aggregate; decimal revenue."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("date")
    )
    lc = li.groupBy("l_orderkey").agg(
        F.min(F.col("l_shipdate").cast("date")).alias("first_ship")
    )
    return (
        o.join(lc, o["o_orderkey"] == lc["l_orderkey"])
        .groupBy(
            F.date_trunc("month", F.col("o_orderdate").cast("date")).cast("date")
            .alias("order_month"),
            F.date_trunc("month", F.col("first_ship")).cast("date")
            .alias("ship_month"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,2)")).cast("double"), 2
            ).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Interval-overlap join (session spans x promo windows)
# ---------------------------------------------------------------------------

@query(
    "interval_overlap_join",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, value,
             epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts))
               AS gap_us
      FROM events
    ),
    sess AS (
      SELECT user_id, MIN(ts) AS s_ts, MAX(ts) AS e_ts,
             SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS v_cents
      FROM (
        SELECT user_id, ts, value,
               SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS sid
        FROM ordered
      )
      GROUP BY user_id, sid
    ),
    promos AS (
      SELECT * FROM (VALUES
        ('week1_flash', TIMESTAMP '2024-01-03 00:00:00',
                        TIMESTAMP '2024-01-05 00:00:00'),
        ('mid_month',   TIMESTAMP '2024-01-14 12:00:00',
                        TIMESTAMP '2024-01-16 12:00:00'),
        ('month_end',   TIMESTAMP '2024-01-27 00:00:00',
                        TIMESTAMP '2024-01-31 00:00:00')
      ) AS t(promo, p_start, p_end)
    )
    SELECT p.promo,
           CAST(COUNT(*) AS BIGINT) AS n_overlapping_sessions,
           CAST(COUNT(DISTINCT s.user_id) AS BIGINT) AS n_users,
           CAST(SUM(s.v_cents) AS DOUBLE) / 100.0 AS session_value
    FROM sess s JOIN promos p
      ON s.s_ts < p.p_end AND p.p_start < s.e_ts
    GROUP BY p.promo
    """,
)
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL x INTERVAL overlap join — sessions (gaps-and-islands
    spans) matched to promo windows by the canonical overlap predicate
    s.start < p.end AND p.start < s.end (half-open, the formulation
    that gets adjacency right without case analysis) — the next step
    up from point-in-interval (`scd2_point_in_time_join`) and band
    predicates (`band_join_price_tiers`). The promo side is a literal
    broadcast, so this plans as a nested-loop over 3 windows — at real
    scale with many windows both sides bucket by coarse time so only
    same-bucket(±1) spans meet, but the PREDICATE is the contract this
    query pins. Per-promo: overlapping sessions, distinct users, and
    the overlapping sessions' value in integer cents."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    wuser = Window.partitionBy("user_id").orderBy("ts")
    sess = (
        ev.select(
            "user_id", "ts", "value",
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
            F.min("ts").alias("s_ts"), F.max("ts").alias("e_ts"),
            F.sum(F.round(F.col("value") * 100.0).cast("bigint")).alias("v_cents"),
        )
    )
    # pandas → Arrow → JVM local relation (guide §4): no python tasks in
    # the broadcast build of this literal promo table (round 15).
    import pandas as pd

    promos = spark.createDataFrame(
        pd.DataFrame(
            [
                ("week1_flash", "2024-01-03 00:00:00", "2024-01-05 00:00:00"),
                ("mid_month", "2024-01-14 12:00:00", "2024-01-16 12:00:00"),
                ("month_end", "2024-01-27 00:00:00", "2024-01-31 00:00:00"),
            ],
            columns=["promo", "p_start", "p_end"],
        ),
        "promo string, p_start string, p_end string",
    ).select(
        "promo",
        F.col("p_start").cast("timestamp").alias("p_start"),
        F.col("p_end").cast("timestamp").alias("p_end"),
    )
    j = sess.join(
        F.broadcast(promos),
        (F.col("s_ts") < F.col("p_end")) & (F.col("p_start") < F.col("e_ts")),
    )
    return j.groupBy("promo").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_overlapping_sessions"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        (F.sum("v_cents").cast("double") / 100.0).alias("session_value"),
    )


# ---------------------------------------------------------------------------
# Recommender list metrics: catalog coverage and intra-list diversity
# ---------------------------------------------------------------------------

@query(
    "recsys_coverage_diversity",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 10
    ),
    corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id >= 10
    ),
    scored AS (
      SELECT q.query_id, c.vec_id, c.v,
             ROUND(list_dot_product(q.qv, c.v)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(c.v, c.v))), 6) AS cos,
             ROW_NUMBER() OVER (PARTITION BY q.query_id
                                ORDER BY ROUND(list_dot_product(q.qv, c.v)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(c.v, c.v))), 6) DESC, c.vec_id)
               AS rk
      FROM q CROSS JOIN corpus c
    ),
    lists AS (SELECT query_id, vec_id, v FROM scored WHERE rk <= 5),
    pairs AS (
      SELECT a.query_id,
             CAST(ROUND((1.0 - list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v)))) * 1000000.0) AS BIGINT)
               AS dist6
      FROM lists a JOIN lists b
        ON a.query_id = b.query_id AND a.vec_id < b.vec_id
    ),
    cov AS (
      SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_recommended FROM lists
    ),
    cat AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_catalog FROM corpus)
    SELECT cov.n_recommended, cat.n_catalog,
           ROUND(CAST(cov.n_recommended AS DOUBLE) / cat.n_catalog, 6)
             AS catalog_coverage,
           ROUND(CAST(SUM(p.dist6) AS DOUBLE) / 1000000.0 / COUNT(*), 6)
             AS intra_list_diversity
    FROM pairs p CROSS JOIN cov CROSS JOIN cat
    GROUP BY cov.n_recommended, cat.n_catalog
    """,
)
def recsys_coverage_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommender-list quality BEYOND relevance: CATALOG COVERAGE
    (what fraction of the catalog ever gets recommended across the
    query set — low coverage = popularity collapse, the classic recsys
    failure) and INTRA-LIST DIVERSITY (mean pairwise cosine DISTANCE
    within each top-5 list — all-near-duplicate lists score ~0). Both
    run off the same brute-force top-5 the retrieval family produces:
    coverage is one distinct-count over the recommendation lists;
    diversity is a per-list pairwise join of 5-element lists (10 pairs
    per query — list-scale, never corpus-scale). Distances sum in
    integer micro-units. These are the metrics that catch a 'better
    nDCG' model quietly recommending the same 50 items to everyone."""
    e = _t(spark, sf_dir, "embeddings")
    from pyspark.sql.window import Window

    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    corpus = e.filter(F.col("vec_id") >= 10).select("vec_id", F.col("embedding").alias("v"))
    cos = F.round(
        sim_ops.dot(F.col("qv"), F.col("v"), 64)
        / (
            F.sqrt(sim_ops.dot(F.col("qv"), F.col("qv"), 64))
            * F.sqrt(sim_ops.dot(F.col("v"), F.col("v"), 64))
        ), 6,
    )
    scored = F.broadcast(q).crossJoin(corpus).select(
        "query_id", "vec_id", "v", cos.alias("cos")
    )
    lists = scored.select(
        "query_id", "vec_id", "v",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "vec_id")
        ).alias("rk"),
    ).filter(F.col("rk") <= 5)
    a = lists.select("query_id", F.col("vec_id").alias("ia"), F.col("v").alias("va"))
    b = lists.select("query_id", F.col("vec_id").alias("ib"), F.col("v").alias("vb"))
    dist6 = F.round(
        (
            1.0
            - sim_ops.dot(F.col("va"), F.col("vb"), 64)
            / (
                F.sqrt(sim_ops.dot(F.col("va"), F.col("va"), 64))
                * F.sqrt(sim_ops.dot(F.col("vb"), F.col("vb"), 64))
            )
        ) * 1000000.0
    ).cast("bigint")
    pairs = a.join(b, "query_id").filter(F.col("ia") < F.col("ib")).select(
        dist6.alias("dist6")
    )
    cov = lists.agg(F.countDistinct("vec_id").cast("bigint").alias("n_recommended"))
    cat = corpus.agg(F.count(F.lit(1)).cast("bigint").alias("n_catalog"))
    return (
        pairs.agg(
            F.round(
                F.sum("dist6").cast("double") / 1000000.0 / F.count(F.lit(1)), 6
            ).alias("intra_list_diversity")
        )
        .crossJoin(F.broadcast(cov)).crossJoin(F.broadcast(cat))
        .select(
            "n_recommended", "n_catalog",
            F.round(
                F.col("n_recommended").cast("double") / F.col("n_catalog"), 6
            ).alias("catalog_coverage"),
            "intra_list_diversity",
        )
    )


# ---------------------------------------------------------------------------
# Bounded k-core decomposition (iterative peeling)
# ---------------------------------------------------------------------------

@query(
    "kcore_decomposition_bounded",
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
    b0 AS (SELECT u AS s, v AS t FROM edges UNION ALL SELECT v, u FROM edges),
    k1 AS (  -- peel round 1: keep nodes with degree >= 4
      SELECT s FROM b0 GROUP BY s HAVING COUNT(*) >= 4
    ),
    b1 AS (
      SELECT b.s, b.t FROM b0 b
      JOIN k1 x ON x.s = b.s JOIN k1 y ON y.s = b.t
    ),
    k2 AS (
      SELECT s FROM b1 GROUP BY s HAVING COUNT(*) >= 4
    ),
    b2 AS (
      SELECT b.s, b.t FROM b1 b
      JOIN k2 x ON x.s = b.s JOIN k2 y ON y.s = b.t
    ),
    k3 AS (
      SELECT s FROM b2 GROUP BY s HAVING COUNT(*) >= 4
    )
    SELECT CAST((SELECT COUNT(DISTINCT s) FROM b0) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM k1) AS BIGINT) AS after_round1,
           CAST((SELECT COUNT(*) FROM k2) AS BIGINT) AS after_round2,
           CAST(COUNT(*) AS BIGINT) AS after_round3,
           (SELECT COUNT(*) FROM k1) >= (SELECT COUNT(*) FROM k2)
             AND (SELECT COUNT(*) FROM k2) >= COUNT(*) AS peeling_monotone
    FROM k3
    """,
)
def kcore_decomposition_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-CORE decomposition (k=4): iteratively PEEL nodes whose
    degree falls below k — removing a node lowers its neighbors'
    degrees, so peeling cascades — until (here, for 3 rounds toward)
    the fixpoint where everyone remaining has ≥ k neighbors INSIDE
    the core. The core is the load-bearing subgraph community and
    centrality prune to; peeling is also THE preprocessing that
    shrinks graphs before quadratic algorithms. Each round is one
    degree aggregate + two semi-join-shaped edge filters — the same
    message-passing shuffle as BFS/LPA, and survivor counts are
    monotone non-increasing (pinned). Per-round
    localCheckpoint keeps lineage flat."""
    # shared materialized co-purchase edge artifact (built once per
    # session+testdata; oracle still derives the graph from lineitem)
    edges = graph_ops.copurchase_edges(spark, sf_dir)
    b = edges.select(F.col("u").alias("s"), F.col("v").alias("t")).unionAll(
        edges.select(F.col("v").alias("s"), F.col("u").alias("t"))
    ).localCheckpoint(eager=False)
    n_nodes = b.agg(F.countDistinct("s").cast("bigint").alias("n_nodes"))
    survivors = []
    for _ in range(3):
        keep = b.groupBy("s").agg(F.count(F.lit(1)).alias("d")).filter(
            F.col("d") >= 4
        ).select("s")
        b = (
            b.join(keep, "s")
            .join(keep.select(F.col("s").alias("t")), "t")
            .localCheckpoint(eager=False)
        )
        survivors.append(keep.agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    r1 = survivors[0].select(F.col("c").alias("after_round1"))
    r2 = survivors[1].select(F.col("c").alias("after_round2"))
    r3 = survivors[2].select(F.col("c").alias("after_round3"))
    return (
        n_nodes.crossJoin(F.broadcast(r1)).crossJoin(F.broadcast(r2))
        .crossJoin(F.broadcast(r3))
        .select(
            "n_nodes", "after_round1", "after_round2", "after_round3",
            (
                (F.col("after_round1") >= F.col("after_round2"))
                & (F.col("after_round2") >= F.col("after_round3"))
            ).alias("peeling_monotone"),
        )
    )


# ---------------------------------------------------------------------------
# Top-K rank churn (list stability between periods)
# ---------------------------------------------------------------------------

@query(
    "topk_rank_churn",
    oracle="""
    WITH p1 AS (
      SELECT o_custkey, ROW_NUMBER() OVER (
               ORDER BY SUM(CAST(o_totalprice AS DECIMAL(30,2))) DESC, o_custkey)
             AS rk
      FROM orders
      WHERE o_orderdate >= DATE '1999-01-01' AND o_orderdate < DATE '2000-01-01'
      GROUP BY o_custkey
    ),
    p2 AS (
      SELECT o_custkey, ROW_NUMBER() OVER (
               ORDER BY SUM(CAST(o_totalprice AS DECIMAL(30,2))) DESC, o_custkey)
             AS rk
      FROM orders
      WHERE o_orderdate >= DATE '2000-01-01' AND o_orderdate < DATE '2001-01-01'
      GROUP BY o_custkey
    ),
    t1 AS (SELECT o_custkey FROM p1 WHERE rk <= 20),
    t2 AS (SELECT o_custkey FROM p2 WHERE rk <= 20),
    inter AS (SELECT COUNT(*) AS c FROM t1 JOIN t2 USING (o_custkey))
    SELECT CAST(20 AS INT) AS k,
           CAST(i.c AS BIGINT) AS n_stayed,
           CAST(20 - i.c AS BIGINT) AS n_entered,
           CAST(20 - i.c AS BIGINT) AS n_dropped,
           ROUND(CAST(i.c AS DOUBLE) / (40 - i.c), 6) AS jaccard_stability
    FROM inter i
    """,
)
def topk_rank_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leaderboard CHURN — how much the top-20 customer list turned
    over between two years: stayers, entrants, dropouts, and the
    Jaccard stability of the two lists. Every recurring 'top accounts'
    report needs this companion number — a list that churns 50% per
    period is noise, not signal, and rank-stability is also the cheap
    canary for upstream data swaps (a sudden 0 overlap usually means
    a broken feed, not a market event). Two windowed top-20s over
    yearly aggregates (deterministic (revenue, key) order), one join
    on the 20-row lists. Entered == dropped by construction at fixed
    k — the report prints both because real dashboards do."""
    o = _t(spark, sf_dir, "orders")
    from pyspark.sql.window import Window

    def topk(y1: str, y2: str) -> DataFrame:
        return (
            o.filter(
                (F.col("o_orderdate") >= F.lit(y1).cast("date"))
                & (F.col("o_orderdate") < F.lit(y2).cast("date"))
            )
            .groupBy("o_custkey")
            .agg(F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("rev"))
            .select(
                "o_custkey",
                F.row_number().over(
                    Window.orderBy(F.col("rev").desc(), "o_custkey")
                ).alias("rk"),
            )
            .filter(F.col("rk") <= 20)
            .select("o_custkey")
        )

    t1 = topk("1999-01-01", "2000-01-01")
    t2 = topk("2000-01-01", "2001-01-01")
    inter = t1.join(t2, "o_custkey").agg(F.count(F.lit(1)).alias("c"))
    return inter.select(
        F.lit(20).cast("int").alias("k"),
        F.col("c").cast("bigint").alias("n_stayed"),
        (20 - F.col("c")).cast("bigint").alias("n_entered"),
        (20 - F.col("c")).cast("bigint").alias("n_dropped"),
        F.round(F.col("c").cast("double") / (40 - F.col("c")), 6)
        .alias("jaccard_stability"),
    )


# ---------------------------------------------------------------------------
# Bijective pseudonymization (join-preserving, collision-free by algebra)
# ---------------------------------------------------------------------------

@query(
    "pseudonymization_bijective",
    oracle="""
    WITH pseudo AS (
      SELECT user_id,
             (user_id * 2654435761 + 40503) % 4294967296 AS pid,
             event_type
      FROM events
    ),
    per_orig AS (
      SELECT user_id, COUNT(*) AS c FROM pseudo GROUP BY user_id
    ),
    per_pid AS (
      SELECT pid, COUNT(*) AS c FROM pseudo GROUP BY pid
    )
    SELECT CAST((SELECT COUNT(*) FROM per_orig) AS BIGINT) AS n_users,
           CAST((SELECT COUNT(*) FROM per_pid) AS BIGINT) AS n_pseudonyms,
           (SELECT COUNT(*) FROM per_orig) = (SELECT COUNT(*) FROM per_pid)
             AS no_collisions,
           (SELECT COUNT(*) FROM (
              SELECT c FROM per_orig ORDER BY c, user_id
            ) a POSITIONAL JOIN (
              SELECT c FROM per_pid ORDER BY c, pid
            ) b WHERE a.c <> b.c) = 0 AS count_profile_preserved
    """,
)
def pseudonymization_bijective(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-preserving PSEUDONYMIZATION — the GDPR-grade id swap that
    keeps analytics working: user ids map through an affine transform
    with an ODD multiplier mod 2^32, which is algebraically BIJECTIVE
    (odd numbers are units in Z/2^32), so collisions are impossible by
    construction — not 'unlikely' like a truncated hash — and every
    join/groupBy on the pseudonym returns exactly the original
    cardinalities. The query proves both properties at the gate:
    distinct pseudonyms == distinct users, and the sorted per-key
    count profiles are identical (the multiset of group sizes
    survives the rename). One projection plus two count aggregates;
    the mapping itself is a codegen'd expression, free at any scale.
    (Pseudonymization, not anonymization: the transform inverts with
    the modular inverse — pair with `k_anonymity_audit` for release
    decisions.)"""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    pseudo = ev.select(
        "user_id",
        ((F.col("user_id") * 2654435761 + 40503) % 4294967296).alias("pid"),
    )
    per_orig = pseudo.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    per_pid = pseudo.groupBy("pid").agg(F.count(F.lit(1)).alias("c"))
    n_users = per_orig.agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    n_pids = per_pid.agg(F.count(F.lit(1)).cast("bigint").alias("n_pseudonyms"))
    oa = per_orig.select(
        "c", F.row_number().over(Window.orderBy("c", "user_id")).alias("rk")
    )
    ob = per_pid.select(
        F.col("c").alias("c2"), F.row_number().over(Window.orderBy("c", "pid")).alias("rk")
    )
    profile = oa.join(ob, "rk").agg(
        (F.sum(F.when(F.col("c") != F.col("c2"), 1).otherwise(0)) == 0)
        .alias("count_profile_preserved")
    )
    return (
        n_users.crossJoin(F.broadcast(n_pids)).crossJoin(F.broadcast(profile))
        .select(
            "n_users", "n_pseudonyms",
            (F.col("n_users") == F.col("n_pseudonyms")).alias("no_collisions"),
            "count_profile_preserved",
        )
    )
