"""Corpus segment: connected components, data curation, k-means/IVF, dedup pipeline, sketches, retrieval eval.

Queries 51-99 of the registration order. The monolithic queries.py
was split in round 5 into contiguous registration-order slices; this
file's internal order plus the package __init__'s import sequence
preserve the order that tools/verify_ledger.py audits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quantum_rag_data_pipeline_spark.operators import aggregates as agg_ops
from quantum_rag_data_pipeline_spark.operators import curation as cur_ops
from quantum_rag_data_pipeline_spark.operators import dedup as dedup_ops
from quantum_rag_data_pipeline_spark.operators import graph as graph_ops
from quantum_rag_data_pipeline_spark.operators import similarity as sim_ops
from quantum_rag_data_pipeline_spark.operators import skew as skew_ops
from quantum_rag_data_pipeline_spark.operators import text as text_ops
from quantum_rag_data_pipeline_spark.operators import windows as win_ops
from quantum_rag_data_pipeline_spark.queries._registry import QUERIES, _t, query



# ---------------------------------------------------------------------------
# North star: dedup clustering + corpus curation. Pairs -> clusters is the
# step the reference pipeline (and most dedup writeups) leave implicit; the
# rest are the reproducible split/cap/pack/scrub stages a 100 TB training-
# data pipeline runs after dedup. All decisions are deterministic hashes or
# rank cuts so every query has an exact DuckDB oracle.
# ---------------------------------------------------------------------------

@query(
    "graph_connected_components",
    oracle="""
    WITH RECURSIVE edges AS (
      SELECT DISTINCT l_suppkey AS u, l_partkey + 100000000 AS v
      FROM lineitem WHERE l_quantity >= 49.5 AND l_discount >= 0.09
    ), sym AS (
      SELECT u, v FROM edges UNION SELECT v AS u, u AS v FROM edges
    ), reach(node, r) AS (
      SELECT u AS node, u AS r FROM sym
      UNION
      SELECT s.u AS node, reach.r FROM sym s JOIN reach ON s.v = reach.node
    ), labels AS (
      SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node
    )
    SELECT cluster_id,
           COUNT(*) AS n_nodes,
           CAST(SUM(CASE WHEN node < 100000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_suppliers,
           CAST(SUM(CASE WHEN node >= 100000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_parts
    FROM labels GROUP BY cluster_id
    """,
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed connected components (min-label propagation + pointer
    jumping, O(log diameter) rounds — operators/graph.py) over the
    bipartite supplier↔part graph of rare lineitems. The oracle computes
    the same components via a recursive transitive-closure CTE — feasible
    only at oracle scale, which is exactly why the Spark side exists."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") >= 49.5) & (F.col("l_discount") >= 0.09)
    )
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + F.lit(100000000)).alias("dst"),
    )
    labels = graph_ops.connected_components(edges)
    off = F.lit(100000000)
    return labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.when(F.col("node") < off, 1).otherwise(0)).alias("n_suppliers"),
        F.sum(F.when(F.col("node") >= off, 1).otherwise(0)).alias("n_parts"),
    )


@query(
    "curation_train_split",
    oracle="""
    SELECT source, split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (
      SELECT source, n_chars,
             CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
      FROM (
        SELECT source, n_chars,
               ((doc_id * 2654435761) % 4294967296) % 100 AS b
        FROM documents
      )
    ) GROUP BY source, split
    """,
)
def curation_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split: a Knuth multiplicative hash of
    doc_id — zero shuffle to ASSIGN (the split is a projection), stable
    under repartitioning, identical on any engine. 80/10/10."""
    d = cur_ops.assign_split(_t(spark, sf_dir, "documents"))
    return d.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "curation_domain_cap",
    oracle="""
    SELECT source,
           CAST(SUM(CASE WHEN rn <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn > 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN rn <= 15 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
    FROM (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ) GROUP BY source
    """,
)
def curation_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document caps (web-corpus curation): keep the first 15
    docs per source by doc_id rank. One shuffle on the domain key."""
    d = cur_ops.cap_per_group(_t(spark, sf_dir, "documents"), "source", "doc_id", 15)
    return d.groupBy("source").agg(
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("kept"), 0).otherwise(1)).alias("n_dropped"),
        F.sum(F.when(F.col("kept"), F.col("n_chars")).otherwise(0)).alias("kept_chars"),
    )


@query(
    "curation_token_packing",
    oracle="""
    WITH toks AS (
      SELECT source, doc_id,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '')) AS ntok
      FROM documents
    ), c AS (
      SELECT source, ntok,
             SUM(ntok) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM toks
    )
    SELECT source,
           CAST(FLOOR((cum - ntok) / 512.0) AS BIGINT) AS bin,
           COUNT(*) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS bin_tokens
    FROM c GROUP BY source, bin
    """,
)
def curation_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming context-window packing: per-source cumsum of token counts,
    bin = floor(preceding_total / 512). One window shuffle; the packer
    state is just the cumsum, so the plan is a single stage after it."""
    d = _t(spark, sf_dir, "documents").select(
        "source", "doc_id", text_ops.token_count("text").alias("ntok")
    )
    packed = cur_ops.pack_token_budget(d, "source", "doc_id", "ntok", 512)
    return packed.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").alias("bin_tokens"),
    )


@query(
    "curation_pii_scrub",
    oracle="""
    WITH aug AS (
      SELECT source,
             text || CASE
               WHEN h % 5 IN (0, 1) THEN ' contact user' || CAST(h % 997 AS VARCHAR) || '@example.com now'
               WHEN h % 5 = 2 THEN ' call 555-867-5309 today'
               ELSE ''
             END AS t
      FROM (
        SELECT source, text,
               ((doc_id * 2654435761 + 7 * 40503) % 4294967296) AS h
        FROM documents
      )
    )
    SELECT source,
           CAST(SUM(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+'))) AS BIGINT) AS n_emails,
           CAST(SUM(len(regexp_extract_all(t, '[0-9]{3}-[0-9]{3}-[0-9]{4}'))) AS BIGINT) AS n_phones,
           CAST(SUM(length(
             regexp_replace(
               regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
               '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')
           )) AS BIGINT) AS clean_chars
    FROM aug GROUP BY source
    """,
)
def curation_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction at scan speed (regexp_replace, codegen'd — no Python).
    The synthetic corpus contains no PII, so a deterministic hash of
    doc_id injects emails/phones first — same arithmetic on both engines,
    so match counts and post-scrub lengths have an exact oracle."""
    d = _t(spark, sf_dir, "documents")
    h = (F.col("doc_id") * F.lit(cur_ops.KNUTH_A) + F.lit(7 * 40503)) % F.lit(4294967296)
    aug = d.select(
        "source",
        F.concat(
            F.col("text"),
            F.when(
                (h % 5).isin(0, 1),
                F.concat(F.lit(" contact user"), (h % 997).cast("string"), F.lit("@example.com now")),
            )
            .when(h % 5 == 2, F.lit(" call 555-867-5309 today"))
            .otherwise(F.lit("")),
        ).alias("t"),
    )
    return aug.groupBy("source").agg(
        F.sum(cur_ops.pii_match_count("t", cur_ops.EMAIL_RE)).alias("n_emails"),
        F.sum(cur_ops.pii_match_count("t", cur_ops.PHONE_RE)).alias("n_phones"),
        F.sum(F.length(cur_ops.redact_pii("t"))).alias("clean_chars"),
    )


# ---------------------------------------------------------------------------
# RAG chunking + decontamination + quality rules + sampling + IVF routing
# (round 2: the remaining training-data-pipeline staples)
# ---------------------------------------------------------------------------

@query(
    "rag_chunk_documents",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '') AS tk
      FROM documents
    ), s AS (
      SELECT doc_id, tk, unnest(range(0, len(tk), 24)) AS st
      FROM toks WHERE len(tk) > 0
    )
    SELECT doc_id, CAST(st / 24 AS BIGINT) AS chunk_id,
           array_to_string(list_slice(tk, st + 1, st + 32), ' ') AS chunk,
           CAST(LEAST(32, len(tk) - st) AS INT) AS chunk_ntok
    FROM s
    """,
)
def rag_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (32-token windows, 8-token
    overlap) — the unit a RAG ingest embeds and upserts; the reference
    embeds one built sentence per day-window
    (src/services/sentence_builder.py), the generalization is N chunks
    per doc. Chunking is a pure projection + map-side explode: zero
    shuffle at any corpus size."""
    d = _t(spark, sf_dir, "documents")
    ch = text_ops.chunk_by_tokens(d, chunk_size=32, overlap=8)
    return ch.withColumn("chunk_id", F.col("chunk_id").cast("long"))


@query(
    "decontaminate_against_eval",
    oracle="""
    WITH tk AS (
      SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '') AS tk,
             ((doc_id * 2654435761 + 13 * 40503) % 4294967296) % 97 AS b
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, b, unnest(list_transform(range(1, len(tk) - 4 + 2),
                i -> array_to_string(list_slice(tk, i, i + 3), ' '))) AS shingle
      FROM tk WHERE len(tk) >= 4
    )
    SELECT t.doc_id AS train_id, e.doc_id AS eval_id, COUNT(*) AS n_shared
    FROM sh t JOIN sh e USING (shingle)
    WHERE e.b = 0 AND t.b <> 0
    GROUP BY 1, 2
    """,
)
def decontaminate_against_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any distinct word
    4-gram with a held-out eval set (the GPT-3/Pile n-gram-collision
    rule; 4 here because the synthetic vocabulary is tiny — real
    corpora use 8-13). Eval set = deterministic 1/97 hash slice of the
    corpus, so both engines derive it identically. Eval shingles
    broadcast; the train side never shuffles its text."""
    d = _t(spark, sf_dir, "documents")
    b = cur_ops.hash_bucket("doc_id", 97, salt=13)
    train = d.filter(b != 0)
    ev = d.filter(b == 0)
    return cur_ops.decontaminate(train, ev, ngram=4, min_shared=1)


@query(
    "curation_gopher_rules",
    oracle="""
    WITH toks AS (
      SELECT source, list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '') AS tk
      FROM documents
    ), m AS (
      SELECT source, len(tk) AS ntok,
             CAST(list_sum(list_transform(tk, t -> len(t))) AS DOUBLE) / len(tk) AS mwl,
             CAST(list_max(list_transform(list_distinct(tk), u -> len(list_filter(tk, t -> t = u)))) AS DOUBLE) / len(tk) AS topr,
             list_contains(tk, 'the') AS has_stop
      FROM toks
    ), f AS (
      SELECT source,
             (ntok >= 30 AND ntok <= 5000) AS r1,
             (mwl >= 3.0 AND mwl <= 4.8) AS r2,
             (topr <= 0.15) AS r3,
             has_stop AS r4,
             ntok
      FROM m
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN r1 AND r2 AND r3 AND r4 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(SUM(CASE WHEN NOT r1 THEN 1 ELSE 0 END) AS BIGINT) AS fail_len,
           CAST(SUM(CASE WHEN NOT r2 THEN 1 ELSE 0 END) AS BIGINT) AS fail_wlen,
           CAST(SUM(CASE WHEN NOT r3 THEN 1 ELSE 0 END) AS BIGINT) AS fail_rep,
           CAST(SUM(CASE WHEN NOT r4 THEN 1 ELSE 0 END) AS BIGINT) AS fail_stop,
           CAST(SUM(CASE WHEN r1 AND r2 AND r3 AND r4 THEN ntok ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM f GROUP BY source
    """,
)
def curation_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality gate (token-count band, mean-word-length
    band, single-token dominance, stopword presence), thresholds tuned
    to actually split this synthetic corpus. All four rules are one
    tokenization + pure array expressions — the flags need NO shuffle;
    the only exchange is the per-source audit rollup."""
    d = cur_ops.gopher_quality_flags(_t(spark, sf_dir, "documents"))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("pass_all"), 1).otherwise(0)).alias("n_pass"),
        F.sum(F.when(~F.col("pass_r1"), 1).otherwise(0)).alias("fail_len"),
        F.sum(F.when(~F.col("pass_r2"), 1).otherwise(0)).alias("fail_wlen"),
        F.sum(F.when(~F.col("pass_r3"), 1).otherwise(0)).alias("fail_rep"),
        F.sum(F.when(~F.col("pass_r4"), 1).otherwise(0)).alias("fail_stop"),
        F.sum(F.when(F.col("pass_all"), F.col("_ntok")).otherwise(0)).alias("kept_tokens"),
    )


@query(
    "curation_stratified_sample",
    oracle="""
    WITH h AS (
      SELECT source, lang, doc_id, n_chars,
             ((doc_id * 2654435761 + 5 * 40503) % 4294967296) AS hv
      FROM documents
    ), r AS (
      SELECT source, lang, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source, lang ORDER BY hv, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source, lang) AS ns
      FROM h
    )
    SELECT source, lang, COUNT(*) AS n_sampled, CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
    FROM r WHERE rn <= CEIL(ns * 0.2) GROUP BY 1, 2
    """,
)
def curation_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count stratified sampling: ceil(20% · N) docs per
    (source, lang) stratum, chosen by rank of a deterministic id hash —
    reproducible under repartitioning (sampleBy is Bernoulli and only
    right in expectation). One shuffle on the strata key."""
    d = cur_ops.stratified_sample_exact(
        _t(spark, sf_dir, "documents"), ["source", "lang"], "doc_id", 0.2, salt=5
    )
    return d.filter("sampled").groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("n_chars").alias("sampled_chars"),
    )


@query(
    "ivf_centroid_assign",
    oracle="""
    WITH c AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cvec
               FROM embeddings WHERE vec_id < 8),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings)
    SELECT vec_id, centroid_id, ROUND(cos, 6) AS cos_sim FROM (
      SELECT v.vec_id, c.centroid_id,
             list_dot_product(v.vec, c.cvec)
               / (sqrt(list_dot_product(v.vec, v.vec)) * sqrt(list_dot_product(c.cvec, c.cvec))) AS cos,
             ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY cos DESC, c.centroid_id) AS rn
      FROM v CROSS JOIN c
    ) WHERE rn = 1
    """,
)
def ivf_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF routing / k-means E-step: nearest of 8 fixed centroids
    (corpus vectors 0-7, so the oracle derives them identically) by
    cosine. Centroids broadcast; argmax via partial-aggregable max_by —
    the one shuffle carries (id, centroid, cos), never vectors. The 8
    self-assignments at cos 1.0 are the built-in invariant."""
    e = _t(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return sim_ops.assign_to_centroids(e, cents, dim=64)


@query(
    "kmeans_one_step",
    oracle="""
    WITH c AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cvec
               FROM embeddings WHERE vec_id < 8),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
    assigned AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, c.centroid_id,
               list_dot_product(v.vec, c.cvec)
                 / (sqrt(list_dot_product(v.vec, v.vec)) * sqrt(list_dot_product(c.cvec, c.cvec))) AS cos,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY cos DESC, c.centroid_id) AS rn
        FROM v CROSS JOIN c
      ) WHERE rn = 1
    ), exploded AS (
      SELECT a.centroid_id, d.d, v.vec[d.d + 1] AS x
      FROM assigned a JOIN v USING (vec_id)
      CROSS JOIN (SELECT unnest(range(0, 64)) AS d) d
    )
    SELECT centroid_id, CAST(d AS INT) AS d,
           ROUND(CAST(SUM(CAST(ROUND(x, 9) AS DECIMAL(20,9))) AS DOUBLE) / COUNT(*), 6) AS m,
           COUNT(*) AS n_assigned
    FROM exploded GROUP BY centroid_id, d
    """,
)
def kmeans_one_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full k-means round with an exact oracle: E-step through the
    production assign operator (broadcast centroids, max_by argmax),
    M-step as a dimension-exploded mean — per-dim rows, not arrays, so
    the hash gate compares scalars. Means go through the DECIMAL grid
    (inputs rounded to 1e-9 first) so the cross-row float sum is
    order-independent — the production ``kmeans_update`` uses plain
    float avg (same shuffle shape) and is pytest-verified against
    numpy instead. Shuffle carries k·dim partial sums, never vectors."""
    e = _t(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    assigned = sim_ops.assign_to_centroids(e, cents, dim=64)
    exploded = assigned.select("vec_id", "centroid_id").join(
        e.select("vec_id", "embedding"), "vec_id"
    ).select("centroid_id", F.posexplode("embedding").alias("d", "x"))
    return exploded.groupBy("centroid_id", "d").agg(
        F.round(
            F.sum(F.round("x", 9).cast("decimal(20,9)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("m"),
        F.count(F.lit(1)).alias("n_assigned"),
    )


@query(
    "incremental_ingest_dedup",
    oracle="""
    WITH d AS (
      SELECT doc_id, source,
             md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
             ((doc_id * 2654435761) % 4294967296) % 100 AS b
      FROM documents
    ), hist AS (SELECT DISTINCT fp FROM d WHERE b < 80),
    batch AS (SELECT * FROM d WHERE b >= 80),
    survivors AS (
      SELECT batch.* FROM batch
      LEFT JOIN hist ON batch.fp = hist.fp
      WHERE hist.fp IS NULL
    )
    SELECT doc_id, source, fp FROM (
      SELECT doc_id, source, fp,
             ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM survivors
    ) WHERE rn = 1
    """,
)
def incremental_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: a new batch (hash slice b>=80 of the
    corpus — same Knuth arithmetic as the oracle) is deduped against the
    historical corpus (b<80) by content fingerprint WITHOUT re-shuffling
    history's text: anti-join on the fingerprint only, then first-per-
    fingerprint within the batch. At 100 TB the historical side is a
    bucketed-by-fp layout (sinks/bucketed.py) so the anti-join is
    co-located and the daily cost scales with the BATCH, not the corpus."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", text_ops.fingerprint("text").alias("fp"),
        cur_ops.hash_bucket("doc_id", 100).alias("b"),
    )
    hist = d.filter(F.col("b") < 80).select("fp").distinct()
    batch = d.filter(F.col("b") >= 80)
    survivors = batch.join(hist, "fp", "left_anti")
    first = agg_ops.first_per_group(survivors, ["fp"], [F.col("doc_id").asc()])
    return first.select("doc_id", "source", "fp")


# ---------------------------------------------------------------------------
# Round-2 wave 2: end-to-end IVF search, full dedup pipeline, time-series
# resample/LOCF, ranking-distribution windows, skew-salted join, histogram.
# ---------------------------------------------------------------------------

@query(
    "ivf_topk_search",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
    c AS (SELECT vec_id AS centroid_id, vec AS cvec FROM v WHERE vec_id < 32),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, c.centroid_id,
               list_dot_product(v.vec, c.cvec)
                 / (sqrt(list_dot_product(v.vec, v.vec)) * sqrt(list_dot_product(c.cvec, c.cvec))) AS cos,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY cos DESC, c.centroid_id) AS rn
        FROM v CROSS JOIN c
      ) WHERE rn = 1
    ),
    route AS (
      SELECT query_id, centroid_id FROM (
        SELECT q.vec_id AS query_id, c.centroid_id,
               list_dot_product(q.vec, c.cvec)
                 / (sqrt(list_dot_product(q.vec, q.vec)) * sqrt(list_dot_product(c.cvec, c.cvec))) AS cos,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY cos DESC, c.centroid_id) AS rn
        FROM v q CROSS JOIN c WHERE q.vec_id < 5
      ) WHERE rn <= 4
    ),
    scored AS (
      SELECT r.query_id, a.vec_id,
             list_dot_product(dv.vec, qv.vec)
               / (sqrt(list_dot_product(dv.vec, dv.vec)) * sqrt(list_dot_product(qv.vec, qv.vec))) AS cos_sim
      FROM route r
      JOIN assign a USING (centroid_id)
      JOIN v dv ON dv.vec_id = a.vec_id
      JOIN v qv ON qv.vec_id = r.query_id
    )
    SELECT query_id, vec_id, ROUND(cos_sim, 6) AS cos_sim FROM (
      SELECT query_id, vec_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= 10
    """,
)
def ivf_topk_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end IVF ANN: 32 fixed centroids (corpus vectors 0-31, so the
    oracle derives them identically), nprobe=4 routing, exact cosine top-10
    within the probed inverted lists. Unlike SRP-LSH this is DETERMINISTIC
    given the centroids, so a full SQL twin replays routing + search; at
    scale the lists are a write-time bucketed layout and search cost is
    nprobe·|list| dots instead of N."""
    e = _t(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim_ops.ivf_topk(e, q, cents, dim=64, k=10, nprobe=4)


@query(
    "dedup_pipeline_canonical",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '') AS toks
      FROM documents
    ),
    raw_shingles AS (
      SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 5
        THEN [array_to_string(toks[i:i+4], ' ') FOR i IN range(1, len(toks) - 3)]
        ELSE [array_to_string(toks, ' ')] END)) AS shingle
      FROM toks
    ),
    shingles AS (
      SELECT r.doc_id, r.shingle FROM raw_shingles r
      JOIN (SELECT shingle FROM raw_shingles GROUP BY shingle HAVING COUNT(*) <= 64) k
        USING (shingle)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM shingles a JOIN shingles b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.35
    ),
    sym AS (SELECT id_a AS u, id_b AS v FROM pairs
            UNION SELECT id_b AS u, id_a AS v FROM pairs),
    reach(node, r) AS (
      SELECT u AS node, u AS r FROM sym
      UNION
      SELECT s.u AS node, reach.r FROM sym s JOIN reach ON s.v = reach.node
    ),
    labels AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node)
    SELECT node AS doc_id, cluster_id AS canonical_id
    FROM labels WHERE node <> cluster_id
    """,
)
def dedup_pipeline_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE dedup pipeline in one DAG: exact n-gram-Jaccard
    near-dup pairs (inverted-index candidates, max_df guard) -> connected
    components (min-label + pointer jumping) -> every non-canonical doc
    mapped to its cluster's keeper (min doc_id). This is the
    delete-list a curation run feeds to an anti-join; the oracle replays
    pairs + transitive closure with a recursive CTE."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup_ops.ngram_jaccard_pairs(d, n=5, threshold=0.35, max_df=64)
    labels = graph_ops.dedup_clusters(pairs)
    return labels.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("doc_id"), F.col("cluster_id").alias("canonical_id")
    )


@query(
    "timeseries_gap_fill",
    oracle="""
    WITH o AS (
      SELECT CAST(o_orderdate AS DATE) AS day, o_totalprice
      FROM orders WHERE o_totalprice > 450000
    ),
    daily AS (
      SELECT day, COUNT(*) AS n,
             ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*), 6) AS p
      FROM o GROUP BY day
    ),
    spine AS (
      SELECT CAST(unnest(generate_series(MIN(day), MAX(day), INTERVAL 1 DAY)) AS DATE) AS day
      FROM daily
    ),
    j AS (SELECT s.day, daily.n, daily.p FROM spine s LEFT JOIN daily USING (day)),
    g AS (
      SELECT day, n, p,
             SUM(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END) OVER (ORDER BY day) AS grp
      FROM j
    )
    SELECT day, CAST(COALESCE(n, 0) AS BIGINT) AS n_orders,
           MAX(p) OVER (PARTITION BY grp) AS avg_price_locf,
           CAST(CASE WHEN n IS NULL THEN 1 ELSE 0 END AS INT) AS is_gap
    FROM g
    """,
)
def timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample: sparse daily aggregate -> dense day spine
    (sequence+explode, no driver loop) -> gap days flagged, last
    observation carried forward via last(ignorenulls) over an ordered
    window. The global orderBy window is the series axis — at scale the
    window partitions by series id (one series here), so state per task
    is one running value. Oracle replays LOCF with the
    count-non-null-group trick (no IGNORE NULLS dependence)."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000).select(
        F.to_date("o_orderdate").alias("day"), "o_totalprice"
    )
    daily = o.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(30,2)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("p"),
    )
    spine = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi")).select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    j = spine.join(daily, "day", "left")
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return j.select(
        "day",
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_orders"),
        F.last("p", ignorenulls=True).over(w).alias("avg_price_locf"),
        F.when(F.col("n").isNull(), 1).otherwise(0).cast("int").alias("is_gap"),
    )


@query(
    "window_rank_distribution",
    oracle="""
    SELECT c_custkey,
           CAST(NTILE(10) OVER (ORDER BY c_acctbal DESC, c_custkey) AS INT) AS decile,
           ROUND(PERCENT_RANK() OVER (ORDER BY c_acctbal), 6) AS pr,
           ROUND(CUME_DIST() OVER (ORDER BY c_acctbal), 6) AS cd
    FROM customer
    """,
)
def window_rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (§2.5 extension): ntile deciles
    (total order, ties broken by key so the bucketing is well-defined),
    percent_rank and cume_dist (tie-sharing is part of their semantics).
    Single-series global windows; at scale these partition by segment."""
    from pyspark.sql.window import Window

    c = _t(spark, sf_dir, "customer")
    w_decile = Window.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    w_val = Window.orderBy("c_acctbal")
    return c.select(
        "c_custkey",
        F.ntile(10).over(w_decile).cast("int").alias("decile"),
        F.round(F.percent_rank().over(w_val), 6).alias("pr"),
        F.round(F.cume_dist().over(w_val), 6).alias("cd"),
    )


@query(
    "skew_salted_join_agg",
    oracle="""
    SELECT c.c_mktsegment, e.event_type,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(ROUND(e.value, 9) AS DECIMAL(30,9))) AS DOUBLE), 4) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment, e.event_type
    """,
)
def skew_salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe fact⋈dim equi-join through the salting operator: fact
    rows salted from their own primary key, dim replicated across the 8
    salts, join on (key, salt) — a hot key spreads over 8 tasks while the
    RESULT is provably identical to the plain join (the oracle IS the
    plain join). Values go through the 1e-9 decimal grid so the sum is
    partition-order independent."""
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = skew_ops.salted_join(
        ev, cust, key="user_id", salt_src_cols=["event_id"], buckets=8
    )
    return joined.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.round("value", 9).cast("decimal(30,9)")).cast("double"), 4
        ).alias("total_value"),
    )


@query(
    "token_length_histogram",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS n_tokens
      FROM documents
    )
    SELECT LEAST(CAST(FLOOR(n_tokens / 32) AS INT), 15) AS bucket,
           COUNT(*) AS n_docs,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
    FROM t GROUP BY bucket
    """,
)
def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count histogram (fixed-width buckets, top bucket open):
    the length-distribution profile every corpus-curation run starts
    with. Pure column arithmetic — bucketing is floor division, a
    partial-aggregable groupBy; no UDF, no driver collection."""
    d = _t(spark, sf_dir, "documents")
    # two-step projection: bucket + n_tokens both need the token count,
    # and referencing the tokenize expression twice in one select
    # evaluates it twice per row (catalyst CSE stops at lambdas). A
    # materialized column is referenced cheaply; CollapseProject keeps
    # the split because the producer expression is non-cheap and
    # multiply-referenced.
    n_tok = F.size(text_ops.tokens("text"))
    b = F.least(F.floor(F.col("n_tokens") / 32).cast("int"), F.lit(15))
    return (
        d.select(n_tok.alias("n_tokens"))
        .select(b.alias("bucket"), "n_tokens")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tokens").cast("bigint").alias("min_tokens"),
            F.max("n_tokens").cast("bigint").alias("max_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Round-2 wave 3: product-analytics staples (funnel, cohort retention,
# SCD2 history) + sparse retrieval (BM25) + sketch mergeability.
# ---------------------------------------------------------------------------

@query(
    "funnel_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts >= v.t_view
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
      GROUP BY e.user_id
    )
    SELECT '1_view' AS step, CAST(COUNT(*) AS BIGINT) AS n_users FROM v
    UNION ALL
    SELECT '2_click' AS step, CAST(COUNT(*) AS BIGINT) AS n_users FROM c
    UNION ALL
    SELECT '3_purchase' AS step, CAST(COUNT(*) AS BIGINT) AS n_users FROM p
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view -> click after view -> purchase after click):
    each stage is a per-user MIN-timestamp aggregate joined to the prior
    stage, so the whole funnel is three user_id-keyed shuffles that AQE
    co-partitions — no window over the raw event stream, no driver logic.
    At 100 TB the event scan happens once per stage with the event_type
    filter pushed to parquet (row-group dictionary skip)."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id").agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id").agg(F.min("ts").alias("t_purchase"))
    )

    def _count(df: DataFrame, step: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("bigint").alias("n_users")).select(
            F.lit(step).alias("step"), "n_users"
        )

    return _count(v, "1_view").unionAll(_count(c, "2_click")).unionAll(
        _count(p, "3_purchase")
    )


@query(
    "cohort_retention",
    oracle="""
    WITH first AS (
      SELECT user_id,
             MIN(date_trunc('week', CAST(ts AS DATE))) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('week', CAST(ts AS DATE)) AS wk
      FROM events
    )
    SELECT f.cohort_week,
           CAST(datediff('day', f.cohort_week, a.wk) / 7 AS INT) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM activity a JOIN first f ON a.user_id = f.user_id
    GROUP BY f.cohort_week, week_offset
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-retention triangle: cohort = ISO week of a user's first
    event (week-of-MIN == MIN-of-week, so one aggregate); retention cell
    = distinct active (user, week) joined back to the cohort. Both
    shuffles hash on user_id and the final rollup is partial-aggregable.
    The week spine is derived per-row (date_trunc), never enumerated on
    the driver."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.to_date("ts")).cast("date").alias("wk")
    )
    first = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    activity = ev.distinct()
    return (
        activity.join(first, "user_id")
        .select(
            "cohort_week",
            (F.datediff("wk", "cohort_week") / 7).cast("int").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


_BM25_TERMS = ("spark", "vector", "stream")


@query(
    "bm25_keyword_search",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '') AS tok
      FROM documents
    ),
    dl AS (SELECT doc_id, len(tok) AS dl FROM toks),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                     AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, lower(t.term) AS term, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM toks, unnest(tok) AS t(term)
      WHERE lower(t.term) IN {tuple(_BM25_TERMS)}
      GROUP BY doc_id, lower(t.term)
    ),
    idf AS (
      SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term
    ),
    scored AS (
      SELECT tf.doc_id,
             ln(1 + (s.n_docs - i.df + 0.5) / (i.df + 0.5))
               * (tf.tf * (CAST(1.2 AS DOUBLE) + 1))
               / (tf.tf + CAST(1.2 AS DOUBLE)
                  * (1 - CAST(0.75 AS DOUBLE)
                     + CAST(0.75 AS DOUBLE) * dl.dl / s.avgdl)) AS term_score
      FROM tf JOIN dl ON tf.doc_id = dl.doc_id
      JOIN idf i ON tf.term = i.term
      CROSS JOIN stats s
    ),
    per_doc AS (
      SELECT doc_id,
             ROUND(CAST(SUM(CAST(ROUND(term_score, 9) AS DECIMAL(20,9))) AS DOUBLE), 4)
               AS bm25
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, bm25 FROM (
      SELECT doc_id, bm25,
             ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rn
      FROM per_doc
    ) WHERE rn <= 20
    """,
)
def bm25_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 sparse retrieval (k1=1.2, b=0.75) for a fixed keyword query —
    the lexical half of a hybrid RAG retriever. Everything is column
    math: one explode for term frequencies (filtered to query terms
    BEFORE the shuffle, so the exploded stream is |terms|-bounded), doc
    lengths and corpus stats as broadcast one-row frames, idf as a
    broadcast |terms|-row frame. Per-term scores are summed on the 1e-9
    decimal grid so the 3-term sum is partition-order independent; final
    ranking breaks float ties by doc_id."""
    d = _t(spark, sf_dir, "documents")
    dl = d.select("doc_id", F.size(text_ops.tokens("text")).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    # explode the tokenization INLINE, not via the `toks` attribute:
    # InferFiltersFromGenerate skips non-attribute generator inputs, but
    # on an attribute it adds size>0/isnotnull filters that push through
    # the projection and SUBSTITUTE the tokenize expression — 3-4
    # evaluations per row, one of them inside the parquet scan filter
    # (round-10 expr_dup_audit finding).
    tf = (
        d.select("doc_id", F.explode(text_ops.tokens("text")).alias("term"))
        .select("doc_id", F.lower("term").alias("term"))
        .filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    idf = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    k1, b = F.lit(1.2), F.lit(0.75)
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(idf), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.log(F.lit(1) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
                * (F.col("tf") * (k1 + 1))
                / (F.col("tf") + k1 * (F.lit(1) - b + b * F.col("dl") / F.col("avgdl")))
            ).alias("term_score"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.round(
            F.sum(F.round("term_score", 9).cast("decimal(20,9)")).cast("double"), 4
        ).alias("bm25")
    )
    return win_ops.top_k(per_doc, [F.col("bm25").desc(), F.col("doc_id").asc()], 20).select(
        "doc_id", "bm25"
    )


@query(
    "scd2_tier_history",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(FLOOR(ROUND(CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE), 2)
                        / COUNT(*) / 20) AS INT) AS tier
      FROM events GROUP BY user_id, day
    ),
    flagged AS (
      SELECT user_id, day, tier,
             CASE WHEN LAG(tier) OVER w IS NULL
                       OR LAG(tier) OVER w <> tier THEN 1 ELSE 0 END AS chg
      FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day)
    ),
    islands AS (
      SELECT user_id, day, tier,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY day
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged
    )
    SELECT user_id, CAST(MIN(tier) AS INT) AS tier,
           MIN(day) AS valid_from, MAX(day) AS valid_to,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM islands GROUP BY user_id, island
    """,
)
def scd2_tier_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build: per-user daily value tier,
    consecutive equal tiers collapsed into [valid_from, valid_to] ranges
    via gaps-and-islands (lag -> change flag -> running island id). The
    windows partition by user_id, so state per task is one row — the
    pattern CDC pipelines use to historize attribute changes at any
    scale. The daily tier goes through the decimal grid so the float avg
    is partition-order independent."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.floor(
                F.round(F.sum(F.col("value").cast("decimal(30,2)")).cast("double"), 2)
                / F.count(F.lit(1))
                / 20
            )
            .cast("int")
            .alias("tier")
        )
    )
    w = Window.partitionBy("user_id").orderBy("day")
    flagged = daily.select(
        "user_id", "day", "tier",
        F.when(
            F.lag("tier").over(w).isNull() | (F.lag("tier").over(w) != F.col("tier")), 1
        ).otherwise(0).alias("chg"),
    )
    islands = flagged.select(
        "user_id", "day", "tier",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("island"),
    )
    return islands.groupBy("user_id", "island").agg(
        F.min("tier").cast("int").alias("tier"),
        F.min("day").alias("valid_from"),
        F.max("day").alias("valid_to"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    ).select("user_id", "tier", "valid_from", "valid_to", "n_days")


@query(
    "hll_sketch_mergeability",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS merge_consistent,
           TRUE AS err_within_5pct
    FROM events GROUP BY event_type
    """,
)
def hll_sketch_mergeability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datasketches-HLL mergeability — THE property that makes
    count-distinct a partial aggregate at 100 TB: per-day sketches
    union-merged per event_type must give the identical estimate as one
    direct sketch over all rows (HLL register merge is max-based, so
    merge order is immaterial), and the estimate must land within 5% of
    the exact count. The query PROVES both invariants Spark-side and
    emits them as booleans the oracle pins to TRUE; exact_users is
    replayed exactly by DuckDB."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", "user_id", F.to_date("ts").alias("day")
    )
    direct = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("direct_est"),
        F.count_distinct("user_id").cast("bigint").alias("exact_users"),
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_est")
    )
    return direct.join(merged, "event_type").select(
        "event_type",
        "exact_users",
        (F.col("direct_est") == F.col("merged_est")).alias("merge_consistent"),
        (
            F.abs(F.col("direct_est") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("err_within_5pct"),
    )


# ---------------------------------------------------------------------------
# Round-2 wave 4: line-level boilerplate dedup, hybrid retrieval fusion.
# ---------------------------------------------------------------------------

@query(
    "line_dedup_boilerplate",
    oracle="""
    WITH lines AS (
      SELECT d.doc_id, g.i AS pos,
             array_to_string(d.toks[g.i:g.i+7], ' ') AS line
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks
            FROM documents) d,
           LATERAL (SELECT unnest(range(1, GREATEST(len(d.toks) - 7, 0) + 2, 8)) AS i) g
    ),
    freq AS (SELECT line, COUNT(*) AS line_df FROM lines GROUP BY line)
    SELECT l.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN f.line_df > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boilerplate,
           COALESCE(array_to_string(
             list(l.line ORDER BY l.pos) FILTER (WHERE f.line_df <= 1), ' '), '')
             AS clean_text
    FROM lines l JOIN freq f ON l.line = f.line
    GROUP BY l.doc_id
    """,
)
def line_dedup_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate removal (the C4/RefinedWeb recipe: drop any
    line occurring more than once corpus-wide, rebuild the document
    from surviving lines in original order). The synthetic docs have no
    newlines, so 'lines' are fixed 8-token segments — the operator shape
    (segment -> corpus-frequency -> filter -> ordered reassembly) is
    identical. Two shuffles: segment-frequency groupBy and the ordered
    per-doc reassembly; text moves once each way, and the frequency
    table is (segment, count) longs+strings only."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", text_ops.tokens("text").alias("toks"))
    # fixed 8-token segments starting at 1, 9, 17, ... (1-based slice)
    starts = F.sequence(
        F.lit(1), F.greatest(F.size("toks") - 6, F.lit(1)), F.lit(8)
    )
    segs = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(starts, lambda i: F.concat_ws(" ", F.slice("toks", i, 8)))
        ).alias("pos", "line"),
    )
    freq = segs.groupBy("line").agg(F.count(F.lit(1)).alias("line_df"))
    joined = segs.join(freq, "line")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.when(F.col("line_df") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_boilerplate"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("line_df") <= 1, F.struct("pos", "line"))
                    )
                ),
                lambda s: s["line"],
            ),
        ).alias("clean_text"),
    )


@query(
    "hybrid_rrf_fusion",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
    q AS (SELECT vec_id AS query_id, vec FROM v WHERE vec_id < 3),
    dense AS (
      SELECT query_id, vec_id AS doc_id, rnk FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY ROUND(cos, 6) DESC, vec_id) AS rnk
        FROM (
          SELECT q.query_id, c.vec_id,
                 list_dot_product(c.vec, q.vec)
                   / (sqrt(list_dot_product(c.vec, c.vec)) * sqrt(list_dot_product(q.vec, q.vec))) AS cos
          FROM v c CROSS JOIN q
        )
      ) WHERE rnk <= 20
    ),
    toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '') AS tok
      FROM documents
    ),
    dl AS (SELECT doc_id, len(tok) AS dl FROM toks),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                     AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, lower(t.term) AS term, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM toks, unnest(tok) AS t(term)
      WHERE lower(t.term) IN {tuple(_BM25_TERMS)}
      GROUP BY doc_id, lower(t.term)
    ),
    idf AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
    sparse AS (
      SELECT doc_id, rnk AS s_rnk FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
        FROM (
          SELECT tf.doc_id,
                 ROUND(CAST(SUM(CAST(ROUND(
                   ln(1 + (s.n_docs - i.df + 0.5) / (i.df + 0.5))
                     * (tf.tf * (CAST(1.2 AS DOUBLE) + 1))
                     / (tf.tf + CAST(1.2 AS DOUBLE)
                        * (1 - CAST(0.75 AS DOUBLE)
                           + CAST(0.75 AS DOUBLE) * dl.dl / s.avgdl)), 9) AS DECIMAL(20,9))) AS DOUBLE), 4) AS bm25
          FROM tf JOIN dl ON tf.doc_id = dl.doc_id
          JOIN idf i ON tf.term = i.term
          CROSS JOIN stats s
          GROUP BY tf.doc_id
        )
      ) WHERE rnk <= 20
    ),
    sparse_q AS (
      SELECT q.query_id, s.doc_id, s.s_rnk FROM q CROSS JOIN sparse s
    ),
    fused AS (
      SELECT COALESCE(d.query_id, s.query_id) AS query_id,
             COALESCE(d.doc_id, s.doc_id) AS doc_id,
             ROUND(COALESCE(CAST(1.0 AS DOUBLE) / (60 + d.rnk), 0)
                   + COALESCE(CAST(1.0 AS DOUBLE) / (60 + s.s_rnk), 0), 9) AS rrf
      FROM dense d FULL OUTER JOIN sparse_q s
        ON d.query_id = s.query_id AND d.doc_id = s.doc_id
    )
    SELECT query_id, doc_id, rrf FROM (
      SELECT query_id, doc_id, rrf,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rn
      FROM fused
    ) WHERE rn <= 10
    """,
)
def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with Reciprocal Rank Fusion (k=60) — the standard
    way a RAG serving layer combines a dense (embedding cosine) ranking
    with a sparse (BM25 keyword) ranking. Dense top-20 per query from the
    broadcast brute-force scorer; sparse top-20 corpus-wide, fanned out
    to every query (the keyword list is query-independent here, as in a
    filter-then-fuse setup); RRF = sum of 1/(60+rank) over the lists a
    doc appears in. Both rank tables are k-sized per query, so the
    full-outer fusion join is broadcast-tiny and ALL heavy work stays in
    the two independent retrievers — fusing never touches vectors or
    text. doc_id == vec_id in the testdata, which is what lets the two
    modalities fuse."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    dense = sim_ops.brute_force_topk(e, q, k=20, dim=64).select(
        "query_id",
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id")))
        .alias("rnk"),
    )
    sparse = QUERIES["bm25_keyword_search"](spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id")))
        .alias("s_rnk"),
    )
    sparse_q = q.select("query_id").crossJoin(F.broadcast(sparse))
    fused = (
        dense.join(sparse_q, ["query_id", "doc_id"], "full_outer")
        .select(
            "query_id",
            "doc_id",
            F.round(
                F.coalesce(1.0 / (60 + F.col("rnk")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("s_rnk")), F.lit(0.0)),
                9,
            ).alias("rrf"),
        )
    )
    return win_ops.top_k_per_group(
        fused, ["query_id"], [F.col("rrf").desc(), F.col("doc_id").asc()], 10
    ).select("query_id", "doc_id", "rrf")


@query(
    "global_id_assignment",
    oracle="""
    SELECT doc_id, source,
           CAST(ROW_NUMBER() OVER (ORDER BY source, doc_id) - 1 AS BIGINT)
             AS global_id
    FROM documents
    """,
)
def global_id_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable contiguous example ids over a sharded corpus in
    (source, doc_id) total order — built two-level (within-group
    row_number + broadcast per-group offsets) so NO stage ever sees a
    global single-partition window; the oracle is the naive global
    ROW_NUMBER the operator provably equals."""
    d = _t(spark, sf_dir, "documents")
    return cur_ops.assign_global_ids(d, "source", ["doc_id"]).select(
        "doc_id", "source", "global_id"
    )


# ---------------------------------------------------------------------------
# Round-2 wave 6: data-layout (Z-order) + time-series anomaly detection.
# ---------------------------------------------------------------------------

_Z_BITS = 8
_Z_INTERLEAVE_SQL = " | ".join(
    f"(((za >> {i}) & 1) << {2 * i}) | (((zb >> {i}) & 1) << {2 * i + 1})"
    for i in range(_Z_BITS)
)


@query(
    "zorder_layout_key",
    oracle=f"""
    WITH stats AS (
      SELECT MIN(o_custkey) AS alo, MAX(o_custkey) AS ahi,
             MIN(o_totalprice) AS blo, MAX(o_totalprice) AS bhi
      FROM orders
    ),
    bucketed AS (
      SELECT o_orderkey,
             CASE WHEN ahi - alo <= 0 THEN 0
                  ELSE LEAST(CAST(FLOOR((o_custkey - alo) * 256.0 / (ahi - alo + 1)) AS BIGINT), 255)
             END AS za,
             CASE WHEN bhi - blo <= 0 THEN 0
                  ELSE LEAST(CAST(FLOOR((o_totalprice - blo) * 256.0 / (bhi - blo + 1)) AS BIGINT), 255)
             END AS zb
      FROM orders CROSS JOIN stats
    )
    SELECT o_orderkey, CAST({_Z_INTERLEAVE_SQL} AS BIGINT) AS z_key
    FROM bucketed
    """,
)
def zorder_layout_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (customer, price) — the
    write-time layout that lets parquet min/max statistics prune row
    groups for selective predicates on EITHER column (what Delta
    OPTIMIZE ZORDER BY / Iceberg zorder sort orders do). Rank-space
    bucketing to 8 bits per dimension + bit interleaving, all JVM
    shift/mask expressions; the oracle recomputes the interleave
    bit-by-bit. ``operators/layout.py:write_zordered`` uses this key
    with repartitionByRange + sortWithinPartitions for the actual
    file layout (exercised in tests)."""
    from quantum_rag_data_pipeline_spark.operators import layout as layout_ops

    o = _t(spark, sf_dir, "orders")
    return layout_ops.zorder_key(o, "o_custkey", "o_totalprice", bits=_Z_BITS).select(
        "o_orderkey", "z_key"
    )


@query(
    "rolling_zscore_anomaly",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE), 2)
                  AS DECIMAL(30,2)) AS total
      FROM orders GROUP BY day
    ),
    rolled AS (
      SELECT day, total,
             CAST(SUM(total) OVER w AS DOUBLE) AS s1,
             CAST(SUM(CAST(total AS DECIMAL(38,4)) * total) OVER w AS DOUBLE) AS s2,
             COUNT(*) OVER w AS n
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT day, CAST(total AS DOUBLE) AS total,
           ROUND((CAST(total AS DOUBLE) - s1 / 7) /
                 sqrt((s2 - s1 * s1 / 7) / 6), 6) AS z,
           CASE WHEN ABS((CAST(total AS DOUBLE) - s1 / 7) /
                         sqrt((s2 - s1 * s1 / 7) / 6)) > 2
                THEN 1 ELSE 0 END AS is_anomaly
    FROM rolled WHERE n = 7
    """,
)
def rolling_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection on the daily revenue series:
    z-score of each day against the PRIOR 7 days (leakage-free frame
    ``7 PRECEDING .. 1 PRECEDING``), |z| > 2 flagged. The rolling sums
    run over exact DECIMALs — decimal addition is associative, so
    sliding-frame optimizations (segment trees, subtract-on-evict) in
    either engine cannot produce float drift; doubles appear only in
    the final closed-form mean/std, identical expressions both sides.
    At scale the window partitions by series id."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(30,2)")).cast("double"), 2)
        .cast("decimal(30,2)")
        .alias("total")
    )
    w = Window.orderBy("day").rowsBetween(-7, -1)
    rolled = daily.select(
        "day",
        "total",
        F.sum("total").over(w).cast("double").alias("s1"),
        F.sum(F.col("total").cast("decimal(38,4)") * F.col("total")).over(w)
        .cast("double")
        .alias("s2"),
        F.count(F.lit(1)).over(w).alias("n"),
    ).filter(F.col("n") == 7)
    t = F.col("total").cast("double")
    z = (t - F.col("s1") / 7) / F.sqrt((F.col("s2") - F.col("s1") * F.col("s1") / 7) / 6)
    return rolled.select(
        "day",
        t.alias("total"),
        F.round(z, 6).alias("z"),
        F.when(F.abs(z) > 2, 1).otherwise(0).alias("is_anomaly"),
    )


@query(
    "curation_domain_mix_temperature",
    oracle="""
    WITH counts AS (
      SELECT source, COUNT(*) AS n_s,
             CAST(ROUND(sqrt(COUNT(*)), 9) AS DECIMAL(30,9)) AS w_raw
      FROM documents GROUP BY source
    ),
    denom AS (SELECT SUM(w_raw) AS d FROM counts),
    targets AS (
      SELECT source, n_s,
             CAST(FLOOR(200 * (CAST(w_raw AS DOUBLE) / CAST(d AS DOUBLE))) AS INT) AS t_s
      FROM counts CROSS JOIN denom
    ),
    ranked AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY ((doc_id * 2654435761) % 4294967296) % 1000000, doc_id
             ) AS rn
      FROM documents
    )
    SELECT t.source,
           CAST(t.n_s AS BIGINT) AS n_available,
           CAST(t.t_s AS INT) AS n_target,
           CAST(SUM(CASE WHEN r.rn <= t.t_s THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
           CAST(SUM(CASE WHEN r.rn <= t.t_s THEN r.n_chars ELSE 0 END) AS BIGINT)
             AS selected_chars
    FROM ranked r JOIN targets t ON r.source = t.source
    GROUP BY t.source, t.n_s, t.t_s
    """,
)
def curation_domain_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain-mix rebalancing (the mT5/multilingual
    recipe): per-source sampling weight ∝ n_s^(1/T) with T=2
    (i.e. sqrt), normalized, times a 200-doc budget; selection is the
    first t_s docs per source in deterministic Knuth-hash order — a
    seedable 'random' draw that is stable under repartitioning and
    exactly replayable in SQL. The weight denominator sums 9-decimal
    DECIMALs so the float sqrt never meets partition-order float
    addition. All shuffles are source-keyed; the targets frame is
    |sources| rows, broadcast."""
    d = _t(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_s"),
        F.round(F.sqrt(F.count(F.lit(1))), 9).cast("decimal(30,9)").alias("w_raw"),
    )
    denom = counts.agg(F.sum("w_raw").alias("d"))
    targets = counts.crossJoin(F.broadcast(denom)).select(
        "source",
        "n_s",
        F.floor(200 * (F.col("w_raw").cast("double") / F.col("d").cast("double")))
        .cast("int")
        .alias("t_s"),
    )
    from pyspark.sql.window import Window

    rn = F.row_number().over(
        Window.partitionBy("source").orderBy(
            cur_ops.hash_bucket("doc_id", 1_000_000), F.col("doc_id")
        )
    )
    ranked = d.select("source", "n_chars", rn.alias("rn"))
    return (
        ranked.join(F.broadcast(targets), "source")
        .groupBy("source", "n_s", "t_s")
        .agg(
            F.sum(F.when(F.col("rn") <= F.col("t_s"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_selected"),
            F.sum(F.when(F.col("rn") <= F.col("t_s"), F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("selected_chars"),
        )
        .select(
            "source",
            F.col("n_s").cast("bigint").alias("n_available"),
            F.col("t_s").cast("int").alias("n_target"),
            "n_selected",
            "selected_chars",
        )
    )


@query(
    "copurchase_pairs_apriori",
    oracle="""
    WITH sup AS (
      SELECT l_partkey FROM lineitem
      GROUP BY l_partkey HAVING COUNT(DISTINCT l_orderkey) >= 8
    ),
    items AS (
      SELECT DISTINCT l.l_orderkey, l.l_partkey
      FROM lineitem l JOIN sup USING (l_partkey)
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
    WHERE a.l_partkey < b.l_partkey
    GROUP BY part_a, part_b
    HAVING COUNT(*) >= 3
    """,
)
def copurchase_pairs_apriori(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent co-purchased part pairs (market-basket / FP-growth first
    level) with the APRIORI prune applied BEFORE the pair self-join: a
    pair can reach pair-support >= 3 only if both parts individually
    reach item-support >= 8, so low-support parts are cut while the data
    is still linear — the pruning that keeps basket mining feasible when
    the basket table is 100 TB (the self-join fan-out is quadratic per
    order in surviving items only). Shuffles: support groupBy on
    partkey, pair join on orderkey, pair count groupBy — all
    partial-aggregable."""
    # shared materialized co-purchase edge artifact (built once per
    # session+testdata; oracle still derives the graph from lineitem)
    edges = graph_ops.copurchase_edges(spark, sf_dir, with_counts=True)
    return (
        edges.filter(F.col("co") >= 3)
        .select(
            F.col("u").alias("part_a"), F.col("v").alias("part_b"),
            F.col("co").cast("bigint").alias("n_orders"),
        )
    )


@query(
    "dedup_edit_distance",
    oracle="""
    WITH toks AS (
      SELECT doc_id, text,
             list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '') AS tok
      FROM documents
    ),
    sh AS (
      SELECT doc_id, text,
             list_distinct(CASE WHEN len(tok) >= 4
               THEN [array_to_string(tok[i:i+3], ' ') FOR i IN range(1, len(tok) - 2)]
               ELSE [array_to_string(tok, ' ')] END) AS sh
      FROM toks
    ),
    ex AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM ex a JOIN ex b USING (shingle)
      WHERE a.doc_id < b.doc_id
    ),
    sized AS (
      SELECT c.id_a, c.id_b, sa.text AS text_a, sb.text AS text_b,
             len(list_intersect(sa.sh, sb.sh)) AS inter,
             len(sa.sh) AS na, len(sb.sh) AS nb
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b
    )
    SELECT id_a, id_b,
           CAST(levenshtein(text_a, text_b) AS INT) AS edit_dist
    FROM sized
    WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.4
      AND levenshtein(text_a, text_b) <= 64
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup with EDIT-DISTANCE verification: 4-gram-Jaccard
    candidate pairs (PPJoin prefix index, >= 0.4 — rare enough shingles
    that the candidate set stays linear at 10x data) rescored with true
    Levenshtein and kept at <= 64 edits. The expensive O(len^2) DP runs
    ONLY on candidate pairs that already share 40% of their 4-grams — the
    funnel (linear index -> set overlap -> DP verify) that makes
    character-exact fuzzy dedup feasible on a 100 TB corpus. Both
    engines implement classic Levenshtein, so the distances replay
    exactly.

    The verify tail is BANDED (round 10): edit_dist >= |len_a - len_b|,
    so a length prefilter discards hopeless pairs before any DP, and
    Spark's three-arg ``levenshtein(a, b, 64)`` runs the Ukkonen-banded
    O(len x 64) DP instead of the full O(len_a x len_b) table, returning
    -1 above the bound — exact for every distance we keep. Same funnel,
    ~4x cheaper verification (quiet min 2.01 -> 1.55 s at sf0.1, output
    bit-identical)."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup_ops.ngram_jaccard_pairs(d, n=4, threshold=0.4)
    texts = d.select("doc_id", "text")
    return (
        pairs.join(texts.select(F.col("doc_id").alias("id_a"), F.col("text").alias("_ta")), "id_a")
        .join(texts.select(F.col("doc_id").alias("id_b"), F.col("text").alias("_tb")), "id_b")
        .filter(F.abs(F.length("_ta") - F.length("_tb")) <= 64)
        .select(
            "id_a", "id_b",
            F.levenshtein("_ta", "_tb", 64).cast("int").alias("edit_dist"),
        )
        # banded levenshtein(a, b, 64) returns -1 for every distance above
        # the bound, so `>= 0` alone keeps exactly the <= 64 pairs; the
        # redundant second conjunct doubled the pushed-down DP evaluation
        # (filter pushdown substitutes the alias into each conjunct).
        .filter(F.col("edit_dist") >= 0)
    )


@query(
    "event_debounce",
    oracle="""
    WITH lagged AS (
      SELECT event_id, user_id, event_type, ts,
             LAG(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id)
               AS prev_ts
      FROM events
    )
    SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n_kept
    FROM lagged
    WHERE prev_ts IS NULL OR ts - prev_ts > INTERVAL 5 MINUTE
    GROUP BY user_id, event_type
    """,
)
def event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry debounce: drop an event when the SAME user emitted the
    same event type within the last 5 minutes (double-click / retry
    suppression). One lag window per (user, type) partition — state per
    task is a single timestamp, the shape that holds at any event rate.
    Emits kept-count per (user, type)."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    lagged = ev.select(
        "user_id", "event_type", "ts", F.lag("ts").over(w).alias("prev_ts")
    )
    kept = lagged.filter(
        F.col("prev_ts").isNull()
        | (F.unix_micros("ts") - F.unix_micros("prev_ts") > 300_000_000)
    )
    return kept.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept")
    )


# ---------------------------------------------------------------------------
# Round-2 wave 8: contrastive-training data prep + clustering evaluation
# over the labeled embeddings table.
# ---------------------------------------------------------------------------

@query(
    "hard_negative_mining",
    oracle="""
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
    ),
    anchors AS (SELECT * FROM v WHERE vec_id < 10),
    scored AS (
      SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
             c.label AS cand_label,
             list_dot_product(a.vec, c.vec)
               / (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(c.vec, c.vec))) AS cos
      FROM anchors a JOIN v c ON c.vec_id <> a.vec_id
    )
    SELECT anchor_id,
           CAST(anchor_label AS INT) AS anchor_label,
           ROUND(MAX(CASE WHEN cand_label = anchor_label THEN cos END), 6) AS best_positive,
           ROUND(MAX(CASE WHEN cand_label <> anchor_label THEN cos END), 6) AS hardest_negative,
           ROUND(MAX(CASE WHEN cand_label = anchor_label THEN cos END)
                 - MAX(CASE WHEN cand_label <> anchor_label THEN cos END), 6) AS margin
    FROM scored GROUP BY anchor_id, anchor_label
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training data prep: for each anchor, the best
    same-label cosine (positive) and the hardest different-label cosine
    (the 'hard negative' that makes triplet/InfoNCE batches
    informative), plus the margin. Anchors broadcast against the corpus
    — one scan, no corpus shuffle; the max-per-anchor agg is
    partial-aggregable, so at 100 TB this is a map-side pass. Emitting
    the VALUES (not arg-ids) keeps the output tie-free and exactly
    SQL-replayable."""
    e = _t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", "label", "embedding",
                 sim_ops.norm(F.col("embedding"), 64).alias("_n"))
    anchors = v.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("_avec"),
        F.col("_n").alias("_an"),
    )
    scored = v.crossJoin(F.broadcast(anchors)).filter(
        F.col("vec_id") != F.col("anchor_id")
    ).select(
        "anchor_id", "anchor_label", "label",
        (sim_ops.dot(F.col("embedding"), F.col("_avec"), 64)
         / (F.col("_n") * F.col("_an"))).alias("cos"),
    )
    pos = F.max(F.when(F.col("label") == F.col("anchor_label"), F.col("cos")))
    neg = F.max(F.when(F.col("label") != F.col("anchor_label"), F.col("cos")))
    return scored.groupBy("anchor_id", "anchor_label").agg(
        F.round(pos, 6).alias("best_positive"),
        F.round(neg, 6).alias("hardest_negative"),
        F.round(pos - neg, 6).alias("margin"),
    ).select(
        "anchor_id", F.col("anchor_label").cast("int").alias("anchor_label"),
        "best_positive", "hardest_negative", "margin",
    )


@query(
    "cluster_purity_eval",
    oracle="""
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
    ),
    c AS (SELECT vec_id AS centroid_id, vec AS cvec FROM v WHERE vec_id < 32),
    assign AS (
      SELECT vec_id, label, centroid_id FROM (
        SELECT v.vec_id, v.label, c.centroid_id,
               list_dot_product(v.vec, c.cvec)
                 / (sqrt(list_dot_product(v.vec, v.vec)) * sqrt(list_dot_product(c.cvec, c.cvec))) AS cos,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY cos DESC, c.centroid_id) AS rn
        FROM v CROSS JOIN c
      ) WHERE rn = 1
    ),
    cls AS (
      SELECT centroid_id, label, COUNT(*) AS n
      FROM assign GROUP BY centroid_id, label
    )
    SELECT centroid_id,
           CAST(SUM(n) AS BIGINT) AS n_members,
           CAST(MAX(n) AS BIGINT) AS n_majority,
           ROUND(CAST(MAX(n) AS DOUBLE) / SUM(n), 6) AS purity
    FROM cls GROUP BY centroid_id
    """,
)
def cluster_purity_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality evaluation: assign every labeled vector to its
    nearest fixed centroid (same deterministic routing as the IVF
    queries), then per-cluster PURITY = majority-label fraction — the
    standard external cluster metric a labeling/curation pipeline
    reports. Two partial-aggregable groupBys after a broadcast E-step;
    nothing but (id, label, centroid) longs ever shuffles."""
    e = _t(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    assigned = sim_ops.assign_to_centroids(
        e, cents, dim=64, id_col="vec_id", centroid_id="centroid_id",
        vec_col="embedding",
    ).select("vec_id", "centroid_id")
    labeled = assigned.join(e.select("vec_id", "label"), "vec_id")
    cls = labeled.groupBy("centroid_id", "label").agg(F.count(F.lit(1)).alias("n"))
    return cls.groupBy("centroid_id").agg(
        F.sum("n").cast("bigint").alias("n_members"),
        F.max("n").cast("bigint").alias("n_majority"),
        F.round(F.max("n").cast("double") / F.sum("n"), 6).alias("purity"),
    )


@query(
    "triangle_count",
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
    deg AS (
      SELECT n, COUNT(*) AS d FROM (
        SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges
      ) GROUP BY n
    ),
    oriented AS (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
      FROM edges e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM oriented e1
    JOIN oriented e2 ON e2.s = e1.t
    JOIN oriented e3 ON e3.s = e1.s AND e3.t = e2.t
    """,
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting over the co-purchase graph with the
    DEGREE-ORIENTATION optimization: direct every edge from its
    lower-(degree, id) endpoint to the higher one, making the graph a
    DAG where each triangle is counted exactly once AND the wedge join
    fans out from low-degree vertices only — the standard trick that
    bounds the quadratic wedge step by arboricity instead of max degree
    (a hub with 10^6 neighbors contributes no wedges from its high side).
    Three self-joins on oriented (s, t) longs; nothing else shuffles."""
    # shared materialized co-purchase edge artifact (built once per
    # session+testdata; oracle still derives the graph from lineitem)
    edges = graph_ops.copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e = (
        edges.join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
    )
    lower = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = e.select(
        F.when(lower, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(lower, F.col("v")).otherwise(F.col("u")).alias("t"),
    )
    e1 = oriented.select(F.col("s").alias("s1"), F.col("t").alias("t1"))
    e2 = oriented.select(F.col("s").alias("s2"), F.col("t").alias("t2"))
    e3 = oriented.select(F.col("s").alias("s3"), F.col("t").alias("t3"))
    return (
        e1.join(e2, F.col("s2") == F.col("t1"))
        .join(e3, (F.col("s3") == F.col("s1")) & (F.col("t3") == F.col("t2")))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )


@query(
    "multi_touch_attribution",
    oracle="""
    WITH purchases AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
      SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'
    ),
    touches AS (
      SELECT p.event_id, p.user_id, p.value, COUNT(*) AS n_touches
      FROM purchases p JOIN clicks c
        ON c.user_id = p.user_id
       AND c.click_ts <= p.ts
       AND c.click_ts > p.ts - INTERVAL 30 MINUTE
      GROUP BY p.event_id, p.user_id, p.value
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_attributed_purchases,
           ROUND(CAST(SUM(CAST(ROUND(value / n_touches, 9) AS DECIMAL(30,9))
                          * n_touches) AS DOUBLE), 4) AS attributed_value
    FROM touches GROUP BY user_id
    """,
)
def multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value splits
    equally across the user's clicks in the 30 minutes before it; here
    rolled up per user (share x n_touches restores the purchase's
    attributable total, run through the 1e-9 decimal grid so the sum is
    partition-order free). The touch join is the same bounded-interval
    shape as the range join — equi on user, interval predicate post-match,
    coarse time-bucket keys at 100 TB."""
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    touches = (
        p.join(
            c,
            (F.col("c_user") == F.col("user_id"))
            & (F.col("click_ts") <= F.col("ts"))
            & (F.unix_micros("click_ts") > F.unix_micros("ts") - 30 * 60 * 1_000_000),
        )
        .groupBy("event_id", "user_id", "value")
        .agg(F.count(F.lit(1)).alias("n_touches"))
    )
    return touches.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_attributed_purchases"),
        F.round(
            F.sum(
                F.round(F.col("value") / F.col("n_touches"), 9).cast("decimal(30,9)")
                * F.col("n_touches")
            ).cast("double"),
            4,
        ).alias("attributed_value"),
    )


@query(
    "quantile_sketch_bounds",
    oracle="""
    WITH ranked AS (
      SELECT c_mktsegment, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS rn,
             COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
      FROM customer
    )
    SELECT c_mktsegment,
           CAST(MAX(n) AS BIGINT) AS n_rows,
           MAX(CASE WHEN rn = CAST(CEIL(n / 2.0) AS BIGINT) THEN c_acctbal END)
             AS exact_median,
           TRUE AS sketch_within_rank_bound
    FROM ranked GROUP BY c_mktsegment
    """,
)
def quantile_sketch_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch error-bound invariant (the percentile sibling of
    the HLL mergeability query): per segment, Spark's mergeable
    Greenwald-Khanna sketch (``percentile_approx``, accuracy=100 →
    rank error ≤ n/100) must land within the guaranteed rank band of
    the true median — PROVEN Spark-side by ranking the sketch's answer
    against the data, emitted as a boolean the oracle pins TRUE. The
    exact median (low element of the middle rank, deterministic
    tie-break) replays in SQL. This is the partial-aggregable shape
    percentile computation takes at 100 TB: per-partition sketches,
    one merge, bounded error."""
    from pyspark.sql.window import Window

    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    ranked = c.select(
        "c_mktsegment", "c_acctbal",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("c_mktsegment")).alias("n"),
    )
    stats = ranked.groupBy("c_mktsegment").agg(
        F.max("n").cast("bigint").alias("n_rows"),
        F.max(
            F.when(F.col("rn") == F.ceil(F.col("n") / 2.0), F.col("c_acctbal"))
        ).alias("exact_median"),
    )
    approx = c.groupBy("c_mktsegment").agg(
        F.percentile_approx("c_acctbal", 0.5, 100).alias("_approx")
    )
    # rank of the sketch's answer within the segment, checked against the
    # GK guarantee |rank(approx) - n/2| <= n/100 (+1 slack for the
    # discrete middle)
    rank_of = (
        c.join(F.broadcast(approx), "c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(
            F.sum(F.when(F.col("c_acctbal") <= F.col("_approx"), 1).otherwise(0))
            .alias("_rank_approx")
        )
    )
    return (
        stats.join(rank_of, "c_mktsegment")
        .select(
            "c_mktsegment", "n_rows", "exact_median",
            (
                F.abs(F.col("_rank_approx") - F.col("n_rows") / 2.0)
                <= F.col("n_rows") / 100.0 + 1
            ).alias("sketch_within_rank_bound"),
        )
    )


# ---------------------------------------------------------------------------
# Round-2 wave 10: positional phrase search, deterministic weighted
# sampling, KS-statistic drift detection.
# ---------------------------------------------------------------------------

@query(
    "phrase_search_positional",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS t
      FROM documents
    ),
    pos AS (
      SELECT doc_id, g.i AS pos, t[g.i] AS term
      FROM toks, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) g
      WHERE t[g.i] IN ('table', 'hash')
    )
    SELECT a.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_hits,
           CAST(MIN(a.pos) AS BIGINT) AS first_pos
    FROM pos a JOIN pos b
      ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    WHERE a.term = 'table' AND b.term = 'hash'
    GROUP BY a.doc_id
    """,
)
def phrase_search_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search ("table hash") via a POSITIONAL inverted
    index: only postings of the phrase's terms are extracted (the filter
    rides the explode, so the index stream is |phrase vocab|-bounded),
    then adjacency is an equi-join on (doc, pos+1) — how a search engine
    verifies phrases without re-scanning text. Returns per-doc hit count
    and first occurrence."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(text_ops.tokens(F.lower(F.col("text")))).alias("pos0", "term"),
    ).filter(F.col("term").isin("table", "hash")).select(
        "doc_id", (F.col("pos0") + 1).alias("pos"), "term"
    )
    a = toks.filter(F.col("term") == "table").select("doc_id", F.col("pos").alias("pa"))
    b = toks.filter(F.col("term") == "hash").select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb")
    )
    return (
        a.join(b, (F.col("doc_b") == F.col("doc_id")) & (F.col("pb") == F.col("pa") + 1))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hits"),
            F.min("pa").cast("bigint").alias("first_pos"),
        )
    )


@query(
    "curation_weighted_sample",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             POWER(
               (CAST(((doc_id * 2654435761) % 4294967296) % 1000000 AS DOUBLE) + 0.5)
                 / 1000000.0,
               1.0 / (CAST(n_chars AS DOUBLE) / 100.0)
             ) AS k
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
    FROM (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (ORDER BY k DESC, doc_id) AS rn
      FROM keyed
    ) WHERE rn <= 50
    """,
)
def curation_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis): each
    doc gets key u^(1/w) with w = n_chars/100 (longer docs more likely)
    and a DETERMINISTIC uniform u from the Knuth hash of its id — the
    top-50 keys are a faithful weighted draw that is stable under
    repartitioning, needs no RNG state, and replays exactly in SQL.
    Selection is one global top-k (TakeOrderedAndProject moves k rows
    per partition), the standard distributed shape."""
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (cur_ops.hash_bucket("doc_id", 1_000_000).cast("double") + 0.5) / 1_000_000.0
    k = F.pow(u, 1.0 / (F.col("n_chars").cast("double") / 100.0))
    keyed = d.select("doc_id", "source", "n_chars", k.alias("k"))
    return win_ops.top_k(keyed, [F.col("k").desc(), F.col("doc_id").asc()], 50).select(
        "doc_id", "source", F.col("n_chars").cast("bigint").alias("n_chars")
    )


@query(
    "ks_drift_detection",
    oracle="""
    WITH a AS (SELECT n_chars AS x FROM documents WHERE source IN ('src0','src1','src2','src3','src4')),
    b AS (SELECT n_chars AS x FROM documents WHERE source NOT IN ('src0','src1','src2','src3','src4')),
    na AS (SELECT CAST(COUNT(*) AS DOUBLE) AS na FROM a),
    nb AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nb FROM b),
    grid AS (SELECT DISTINCT x FROM (SELECT x FROM a UNION ALL SELECT x FROM b)),
    cdfs AS (
      SELECT g.x,
             (SELECT COUNT(*) FROM a WHERE a.x <= g.x) / (SELECT na FROM na) AS fa,
             (SELECT COUNT(*) FROM b WHERE b.x <= g.x) / (SELECT nb FROM nb) AS fb
      FROM grid g
    )
    SELECT ROUND(MAX(ABS(fa - fb)), 6) AS ks_stat,
           CAST(MAX(ABS(fa - fb)) > 1.358 * sqrt((SELECT na FROM na) + (SELECT nb FROM nb))
                  / sqrt((SELECT na FROM na) * (SELECT nb FROM nb)) AS BOOLEAN) AS drifted
    FROM cdfs
    """,
)
def ks_drift_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift check between two source
    cohorts' length distributions — the monitoring op a production
    pipeline runs to catch a changed upstream. ECDFs via rank windows
    over the union grid (one sort shuffle), KS statistic = max gap,
    compared against the alpha=0.05 critical value. Counting ranks with
    conditional sums keeps both ECDFs in ONE pass over the union —
    no per-point subqueries at scale (the oracle spells them out for
    clarity; the result is identical)."""
    from pyspark.sql.window import Window

    d = _t(spark, sf_dir, "documents")
    cohort_a = F.col("source").isin("src0", "src1", "src2", "src3", "src4")
    pts = d.select(
        F.col("n_chars").alias("x"),
        F.when(cohort_a, 1).otherwise(0).alias("ia"),
        F.when(~cohort_a, 1).otherwise(0).alias("ib"),
    )
    counts = pts.groupBy("x").agg(
        F.sum("ia").alias("ca"), F.sum("ib").alias("cb")
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    tot = pts.agg(
        F.sum("ia").cast("double").alias("na"), F.sum("ib").cast("double").alias("nb")
    )
    cdfs = counts.select(
        "x",
        F.sum("ca").over(w).alias("ra"),
        F.sum("cb").over(w).alias("rb"),
    ).crossJoin(F.broadcast(tot)).select(
        (F.col("ra") / F.col("na")).alias("fa"),
        (F.col("rb") / F.col("nb")).alias("fb"),
        "na", "nb",
    )
    return cdfs.agg(
        F.round(F.max(F.abs(F.col("fa") - F.col("fb"))), 6).alias("ks_stat"),
        (
            F.max(F.abs(F.col("fa") - F.col("fb")))
            > 1.358 * F.sqrt(F.max("na") + F.max("nb"))
            / F.sqrt(F.max("na") * F.max("nb"))
        ).alias("drifted"),
    )


# ---------------------------------------------------------------------------
# Round-2 wave 11: SemDeDup semantic dedup, count-min sketch heavy
# hitters, BPE merge-candidate scan (tokenizer training step).
# ---------------------------------------------------------------------------

@query(
    "semdedup_prune",
    oracle="""
    WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings
               WHERE vec_id < GREATEST(8, (SELECT COUNT(*) // 250
                                           FROM embeddings))),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
    a AS (
      SELECT vec_id, cid, vec FROM (
        SELECT v.vec_id, c.cid, v.vec,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 list_dot_product(v.vec, c.cv)
                   / (sqrt(list_dot_product(v.vec, v.vec))
                      * sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid) AS rn
        FROM v CROSS JOIN c) t WHERE rn = 1),
    rm AS (
      SELECT DISTINCT y.vec_id FROM a x JOIN a y
        ON x.cid = y.cid AND x.vec_id < y.vec_id
      WHERE list_dot_product(x.vec, y.vec)
              / (sqrt(list_dot_product(x.vec, x.vec))
                 * sqrt(list_dot_product(y.vec, y.vec))) >= 0.4),
    m AS (SELECT cid, COUNT(*) AS n_members FROM a GROUP BY cid),
    r AS (SELECT cid, COUNT(*) AS n_removed FROM a JOIN rm USING (vec_id) GROUP BY cid)
    SELECT m.cid AS centroid_id,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(COALESCE(n_removed, 0) AS BIGINT) AS n_removed,
           CAST(n_members - COALESCE(n_removed, 0) AS BIGINT) AS n_kept
    FROM m LEFT JOIN r ON r.cid = m.cid
    """,
)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (cluster-then-prune semantic dedup): route every vector
    to its nearest of k = max(8, n/250) centroids (the first k corpus
    vectors, so the oracle derives them identically), then near-dup scan WITHIN each
    cluster at cos ≥ 0.4, keep-lowest-id. The pairwise work is bounded
    per cluster (n²/k, each cluster an independent task) — the property
    that makes semantic dedup run at corpus scale. Emits the per-cluster
    curation summary (members / removed / kept)."""
    e = _t(spark, sf_dir, "embeddings")
    # k GROWS with the corpus (k = max(8, n/250)): with fixed k the
    # per-cluster pair scan is n²/const — measured 14.3x wall at a 10x
    # data step in round 5. Scaling k keeps cluster sizes, and therefore
    # per-task pair work, roughly constant; the oracle derives the same
    # k from the same COUNT(*). At the driver's gate scales (n<=2000)
    # k stays 8, so verified outputs are unchanged. n is counted ONCE
    # driver-side (a parquet-footer count job), and a literal k prunes
    # the centroid filter at plan time instead of riding a
    # crossJoin(broadcast(agg)) through every row.
    n = e.count()
    k = max(8, n // 250)
    cents = (
        e.filter(F.col("vec_id") < F.lit(k))
        .select(F.col("vec_id").alias("centroid_id"), "embedding")
    )
    verdicts = sim_ops.semdedup_prune(e, cents, dim=64, threshold=0.4)
    return verdicts.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum(F.col("removed").cast("int")).cast("bigint").alias("n_removed"),
        F.sum((~F.col("removed")).cast("int")).cast("bigint").alias("n_kept"),
    )


@query(
    "cms_heavy_hitters",
    oracle="""
    WITH tok AS (
      SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                    x -> x <> '')) AS term
      FROM documents),
    tc AS (SELECT term, COUNT(*) AS true_cnt FROM tok GROUP BY term),
    rows_ AS (SELECT term, true_cnt, g.j,
                     CAST(concat('0x', substr(md5('|' || CAST(g.j AS VARCHAR) || '|' || term), 1, 8)) AS BIGINT) % 512 AS b
              FROM tc, LATERAL (SELECT unnest(range(0, 4)) AS j) g),
    sketch AS (SELECT j, b, SUM(true_cnt) AS counter FROM rows_ GROUP BY j, b),
    top AS (SELECT term, true_cnt FROM (
              SELECT term, true_cnt,
                     ROW_NUMBER() OVER (ORDER BY true_cnt DESC, term) AS rn
              FROM tc) WHERE rn <= 20)
    SELECT t.term, CAST(t.true_cnt AS BIGINT) AS true_cnt,
           CAST(MIN(s.counter) AS BIGINT) AS cms_est,
           CAST(MIN(s.counter) >= t.true_cnt AS BOOLEAN) AS no_undercount
    FROM top t,
         LATERAL (SELECT unnest(range(0, 4)) AS j) g
    JOIN sketch s
      ON s.j = g.j
     AND s.b = CAST(concat('0x', substr(md5('|' || CAST(g.j AS VARCHAR) || '|' || t.term), 1, 8)) AS BIGINT) % 512
    GROUP BY t.term, t.true_cnt
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation, verified exactly: build a
    depth-4 × width-512 CMS over the token stream (each counter row is a
    partial-aggregable SUM — the sketch is mergeable across partitions
    and across days, the point of sketching at 100 TB), then answer the
    top-20 heavy hitters from the SKETCH and pin the CMS guarantee
    (estimate never undercounts) alongside the exact counts. The salted
    bucket hash is md5-based (``curation.md5_bucket``) so the oracle
    replays the sketch bit-for-bit. The 2 048-cell sketch broadcasts to
    the probe join; the token stream is touched once."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(F.explode(text_ops.tokens(F.lower(F.col("text")))).alias("term"))
    tc = tok.groupBy("term").agg(F.count(F.lit(1)).alias("true_cnt"))
    depth, width = 4, 512
    js = F.explode(F.array(*[F.lit(j) for j in range(depth)])).alias("j")
    rows = tc.select("term", "true_cnt", js).withColumn(
        "b",
        cur_ops.md5_bucket(
            F.concat(F.col("j").cast("string"), F.lit("|"), F.col("term")), width
        ),
    )
    sketch = rows.groupBy("j", "b").agg(F.sum("true_cnt").alias("counter"))
    top = win_ops.top_k(tc, [F.col("true_cnt").desc(), F.col("term").asc()], 20)
    probes = top.select("term", "true_cnt", js).withColumn(
        "b",
        cur_ops.md5_bucket(
            F.concat(F.col("j").cast("string"), F.lit("|"), F.col("term")), width
        ),
    )
    return (
        probes.join(F.broadcast(sketch), ["j", "b"])
        .groupBy("term")
        .agg(
            F.first("true_cnt").cast("bigint").alias("true_cnt"),
            F.min("counter").cast("bigint").alias("cms_est"),
            (F.min("counter") >= F.first("true_cnt")).alias("no_undercount"),
        )
    )


@query(
    "bpe_merge_candidates",
    oracle="""
    WITH w AS (
      SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                    x -> x <> '')) AS w
      FROM documents),
    wc AS (SELECT w, COUNT(*) AS wcnt FROM w WHERE length(w) >= 2 GROUP BY w),
    p AS (SELECT substr(w, g.i, 2) AS pair, wcnt
          FROM wc, LATERAL (SELECT unnest(range(1, length(w))) AS i) g)
    SELECT pair, CAST(SUM(wcnt) AS BIGINT) AS pair_count
    FROM p GROUP BY pair
    ORDER BY pair_count DESC, pair
    LIMIT 10
    """,
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training merge scan: count adjacent symbol pairs across
    the corpus VOCABULARY (distinct words weighted by frequency — the
    standard trick that makes BPE training corpus-size-independent:
    the pair scan runs over |vocab| rows, not |corpus| tokens), emit
    the top-10 merge candidates. Adjacent pairs come from a sequence-
    posexplode over character offsets — pure column expressions, the
    explode fans out map-side, and the pair count is a partial-agg
    groupBy on a 2-char key."""
    d = _t(spark, sf_dir, "documents")
    words = d.select(F.explode(text_ops.tokens(F.lower(F.col("text")))).alias("w"))
    wc = (
        words.groupBy("w").agg(F.count(F.lit(1)).alias("wcnt"))
        .filter(F.length("w") >= 2)
    )
    pairs = wc.select(
        "wcnt",
        F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"),
        "w",
    ).select(F.col("w").substr(F.col("i"), F.lit(2)).alias("pair"), "wcnt")
    pc = pairs.groupBy("pair").agg(F.sum("wcnt").cast("bigint").alias("pair_count"))
    return win_ops.top_k(pc, [F.col("pair_count").desc(), F.col("pair").asc()], 10)


# ---------------------------------------------------------------------------
# Round-2 wave 12: PageRank power iteration, DSIR-style importance
# weighting, Pearson correlation matrix.
# ---------------------------------------------------------------------------

@query(
    "pagerank_copurchase",
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
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
    pr0 AS (SELECT s AS node, d,
                   ROUND(CAST(1.0 AS DOUBLE) / (SELECT n FROM nn), 12) AS pr
            FROM deg),
    c1 AS (SELECT b.t AS node,
                  CAST(ROUND(p.pr / p.d, 12) AS DECIMAL(28,12)) AS c
           FROM both_ b JOIN pr0 p ON p.node = b.s),
    m1 AS (SELECT node, SUM(c) AS mass FROM c1 GROUP BY node),
    pr1 AS (SELECT p.node, p.d,
                   ROUND((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                           / (SELECT n FROM nn)
                         + CAST(0.85 AS DOUBLE)
                           * COALESCE(CAST(m.mass AS DOUBLE), 0.0), 12) AS pr
            FROM pr0 p LEFT JOIN m1 m ON m.node = p.node),
    c2 AS (SELECT b.t AS node,
                  CAST(ROUND(p.pr / p.d, 12) AS DECIMAL(28,12)) AS c
           FROM both_ b JOIN pr1 p ON p.node = b.s),
    m2 AS (SELECT node, SUM(c) AS mass FROM c2 GROUP BY node),
    pr2 AS (SELECT p.node, p.d,
                   ROUND((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                           / (SELECT n FROM nn)
                         + CAST(0.85 AS DOUBLE)
                           * COALESCE(CAST(m.mass AS DOUBLE), 0.0), 12) AS pr
            FROM pr1 p LEFT JOIN m2 m ON m.node = p.node)
    SELECT node, ROUND(pr, 6) AS pr FROM (
      SELECT node, pr, ROW_NUMBER() OVER (ORDER BY pr DESC, node) AS rn
      FROM pr2) WHERE rn <= 20
    """,
)
def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (2 power iterations, alpha=0.85) over the co-purchase
    part graph — the iterative-graph workload on DataFrames: one
    destination-keyed shuffle per round, rank frame localCheckpointed
    so lineage stays flat. Contributions ride a 12-decimal DECIMAL grid
    (accumulation-order-independent), which is what lets a SQL oracle
    replay a FLOAT iteration bit-for-bit. Emits the top-20 hubs."""
    # shared materialized co-purchase edge artifact (built once per
    # session+testdata; oracle still derives the graph from lineitem)
    edges = graph_ops.copurchase_edges(spark, sf_dir)
    pr = graph_ops.pagerank(edges, n_iter=2, alpha=0.85)
    return win_ops.top_k(pr, [F.col("pr").desc(), F.col("node").asc()], 20).select(
        "node", F.round("pr", 6).alias("pr")
    )


@query(
    "dsir_importance_weights",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source,
             unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                    x -> x <> '')) AS term
      FROM documents),
    tot AS (
      SELECT CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS DOUBLE) AS tgt_tot,
             CAST(COUNT(*) AS DOUBLE) AS raw_tot
      FROM tok),
    vocab AS (
      SELECT term,
             CAST(COUNT(*) AS BIGINT) AS raw_cnt,
             CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS tgt_cnt
      FROM tok GROUP BY term),
    w AS (
      SELECT term,
             CAST(ROUND(LN(((tgt_cnt + 0.5) / (SELECT tgt_tot FROM tot))
                           / ((raw_cnt + 0.5) / (SELECT raw_tot FROM tot))), 6)
                  AS DECIMAL(24,6)) AS lam
      FROM vocab),
    scored AS (
      SELECT t.doc_id, SUM(w.lam) AS score_dec
      FROM tok t JOIN w USING (term)
      GROUP BY t.doc_id)
    SELECT doc_id, CAST(score_dec AS DOUBLE) AS dsir_score FROM (
      SELECT doc_id, score_dec,
             ROW_NUMBER() OVER (ORDER BY score_dec DESC, doc_id) AS rn
      FROM scored) WHERE rn <= 30
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting (Xie et al. 2023): score every
    document by its unigram log-likelihood ratio between a target
    domain (source='src0') and the raw corpus, +0.5 smoothing; the
    top-scored docs are the ones importance resampling would draw to
    shift the mix toward the target. One token pass builds BOTH
    distributions (conditional aggregates); per-term weights round to
    a 6-decimal DECIMAL so the per-doc sum is accumulation-order-free;
    the doc join is term-keyed against a vocab-sized weight table.
    Emits the top-30 most target-like documents."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "source",
        F.explode(text_ops.tokens(F.lower(F.col("text")))).alias("term"),
    )
    is_tgt = (F.col("source") == "src0").cast("int")
    tot = tok.agg(
        F.sum(is_tgt).cast("double").alias("tgt_tot"),
        F.count(F.lit(1)).cast("double").alias("raw_tot"),
    )
    vocab = tok.groupBy("term").agg(
        F.count(F.lit(1)).alias("raw_cnt"),
        F.sum(is_tgt).alias("tgt_cnt"),
    )
    lam = F.round(
        F.log(
            ((F.col("tgt_cnt") + 0.5) / F.col("tgt_tot"))
            / ((F.col("raw_cnt") + 0.5) / F.col("raw_tot"))
        ),
        6,
    ).cast("decimal(24,6)")
    w = vocab.crossJoin(F.broadcast(tot)).select("term", lam.alias("lam"))
    scored = (
        tok.select("doc_id", "term")
        .join(w, "term")
        .groupBy("doc_id")
        .agg(F.sum("lam").alias("score_dec"))
    )
    return win_ops.top_k(
        scored, [F.col("score_dec").desc(), F.col("doc_id").asc()], 30
    ).select("doc_id", F.col("score_dec").cast("double").alias("dsir_score"))


@query(
    "corr_matrix_lineitem",
    oracle="""
    WITH base AS (SELECT l_quantity AS q, l_extendedprice AS p,
                         l_discount AS dc, l_tax AS tx FROM lineitem),
    pairs AS (
      SELECT 'qty_price' AS pair, q AS x, p AS y FROM base
      UNION ALL SELECT 'qty_discount', q, dc FROM base
      UNION ALL SELECT 'qty_tax', q, tx FROM base
      UNION ALL SELECT 'price_discount', p, dc FROM base
      UNION ALL SELECT 'price_tax', p, tx FROM base
      UNION ALL SELECT 'discount_tax', dc, tx FROM base),
    sums AS (
      SELECT pair,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(ROUND(x * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS sx,
             CAST(SUM(CAST(ROUND(y * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS sy,
             CAST(SUM(CAST(ROUND(x * y * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sxy,
             CAST(SUM(CAST(ROUND(x * x * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sxx,
             CAST(SUM(CAST(ROUND(y * y * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0 AS syy
      FROM pairs GROUP BY pair)
    SELECT pair,
           ROUND((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr
    FROM sums
    """,
)
def corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over 4 fact-table measures in
    ONE pass and ONE aggregate row: all 15 sufficient statistics (4
    Σv + 4 Σv² + 6 Σvw + n) accumulate as a single global partial agg —
    no per-pair row fan-out (an earlier explode×6 variant shuffled 6×
    the fact table and ran 30× slower), no grouping key at all. Sums are
    EXACT via split-int64 accumulators (hi/lo halves of the 1e-6-grid
    integers summed as plain longs, recombined in one decimal op) so
    the closed-form corr from exact sums is engine-independent, which
    plain float Σxy never is — and 4x faster than decimal(38,6)
    accumulators, which were this query's entire cost; the 1→6 row
    unpivot happens on the single result row. The feature-covariance
    shape every training-data audit needs."""
    li = _t(spark, sf_dir, "lineitem")
    cols = {"q": "l_quantity", "p": "l_extendedprice", "dc": "l_discount", "tx": "l_tax"}
    pair_defs = [
        ("qty_price", "q", "p"), ("qty_discount", "q", "dc"),
        ("qty_tax", "q", "tx"), ("price_discount", "p", "dc"),
        ("price_tax", "p", "tx"), ("discount_tax", "dc", "tx"),
    ]
    # SPLIT-INT64 exact sums (round 5): each grid-snapped value splits
    # into (x div 2^25, x mod 2^25) and the two halves accumulate as
    # plain LONG sums — codegen-fast — then recombine exactly in one
    # 1-row decimal op. Decimal(38,6) accumulators computed the same
    # totals 4x slower (7.2 s -> 1.8 s measured, the whole query's
    # cost); headroom: lo ≤ rows·2^25, hi ≤ rows·x_max/2^25, both
    # inside int64 to ~1e9 rows at these grids. The oracle sums the
    # same integers directly into HUGEINT — identical totals.
    split = 1 << 25
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]

    def split_sum(name: str, sql_expr: str, scale: int) -> None:
        x = f"CAST(ROUND(({sql_expr}) * {scale}) AS BIGINT)"
        aggs.append(F.expr(f"SUM({x} div {split})").alias(f"{name}_hi"))
        aggs.append(F.expr(f"SUM({x} % {split})").alias(f"{name}_lo"))

    scales = {}
    for k, c in cols.items():
        split_sum(f"s_{k}", c, 10**4)
        scales[f"s_{k}"] = 10**4
        split_sum(f"ss_{k}", f"{c} * {c}", 10**6)
        scales[f"ss_{k}"] = 10**6
    for nm, a, b in pair_defs:
        split_sum(f"sp_{nm}", f"{cols[a]} * {cols[b]}", 10**6)
        scales[f"sp_{nm}"] = 10**6

    def stat(name: str):
        total = (
            F.col(f"{name}_hi").cast("decimal(38,0)") * split
            + F.col(f"{name}_lo")
        )
        return (total.cast("double") / scales[name]).alias(name)

    sums = li.agg(*aggs).select(F.col("n"), *[stat(n) for n in scales])

    def corr_for(nm: str, a: str, b: str):
        num = F.col("n") * F.col(f"sp_{nm}") - F.col(f"s_{a}") * F.col(f"s_{b}")
        den = F.sqrt(F.col("n") * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")) * F.sqrt(
            F.col("n") * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")
        )
        return F.struct(F.lit(nm).alias("pair"), F.round(num / den, 6).alias("corr"))

    pairs_arr = F.array(*[corr_for(nm, a, b) for nm, a, b in pair_defs])
    return sums.select(F.explode(pairs_arr).alias("s")).select("s.pair", "s.corr")


# ---------------------------------------------------------------------------
# Round-2 wave 13: LM-likelihood quality scoring, retrieval evaluation.
# ---------------------------------------------------------------------------

@query(
    "unigram_logprob_quality",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                    x -> x <> '')) AS term
      FROM documents),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM tok),
    vocab AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term),
    w AS (SELECT term,
                 CAST(ROUND(LN(CAST(cnt AS DOUBLE) / (SELECT n FROM tot)), 6)
                      AS DECIMAL(24,6)) AS logp
          FROM vocab),
    scored AS (
      SELECT t.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             SUM(w.logp) AS lp_dec
      FROM tok t JOIN w USING (term)
      GROUP BY t.doc_id)
    SELECT doc_id, n_tokens,
           ROUND(CAST(lp_dec AS DOUBLE) / n_tokens, 6) AS avg_logp
    FROM (
      SELECT doc_id, n_tokens, lp_dec,
             ROW_NUMBER() OVER (
               ORDER BY CAST(lp_dec AS DOUBLE) / n_tokens ASC, doc_id) AS rn
      FROM scored) WHERE rn <= 25
    """,
)
def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM-likelihood quality scoring: fit a unigram LM on
    the corpus itself (one token pass), score each document by its mean
    token log-probability, and surface the 25 least-probable documents
    — the ones a perplexity filter would route to the 'tail' bucket.
    Per-term log-probs ride a 6-decimal DECIMAL so the per-doc sum is
    accumulation-order-free; the scoring join is vocab-sized. The real
    CCNet uses a 5-gram KenLM — the Spark shape (broadcast LM table,
    token-keyed join, per-doc aggregate) is identical."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(text_ops.tokens(F.lower(F.col("text")))).alias("term")
    )
    tot = tok.agg(F.count(F.lit(1)).cast("double").alias("n"))
    vocab = tok.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    logp = F.round(F.log(F.col("cnt").cast("double") / F.col("n")), 6).cast(
        "decimal(24,6)"
    )
    w = vocab.crossJoin(F.broadcast(tot)).select("term", logp.alias("logp"))
    scored = (
        tok.join(w, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("logp").alias("lp_dec"),
        )
    )
    avg = F.col("lp_dec").cast("double") / F.col("n_tokens")
    return win_ops.top_k(
        scored.withColumn("_avg", avg), [F.col("_avg").asc(), F.col("doc_id").asc()], 25
    ).select("doc_id", "n_tokens", F.round("_avg", 6).alias("avg_logp"))


@query(
    "retrieval_eval_ndcg",
    oracle="""
    WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv, label AS qlab
               FROM embeddings WHERE vec_id < 20),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec, label FROM embeddings),
    ranked AS (
      SELECT qid, qlab, vec_id, label,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
      FROM (SELECT q.qid, q.qlab, v.vec_id, v.label,
                   list_dot_product(q.qv, v.vec)
                     / (sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(v.vec, v.vec))) AS cos
            FROM q CROSS JOIN v WHERE v.vec_id <> q.qid)),
    top AS (SELECT * FROM ranked WHERE rnk <= 10),
    lab AS (SELECT label, COUNT(*) AS n FROM v GROUP BY label),
    per AS (
      SELECT qid,
             CAST(SUM(CASE WHEN label = qlab THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
             COALESCE(MAX(CASE WHEN label = qlab
                          THEN ROUND(CAST(1.0 AS DOUBLE) / rnk, 9) END), 0.0) AS rr,
             SUM(CASE WHEN label = qlab
                 THEN CAST(ROUND(CAST(1.0 AS DOUBLE) / log2(rnk + 1), 9) AS DECIMAL(20,9))
                 ELSE CAST(0 AS DECIMAL(20,9)) END) AS dcg
      FROM top GROUP BY qid),
    ideal AS (
      SELECT q.qid,
             SUM(CAST(ROUND(CAST(1.0 AS DOUBLE) / log2(g.i + 1), 9) AS DECIMAL(20,9))) AS idcg
      FROM q JOIN lab ON lab.label = q.qlab,
           LATERAL (SELECT unnest(range(1, least(lab.n - 1, 10) + 1)) AS i) g
      GROUP BY q.qid)
    SELECT p.qid AS query_id, p.n_rel,
           ROUND(p.rr, 6) AS rr,
           ROUND(CAST(p.dcg AS DOUBLE) / CAST(i.idcg AS DOUBLE), 6) AS ndcg10
    FROM per p JOIN ideal i ON i.qid = p.qid
    """,
)
def retrieval_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation — the harness that grades an ANN
    index against labeled ground truth: for 20 query vectors, exact
    cosine top-10 (self excluded), relevance = label match, and per
    query the three standard metrics (hit count, reciprocal rank,
    nDCG@10 with IDCG from the true per-label availability). Queries
    broadcast; the rank window partitions by query id (bounded
    fan-in); log2 discounts round to a 9-decimal DECIMAL so the DCG
    sums replay exactly in SQL. This runs after every index build in a
    production pipeline — recall regressions fail the build."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("qlab"),
        sim_ops.norm(F.col("embedding"), 64).alias("qn"),
    )
    v = e.select("vec_id", "embedding", "label",
                 sim_ops.norm(F.col("embedding"), 64).alias("vn"))
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "qlab", "vec_id", "label",
            (sim_ops.dot(F.col("qv"), F.col("embedding"), 64)
             / (F.col("qn") * F.col("vn"))).alias("cos"),
        )
    )
    rnk = F.row_number().over(
        Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    )
    top = scored.withColumn("rnk", rnk).filter(F.col("rnk") <= 10)
    rel = F.col("label") == F.col("qlab")
    disc = lambda r: F.round(F.lit(1.0) / F.log2(r + 1), 9).cast("decimal(20,9)")
    per = top.groupBy("qid").agg(
        F.sum(rel.cast("int")).cast("bigint").alias("n_rel"),
        F.coalesce(
            F.max(F.when(rel, F.round(F.lit(1.0) / F.col("rnk"), 9))), F.lit(0.0)
        ).alias("rr"),
        F.sum(
            F.when(rel, disc(F.col("rnk"))).otherwise(F.lit(0).cast("decimal(20,9)"))
        ).alias("dcg"),
    )
    lab = e.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    ideal = (
        q.join(lab, q["qlab"] == lab["label"])
        .select("qid", F.explode(F.sequence(F.lit(1), F.least(F.col("n") - 1, F.lit(10)))).alias("i"))
        .groupBy("qid")
        .agg(F.sum(disc(F.col("i"))).alias("idcg"))
    )
    return per.join(ideal, "qid").select(
        F.col("qid").alias("query_id"),
        "n_rel",
        F.round("rr", 6).alias("rr"),
        F.round(F.col("dcg").cast("double") / F.col("idcg").cast("double"), 6).alias("ndcg10"),
    )


@query(
    "dedup_shingle_containment",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '') AS toks
      FROM documents
    ),
    raw_shingles AS (
      SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 5
        THEN [array_to_string(toks[i:i+4], ' ') FOR i IN range(1, len(toks) - 3)]
        ELSE [array_to_string(toks, ' ')] END)) AS shingle
      FROM toks
    ),
    shingles AS (
      SELECT r.doc_id, r.shingle FROM raw_shingles r
      JOIN (SELECT shingle FROM raw_shingles GROUP BY shingle HAVING COUNT(*) <= 64) k
        USING (shingle)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM shingles a JOIN shingles b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           ROUND(CAST(inter AS DOUBLE) / LEAST(sa.sz, sb.sz), 6) AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(inter AS DOUBLE) / LEAST(sa.sz, sb.sz) >= 0.8
    """,
)
def dedup_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment dedup: |A∩B| / min(|A|,|B|) over word-5-gram shingle
    sets — the asymmetric cousin of Jaccard that CATCHES SUBSET
    duplication (a short doc quoted whole inside a long one scores
    containment 1.0 but Jaccard near 0), the relation benchmark
    decontamination actually needs. Same linear machinery as the
    Jaccard path: inverted-index candidate join (only docs sharing a
    shingle ever meet) with the max_df=64 boilerplate cut bounding the
    candidate fan-out at corpus scale."""
    d = _t(spark, sf_dir, "documents")
    # PREFIX FILTERING for containment (round 10): the full x full
    # postings self-join generated every co-occurring pair; exactness
    # only needs each doc's RAREST-FIRST PREFIX of length
    # sz - ceil(t*sz) + 1 probed against the OTHER side's full postings.
    # Proof: for a qualifying pair let A be the smaller set, so
    # |A inter B| >= ceil(t*|A|); if A's prefix missed B entirely, the
    # whole intersection would fit in A's suffix of ceil(t*|A|) - 1
    # shingles — contradiction. Probing BOTH prefixes against both full
    # sides is a superset of the smaller-side requirement, so no pair is
    # lost. At t=0.8 the probe stream is ~20% of the postings — the same
    # PPJoin idea ngram_jaccard_pairs uses, adapted to the asymmetric
    # threshold, over the same rarest-first shingle sets (uncached: the
    # prefix probe, the full side and the verification sets read their
    # groupBy's shuffle back as a ReusedExchange).
    packed = dedup_ops._shingle_sets(d, "text", "doc_id", 5, 64)
    # epsilon only LENGTHENS the prefix (ceil(t*sz - eps) <= ceil(t*sz)),
    # so exactness is preserved.
    plen = F.col("sz") - F.ceil(F.col("sz") * 0.8 - 1e-9) + 1
    # Probe join keyed on xxhash64(shingle) longs, not shingle strings
    # (round 14, guide §2.3) — same narrowing as ngram_jaccard_pairs:
    # the prefix-vs-full-postings join is this query's largest exchange,
    # and the exact containment verification below makes hash-collision
    # candidates harmless (equal shingles hash equal, so no qualifying
    # pair is lost; extras fail the >= 0.8 filter).
    prefix = packed.select(
        "doc_id", F.explode(F.slice("sh", 1, plen.cast("int"))).alias("shingle")
    ).select("doc_id", F.xxhash64("shingle").alias("_shk"))
    full = packed.select(
        F.col("doc_id").alias("fid"), F.explode("sh").alias("shingle")
    ).select("fid", F.xxhash64("shingle").alias("_shk"))
    cand = (
        prefix.join(full, "_shk")
        .filter(F.col("doc_id") != F.col("fid"))
        .select(
            F.least("doc_id", "fid").alias("id_a"),
            F.greatest("doc_id", "fid").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sets_ = packed.select("doc_id", "sh", "sz")
    verified = (
        cand.join(
            sets_.select(F.col("doc_id").alias("id_a"),
                         F.col("sh").alias("sh_a"), F.col("sz").alias("sz_a")),
            "id_a",
        )
        .join(
            sets_.select(F.col("doc_id").alias("id_b"),
                         F.col("sh").alias("sh_b"), F.col("sz").alias("sz_b")),
            "id_b",
        )
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
    )
    cont = F.col("inter").cast("double") / F.least(F.col("sz_a"), F.col("sz_b"))
    return (
        verified.filter(cont >= 0.8)
        .select("id_a", "id_b", F.round(cont, 6).alias("containment"))
    )
