"""Generic RAG-ingestion plan over a document corpus — the engine's
north-star composition (BASELINE.json): what the reference does for one
ERCOT daily summary, done for arbitrary documents at corpus scale.

    documents
      → quality gate   (cheap column-expression filters, C4/Gopher style)
      → exact dedup    (md5 fingerprint groupBy, keep lowest id)
      → near dedup     (MinHash-LSH candidates ≥ threshold → drop higher id;
                        then one row per doc_id)
      → embed          (Arrow pandas_udf; injected encoder, fake in tests)
      → vector store   (keyed parquet/JDBC upsert — idempotent re-runs)
      → top-k serve    (brute-force or SRP-LSH cosine against the store)

Each stage is one of the already-tested operators; this module only
composes them, which is the point: a pipeline is a DataFrame → DataFrame
function chain, not an orchestration framework.

``ingest`` runs the chain as ONE Spark action, the upsert's write. The
per-stage row counts it returns are ``Observation``s riding that write,
not extra passes over the lineage. The one exception: when the optimizer
prunes an observed stage as empty (an empty corpus, every doc gated out,
an empty semi-join side), that observation reports no row, and just that
stage is counted with ``count()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from quantum_rag_data_pipeline_spark.functions.embedding import make_embed_udf
from quantum_rag_data_pipeline_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
from quantum_rag_data_pipeline_spark.operators.similarity import brute_force_topk
from quantum_rag_data_pipeline_spark.operators.text import tokens_sql


def quality_gate(
    docs: DataFrame,
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    min_distinct_ratio: float = 0.1,
) -> DataFrame:
    """Keep documents passing the cheap quality filters (token count and
    distinct-token ratio, as ``quality_metrics`` defines them). Pure
    column expressions — runs at scan speed, before anything expensive.

    The token array is bound once per row as the lambda variable of a
    one-element ``exists``: Catalyst does not eliminate common
    subexpressions into lambdas, and predicate pushdown inlines a
    projected token column back into the Filter, so each reference to
    it would otherwise re-run the split."""
    n = "size(toks)"
    return docs.filter(
        f"exists(array({tokens_sql('text')}), toks -> "
        f"{n} >= {int(min_tokens)} AND {n} <= {int(max_tokens)} AND "
        f"CASE WHEN {n} > 0 THEN CAST(size(array_distinct(toks)) AS DOUBLE) / {n} END "
        f">= {float(min_distinct_ratio)!r}D)"
    )


def one_per_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per id: the lowest text. A batch that repeats an id would
    otherwise reach the keyed store as several rows, of which the upsert
    keeps whichever its window ties put first. On ``near_dedup``'s output
    it adds no shuffle: the anti-join's ``hashpartitioning(id)`` exchange
    already clusters each id in one partition. Earlier in the chain it
    would cluster the MinHash aggregate's input by id too: the aggregate
    would then have no shuffle of its own to reuse, and would run once
    per consumer."""
    w = Window.partitionBy(id_col).orderBy(F.col(text_col))
    return (docs.withColumn("_id_rn", F.row_number().over(w))
            .filter(F.col("_id_rn") == 1).drop("_id_rn"))


def near_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
               threshold: float = 0.6) -> DataFrame:
    """Drop the higher-id member of every MinHash-LSH near-dup pair.
    Anti-join against the drop-set — one extra shuffle, no text moves."""
    pairs = minhash_lsh_pairs(docs, text_col, id_col, num_hashes=64, bands=16,
                              n=5, verify_threshold=threshold)
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return docs.join(drop, id_col, "left_anti")


def _observed(df: DataFrame) -> tuple[DataFrame, Observation]:
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def _observed_count(obs: Observation, df: DataFrame) -> int:
    """The row count ``obs`` saw on the write. When the optimizer pruned
    the observed subtree as empty, no row is reported (``Observation.get``
    would fail), and ``df`` is counted instead."""
    if obs._jo.getRow().length() == 0:
        return df.count()
    return obs.get["n"]


def ingest(
    spark: SparkSession,
    docs: DataFrame,
    store_path: str,
    encoder=None,
    embed_dim: int = 64,
    near_dup_threshold: float = 0.6,
) -> dict:
    """Full ingest; returns stage-count telemetry. Idempotent by doc_id:
    a batch that repeats a doc_id stores (and counts in
    ``after_near_dedup``) one row for it, the lowest text (``one_per_id``).

    One Spark action: each stage's row count is an ``Observation`` on
    that stage's frame, collected while the upsert writes. Only when the
    optimizer prunes an observed stage as empty (an empty corpus, every
    doc gated out, an empty semi-join side) does that one stage get a
    ``count()`` of its own."""
    from quantum_rag_data_pipeline_spark.sinks.upsert import parquet_upsert

    raw, obs_raw = _observed(docs)
    gated, obs_gated = _observed(quality_gate(raw))
    exact, obs_exact = _observed(exact_dedup(gated))
    deduped, obs_final = _observed(one_per_id(near_dedup(exact, threshold=near_dup_threshold)))

    embed = make_embed_udf(encoder, embed_dim)
    rows = deduped.select(
        F.col("doc_id"), F.col("text"),
        embed(F.col("text")).alias("embedding"),
        F.current_timestamp().alias("updated_at"),
    )
    parquet_upsert(spark, rows, store_path, ["doc_id"], version_col="updated_at")
    return {"raw": _observed_count(obs_raw, docs),
            "after_quality": _observed_count(obs_gated, gated),
            "after_exact_dedup": _observed_count(obs_exact, exact),
            "after_near_dedup": _observed_count(obs_final, deduped)}


def serve_topk(spark: SparkSession, store_path: str, query_vecs: DataFrame,
               k: int = 10, dim: int = 64) -> DataFrame:
    """Top-k cosine retrieval against the ingested store."""
    store = spark.read.parquet(store_path).select(
        F.col("doc_id").alias("vec_id"), F.col("embedding")
    )
    return brute_force_topk(store, query_vecs, k=k, dim=dim)
