"""End-to-end RAG-ingestion plan: gate → dedup → embed → store → serve."""

import pytest
from pyspark.sql import functions as F

from quantum_rag_data_pipeline_spark.functions.embedding import fake_encode_batch
from quantum_rag_data_pipeline_spark.plans.rag_ingest import ingest, serve_topk
from quantum_rag_data_pipeline_spark.sources.registry import load_table


def test_rag_ingest_end_to_end(spark, sf_dir, tmp_path):
    store = str(tmp_path / "vector_store")
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    # inject exact + near duplicates (derived from the corpus itself)
    dup_exact = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(dup_exact)

    tally = ingest(spark, corpus, store, embed_dim=32)
    assert tally["raw"] == corpus.count()
    assert tally["after_quality"] <= tally["raw"]
    # every injected exact duplicate must be removed
    assert tally["after_exact_dedup"] <= tally["after_quality"] - dup_exact.count() + 1
    assert tally["after_near_dedup"] <= tally["after_exact_dedup"]

    stored = spark.read.parquet(store)
    assert stored.count() == tally["after_near_dedup"]
    assert len(stored.first()["embedding"]) == 32

    # idempotent re-ingest: same corpus → same store
    tally2 = ingest(spark, corpus, store, embed_dim=32)
    assert tally2 == tally
    assert spark.read.parquet(store).count() == tally["after_near_dedup"]

    # retrieval: querying with a stored doc's own embedding returns it first
    # (re-read: the upsert swapped the files under the old DataFrame's plan)
    stored = spark.read.parquet(store)
    probe_ids = [r["doc_id"] for r in stored.select("doc_id").limit(3).collect()]
    q = stored.filter(F.col("doc_id").isin(probe_ids)).select(
        F.col("doc_id").alias("query_id"), "embedding"
    )
    top = serve_topk(spark, store, q, k=5, dim=32)
    best = {r["query_id"]: r["vec_id"] for r in top.collect() if r["cos_sim"] >= 0.999999}
    assert all(best[i] == i for i in probe_ids)


SCHEMA = "doc_id long, text string"
LONG_A = "the quarterly grid report shows wind output rising across west texas this spring"
LONG_B = "natural gas plants covered most of the evening peak while solar faded after sunset"
LONG_C = "battery storage fleets now shift midday solar energy into the evening demand ramp"
LONG_D = "transmission congestion between houston and the north hub widened price spreads"


@pytest.mark.parametrize("rows, expected", [
    ([], (0, 0, 0, 0)),
    ([(1, "too short"), (2, "tiny doc here"), (3, ""), (4, "four words only here")],
     (4, 0, 0, 0)),
    ([(1, LONG_A), (2, LONG_A), (3, "  " + LONG_A.upper()), (4, LONG_A)], (4, 4, 1, 1)),
    ([(1, LONG_A), (2, LONG_B), (3, LONG_C), (4, LONG_D)], (4, 4, 4, 4)),
], ids=["empty", "all_below_gate", "all_exact_dups", "no_near_dup_pair"])
def test_ingest_degenerate_corpus(spark, tmp_path, rows, expected):
    """Degenerate corpora return the tally of counting each stage, and
    the store holds ``after_near_dedup`` rows."""
    store = str(tmp_path / "vector_store")
    tally = ingest(spark, spark.createDataFrame(rows, SCHEMA), store, embed_dim=8)
    keys = ("raw", "after_quality", "after_exact_dedup", "after_near_dedup")
    assert tally == dict(zip(keys, expected))
    assert spark.read.parquet(store).count() == tally["after_near_dedup"]


def test_ingest_runs_no_count_pass(spark, sf_dir, tmp_path, monkeypatch):
    """The stage counts ride the upsert write: on a corpus with exact and
    near duplicates, ingest returns the tally of counting each stage
    directly without calling ``DataFrame.count``."""
    from quantum_rag_data_pipeline_spark.operators.dedup import exact_dedup
    from quantum_rag_data_pipeline_spark.plans.rag_ingest import near_dedup, quality_gate

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    dup_exact = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(dup_exact)
    gated = quality_gate(corpus)
    exact = exact_dedup(gated)
    expected = {"raw": corpus.count(), "after_quality": gated.count(),
                "after_exact_dedup": exact.count(),
                "after_near_dedup": near_dedup(exact).count()}
    spark.catalog.clearCache()
    assert expected["after_near_dedup"] < expected["after_exact_dedup"] < expected["raw"]

    def no_count(self):
        raise AssertionError("ingest ran a count() pass")

    # the session's concrete DataFrame class, not the pyspark.sql.DataFrame base
    monkeypatch.setattr(type(corpus), "count", no_count)
    store = str(tmp_path / "vector_store")
    assert ingest(spark, corpus, store, embed_dim=8) == expected
    monkeypatch.undo()
    assert spark.read.parquet(store).count() == expected["after_near_dedup"]
