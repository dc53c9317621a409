"""End-to-end RAG-ingestion plan: gate → dedup → embed → store → serve."""

import pytest
from pyspark.sql import functions as F

from quantum_rag_data_pipeline_spark.functions.embedding import fake_encode_batch
from quantum_rag_data_pipeline_spark.operators.text import quality_metrics
from quantum_rag_data_pipeline_spark.plans.rag_ingest import ingest, quality_gate, serve_topk
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


def test_ingest_repeated_doc_id(spark, tmp_path):
    """A batch that repeats a doc_id stores one row for it, the lowest
    text, in either batch order, and ``after_near_dedup`` counts the
    stored rows."""
    keys = ("raw", "after_quality", "after_exact_dedup", "after_near_dedup")
    for i, rows in enumerate(([(1, LONG_A), (1, LONG_B), (2, LONG_C)],
                              [(1, LONG_B), (2, LONG_C), (1, LONG_A)])):
        store = str(tmp_path / f"vector_store{i}")
        tally = ingest(spark, spark.createDataFrame(rows, SCHEMA), store, embed_dim=8)
        assert tally == dict(zip(keys, (3, 3, 3, 2)))
        stored = {r["doc_id"]: r["text"] for r in spark.read.parquet(store).collect()}
        assert stored == {1: min(LONG_A, LONG_B), 2: LONG_C}


def _write_plan(spark, path: str) -> str:
    """The physical plan of the last SQL execution that wrote under
    ``path`` (the upsert writes into ``<path>.staging-*``), as the SQL
    status store holds it: its final adaptive plan once it has run."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    recent = store.executionsList(max(0, n - 20), 20)
    plans = [recent.apply(i).physicalPlanDescription() for i in range(recent.size())]
    return [p for p in plans if f"{path}.staging-" in p][-1]


def test_ingest_plans_one_adaptive_plan(spark, sf_dir, tmp_path):
    """One ingest is one adaptive plan: no cached relation in its write
    (a cache is planned apart, re-runs the gate and exact dedup under it
    and keeps every shuffle partition), the MinHash aggregate's shuffle
    read again as a ``ReusedExchange``, and at most 11 jobs (17 with the
    signature cache)."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    corpus = docs.unionByName(docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"))
    store = str(tmp_path / "vector_store")
    sc = spark.sparkContext
    sc.setJobGroup("ingest-plan-shape", "ingest-plan-shape")
    try:
        ingest(spark, corpus, store, embed_dim=8)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    plan = _write_plan(spark, store)
    final = plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    assert "InMemoryRelation" not in plan and "TableCacheQueryStage" not in plan
    assert "ReusedExchange" in final
    assert len(sc.statusTracker().getJobIdsForGroup("ingest-plan-shape")) <= 11


def test_quality_gate_tokenizes_once(spark, sf_dir):
    """The gate's executed Filter splits each text once (5 times when it
    filtered on ``quality_metrics``' columns: predicate pushdown inlined
    the projected token array into each condition)."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    plan = quality_gate(docs)._jdf.queryExecution().executedPlan().toString()
    filters = [line for line in plan.splitlines()
               if line.lstrip(" :+-*()0123456789").startswith("Filter ")]
    assert len(filters) == 1 and filters[0].count("split(") == 1, plan


def test_quality_gate_matches_quality_metrics(spark, tmp_path):
    """The gate keeps exactly the documents whose ``quality_metrics``
    pass its thresholds: on the metrics' edge documents (empty,
    whitespace-only, NULL, punctuation-only, mixed case) and on both
    sides of each threshold, at the default thresholds and others."""
    from test_operators import QUALITY_EDGE_DOCS

    rows = QUALITY_EDGE_DOCS + [
        (6, "one two three four five"), (7, "one two three four"),
        (8, " ".join(["spam"] * 20)), (9, " ".join(["spam"] * 9 + ["eggs"])),
        (10, "  alpha beta\tgamma  delta\n epsilon  "),
    ]
    path = str(tmp_path / "docs")
    spark.createDataFrame(rows, SCHEMA).write.parquet(path)
    docs = spark.read.parquet(path)
    q = quality_metrics(docs)
    for kw in ({}, {"min_tokens": 0, "min_distinct_ratio": 0.0},
               {"min_tokens": 2, "max_tokens": 9, "min_distinct_ratio": 0.5}):
        lo, hi, ratio = kw.get("min_tokens", 5), kw.get("max_tokens", 100_000), \
            kw.get("min_distinct_ratio", 0.1)
        want = q.filter((F.col("q_n_tokens") >= lo) & (F.col("q_n_tokens") <= hi)
                        & (F.col("q_distinct_ratio") >= ratio))
        got = sorted(r["doc_id"] for r in quality_gate(docs, **kw).collect())
        assert got == sorted(r["doc_id"] for r in want.collect()), kw
        if not kw:
            assert got == [5, 6, 9, 10]
