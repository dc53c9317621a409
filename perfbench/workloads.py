"""The benchmark's workloads. Each drives the program's public entry
points (``plans``, ``operators``, ``sinks``, ``queries``) from outside,
on inputs from ``inputs``, and checks what the program wrote.

A workload's steps, as ``run.py`` calls them:

- ``prepare``: make the seeded inputs (before the session starts);
- ``setup``: the untimed work a user pays once (such as a store build);
- ``bind``: create the frames that belong to a session;
- ``reset``: untimed, before every operation;
- ``op``: one operation, returning what ``items`` counts;
- ``warm_op``: an untimed operation before the timed ones (``op``
  unless a cheaper one warms the same code paths);
- ``check``: verify the program's output after an operation (with
  ``plant``, first corrupt it, to prove the check fires);
- ``layers`` and ``extras``: the traced run's wrappers and its per-layer
  passes after the timed loop. ``layer`` sums values over the traced
  timed operations, ``once`` holds values of a whole traced run.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.trace import Tracer
from quantum_rag_data_pipeline_spark.functions.embedding import fake_encode_batch

HERE = os.path.dirname(os.path.abspath(__file__))

# queries.QUERIES entries the daily_backfill traced run times once: the
# two streaming drains, the block-pair kNN graph, connected-components dedup
CORPUS = ("streaming_outer_join_null_emission", "streaming_sessionization",
          "knn_graph_mutual", "dedup_pipeline_canonical")
STREAMING = CORPUS[:2]


class Workload:
    item_unit = "items"
    timed_ops = 1  # operations a run times at least

    def __init__(self, work: str, seed: int, size: str, plant: bool):
        self.work, self.seed, self.size, self.plant = work, seed, size, plant
        self.layer: dict[str, float] = {}
        self.once: dict[str, float] = {}

    def add(self, name: str, value: float) -> None:
        self.layer[name] = self.layer.get(name, 0) + value

    def bind(self, spark) -> None:
        """(Re)create the frames that belong to a session."""

    def reset(self, spark) -> None:
        """Untimed, before every operation."""
        spark.catalog.clearCache()

    def warm_op(self, spark):
        return self.op(spark)

    def items(self, result) -> int:
        return result

    @contextlib.contextmanager
    def layers(self, spark, tracer: Tracer):
        yield

    def extras(self, spark, tracer: Tracer) -> tuple[int, list]:
        """Traced run only, after the timed loop: (operations attempted,
        errors)."""
        return 0, []

    @contextlib.contextmanager
    def upsert_layer(self, tracer: Tracer):
        """Spans ``sinks.upsert.parquet_upsert`` and counts the rows passed
        to it through an ``Observation`` on that frame, which rides the
        merge's own write (no extra pass). What the merge wrote comes from
        the event log's output metrics of its write jobs (``run.py``)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from quantum_rag_data_pipeline_spark.sinks import upsert

        orig = upsert.parquet_upsert

        def observed(spark, new_rows, *args, **kwargs):
            obs = Observation()
            with tracer.span("upsert"):
                orig(spark, new_rows.observe(obs, F.count(F.lit(1)).alias("rows")),
                     *args, **kwargs)
            self.add("upsert.rows_new", obs.get["rows"])

        upsert.parquet_upsert = observed
        try:
            yield
        finally:
            upsert.parquet_upsert = orig


class EmbeddingProbe:
    """Encoder passed as ``encoder=``: calls ``fake_encode_batch`` and
    reports calls, texts, encode seconds and zero vectors through Spark
    accumulators, which the executors' Python workers add to."""

    def __init__(self, sc, dim: int):
        self.dim = dim
        self.acc = {k: sc.accumulator(0.0) for k in ("calls", "texts", "encode_s", "zero_vectors")}

    def encoder(self):
        acc, dim = self.acc, self.dim

        def encode(texts):
            import time

            import numpy as np

            from quantum_rag_data_pipeline_spark.functions.embedding import fake_encode_batch

            t0 = time.perf_counter()
            vecs = fake_encode_batch(texts, dim)
            acc["encode_s"].add(time.perf_counter() - t0)
            acc["calls"].add(1)
            acc["texts"].add(len(texts))
            acc["zero_vectors"].add(sum(1 for v in vecs if not np.any(v)))
            return vecs

        return encode

    def values(self) -> dict[str, float]:
        return {f"embedding.{k}": a.value for k, a in self.acc.items()}


# -- daily_backfill ---------------------------------------------------------

class DailyBackfill(Workload):
    """``run_daily_summary_pipeline`` re-run over a window at the tail of
    a year-long pre-seeded sink."""

    item_unit = "days"
    DIGEST_SEED = 1

    def prepare(self) -> dict:
        self.sink = f"{self.work}/daily_sink"
        self.inp = inputs.daily_inputs(self.sink, self.seed, self.size)
        self.sf_dir = f"{self.work}/corpus_sf"
        return {"window_days": self.inp.window_days, "window": [self.inp.start, self.inp.end],
                "sink_rows": self.inp.sink_days, "rows_per_day": inputs.ROWS_PER_DAY,
                "junk_rate": inputs.JUNK_RATE, "endpoints": 6, "embed_dim": inputs.SUMMARY_DIM,
                "corpus_tables": inputs.corpus_tables(self.sf_dir, self.seed, self.size)}

    def setup(self, spark) -> None:
        self.client = inputs.ercot_client()
        self.encoder = None

    def bind(self, spark) -> None:
        from quantum_rag_data_pipeline_spark.sources.weather import (
            daily_avg_temperature,
            fake_daily_weather,
        )

        self.weather = daily_avg_temperature(fake_daily_weather(spark, self.inp.start, self.inp.end))

    def op(self, spark, start: str | None = None) -> int:
        from quantum_rag_data_pipeline_spark.plans.daily_summary import run_daily_summary_pipeline
        from quantum_rag_data_pipeline_spark.sources.ercot import ErcotQueries

        return run_daily_summary_pipeline(
            spark, ErcotQueries(spark, self.client), self.weather,
            start or self.inp.start, self.inp.end, self.sink, encoder=self.encoder,
            embed_dim=inputs.SUMMARY_DIM)

    def warm_op(self, spark) -> int:
        """The window's last day alone: the same per-day plan and code
        paths at a fraction of the window's cost."""
        last = date.fromisoformat(self.inp.end) - timedelta(days=1)
        return self.op(spark, last.isoformat())

    def check(self, result: int, op_index: int) -> list[str]:
        if self.plant and op_index == 0:
            t = pq.read_table(self.sink)
            pq.write_table(t.slice(0, 1), f"{self.sink}/part-planted.parquet")
        errors = []
        if result != self.inp.window_days:
            errors.append(f"pipeline returned {result} rows for {self.inp.window_days} days")
        t = pq.read_table(self.sink, columns=["vector_id", "semantic_sentence", "embedding"])
        ids = t.column("vector_id").to_pylist()
        if len(set(ids)) != len(ids):
            errors.append(f"{len(ids) - len(set(ids))} duplicated vector_id in the store")
        if len(ids) != self.inp.sink_days:
            errors.append(f"store holds {len(ids)} rows, expected {self.inp.sink_days}")
        emb = t.column("embedding").to_pylist()
        if any(len(v) != inputs.SUMMARY_DIM for v in emb):
            errors.append("embedding width is not 1536")
        else:
            norms = np.linalg.norm(np.asarray(emb, dtype=np.float64), axis=1)
            if not np.allclose(norms, 1.0, atol=1e-4):
                errors.append("embedding not unit-norm")
        if self.seed == self.DIGEST_SEED:
            digest = inputs.digest_rows(list(zip(ids, t.column("semantic_sentence").to_pylist())))
            with open(os.path.join(HERE, "expected.json")) as f:
                want = json.load(f)["daily_backfill"][self.size]
            if digest != want:
                errors.append(f"content digest {digest} != committed {want}")
        return errors

    @contextlib.contextmanager
    def layers(self, spark, tracer):
        from quantum_rag_data_pipeline_spark.plans import daily_summary

        probe = EmbeddingProbe(spark.sparkContext, inputs.SUMMARY_DIM)
        self.encoder = probe.encoder()

        def leaves(df, args, kwargs):
            self.add("sources.plan_leaves", df._jdf.queryExecution().logical().collectLeaves().size())

        envelopes0 = self.client.envelopes
        with tracer.wrap(daily_summary, "fetch_all_endpoints", "sources.fetch"), \
                tracer.wrap(daily_summary, "build_daily_summaries", "plans.build", after=leaves), \
                self.upsert_layer(tracer):
            yield
        self.add("sources.envelopes", self.client.envelopes - envelopes0)
        self.layer.update(probe.values())
        self.encoder = None

    def extras(self, spark, tracer) -> tuple[int, list]:
        """Each ``CORPUS`` query built, then forced with the noop sink,
        build and execution timed apart (a streaming query drains inside
        its build); then, untimed, its result hash-compared with its
        ``ORACLE`` SQL run by DuckDB on the same tables."""
        import duckdb

        from bench import warm_streaming  # also puts tools/ on sys.path
        from oracle_check import table_hash
        from quantum_rag_data_pipeline_spark.queries import ORACLE, QUERIES

        warm_streaming(spark)
        con = duckdb.connect()
        for t in ("documents", "events", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        errors = []
        for name in CORPUS:
            spark.catalog.clearCache()
            try:
                with tracer.span(f"corpus.{name}.build") as build:
                    df = QUERIES[name](spark, self.sf_dir)
                with tracer.span(f"corpus.{name}.exec") as execute:
                    df.write.mode("overwrite").format("noop").save()
                got, want = df.toArrow(), con.execute(ORACLE[name]).arrow()
            except Exception as exc:  # noqa: BLE001 — counted, not fatal
                errors.append(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
                continue
            self.once[f"corpus.{name}.build_s"] = build.end - build.start
            self.once[f"corpus.{name}.exec_s"] = execute.end - execute.start
            hashes = [table_hash(t.schema.names, [tuple(r.values()) for r in t.to_pylist()])
                      for t in (got, want)]
            if got.num_rows == 0 or hashes[0] != hashes[1]:
                errors.append(f"{name}: {got.num_rows} rows differ from the oracle's "
                              f"{want.num_rows}")
        for part in ("build_s", "exec_s"):
            self.once[f"corpus.{part}"] = sum(
                self.once.get(f"corpus.{q}.{part}", 0.0) for q in CORPUS)
        self.once["streaming.drain_s"] = sum(
            self.once.get(f"corpus.{q}.build_s", 0.0) for q in STREAMING)
        return len(CORPUS), errors


# -- rag_ingest ---------------------------------------------------------------

def _embed(texts):
    return fake_encode_batch(texts, inputs.DOC_DIM)


class RagIngest(Workload):
    """``ingest()`` of the seeded corpus into an empty store."""

    item_unit = "docs"
    # short operations that keep getting faster for a minute after the
    # cold one: a fixed count keeps every run at the same point of that
    # curve, and three average out more of a slow spell than two
    timed_ops = 3

    def prepare(self) -> dict:
        self.corpus = inputs.document_corpus(self.work, self.seed, self.size)
        self.store = f"{self.work}/rag_store"
        return self.corpus.describe()

    def setup(self, spark) -> None:
        self.encoder = _embed

    def bind(self, spark) -> None:
        self.docs = spark.read.parquet(self.corpus.path)

    def reset(self, spark) -> None:
        shutil.rmtree(self.store, ignore_errors=True)
        spark.catalog.clearCache()

    def op(self, spark) -> dict:
        from quantum_rag_data_pipeline_spark.plans.rag_ingest import ingest

        self.stats = ingest(spark, self.docs, self.store, encoder=self.encoder,
                            embed_dim=inputs.DOC_DIM)
        return self.stats

    def items(self, result: dict) -> int:
        return result["raw"]

    def check(self, result: dict, op_index: int) -> list[str]:
        if self.plant and op_index == 0:
            src = pq.read_table(self.store).slice(0, 1)
            planted = self.corpus.exact_dup_ids[0]
            src = src.set_column(0, "doc_id", pa.array([planted], type=pa.int64()))
            pq.write_table(src, f"{self.store}/part-planted.parquet")
        errors = []
        ids = pq.read_table(self.store, columns=["doc_id"]).column("doc_id").to_pylist()
        kept = set(self.corpus.exact_dup_ids) & set(ids)
        if kept:
            errors.append(f"{len(kept)} planted exact duplicates stored")
        if len(ids) != result["after_near_dedup"]:
            errors.append(f"store holds {len(ids)} rows, ingest reported {result['after_near_dedup']}")
        if len(set(ids)) != len(ids):
            errors.append("duplicated doc_id in the store")
        return errors

    @contextlib.contextmanager
    def layers(self, spark, tracer):
        probe = EmbeddingProbe(spark.sparkContext, inputs.DOC_DIM)
        self.encoder = probe.encoder()
        with self.upsert_layer(tracer):
            yield
        self.layer.update(probe.values())
        self.encoder = _embed

    SERVE_REQUESTS = 5

    def extras(self, spark, tracer) -> tuple[int, list]:
        """Each ingest stage forced alone with the noop sink, the
        MinHash-LSH candidate yield with and without verification, and
        top-k requests against the store the last ingest wrote."""
        from quantum_rag_data_pipeline_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
        from quantum_rag_data_pipeline_spark.plans.rag_ingest import near_dedup, quality_gate

        def force(df):
            df.write.mode("overwrite").format("noop").save()

        gated = quality_gate(self.docs)
        exact = exact_dedup(gated)
        for name, df in (("text.gate", gated), ("dedup.exact", exact),
                         ("dedup.near", near_dedup(exact))):
            spark.catalog.clearCache()
            with tracer.span(name):
                force(df)
        spark.catalog.clearCache()
        args = dict(text_col="text", id_col="doc_id", num_hashes=64, bands=16, n=5)
        cand = minhash_lsh_pairs(exact, verify_threshold=None, **args).count()
        spark.catalog.clearCache()
        kept = minhash_lsh_pairs(exact, verify_threshold=0.6, **args).count()
        spark.catalog.clearCache()
        self.once.update({"dedup.lsh_candidates": cand, "dedup.lsh_kept": kept,
                          "dedup.lsh_yield": kept / cand if cand else 0.0})

        client = TopkClient(self.store, self.seed)
        self.once["similarity.pairs_scored"] = client.pairs_scored
        errors = []
        for _ in range(self.SERVE_REQUESTS):
            errors += client.check(*client.request(spark, tracer))
        return self.SERVE_REQUESTS, errors


class TopkClient:
    """One client's top-k requests: ``serve_topk(k=10)`` for seeded
    store vectors, then ``collect()``; each query's own id must rank
    first."""

    K = 10

    def __init__(self, store: str, seed: int):
        self.store = store
        self.sampler = inputs.RequestSampler(store, seed)
        self.pairs_scored = len(self.sampler.ids) * self.sampler.per_request

    def request(self, spark, tracer: Tracer) -> tuple[list, list]:
        from quantum_rag_data_pipeline_spark.plans.rag_ingest import serve_topk

        req = self.sampler.next()
        with tracer.span("serve.build"):
            q = spark.createDataFrame(req, "query_id long, embedding array<float>")
            df = serve_topk(spark, self.store, q, k=self.K, dim=inputs.DOC_DIM)
        with tracer.span("serve.exec"):
            return req, df.collect()

    def check(self, req: list, rows: list) -> list[str]:
        errors = []
        by_query: dict[int, list] = {}
        for r in rows:
            by_query.setdefault(r["query_id"], []).append(r)
        for qid, _vec in req:
            hits = sorted(by_query.get(qid, []), key=lambda r: (-r["cos_sim"], r["vec_id"]))
            if len(hits) != self.K:
                errors.append(f"query {qid}: {len(hits)} results, expected {self.K}")
            elif hits[0]["vec_id"] != qid or hits[0]["cos_sim"] < 0.999999:
                errors.append(f"query {qid}: top hit {hits[0]['vec_id']} @ {hits[0]['cos_sim']}")
        return errors


WORKLOADS = {"daily_backfill": DailyBackfill, "rag_ingest": RagIngest}
