"""Seeded input generators. Every input a workload feeds the program is
made here from ``--seed``; the same seed gives byte-identical inputs.

Inputs are written with pyarrow (no Spark job), so generating them costs
the program nothing and stays out of its set-up time.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from quantum_rag_data_pipeline_spark.plans.daily_summary import METRIC_CATALOG
from quantum_rag_data_pipeline_spark.sources.ercot import ENDPOINTS, FakeErcotClient

#: input sizes per size class: "full" is what the benchmark measures,
#: "tiny" only proves that every metric and check is wired.
SIZES = {
    "full": {"window_days": 2, "sink_days": 365, "docs": 1000,
             "corpus_docs": 400, "corpus_events": 4000, "corpus_vecs": 500},
    "tiny": {"window_days": 2, "sink_days": 20, "docs": 200,
             "corpus_docs": 100, "corpus_events": 500, "corpus_vecs": 100},
}

ROWS_PER_DAY = 96
JUNK_RATE = 0.05
EXACT_DUP_EVERY = 7      # one planted exact duplicate per 7 documents
NEAR_DUP_EVERY = 10      # one planted near duplicate per 10 documents
SHORT_DOC_EVERY = 50     # one below-quality-gate document per 50
NEAR_DUP_EDITS = 2       # seeded token substitutions per near duplicate
SUMMARY_DIM = 1536
DOC_DIM = 256

_VOCAB = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data vector "
    "grid load price wind solar demand offer node hub reserve market energy"
).split()


# -- ERCOT ---------------------------------------------------------------

def ercot_fields() -> dict[str, list[str]]:
    """Fixture fields for all six endpoints the daily plan fetches."""
    routes = {
        "load_summary": ENDPOINTS["load_summary"],
        "dsr_loads": ENDPOINTS["dsr_loads"],
        "gen_summary": ENDPOINTS["gen_summary"],
        "output_schedule": ENDPOINTS["output_schedule"],
        "ancillary_ecrss": ENDPOINTS["as_offers"].format(service_type="ecrss"),
        "dam_hubavg_price": ENDPOINTS["dam_prices"],
    }
    return {route: [f for f, _, _ in METRIC_CATALOG[name]] for name, route in routes.items()}


class CountingClient:
    """Envelope client wrapper that counts ``get_data`` calls."""

    def __init__(self, inner):
        self.inner = inner
        self.envelopes = 0

    def get_data(self, endpoint, params):
        self.envelopes += 1
        return self.inner.get_data(endpoint, params)


def ercot_client() -> CountingClient:
    return CountingClient(FakeErcotClient(ercot_fields(), rows_per_day=ROWS_PER_DAY,
                                          junk_rate=JUNK_RATE))


@dataclass
class DailyInputs:
    start: str               # first day of the re-run window
    end: str                 # exclusive end of the window
    window_days: int
    sink_days: int


def daily_inputs(sink: str, seed: int, size: str) -> DailyInputs:
    """Writes ``sink``, pre-seeded with ``sink_days`` synthetic rows in
    the sink schema, and returns a re-run window over its tail, so every
    run's merge rewrites the whole store."""
    s = SIZES[size]
    rng = random.Random(seed)
    end = date(2023, 1, 1) + timedelta(days=rng.randrange(730))
    first = end - timedelta(days=s["sink_days"])
    days = [first + timedelta(days=i) for i in range(s["sink_days"])]
    vecs = np.random.default_rng(seed).standard_normal((len(days), SUMMARY_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    old = datetime(2020, 1, 1, tzinfo=timezone.utc)
    table = pa.table({
        "vector_id": [f"daily_summary_{d.isoformat()}" for d in days],
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "semantic_sentence": [f"Backfilled summary for {d.isoformat()} ({rng.randrange(10**9)})"
                              for d in days],
        "updated_at": pa.array([old] * len(days), type=pa.timestamp("us", tz="UTC")),
    })
    _write_parts(table, sink, parts=4)
    start = end - timedelta(days=s["window_days"])
    return DailyInputs(start.isoformat(), end.isoformat(), s["window_days"], s["sink_days"])


# -- documents -----------------------------------------------------------

@dataclass
class Corpus:
    path: str
    n_docs: int
    exact_dup_ids: list[int] = field(default_factory=list)
    near_dup_ids: list[int] = field(default_factory=list)
    short_ids: list[int] = field(default_factory=list)

    def describe(self) -> dict:
        return {"docs": self.n_docs, "exact_dups": len(self.exact_dup_ids),
                "near_dups": len(self.near_dup_ids), "below_gate": len(self.short_ids),
                "exact_dup_rate": f"1/{EXACT_DUP_EVERY}", "near_dup_rate": f"1/{NEAR_DUP_EVERY}",
                "near_dup_edits": NEAR_DUP_EDITS, "embed_dim": DOC_DIM}


def _planted_texts(rng: random.Random, n_orig: int) -> tuple[list[str], Corpus]:
    """``n_orig`` distinct seeded documents, each carrying a seeded salt
    token, then planted exact duplicates, near duplicates (seeded token
    substitutions) and short documents the quality gate drops. Planted
    copies always get higher ids than their source."""
    texts = []
    for _ in range(n_orig):
        toks = [rng.choice(_VOCAB) for _ in range(rng.randint(30, 80))]
        toks.insert(rng.randrange(len(toks)), f"salt{rng.randrange(10**9)}")
        texts.append(" ".join(toks))
    corpus = Corpus(path="", n_docs=0)
    for _ in range(n_orig // EXACT_DUP_EVERY):
        corpus.exact_dup_ids.append(len(texts))
        texts.append(texts[rng.randrange(n_orig)])
    for _ in range(n_orig // NEAR_DUP_EVERY):
        toks = texts[rng.randrange(n_orig)].split()
        for _e in range(NEAR_DUP_EDITS):
            toks[rng.randrange(len(toks))] = f"edit{rng.randrange(10**9)}"
        corpus.near_dup_ids.append(len(texts))
        texts.append(" ".join(toks))
    for _ in range(n_orig // SHORT_DOC_EVERY):
        corpus.short_ids.append(len(texts))
        texts.append(" ".join(rng.choice(_VOCAB) for _ in range(3)))
    corpus.n_docs = len(texts)
    return texts, corpus


def document_corpus(work: str, seed: int, size: str) -> Corpus:
    """The rag_ingest corpus (see ``_planted_texts``): exact dedup must
    drop exactly the planted exact-duplicate ids."""
    texts, corpus = _planted_texts(random.Random(seed), SIZES[size]["docs"])
    corpus.path = f"{work}/documents"
    table = pa.table({"doc_id": pa.array(range(len(texts)), type=pa.int64()), "text": texts})
    _write_parts(table, corpus.path, parts=4)
    return corpus


# -- query corpus tables ----------------------------------------------------

def corpus_tables(sf_dir: str, seed: int, size: str) -> dict:
    """Seeded ``documents``, ``events`` and ``embeddings`` tables in the
    layout and schema ``queries.QUERIES`` read (one ``<table>.parquet``
    file each under ``sf_dir``)."""
    import os

    s = SIZES[size]
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)

    texts, _ = _planted_texts(rng, s["corpus_docs"])
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(texts)), type=pa.int64()),
        "text": texts,
        "lang": [rng.choice(("en", "en", "en", "de", "es", "fr", "zh")) for _ in texts],
        "source": [f"src{i % 20}" for i in range(len(texts))],
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }), f"{sf_dir}/documents.parquet")

    n = s["corpus_events"]
    gaps = nrng.exponential(30 * 86400e6 / n, n).astype(np.int64)  # 30 days, in µs
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    pq.write_table(pa.table({
        "event_id": pa.array(range(n), type=pa.int64()),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(nrng.integers(0, 150, n), type=pa.int64()),
        "event_type": [rng.choice(("click", "view", "purchase", "signup", "error"))
                       for _ in range(n)],
        "value": np.round(nrng.exponential(50.0, n) + 0.01, 2),
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n)],
    }), f"{sf_dir}/events.parquet")

    m = s["corpus_vecs"]
    centers = nrng.standard_normal((10, 64))
    labels = nrng.integers(0, 10, m)
    vecs = centers[labels] + 1.5 * nrng.standard_normal((m, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(m), type=pa.int64()),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, type=pa.int32()),
    }), f"{sf_dir}/embeddings.parquet")
    return {"documents": len(texts), "events": n, "embeddings": m, "embedding_dim": 64}


# -- top-k requests ------------------------------------------------------

class RequestSampler:
    """Seeded stream of top-k requests: each draws ``per_request``
    distinct vectors from the store as the query vectors."""

    def __init__(self, store_path: str, seed: int, per_request: int = 4):
        t = pq.read_table(store_path, columns=["doc_id", "embedding"])
        self.ids = t.column("doc_id").to_pylist()
        self.vecs = t.column("embedding").to_pylist()
        self.rng = random.Random(seed)
        self.per_request = per_request

    def next(self) -> list[tuple[int, list[float]]]:
        picks = self.rng.sample(range(len(self.ids)), self.per_request)
        return [(self.ids[i], self.vecs[i]) for i in picks]


# -- helpers -------------------------------------------------------------

def _write_parts(table: pa.Table, path: str, parts: int) -> None:
    import os

    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), f"{path}/part-{i:05d}.parquet")


def digest_rows(pairs: list[tuple[str, str]]) -> str:
    h = hashlib.sha256()
    for a, b in sorted(pairs):
        h.update(f"{a}\x01{b}\n".encode())
    return h.hexdigest()
