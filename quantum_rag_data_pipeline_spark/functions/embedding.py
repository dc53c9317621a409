"""Embedding UDF (U1) — text → fixed-dim float vector.

The reference calls OpenAI's embeddings API per sentence/batch
(embedding_service.py:50-124), returning a ZERO vector on error (:63,:89)
— not NULL, not a task failure. That semantic is preserved.

Spark-first: an Arrow-batched ``pandas_udf`` (Series → Series of
array<float>) so each executor embeds whole record batches — the
reference's own batch API (:91) maps 1:1 onto the UDF batch. The encoder
is injected: tests and local runs use the deterministic sha256-seeded
fake below; a production deployment wraps its HTTP client in the same
``encode_batch`` signature. At 100 TB the UDF is the right boundary —
embedding is genuinely external compute, everything around it stays
declarative.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType

DEFAULT_DIM = 1536  # reference pgvector_storage.py:92, infra/variables.tf:31-35

Encoder = Callable[[Sequence[str]], list[list[float]]]


def fake_encode_batch(texts: Sequence[str], dim: int = DEFAULT_DIM) -> list[list[float]]:
    """Deterministic fake embedder (FIXTURES.md §4): unit-normalized
    float32 vector seeded by sha256(text). Stable across processes,
    Python versions, and cluster sizes."""
    import hashlib

    out = []
    for t in texts:
        seed = int.from_bytes(hashlib.sha256(t.encode("utf-8")).digest()[:8], "big")
        rng = np.random.default_rng(seed)
        v = rng.standard_normal(dim).astype(np.float32)
        norm = float(np.linalg.norm(v))
        out.append((v / norm).astype(np.float32).tolist() if norm > 0 else v.tolist())
    return out


def make_embed_udf(encoder: Encoder | None = None, dim: int = DEFAULT_DIM):
    """Build the pandas UDF. Zero-vector-on-error per the reference:
    an encoder exception for a batch yields zero vectors for that batch
    rather than failing the Spark task."""
    enc = encoder or (lambda texts: fake_encode_batch(texts, dim))

    @F.pandas_udf(ArrayType(FloatType()))
    def embed(texts: pd.Series) -> pd.Series:
        vals = texts.fillna("").tolist()
        try:
            vecs = enc(vals)
        except Exception:
            vecs = [[0.0] * dim for _ in vals]
        return pd.Series(vecs)

    return embed


def scrubbed_for_embedding(col: Column) -> Column:
    """The reference scrubs the two-character literal ``\\n`` (NOT real
    newlines) before embedding (embedding_service.py:67,107 — P15 quirk),
    so the 11-line sentence reaches the encoder with its real newlines.
    Preserved for parity."""
    return F.regexp_replace(col, r"\\n", " ")
