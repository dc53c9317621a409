"""Multimodal column plumbing: image/audio/video as opaque BINARY columns
with typed metadata, processed by Arrow-batched ``mapInPandas`` stages.

The pattern that matters at 100 TB:
- payloads live in a ``binary`` column (or object-store URIs resolved
  executor-side); metadata is a typed struct alongside;
- every decode/feature/resize stage is ``mapInPandas`` — Arrow moves
  whole record batches into one Python worker call, the UDF loops numpy/
  PIL/ffmpeg over the batch, and output schema is declared up front so
  Catalyst can prune through it;
- partitioning: payload batches are size-bounded by
  ``spark.sql.files.maxPartitionBytes`` at scan time; repartition by a
  content-hash bucket before heavy decode so stragglers (few huge files
  per partition) even out.

No image/audio codec is a dependency, so there is no REAL decoding:
the deterministic fake format below exercises the full Spark-side
plumbing — schema, batching, UDF signatures — with real bytes. A
deployment with PIL/opencv on its executors decodes inside the same
``mapInPandas`` stages.

Fake format (deterministic, derived from the documents table):
  magic   4 bytes  b"IMG1" | b"AUD1" | b"VID1"
  width   4 bytes  big-endian uint32   (images/video)
  height  4 bytes  big-endian uint32   (images/video)
  extra   4 bytes  channels (img) | sample_rate/1000 (aud) | n_frames (vid)
  payload N bytes  pseudo-random content seeded by the id

Header fields and the body LENGTH come from ``_field`` — Knuth
multiplicative hashing over (media_id, salt), pure integer arithmetic
that a SQL oracle can reproduce verbatim (see the multimodal queries'
DuckDB twins). Body CONTENT stays sha256+numpy-seeded — opaque bytes the
way real media is; nothing downstream needs to predict it except the
checksum column, which the oracled aggregates therefore avoid.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = "media_id bigint, kind string, payload binary"
FEATURE_SCHEMA = (
    "media_id bigint, kind string, width int, height int, extra int, "
    "n_bytes int, checksum string"
)
RESIZE_SCHEMA = "media_id bigint, kind string, payload binary, width int, height int"
FRAME_SCHEMA = "media_id bigint, frame_idx int, frame bytes".replace("bytes", "binary")

_MAGIC = {"image": b"IMG1", "audio": b"AUD1", "video": b"VID1"}
_KIND = {v: k for k, v in _MAGIC.items()}


def _field(media_id: int, salt: int, lo: int, hi: int) -> int:
    """SQL-portable deterministic field in [lo, hi]: Knuth multiplicative
    hash — ``lo + ((id*2654435761 + salt*40503) % 2^32) % span``. The
    DuckDB oracle computes the identical expression in plain arithmetic."""
    return lo + ((media_id * 2654435761 + salt * 40503) % 4294967296) % (hi - lo + 1)


def _fake_payload(media_id: int, kind: str) -> bytes:
    w = _field(media_id, 1, 16, 256)
    h = _field(media_id, 2, 16, 256)
    extra = _field(media_id, 3, 1, 4) if kind == "image" else (
        44 if kind == "audio" else _field(media_id, 3, 8, 64)
    )
    body_len = _field(media_id, 4, 256, 2047)
    rng = np.random.default_rng(
        int.from_bytes(hashlib.sha256(f"{kind}|{media_id}".encode()).digest()[:8], "big")
    )
    body = rng.integers(0, 256, size=body_len, dtype=np.uint8).tobytes()
    return _MAGIC[kind] + struct.pack(">III", w, h, extra) + body


def synth_media_table(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Derive a deterministic media table from the documents table —
    one payload per doc, kind cycling image/audio/video. mapInPandas so
    payload creation happens executor-side, batch-at-a-time."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kinds = ["image", "audio", "video"]
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            yield pd.DataFrame({
                "media_id": ids,
                "kind": [kinds[i % 3] for i in ids],
                "payload": [_fake_payload(int(i), kinds[i % 3]) for i in ids],
            })

    return docs.select(id_col).mapInPandas(gen, MEDIA_SCHEMA)


def extract_features(media: DataFrame) -> DataFrame:
    """Decode headers + cheap content features for every payload.
    Batch shape: one pandas DataFrame per Arrow batch; bytes stay bytes."""

    def fe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                b = bytes(payload)
                magic, rest = b[:4], b[4:]
                if _KIND.get(magic) != kind or len(rest) < 12:
                    rows.append((mid, kind, None, None, None, len(b), None))
                    continue
                w, h, extra = struct.unpack(">III", rest[:12])
                rows.append((mid, kind, w, h, extra, len(b),
                             hashlib.md5(b).hexdigest()))
            yield pd.DataFrame(rows, columns=[
                "media_id", "kind", "width", "height", "extra", "n_bytes", "checksum"
            ])

    return media.mapInPandas(fe, FEATURE_SCHEMA)


def resize_images(media: DataFrame, max_side: int = 64) -> DataFrame:
    """'Resize' stage: images larger than max_side get a rewritten header
    and proportionally truncated payload (the deterministic stand-in for
    a real PIL resize)."""

    def rs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                b = bytes(payload)
                if kind != "image" or len(b) < 16:
                    continue
                w, h, c = struct.unpack(">III", b[4:16])
                scale = min(1.0, max_side / max(w, h))
                nw, nh = max(1, int(w * scale)), max(1, int(h * scale))
                body = b[16:]
                nbody = body[: max(1, int(len(body) * scale * scale))]
                rows.append((mid, kind, _MAGIC["image"] + struct.pack(">III", nw, nh, c) + nbody, nw, nh))
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "width", "height"])

    return media.mapInPandas(rs, RESIZE_SCHEMA)


def sample_frames(media: DataFrame, every_k: int = 8, frame_bytes: int = 64) -> DataFrame:
    """Frame-sampling stage for 'video' payloads: emits every k-th
    fixed-size chunk as a frame row (1 input row → many output rows —
    mapInPandas handles the fan-out naturally)."""

    def sf(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                if kind != "video":
                    continue
                body = bytes(payload)[16:]
                frames = [body[i:i + frame_bytes] for i in range(0, len(body), frame_bytes)]
                for idx in range(0, len(frames), every_k):
                    rows.append((mid, idx, frames[idx]))
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame"])

    return media.mapInPandas(sf, FRAME_SCHEMA)
