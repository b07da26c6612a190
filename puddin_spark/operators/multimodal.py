"""Multimodal column plumbing: images/audio/video as opaque binary columns,
processed via Arrow-batched mapInPandas in three shapes: binary -> typed
metadata (`extract_media_meta`), binary -> one row per sampled frame
(`sample_frames`) and binary -> embedding (`embed_media`).

No decode library (Pillow, ffmpeg, torchaudio, ...) is a dependency, so each
shape calls a deterministic stub that is a pure function of the bytes
(`decode_stub`, `frames_stub`, `embed_stub`) through a module-level seam
(`_DECODER`, `_FRAMER`, `_EMBEDDER`). The Spark side is real: binary column
in, bounded Arrow batches out, per-executor worker reuse. Binding a seam to a
real function changes neither the schema, the partitioning nor the batch
shape.
"""
from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

META_SCHEMA = (
    "doc_id bigint, n_bytes bigint, sha256 string, fake_width int, fake_height int"
)


def decode_stub(data: bytes) -> dict:
    """Deterministic fake decode: metadata derivable from the bytes alone
    (so a SQL oracle can verify the plumbing end-to-end)."""
    n = len(data)
    return {
        "n_bytes": n,
        "sha256": hashlib.sha256(data).hexdigest(),
        "fake_width": n % 640,
        "fake_height": n % 480,
    }


_DECODER = decode_stub


def extract_media_meta(
    df: DataFrame, id_col: str = "doc_id", bin_col: str = "media"
) -> DataFrame:
    """binary column -> typed metadata via mapInPandas (iterator form: one
    worker init per partition, Arrow batch streaming, no driver collect)."""
    cols = df.select(F.col(id_col).alias("doc_id"), F.col(bin_col).alias("media"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        decoder = _DECODER  # per-executor binding (model-singleton pattern)
        for pdf in batches:
            metas = [
                decoder(bytes(b)) if b is not None else
                {"n_bytes": 0, "sha256": None, "fake_width": 0, "fake_height": 0}
                for b in pdf["media"]
            ]
            out = pd.DataFrame(metas)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return cols.mapInPandas(run, schema=META_SCHEMA)


# --- frame sampling (video) and feature extraction ---

FRAME_SCHEMA = "doc_id bigint, frame_ix int, ts_ms int, frame binary"


def frames_stub(data: bytes, frame_bytes: int = 256, frame_ms: int = 40):
    """Deterministic fake: the binary is treated as concatenated fixed-size
    frames at 25 fps (40 ms apart); the tail frame may be short."""
    return [
        (ix, ix * frame_ms, data[off : off + frame_bytes])
        for ix, off in enumerate(range(0, len(data), frame_bytes))
    ]


_FRAMER = frames_stub


def sample_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    bin_col: str = "media",
    *,
    every_n: int = 1,
    frame_bytes: int = 256,
) -> DataFrame:
    """Video binary -> one row per sampled frame (keep every n-th): the
    row-MULTIPLYING mapInPandas shape — one input batch yields a larger
    output batch, which Arrow streams without materializing per-doc frame
    lists. Downstream ops (embed, dedup) are per-frame rows, so
    partitioning/skew handling is the ordinary row machinery."""
    cols = df.select(F.col(id_col).alias("doc_id"), F.col(bin_col).alias("media"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        framer = _FRAMER
        for pdf in batches:
            rows = []
            for did, b in zip(pdf["doc_id"], pdf["media"]):
                if b is None:
                    continue
                for ix, ts, fr in framer(bytes(b), frame_bytes):
                    if ix % every_n == 0:
                        rows.append((did, ix, ts, fr))
            yield pd.DataFrame(rows, columns=["doc_id", "frame_ix", "ts_ms", "frame"])

    return cols.mapInPandas(run, schema=FRAME_SCHEMA)


def embed_stub(data: bytes, dim: int = 64) -> list[float]:
    """Deterministic fake features: sha256-chained bytes mapped to [-1, 1).
    Equal media bytes get equal embeddings, so the output composes with
    operators.similarity (cosine near-dup finds exact media duplicates)."""
    out: list[float] = []
    h = hashlib.sha256(data).digest()
    while len(out) < dim:
        for b in h:
            out.append(b / 127.5 - 1.0)
            if len(out) == dim:
                break
        h = hashlib.sha256(h).digest()
    return out


_EMBEDDER = embed_stub


def embed_media(
    df: DataFrame, id_col: str = "doc_id", bin_col: str = "media", *, dim: int = 64
) -> DataFrame:
    """Media binary -> array<float> embedding: the feature-extraction shape
    whose output plugs straight into operators.similarity (brute_force_topk /
    srp_candidate_pairs / ivf_topk take (vec_id, embedding) rows)."""
    cols = df.select(F.col(id_col).alias("vec_id"), F.col(bin_col).alias("media"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        embedder = _EMBEDDER
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].values,
                    "embedding": [
                        embedder(bytes(b), dim) if b is not None else None
                        for b in pdf["media"]
                    ],
                }
            )

    return cols.mapInPandas(run, schema="vec_id bigint, embedding array<float>")
