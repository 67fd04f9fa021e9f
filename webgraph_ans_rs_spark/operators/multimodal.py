"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images and video ride through the engine as ``binary`` columns with a
metadata struct — the Spark-side contract (schema, partitioning, Arrow
batch shape) is real and tested. The engine ships no media codec: both
decode kernels are clearly-marked deterministic STUBS, pure functions of
the payload bytes behind the ``mapInPandas`` signature a real decoder
would use, so the DuckDB oracles reproduce them exactly. Swapping in a
real decoder changes one function body, not the plan.

Operators:
  * attach_payload_meta — cheap metadata (byte length, magic-sniffed kind,
    md5) from built-ins only; no Python in the hot path.
  * decode_image_batches — mapInPandas kernel: binary → (width, height,
    n_channels, features array<float>). DETERMINISTIC FAKE decode.
  * frame_sample — payloads → one row per sampled frame index
    (fan-out happens inside the Arrow batch, the idiomatic shape for
    per-item expansion without exploding through the JVM). DETERMINISTIC
    FAKE frames.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAGIC = {
    b"\x89PNG": "png",
    b"\xff\xd8\xff": "jpeg",
    b"RIFF": "riff",
    b"GIF8": "gif",
    b"\x1aE\xdf\xa3": "webm",
}

DECODE_SCHEMA = (
    "key long, kind string, width int, height int, n_channels int, features array<float>"
)
FRAME_SCHEMA = "key long, frame_idx int, frame_md5 string"
N_FAKE_FEATURES = 8


def attach_payload_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Adds (payload_len, payload_md5, payload_kind) — built-ins only.

    Magic sniffing hexes only the first len(magic) bytes of the payload
    (``substring`` works on binary); hexing the whole payload would
    materialize a 2×-size string per row per magic — for video-sized
    payloads that would dominate this "cheap metadata" pass.
    """
    p = F.col(payload_col)
    kind = F.lit("unknown")
    for magic, name in MAGIC.items():
        kind = F.when(
            F.hex(F.substring(p, 1, len(magic))) == F.lit(magic.hex().upper()),
            F.lit(name),
        ).otherwise(kind)
    # ISO BMFF puts its magic at byte offset 4 (after the box size)
    kind = F.when(
        F.hex(F.substring(p, 5, 4)) == F.lit(b"ftyp".hex().upper()),
        F.lit("mp4"),
    ).otherwise(kind)
    return df.withColumns(
        {
            "payload_len": F.length(p).cast("long"),
            "payload_md5": F.md5(p),
            "payload_kind": kind,
        }
    )


def _fake_decode(payload: bytes) -> tuple[int, int, int, list[float]]:
    """STUB: deterministic fake image decode (md5-derived dims/features).

    A real implementation would call PIL.Image.open here —
    NotImplementedError is avoided so the plumbing stays testable; the
    fake is a pure function of the payload bytes.
    """
    h = hashlib.md5(payload or b"").digest()
    width = 16 + h[0] % 240
    height = 16 + h[1] % 240
    channels = 1 + h[2] % 3
    feats = [round(b / 255.0, 6) for b in h[3 : 3 + N_FAKE_FEATURES]]
    return width, height, channels, feats


def decode_image_batches(
    df: DataFrame, key_col: str = "key", payload_col: str = "payload"
) -> DataFrame:
    """mapInPandas decode: Arrow-batched, one output row per input row.

    Every payload takes the deterministic stub (``_fake_decode``); ``kind``
    is the magic-sniffed name, so the DuckDB gate fixture reproduces
    exactly."""
    src = df.select(F.col(key_col).alias("key"), F.col(payload_col).alias("payload"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = {"key": [], "kind": [], "width": [], "height": [], "n_channels": [], "features": []}
            for key, payload in zip(b["key"], b["payload"]):
                raw = bytes(payload) if payload is not None else b""
                kind = next(
                    (n for m, n in MAGIC.items() if raw.startswith(m)), "unknown"
                )
                w, h, c, f = _fake_decode(raw)
                out["key"].append(key)
                out["kind"].append(kind)
                out["width"].append(w)
                out["height"].append(h)
                out["n_channels"].append(c)
                out["features"].append(f)
            yield pd.DataFrame(out)

    return src.mapInPandas(kernel, DECODE_SCHEMA)


def frame_sample(
    df: DataFrame,
    every_n: int = 10,
    max_frames: int = 5,
    key_col: str = "key",
    payload_col: str = "payload",
) -> DataFrame:
    """Frame sampler: every ``every_n``-th frame, at most ``max_frames``
    per payload; fan-out inside the Arrow batch. STUB: the frame count
    and each frame_md5 are md5-derived from the payload bytes, so the
    DuckDB gate fixture reproduces exactly."""
    src = df.select(F.col(key_col).alias("key"), F.col(payload_col).alias("payload"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            keys, idxs, md5s = [], [], []
            for key, payload in zip(b["key"], b["payload"]):
                raw = bytes(payload) if payload is not None else b""
                n_frames = 1 + (hashlib.md5(raw).digest()[3] % (every_n * max_frames))
                for fi in range(0, n_frames, every_n)[:max_frames]:
                    keys.append(key)
                    idxs.append(fi)
                    md5s.append(hashlib.md5(raw + fi.to_bytes(4, "big")).hexdigest())
            yield pd.DataFrame({"key": keys, "frame_idx": idxs, "frame_md5": md5s})

    return src.mapInPandas(kernel, FRAME_SCHEMA)
