"""PNG payloads in the multimodal kernels: a well-formed PNG and a payload
that only carries the PNG magic both take the deterministic md5 stub."""

from __future__ import annotations

import hashlib
import struct
import zlib

from webgraph_ans_rs_spark.operators.multimodal import (
    _fake_decode,
    decode_image_batches,
    frame_sample,
)


def _genuine_png(width: int, height: int) -> bytes:
    """A valid 8-bit RGB PNG (filter 0 on every row), built with zlib."""

    def chunk(tag: bytes, data: bytes) -> bytes:
        body = tag + data
        return struct.pack(">I", len(data)) + body + struct.pack(">I", zlib.crc32(body))

    rows = b"".join(
        b"\x00" + bytes((x * 7 + y * 13 + c) % 256 for x in range(width) for c in range(3))
        for y in range(height)
    )
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(rows))
        + chunk(b"IEND", b"")
    )


def test_decode_image_batches_real_vs_stub(spark):
    """A genuine 34x21 PNG and a fake payload that only carries the PNG
    magic get the same treatment: ``_fake_decode``'s stub image from
    decode_image_batches and the md5 frame ids from frame_sample."""
    real = _genuine_png(34, 21)
    fake = b"\x89PNG" + b"\x13\x37" * 20
    df = spark.createDataFrame(
        [(1, bytearray(real)), (2, bytearray(fake))], "key long, payload binary"
    )
    got = {r.key: r for r in decode_image_batches(df).collect()}
    frames = {}
    for r in frame_sample(df, every_n=10, max_frames=5).collect():
        frames.setdefault(r.key, []).append((r.frame_idx, r.frame_md5))
    for key, raw in ((1, real), (2, fake)):
        w, h, c, feats = _fake_decode(raw)
        row = got[key]
        assert (row.kind, row.width, row.height, row.n_channels) == ("png", w, h, c)
        assert [round(x, 6) for x in row.features] == feats
        n_frames = 1 + hashlib.md5(raw).digest()[3] % 50
        want = [
            (fi, hashlib.md5(raw + fi.to_bytes(4, "big")).hexdigest())
            for fi in range(0, n_frames, 10)
        ][:5]
        assert sorted(frames[key]) == want
