"""MP4 (ISO BMFF) payloads in the multimodal kernels: attach_payload_meta
sniffs the ``ftyp`` box and frame_sample keeps the deterministic md5 stub."""

from __future__ import annotations

import hashlib
import struct

from webgraph_ans_rs_spark.operators.multimodal import (
    attach_payload_meta,
    frame_sample,
)


def test_frame_sample_magic_only_mp4_keeps_stub(spark):
    raw = b"\x00\x00\x00\x08" + b"ftyp" + hashlib.md5(b"v").digest()
    df = spark.createDataFrame([(2, bytearray(raw))], "key long, payload binary")
    got = {
        (r.frame_idx, r.frame_md5)
        for r in frame_sample(df, every_n=10, max_frames=5).collect()
    }
    n_frames = 1 + (hashlib.md5(raw).digest()[3] % 50)
    want = {
        (fi, hashlib.md5(raw + fi.to_bytes(4, "big")).hexdigest())
        for fi in range(0, n_frames, 10)
    }
    assert got == set(list(sorted(want))[:5])


def test_payload_meta_sniffs_mp4(spark):
    # ISO BMFF: a 16-byte ftyp box, its magic at byte offset 4
    raw = struct.pack(">I", 16) + b"ftypisom" + struct.pack(">I", 512)
    df = spark.createDataFrame(
        [(1, bytearray(raw)), (2, bytearray(b"GIF89a123"))],
        "key long, payload binary",
    )
    kinds = {
        r.key: r.payload_kind for r in attach_payload_meta(df).collect()
    }
    assert kinds == {1: "mp4", 2: "gif"}
