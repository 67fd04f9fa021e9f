"""GIF-magic payloads in the multimodal kernels: frame_sample keeps the
deterministic md5 stub."""

from __future__ import annotations

import hashlib

from webgraph_ans_rs_spark.operators.multimodal import frame_sample


def test_frame_sample_magic_only_fixture_keeps_stub(spark):
    """A payload with the GIF magic but no valid body must fall back to
    the deterministic stub — the gate-fixture compatibility contract."""
    raw = b"GIF89a" + hashlib.md5(b"fixture").digest() * 3
    df = spark.createDataFrame([(7, bytearray(raw))], "key long, payload binary")
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
