"""Property-based codec tests (hypothesis): the γ/ζ bit stream and the
reference-copy encode loop must round-trip ARBITRARY well-formed inputs,
not just the seeded fixtures — hypothesis hunts the boundary cases
(empty lists, single elements, adjacent duplicates-of-structure, extreme
int64 values, window-reset edges) that fixed seeds miss.

Driver-side only (no SparkSession): the properties under test live in
pure functions (`_encode_rows`, `_pack_pdf`/`_unpack_chunk`, the
BitWriter/BitReader pair), which is also what makes them cheap enough
for hypothesis' example counts.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from webgraph_ans_rs_spark.operators.bitpack import (
    _pack_pdf,
    _unpack_chunk,
    _zeta_bits,
)
from webgraph_ans_rs_spark.operators.refcodec import _encode_rows
from webgraph_ans_rs_spark.sources.bvgraph import (
    BitReader,
    BitWriter,
    int2nat,
    nat2int,
)

I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
NAT = st.integers(min_value=0, max_value=2**40)


@given(st.lists(NAT, max_size=200))
@settings(max_examples=50, deadline=None)
def test_gamma_stream_roundtrip(values):
    w = BitWriter()
    for v in values:
        w.write_gamma(v)
    r = BitReader(w.getvalue())
    assert [r.read_gamma() for _ in values] == values


@given(st.lists(NAT, max_size=200), st.integers(min_value=1, max_value=7))
@settings(max_examples=50, deadline=None)
def test_zeta_stream_roundtrip_and_length(values, k):
    w = BitWriter()
    for v in values:
        w.write_zeta(v, k)
    r = BitReader(w.getvalue())
    assert [r.read_zeta(k) for _ in values] == values
    # the analytic code-length helper must equal the written length
    total = sum(_zeta_bits(v, k) for v in values)
    assert 0 <= 8 * len(w.getvalue()) - total < 8


@given(I64)
@settings(max_examples=200, deadline=None)
def test_zigzag_roundtrip(v):
    assert nat2int(int2nat(v)) == v


def _graph_strategy():
    """(srcs sorted distinct, per-src sorted-distinct dst arrays) over the
    FULL int64 range — the hashed-id regime where wraparound arithmetic
    must hold."""
    dsts = st.lists(I64, min_size=0, max_size=12, unique=True).map(sorted)
    return st.lists(
        st.tuples(I64, dsts), min_size=1, max_size=40, unique_by=lambda t: t[0]
    ).map(lambda rows: sorted(rows, key=lambda t: t[0]))


@given(_graph_strategy(), st.integers(min_value=1, max_value=7),
       st.integers(min_value=0, max_value=3))
@settings(max_examples=60, deadline=None)
def test_encode_rows_roundtrip_full_range(rows, window, max_ref):
    """The ref-copy encode loop is lossless for any sorted-distinct input
    at any window/chain config: reconstructing each list from its chosen
    reference + residuals reproduces the input exactly."""
    srcs = [s for s, _ in rows]
    dsts_seq = [np.array(d, dtype=np.int64) for _, d in rows]
    out = list(_encode_rows(srcs, dsts_seq, window, max_ref))
    assert [src for src, *_ in out] == srcs
    for (src, _off, _rs, _blocks, _gaps, cur, _root), want in zip(out, dsts_seq):
        assert cur.tolist() == want.tolist()


@given(_graph_strategy(), st.integers(min_value=1, max_value=16),
       st.integers(min_value=1, max_value=8))
@settings(max_examples=40, deadline=None)
def test_bitpack_chunks_roundtrip_full_range(rows, window, chunk):
    """_pack_pdf → _unpack_chunk is the exact inverse for any
    sorted-distinct int64 input, at any window and chunk size (window
    resets at chunk boundaries included)."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "_bkt": [0] * len(rows),
            "src": [s for s, _ in rows],
            "dsts": [list(d) for _, d in rows],
        }
    )
    packed = _pack_pdf(pdf, window=window, max_ref=3, zeta_k=3, chunk=chunk)
    got = []
    for _, r in packed.iterrows():
        for src, cur in _unpack_chunk(
            int(r["first_src"]), int(r["n_rows"]), bytes(r["payload"]), 3
        ):
            got.append((src, [int(x) for x in cur]))
    assert got == [(s, list(d)) for s, d in rows]
