"""gamma/zeta bit-packed ref layout: lossless round-trip, chunk
independence, random access, hashed-id wraparound, and pinned payload
bytes."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from webgraph_ans_rs_spark.operators.bitpack import (
    decode_refs_bitpacked,
    encode_refs_bitpacked,
    successors_from_bitpacked,
)
from webgraph_ans_rs_spark.operators.graph_build import build_csr_adjacency

from tests.conftest import hashed_ids, seeded_random_graph, weblike_edges


def _adj_map(df):
    return {r.src: list(r.dsts) for r in df.collect()}


def test_bitpack_roundtrip_seeded_graph(spark):
    edges, _, _, _ = seeded_random_graph(spark, n=300, m=1500)
    adj = build_csr_adjacency(edges).persist()
    packed = encode_refs_bitpacked(adj, num_buckets=4)
    got = _adj_map(decode_refs_bitpacked(packed))
    want = _adj_map(adj)
    adj.unpersist()
    assert got == want


def test_bitpack_chunk_reset_roundtrip(spark):
    """chunk smaller than the bucket forces multiple chunks per bucket —
    window resets must keep every chunk self-contained."""
    edges, _, _, _ = seeded_random_graph(spark, n=300, m=1500)
    adj = build_csr_adjacency(edges).persist()
    packed = encode_refs_bitpacked(adj, num_buckets=2, chunk=16).persist()
    n_chunks = packed.count()
    assert n_chunks > 4  # actually chunked
    got = _adj_map(decode_refs_bitpacked(packed))
    want = _adj_map(adj)
    packed.unpersist()
    adj.unpersist()
    assert got == want


def test_bitpack_copy_heavy_lists(spark):
    """Near-identical consecutive lists (the BV copy case) round-trip
    with blocks + implicit trailing runs exercised. Lists 30-39 repeat
    lists 20-29: under the window-16, unbounded-chain config they copy
    from 10 rows back, beyond the default window of 7, and every decoder,
    bit-packed and columnar, resolves them with its default arguments."""
    from webgraph_ans_rs_spark.operators.bitpack import (
        successors_from_bitpacked_batch,
    )
    from webgraph_ans_rs_spark.operators.refcodec import decode_refs, encode_refs

    base = list(range(0, 40, 2))
    rows = []
    for s in range(20):
        dsts = sorted(set(base + [s * 3 + 1]) - {s * 2})
        rows.append((s, dsts))
    for s in range(20, 40):
        rows.append((s, [1000 + 100 * (s % 10) + j for j in range(0, 20, 2)]
                     + [2000 + s]))
    want = dict(rows)
    adj = spark.createDataFrame(rows, "src long, dsts array<long>")
    probes = spark.createDataFrame([(5,), (35,), (99,)], "vertex long")
    for config in ({}, dict(window=16, max_ref=2_000_000_000)):
        packed = encode_refs_bitpacked(adj, num_buckets=1, **config).persist()
        assert _adj_map(decode_refs_bitpacked(packed)) == want
        assert _adj_map(successors_from_bitpacked_batch(packed, probes)) == {
            5: want[5], 35: want[35]
        }
        assert _adj_map(successors_from_bitpacked(packed, 35)) == {35: want[35]}
        packed.unpersist()
        enc = encode_refs(adj, num_buckets=1, **config)
        assert _adj_map(decode_refs(enc)) == want


def test_bitpack_hashed_full_range_ids(spark):
    """xxhash64 ids span the full signed-int64 range: src deltas, first
    residual gaps, and cumsum must all wrap mod 2^64 losslessly."""
    edges, _, _, _ = seeded_random_graph(spark, n=200, m=800)
    adj = build_csr_adjacency(hashed_ids(edges)).persist()
    packed = encode_refs_bitpacked(adj, num_buckets=4, chunk=32)
    got = _adj_map(decode_refs_bitpacked(packed))
    want = _adj_map(adj)
    adj.unpersist()
    assert got == want


def test_bitpack_random_access(spark):
    edges, _, _, _ = seeded_random_graph(spark, n=300, m=1500)
    adj = build_csr_adjacency(edges).persist()
    want = _adj_map(adj)
    packed = encode_refs_bitpacked(adj, num_buckets=4, chunk=32).persist()
    probes = sorted(want)[:3] + sorted(want)[-3:] + [10**12]  # + a miss
    for u in probes:
        got = {r.src: list(r.dsts) for r in successors_from_bitpacked(packed, u).collect()}
        if u in want:
            assert got == {u: want[u]}, u
        else:
            assert got == {}
    packed.unpersist()
    adj.unpersist()


def test_bitpack_beats_columnar_refs_bits(spark):
    """The whole point: on a locality-preserving graph the bit-packed
    payload must be materially smaller than what the columnar ref layout
    costs in parquet — compare raw payload bits vs the published
    accounting later in bench; here just sanity-check payload bits/link
    lands under 32 (int32 floor of the columnar arrays)."""
    from webgraph_ans_rs_spark.plans.bench_graph import synthetic_edges_local

    edges = synthetic_edges_local(spark, 20000).persist()
    n = edges.count()
    adj = build_csr_adjacency(edges).persist()
    packed = encode_refs_bitpacked(adj, num_buckets=4)
    payload_bytes = packed.agg(F.sum(F.length("payload"))).first()[0]
    bits_per_link = 8.0 * payload_bytes / n
    edges.unpersist()
    adj.unpersist()
    assert bits_per_link < 32, bits_per_link


def test_bitpack_batch_random_access(spark):
    from webgraph_ans_rs_spark.operators.bitpack import (
        successors_from_bitpacked_batch,
    )

    edges, _, _, _ = seeded_random_graph(spark, n=300, m=1500)
    adj = build_csr_adjacency(edges).persist()
    want = _adj_map(adj)
    packed = encode_refs_bitpacked(adj, num_buckets=4, chunk=32).persist()
    keys = sorted(want)
    probe_ids = keys[::17] + [10**12]  # spread + one miss
    probes = spark.createDataFrame([(u,) for u in probe_ids], "vertex long")
    got = {
        r.src: list(r.dsts)
        for r in successors_from_bitpacked_batch(packed, probes).collect()
    }
    assert got == {u: want[u] for u in probe_ids if u in want}
    packed.unpersist()
    adj.unpersist()


def test_component_bits_account_for_every_payload_bit(spark):
    """The per-component breakdown counts the field sequence _pack_pdf
    writes — summed component bits must equal the packed payload bits
    exactly, up to the <8-bit byte padding per chunk."""
    from webgraph_ans_rs_spark.operators.bitpack import refs_component_bits

    edges, _, _, _ = seeded_random_graph(spark, n=300, m=1500)
    adj = build_csr_adjacency(edges).persist()
    comp = refs_component_bits(adj, num_buckets=4, chunk=64)
    packed = encode_refs_bitpacked(adj, num_buckets=4, chunk=64).persist()
    payload_bits = sum(
        8 * len(bytes(r.payload)) for r in packed.select("payload").collect()
    )
    n_chunks = packed.count()
    counted = sum(
        comp[c]
        for c in ("src_deltas", "ref_offsets", "blocks", "res_counts", "residuals")
    )
    adj.unpersist()
    packed.unpersist()
    assert comp["n_lists"] == 300
    assert 0 <= payload_bits - counted < 8 * n_chunks


# sha256 over every packed row ordered by (bucket, chunk): the chunk header
# fields, then the payload bytes. A faster encoder must write the same
# bytes, so any change to the reference choice, block runs or residual gaps
# shows up as a different digest.
PACK_CONFIGS = {
    "w7_r3": dict(window=7, max_ref=3, chunk=1024),
    "w16_unbounded": dict(window=16, max_ref=2_000_000_000, chunk=1024),
    "chunk16": dict(chunk=16),
}
GOLDEN_PACKED = {
    ("weblike", "w7_r3"): (
        "99ff0fde94e9e17a4d9557b6737e873f"
        "ef4edfa43463de56173749f6e3899ae7"
    ),
    ("weblike", "w16_unbounded"): (
        "cd5d811ba954647dfd12953574dd959d"
        "0e43bee62689bc17a067130206ce05f0"
    ),
    ("weblike", "chunk16"): (
        "c6f9862fd7731924ab2b996646753a1d"
        "f37fe31b428ade78b12c959b2858633f"
    ),
    ("hashed", "w7_r3"): (
        "2e3168db77228c3757f64c60af5cc371"
        "ea1e98349733d8bb95dbf1b804b32749"
    ),
    ("hashed", "w16_unbounded"): (
        "c695a4dd35f062744f26f52cebac5094"
        "0ced34d9fbf3745ed010667cf997d534"
    ),
    ("hashed", "chunk16"): (
        "c46bdc0916185ad732fc4f4eb4b3933f"
        "bc41a618c791505f6e1883d2fdd8e3d4"
    ),
}


# refs_component_bits of the same graphs and configs, exactly (the sum of
# the components is also checked against the payload, to within padding,
# by test_component_bits_account_for_every_payload_bit)
_COMPONENT_KEYS = (
    "src_deltas", "ref_offsets", "blocks", "res_counts", "residuals",
    "n_lists", "n_residuals",
)
GOLDEN_COMPONENT_BITS = {
    key: dict(zip(_COMPONENT_KEYS, values))
    for key, values in {
        ("weblike", "w7_r3"): (1527, 2333, 3235, 7007, 39485, 1473, 6169),
        ("weblike", "w16_unbounded"): (1527, 2351, 3319, 6983, 39234, 1473, 6122),
        ("weblike", "chunk16"): (1523, 2285, 3033, 7067, 40114, 1473, 6277),
        ("hashed", "w7_r3"): (154561, 1485, 29, 8021, 667558, 1473, 8078),
        ("hashed", "w16_unbounded"): (154561, 1541, 68, 8003, 664858, 1473, 8045),
        ("hashed", "chunk16"): (145203, 1485, 29, 8021, 667558, 1473, 8078),
    }.items()
}


def _golden_adj(spark, graph):
    edges = weblike_edges(spark)
    if graph == "hashed":
        edges = hashed_ids(edges)
    return build_csr_adjacency(edges)


@pytest.mark.parametrize("config", sorted(PACK_CONFIGS))
@pytest.mark.parametrize("graph", ["weblike", "hashed"])
def test_bitpack_golden_payload_bytes(spark, graph, config):
    packed = encode_refs_bitpacked(
        _golden_adj(spark, graph), num_buckets=4, **PACK_CONFIGS[config]
    )
    h = hashlib.sha256()
    for r in sorted(packed.collect(), key=lambda r: (r.bucket, r.chunk)):
        h.update(repr((r.bucket, r.chunk, r.first_src, r.last_src, r.n_rows)).encode())
        h.update(bytes(r.payload))
    assert h.hexdigest() == GOLDEN_PACKED[graph, config]


@pytest.mark.parametrize("config", sorted(PACK_CONFIGS))
@pytest.mark.parametrize("graph", ["weblike", "hashed"])
def test_component_bits_golden(spark, graph, config):
    from webgraph_ans_rs_spark.operators.bitpack import refs_component_bits

    comp = refs_component_bits(
        _golden_adj(spark, graph), num_buckets=4, **PACK_CONFIGS[config]
    )
    assert comp == GOLDEN_COMPONENT_BITS[graph, config]
