"""Reference-copy codec (BV copy-block lever above parquet): losslessness,
window/chain contracts, determinism, parquet cycle.

The driver gate re-proves losslessness against the DuckDB successors
oracle (`successors_refs`); the storage win is measured in bench.py
(cnr-2000: 4.03 bits/link refs vs 6.86 gaps) — these tests pin the codec
contracts."""

from __future__ import annotations

import hashlib
import random

import pytest
from pyspark.sql import functions as F

from webgraph_ans_rs_spark.operators.graph_build import build_csr_adjacency
from webgraph_ans_rs_spark.operators.refcodec import (
    _apply_blocks,
    _mask_runs,
    decode_refs,
    encode_refs,
    successors_from_refs,
)

from tests.conftest import hashed_ids, weblike_edges


def test_mask_runs_blocks_inverse():
    import numpy as np

    rng = random.Random(11)
    for _ in range(200):
        n = rng.randrange(1, 12)
        mask = np.array([rng.random() < 0.5 for _ in range(n)], dtype=bool)
        rl = np.arange(100, 100 + n, dtype=np.int64)
        blocks = _mask_runs(mask)
        assert _apply_blocks(rl, blocks).tolist() == rl[mask].tolist()


def test_roundtrip_dense_weblike(spark):
    edges = weblike_edges(spark)
    adj = build_csr_adjacency(edges)
    orig = {r.src: r.dsts for r in adj.collect()}
    enc = encode_refs(adj, num_buckets=4).persist()
    got = {r.src: r.dsts for r in decode_refs(enc).collect()}
    assert got == orig
    # the fixture's copy structure must actually exercise the ref path
    assert enc.where(F.col("ref") != 0).count() > 0.15 * len(orig)
    enc.unpersist()


def test_roundtrip_hashed_full_range_ids(spark):
    """Arbitrary int64 ids: gaps wrap mod 2^64 (numpy two's-complement),
    still exactly invertible — the same contract as encode_gaps."""
    adj = build_csr_adjacency(hashed_ids(weblike_edges(spark, n=800)))
    orig = {r.src: r.dsts for r in adj.collect()}
    got = {
        r.src: r.dsts
        for r in decode_refs(encode_refs(adj, num_buckets=4)).collect()
    }
    assert got == orig


def test_roundtrip_through_parquet(spark, tmp_path):
    """Encoded table survives a parquet v2 + zstd write/read cycle."""
    edges = weblike_edges(spark, n=600)
    adj = build_csr_adjacency(edges)
    orig = {r.src: r.dsts for r in adj.collect()}
    p = str(tmp_path / "refs.parquet")
    (
        encode_refs(adj, num_buckets=4)
        .repartition(4, "bucket")
        .sortWithinPartitions("bucket", "src")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .option("parquet.writer.version", "v2")
        .parquet(p)
    )
    got = {r.src: r.dsts for r in decode_refs(spark.read.parquet(p)).collect()}
    assert got == orig


def test_ref_chain_depth_bounded(spark):
    """No decode requires following more than max_ref references: replay
    the encoder's chain-depth bookkeeping from the encoded output."""
    max_ref = 3
    edges = weblike_edges(spark)
    enc = encode_refs(build_csr_adjacency(edges), num_buckets=2, max_ref=max_ref)
    rows = sorted(
        ((r.bucket, r.src, r.ref) for r in enc.collect()),
    )
    depth: dict[int, int] = {}
    for _, src, ref in rows:
        depth[src] = 0 if ref == 0 else depth[src - ref] + 1
        assert depth[src] <= max_ref


def test_references_stay_within_window_rows(spark):
    """Each reference resolves within the previous `window` ROWS of its
    bucket — the contract that bounds a point read's chain slice."""
    window = 7
    edges = weblike_edges(spark)
    enc = encode_refs(build_csr_adjacency(edges), num_buckets=2, window=window)
    by_bucket: dict[int, list] = {}
    for r in sorted(enc.collect(), key=lambda r: (r.bucket, r.src)):
        lst = by_bucket.setdefault(r.bucket, [])
        if r.ref != 0:
            recent = [s for s, in lst[-window:]]
            assert r.src - r.ref in recent, (r.src, r.ref)
        lst.append((r.src,))


def test_encode_deterministic(spark):
    edges = weblike_edges(spark, n=500)
    adj = build_csr_adjacency(edges)
    a = sorted(map(tuple, encode_refs(adj, num_buckets=4).collect()))
    b = sorted(map(tuple, encode_refs(adj, num_buckets=4).collect()))
    assert a == b


def test_point_lookup_on_ref_coded_table(spark):
    """successors_from_refs reads only the [root_src, u] chain slice (one
    pruned job) and matches the full decode — including a u whose list is
    ref-coded (the chain walk actually exercised)."""
    edges = weblike_edges(spark, n=600)
    adj = build_csr_adjacency(edges)
    orig = {r.src: r.dsts for r in adj.collect()}
    enc = encode_refs(adj, num_buckets=3).persist()
    ref_coded = [r.src for r in enc.where(F.col("ref") != 0).limit(1).collect()]
    probes = [min(orig), max(orig), *ref_coded]
    for u in probes:
        got = successors_from_refs(enc, u).collect()
        assert len(got) == 1 and got[0].dsts == orig[u], u
    absent = max(orig) + 12345
    assert successors_from_refs(enc, absent).collect() == []
    enc.unpersist()


@pytest.mark.parametrize("num_buckets", [1, 3])
def test_bucket_count_only_changes_layout_not_values(spark, num_buckets):
    """Decode result is bucket-count-independent (bucket boundaries only
    reset the window — losslessness never depends on them)."""
    edges = weblike_edges(spark, n=400)
    adj = build_csr_adjacency(edges)
    orig = {r.src: r.dsts for r in adj.collect()}
    got = {
        r.src: r.dsts
        for r in decode_refs(encode_refs(adj, num_buckets=num_buckets)).collect()
    }
    assert got == orig


def test_batch_point_lookup_on_ref_coded_table(spark):
    """successors_from_refs_batch: one distributed job resolves many
    probes via chain slices; equals per-probe lookups and the full
    decode, including ref-coded rows and a missing probe."""
    from webgraph_ans_rs_spark.operators.refcodec import (
        successors_from_refs_batch,
    )

    edges = weblike_edges(spark, n=600)
    adj = build_csr_adjacency(edges)
    orig = {r.src: list(r.dsts) for r in adj.collect()}
    enc = encode_refs(adj, num_buckets=3).persist()
    keys = sorted(orig)
    probe_ids = keys[::37] + [max(orig) + 999]
    probes = spark.createDataFrame([(u,) for u in probe_ids], "vertex long")
    got = {
        r.src: list(r.dsts)
        for r in successors_from_refs_batch(enc, probes).collect()
    }
    assert got == {u: orig[u] for u in probe_ids if u in orig}
    enc.unpersist()


# sha256 of repr() of the encoded rows sorted by (bucket, src): the same
# payload-identity pin as test_bitpack's GOLDEN_PACKED, for the columnar
# layout.
GOLDEN_REFS = {
    "weblike": "d243553b22d84d78d2663bedee3e2a694eb9884dbf1ca8a6ef30586059ba91cf",
    "hashed": "5684bfc0c2e59956e408c9279440249d7c6f1978c5823233feadc1fb7ffbf2ad",
}


@pytest.mark.parametrize("graph", ["weblike", "hashed"])
def test_encode_refs_golden_rows(spark, graph):
    edges = weblike_edges(spark)
    if graph == "hashed":
        edges = hashed_ids(edges)
    enc = encode_refs(build_csr_adjacency(edges), num_buckets=4)
    rows = sorted(tuple(r) for r in enc.collect())
    assert hashlib.sha256(repr(rows).encode()).hexdigest() == GOLDEN_REFS[graph]


def _overlapping_lists():
    """40 sorted lists over srcs 0..39. Each list's last id exceeds the
    next list's first, so a check across list boundaries would fire."""
    return [(s, [s + 1, s + 2, s + 40]) for s in range(40)]


def _encode_with(adj, which):
    from webgraph_ans_rs_spark.operators.bitpack import encode_refs_bitpacked

    if which == "refs":
        return encode_refs(adj, num_buckets=2)
    return encode_refs_bitpacked(adj, num_buckets=2, chunk=8)


# two range buckets over srcs 0..39: bucket 0 holds 0..19, bucket 1 holds
# 20..39, and with chunk=8 the bit packer resets its window at src 28
@pytest.mark.parametrize("which", ["refs", "bitpacked"])
@pytest.mark.parametrize(
    "at", [19, 28], ids=["last_row_of_bucket", "first_row_after_reset"]
)
@pytest.mark.parametrize("bad", [[5, 5], [9, 5]], ids=["duplicate", "descending"])
def test_encoders_reject_unsorted_lists(spark, which, at, bad):
    from pyspark.errors import PythonException

    rows = _overlapping_lists()
    rows[at] = (at, bad)
    adj = spark.createDataFrame(rows, "src long, dsts array<long>")
    with pytest.raises(
        PythonException, match=f"ValueError: encode_refs: dsts of src={at} "
    ):
        _encode_with(adj, which).collect()


@pytest.mark.parametrize("which", ["refs", "bitpacked"])
def test_encoders_accept_overlapping_neighbour_lists(spark, which):
    """The sortedness check is per list: a list may start below, at or
    above where the previous one ended, and may be empty or hold one id."""
    from webgraph_ans_rs_spark.operators.bitpack import decode_refs_bitpacked

    rows = _overlapping_lists()
    rows[10] = (10, [49])  # starts at the previous list's last id
    rows[11] = (11, [])
    rows[12] = (12, [3])
    adj = spark.createDataFrame(rows, "src long, dsts array<long>")
    enc = _encode_with(adj, which)
    dec = decode_refs(enc) if which == "refs" else decode_refs_bitpacked(enc)
    got = {r.src: list(r.dsts) for r in dec.collect()}
    assert got == {s: d for s, d in rows}
