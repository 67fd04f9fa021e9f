"""Below-parquet bit packing of the reference-coded layout — the last
1.39x of the storage race.

The columnar ref layout (operators/refcodec.py) stores each list's
copy-blocks + gap-coded residuals as int32/int64 parquet arrays: parquet
v2 delta pages + zstd are the entropy coder, and on the real cnr-2000
that reads 4.03 bits/link vs the reference's published 2.897
(/root/reference/tests/data/cnr-2000/cnr-2000.properties:16). The
residual gap is bit-level entropy coding: gamma/zeta_k codes pack a
typical block length or small gap into 1-7 BITS where an int32 delta
page spends a few dozen. This module packs each list's fields into ONE
byte stream using the SAME MSB-first gamma/zeta_k writers the BVGraph
ingest codec already ships (sources/bvgraph.py:50-178, cited to
Boldi-Vigna WWW'04 sec.3) - i.e. the cnr-2000 codings: gamma for
reference offsets/block counts/blocks, zeta_3 for residuals.

Layout: one parquet row per CHUNK of up to ``chunk`` consecutive lists
of a bucket:

  (bucket int, chunk int, first_src long, last_src long, n_rows int,
   payload binary)

Per list inside the payload (exactly the BVGraph node layout minus
outdegree, which n_res + the referenced list reconstruct):

  gamma(src - prev_src - 1)        (first list: gamma(src - first_src))
  gamma(ref_off)                   0 = standalone, k = k rows back
  if ref_off > 0:
      gamma(#blocks), gamma(blocks[0]), gamma(blocks[i>0] - 1)
  gamma(n_res)
  if n_res > 0:
      zeta_k(int2nat(first_gap)), zeta_k(gap - 1) ...

``_payload_fields`` is the one place that sequence is spelled out; the
packer, the per-component bit counter and the ANS histogram tool all
consume it.

The window RESETS at every chunk boundary (``_encode_rows`` with
``reset_every=chunk``), so every chunk decodes independently: decode is
an embarrassingly-parallel mapInPandas with NO shuffle, and random
access prunes to exactly ONE chunk row via (first_src <= u <= last_src)
— range bucketing makes chunk src-ranges globally disjoint. The
compression loss vs an unbroken window is <= window/chunk of rows
losing their candidates (~0.7% at window=7, chunk=1024). The decoders
take only ``zeta_k``: a reference never leaves its chunk, so it resolves
against the lists already decoded, whatever window the encoder used.

Python does the bit fiddling because Spark/parquet genuinely cannot
express sub-byte codes; it runs ONCE at ingest (applyInPandas per
bucket, buckets independent) and decode is off the query hot path — the
decoded CSR remains the query layout, this is the ARCHIVE layout, same
division of labor as the reference (compression tool vs query graph).
The reference search that feeds the writer (refcodec._encode_rows) is
batched: one numpy pass per window offset over the whole bucket, not a
numpy call per list and candidate, so the per-list γ/ζ writes are now
most of the encode's Python time.

All id arithmetic wraps mod 2^64 (the refcodec contract) so the codec
is lossless on arbitrary hashed ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.bvgraph import BitReader, BitWriter, int2nat, nat2int
from .refcodec import _encode_rows, _range_buckets, _rebuild_list

PACK_SCHEMA = (
    "bucket int, chunk int, first_src long, last_src long, n_rows int,"
    " payload binary"
)

_M64 = (1 << 64) - 1


def _to_i64(v: int) -> int:
    v &= _M64
    return v - (1 << 64) if v >= (1 << 63) else v


# the payload's fields in write order (see the module doc); the residuals
# split into the zigzag first one and the gap-1 rest
FIELDS = (
    "src_deltas", "ref_offsets", "blocks", "res_counts",
    "residuals_first", "residuals_rest",
)


def _payload_fields(srcs, dsts, window: int, max_ref: int, zeta_k: int,
                    chunk: int):
    """The payload of one bucket (``srcs`` sorted) as ``(chunk index,
    field, value, k)`` in write order: the one definition of the layout in
    the module doc. ``_pack_pdf`` writes it, ``_component_bits_pdf`` counts
    it and ``tools/ans_experiment.py`` folds it into histograms. ``value``
    is the natural number coded with ζ_k: k = ``zeta_k`` for residuals and
    k = 1 for every other field, because ζ_1 is γ bit for bit."""
    rows = _encode_rows(srcs, dsts, window, max_ref, reset_every=chunk)
    prev = 0
    for i, (src, off, _rs, blocks, gaps, _cur, _root) in enumerate(rows):
        c = i // chunk
        yield c, "src_deltas", src - prev - 1 if i % chunk else 0, 1
        prev = src
        yield c, "ref_offsets", off, 1
        if off:
            yield c, "blocks", len(blocks), 1
            for j, b in enumerate(blocks):
                yield c, "blocks", b if j == 0 else b - 1, 1
        gaps = gaps.tolist()
        yield c, "res_counts", len(gaps), 1
        if gaps:
            yield c, "residuals_first", int2nat(gaps[0]), zeta_k
        # later gaps are diffs of SORTED int64s: >= 1 in unsigned mod-2^64
        # semantics, but the int64 column wraps negative past 2^63 — code
        # the unsigned value
        for g in gaps[1:]:
            yield c, "residuals_rest", (g & _M64) - 1, zeta_k


def _pack_pdf(pdf, window: int, max_ref: int, zeta_k: int, chunk: int):
    import pandas as pd

    pdf = pdf.sort_values("src")
    bkt = int(pdf["_bkt"].iloc[0]) if len(pdf) else 0
    srcs = pdf["src"].tolist()
    n = len(srcs)
    starts = range(0, n, chunk)
    writers = [BitWriter() for _ in starts]
    for c, _field, v, k in _payload_fields(
        srcs, pdf["dsts"].to_numpy(), window, max_ref, zeta_k, chunk
    ):
        writers[c].write_zeta(v, k)
    return pd.DataFrame(
        {
            "bucket": [bkt] * len(writers),
            "chunk": list(range(len(writers))),
            "first_src": [srcs[s] for s in starts],
            "last_src": [srcs[min(s + chunk, n) - 1] for s in starts],
            "n_rows": [min(chunk, n - s) for s in starts],
            "payload": [w.getvalue() for w in writers],
        }
    )


def _zeta_bits(v: int, k: int) -> int:
    """Code length of write_zeta(v, k) (the dsiutils two-branch layout)."""
    w = v + 1
    h = (w.bit_length() - 1) // k
    left = 1 << (h * k)
    return (h + 1) + (h * k + k - 1 if w - left < left else h * k + k)


COMPONENT_BITS_SCHEMA = (
    "bucket int, src_deltas long, ref_offsets long, blocks long,"
    " res_counts long, residuals long, n_lists long, n_residuals long"
)

# the FIELDS refs_component_bits reports, with the two residual fields as one
_COMPONENTS = ("src_deltas", "ref_offsets", "blocks", "res_counts", "residuals")


def _component_bits_pdf(pdf, window: int, max_ref: int, zeta_k: int, chunk: int):
    """Per-bucket bits spent per payload field — the engine's analogue of
    the reference's per-component archive breakdown
    (percomponent_analysis.py:34-60 reads bitsforblocks/
    bitsforintervals/bitsforresiduals/bitsforreferences/bitsforoutdegrees
    off the .properties). Consumes ``_payload_fields``, summing code
    lengths instead of emitting bits; our layout has no outdegree field
    (res_counts + the referenced list reconstruct it) and no interval
    class (measured and rejected — subsumed by copy blocks + parquet v2),
    but adds src_deltas (BVGraph node ids are implicit)."""
    import pandas as pd

    pdf = pdf.sort_values("src")
    bkt = int(pdf["_bkt"].iloc[0]) if len(pdf) else 0
    bits = dict.fromkeys(FIELDS, 0)
    counts = dict.fromkeys(FIELDS, 0)
    for _c, field, v, k in _payload_fields(
        pdf["src"].tolist(), pdf["dsts"].to_numpy(), window, max_ref, zeta_k,
        chunk,
    ):
        bits[field] += _zeta_bits(v, k)
        counts[field] += 1
    bits["residuals"] = bits["residuals_first"] + bits["residuals_rest"]
    return pd.DataFrame(
        {
            "bucket": [bkt],
            **{c: [bits[c]] for c in _COMPONENTS},
            "n_lists": [counts["src_deltas"]],
            "n_residuals": [counts["residuals_first"] + counts["residuals_rest"]],
        }
    )


def refs_component_bits(
    adj: DataFrame,
    num_buckets: int = 8,
    window: int = 7,
    max_ref: int = 3,
    zeta_k: int = 3,
    chunk: int = 1024,
) -> dict:
    """Aggregate per-component payload bits of the bitpacked layout over
    the whole graph (same deterministic bucketing/params as
    encode_refs_bitpacked). Returns {component: bits, ...} plus n_lists /
    n_residuals — a driver-side dict (5 longs per bucket; the scan itself
    is the distributed pass)."""
    from pyspark.sql import functions as SF

    per_bucket = _range_buckets(adj, num_buckets).applyInPandas(
        lambda pdf: _component_bits_pdf(pdf, window, max_ref, zeta_k, chunk),
        COMPONENT_BITS_SCHEMA,
    )
    row = per_bucket.agg(
        *[SF.sum(c).alias(c) for c in (*_COMPONENTS, "n_lists", "n_residuals")]
    ).first()
    return {k: int(row[k] or 0) for k in (*_COMPONENTS, "n_lists", "n_residuals")}


def encode_refs_bitpacked(
    adj: DataFrame,
    num_buckets: int = 8,
    window: int = 7,
    max_ref: int = 3,
    zeta_k: int = 3,
    chunk: int = 1024,
) -> DataFrame:
    """CSR (src, dsts sorted distinct) -> chunked gamma/zeta bit-packed
    reference-coded layout (see module doc). Same deterministic
    range-bucketing and reference search as encode_refs; the window
    additionally resets every ``chunk`` lists so chunks decode
    independently."""
    return _range_buckets(adj, num_buckets).applyInPandas(
        lambda pdf: _pack_pdf(pdf, window, max_ref, zeta_k, chunk), PACK_SCHEMA
    )


def _unpack_chunk(first_src: int, n_rows: int, payload: bytes, zeta_k: int):
    """Decode one self-contained chunk -> list of (src, np.ndarray dsts).
    A reference ``off`` lists back lies in the same chunk, so it resolves
    against the lists already decoded (``out[-off]``)."""
    r = BitReader(payload)
    out = []
    src = first_src
    for i in range(n_rows):
        src += r.read_gamma() + (1 if i else 0)
        off = r.read_gamma()
        blocks = [
            r.read_gamma() + (1 if j else 0) for j in range(r.read_gamma())
        ] if off else []
        n_res = r.read_gamma()
        gaps = [nat2int(r.read_zeta(zeta_k))] if n_res else []
        gaps += [_to_i64(r.read_zeta(zeta_k) + 1) for _ in range(n_res - 1)]
        ref_list = out[-off][1] if off else None
        out.append((src, _rebuild_list(src, gaps, ref_list, blocks)))
    return out


def decode_refs_bitpacked(packed: DataFrame, zeta_k: int = 3) -> DataFrame:
    """Exact inverse of encode_refs_bitpacked -> (src, dsts array<long>
    sorted). Chunks are self-contained, so this is a shuffle-free
    mapInPandas — each parquet row group decodes where it is read."""

    def gen(it):
        import pandas as pd

        for pdf in it:
            o_src, o_dsts = [], []
            for first, n, payload in zip(
                pdf["first_src"], pdf["n_rows"], pdf["payload"]
            ):
                for src, cur in _unpack_chunk(
                    int(first), int(n), bytes(payload), zeta_k
                ):
                    o_src.append(src)
                    o_dsts.append(cur.tolist())
            yield pd.DataFrame({"src": o_src, "dsts": o_dsts})

    return packed.mapInPandas(gen, "src long, dsts array<long>")


def successors_from_bitpacked_batch(
    packed: DataFrame, probes: DataFrame, zeta_k: int = 3
) -> DataFrame:
    """Batch random access on the bit-packed layout: ONE distributed job.
    A broadcast range join matches each probe to its single chunk (chunk
    src-ranges are globally disjoint), then each matched chunk decodes
    ONCE and emits all its probed lists — k probes cost ≤ k chunk
    decodes, independent of graph size."""

    def decode_group(pdf):
        import pandas as pd

        first = int(pdf["first_src"].iloc[0])
        n = int(pdf["n_rows"].iloc[0])
        payload = bytes(pdf["payload"].iloc[0])
        want = set(int(u) for u in pdf["_u"])
        o_src, o_dsts = [], []
        for src, cur in _unpack_chunk(first, n, payload, zeta_k):
            if src in want:
                o_src.append(src)
                o_dsts.append([int(x) for x in cur])
        return pd.DataFrame({"src": o_src, "dsts": o_dsts})

    matched = packed.join(
        F.broadcast(probes.select(F.col("vertex").alias("_u"))),
        (F.col("first_src") <= F.col("_u")) & (F.col("last_src") >= F.col("_u")),
    )
    return matched.groupBy("bucket", "chunk").applyInPandas(
        decode_group, "src long, dsts array<long>"
    )


def successors_from_bitpacked(
    packed: DataFrame, u: int, zeta_k: int = 3
) -> DataFrame:
    """Random-access successors(u): ONE pruned job fetches the single
    chunk row with first_src <= u <= last_src (chunk src-ranges are
    globally disjoint under range bucketing), decoded driver-side up to
    u — bounded by chunk size, no bucket-prefix decode."""
    spark = packed.sparkSession
    rows = packed.where(
        (F.col("first_src") <= F.lit(u)) & (F.col("last_src") >= F.lit(u))
    ).collect()
    for row in rows:
        for src, cur in _unpack_chunk(
            int(row.first_src), int(row.n_rows), bytes(row.payload), zeta_k
        ):
            if src == u:
                return spark.createDataFrame(
                    [(u, [int(x) for x in cur])], "src long, dsts array<long>"
                )
            if src > u:
                break
    return spark.createDataFrame([], "src long, dsts array<long>")
