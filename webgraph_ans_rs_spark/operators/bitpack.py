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

The window RESETS at every chunk boundary (``_encode_rows`` with
``reset_every=chunk``), so every chunk decodes independently: decode is
an embarrassingly-parallel mapInPandas with NO shuffle, and random
access prunes to exactly ONE chunk row via (first_src <= u <= last_src)
— range bucketing makes chunk src-ranges globally disjoint. The
compression loss vs an unbroken window is <= window/chunk of rows
losing their candidates (~0.7% at window=7, chunk=1024).

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
from .refcodec import _apply_blocks, _encode_rows, _range_buckets

PACK_SCHEMA = (
    "bucket int, chunk int, first_src long, last_src long, n_rows int,"
    " payload binary"
)

_M64 = (1 << 64) - 1


def _to_i64(v: int) -> int:
    v &= _M64
    return v - (1 << 64) if v >= (1 << 63) else v


def _pack_pdf(pdf, window: int, max_ref: int, zeta_k: int, chunk: int):
    import pandas as pd

    pdf = pdf.sort_values("src")
    bkt = int(pdf["_bkt"].iloc[0]) if len(pdf) else 0
    srcs = pdf["src"].tolist()
    rows = _encode_rows(
        srcs, pdf["dsts"].to_numpy(), window, max_ref, reset_every=chunk
    )
    o_chunk, o_first, o_last, o_n, o_payload = [], [], [], [], []
    w = None
    prev = first = last = 0
    n_in_chunk = 0

    def flush():
        if w is not None and n_in_chunk:
            o_chunk.append(len(o_chunk))
            o_first.append(first)
            o_last.append(last)
            o_n.append(n_in_chunk)
            o_payload.append(w.getvalue())

    for i, (src, off, _rs, blocks, gaps, _cur, _root) in enumerate(rows):
        if i % chunk == 0:
            flush()
            w = BitWriter()
            first = prev = src
            n_in_chunk = 0
        w.write_gamma(src - prev - (1 if n_in_chunk else 0))
        prev = last = src
        n_in_chunk += 1
        w.write_gamma(off)
        if off:
            w.write_gamma(len(blocks))
            for j, b in enumerate(blocks):
                w.write_gamma(b if j == 0 else b - 1)
        w.write_gamma(len(gaps))
        for j, g in enumerate(gaps):
            if j == 0:
                w.write_zeta(int2nat(_to_i64(int(g))), zeta_k)
            else:
                # subsequent gaps are diffs of SORTED int64s: >= 1 in
                # unsigned mod-2^64 semantics, but the int64 column wraps
                # negative past 2^63 — code the unsigned value
                w.write_zeta((int(g) & _M64) - 1, zeta_k)
    flush()
    return pd.DataFrame(
        {
            "bucket": [bkt] * len(o_chunk),
            "chunk": o_chunk,
            "first_src": o_first,
            "last_src": o_last,
            "n_rows": o_n,
            "payload": o_payload,
        }
    )


def _gamma_bits(v: int) -> int:
    """Code length of write_gamma(v): unary exponent + mantissa."""
    n = (v + 1).bit_length()
    return 2 * n - 1


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

# payload field order shared by _pack_pdf (writes) and _component_bits_pdf
# (counts) — test_bitpack pins counted bits == packed payload bits so the
# two can never drift
_COMPONENTS = ("src_deltas", "ref_offsets", "blocks", "res_counts", "residuals")


def _component_bits_pdf(pdf, window: int, max_ref: int, zeta_k: int, chunk: int):
    """Per-bucket bits spent per payload field — the engine's analogue of
    the reference's per-component archive breakdown
    (/root/reference/percomponent_analysis.py:34-60 reads bitsforblocks/
    bitsforintervals/bitsforresiduals/bitsforreferences/bitsforoutdegrees
    off the .properties). Mirrors _pack_pdf's exact write sequence,
    summing code lengths instead of emitting bits; our layout has no
    outdegree field (res_counts + the referenced list reconstruct it) and
    no interval class (measured and rejected — subsumed by copy blocks +
    parquet v2), but adds src_deltas (BVGraph node ids are implicit)."""
    import pandas as pd

    pdf = pdf.sort_values("src")
    bkt = int(pdf["_bkt"].iloc[0]) if len(pdf) else 0
    rows = _encode_rows(
        pdf["src"].tolist(), pdf["dsts"].to_numpy(), window, max_ref,
        reset_every=chunk,
    )
    bits = dict.fromkeys(_COMPONENTS, 0)
    n_lists = n_res_total = 0
    prev = 0
    n_in_chunk = 0
    for i, (src, off, _rs, blocks, gaps, _cur, _root) in enumerate(rows):
        if i % chunk == 0:
            prev = src
            n_in_chunk = 0
        bits["src_deltas"] += _gamma_bits(src - prev - (1 if n_in_chunk else 0))
        prev = src
        n_in_chunk += 1
        n_lists += 1
        bits["ref_offsets"] += _gamma_bits(off)
        if off:
            bits["blocks"] += _gamma_bits(len(blocks))
            for j, b in enumerate(blocks):
                bits["blocks"] += _gamma_bits(b if j == 0 else b - 1)
        bits["res_counts"] += _gamma_bits(len(gaps))
        for j, g in enumerate(gaps):
            n_res_total += 1
            if j == 0:
                bits["residuals"] += _zeta_bits(int2nat(_to_i64(int(g))), zeta_k)
            else:
                bits["residuals"] += _zeta_bits((int(g) & _M64) - 1, zeta_k)
    return pd.DataFrame(
        {
            "bucket": [bkt],
            **{c: [bits[c]] for c in _COMPONENTS},
            "n_lists": [n_lists],
            "n_residuals": [n_res_total],
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


def _unpack_chunk(first_src: int, n_rows: int, payload: bytes, window: int,
                  zeta_k: int):
    """Decode one self-contained chunk -> list of (src, np.ndarray dsts)."""
    import numpy as np

    r = BitReader(payload)
    win: list = []
    out = []
    src = first_src
    for i in range(n_rows):
        delta = r.read_gamma()
        src = first_src + delta if i == 0 else src + delta + 1
        off = r.read_gamma()
        blocks = []
        if off:
            nb = r.read_gamma()
            for j in range(nb):
                b = r.read_gamma()
                blocks.append(b if j == 0 else b + 1)
        n_res = r.read_gamma()
        gaps = np.empty(n_res, dtype=np.int64)
        for j in range(n_res):
            if j == 0:
                gaps[0] = np.int64(_to_i64(nat2int(r.read_zeta(zeta_k))))
            else:
                gaps[j] = np.int64(_to_i64(r.read_zeta(zeta_k) + 1))
        if n_res:
            with np.errstate(over="ignore"):
                res = np.cumsum(gaps) + np.int64(_to_i64(src))
        else:
            res = gaps
        if off == 0:
            cur = res
        else:
            copied = _apply_blocks(win[-off], blocks)
            cur = np.sort(np.concatenate([copied, res]))
        out.append((src, cur))
        win.append(cur)
        if len(win) > window:
            win.pop(0)
    return out


def decode_refs_bitpacked(
    packed: DataFrame, window: int = 7, zeta_k: int = 3
) -> DataFrame:
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
                    int(first), int(n), bytes(payload), window, zeta_k
                ):
                    o_src.append(src)
                    o_dsts.append(cur.tolist())
            yield pd.DataFrame({"src": o_src, "dsts": o_dsts})

    return packed.mapInPandas(gen, "src long, dsts array<long>")


def successors_from_bitpacked_batch(
    packed: DataFrame, probes: DataFrame, window: int = 7, zeta_k: int = 3
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
        for src, cur in _unpack_chunk(first, n, payload, window, zeta_k):
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
    packed: DataFrame, u: int, window: int = 7, zeta_k: int = 3
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
            int(row.first_src), int(row.n_rows), bytes(row.payload), window,
            zeta_k,
        ):
            if src == u:
                return spark.createDataFrame(
                    [(u, [int(x) for x in cur])], "src long, dsts array<long>"
                )
            if src > u:
                break
    return spark.createDataFrame([], "src long, dsts array<long>")
