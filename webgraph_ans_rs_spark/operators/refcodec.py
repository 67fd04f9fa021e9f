"""Reference-copy coding for CSR successor lists — the LAST BV lever.

BVGraph's dominant storage win on real web graphs is reference copying:
a node's successor list is coded as a diff against a predecessor's list
within a bounded window — copy-block runs select shared successors, only
the leftovers are gap-coded residuals (the reference implementation's
ReferenceOffset/BlockCount/Blocks in src/bvgraph/mod.rs, with window and
chain-length parameters in src/ans/mod.rs). On cnr-2000, 68% of all arcs
are copied arcs (copiedarcs=2195145 of arcs=3216152 in its .properties)
— the engine's gap codec (graph_build.encode_gaps) captured the residual
lever and the interval codec was measured and rejected (subsumed by
parquet v2 delta pages); this module measures the copy lever.

Layout above parquet, mirroring rounds 1-3's discipline (no bit fiddling
below the column layer — parquet v2 page encodings + zstd ARE the
entropy coder):

  (bucket, src,
   ref       long        0 = standalone; else src − referenced_src,
   blocks    array<int>  alternating copy/skip run lengths over the
                         referenced list, first run is a copy run (may
                         be 0), trailing run implicit via parity — the
                         exact BVGraph block convention,
   res_gaps  array<long> residual successors gap-coded exactly like
                         encode_gaps: [first − src, gap, gap, …],
   root_src  long        src of the reference-chain BASE (standalone
                         row) — the columnar .pointers/.states analogue
                         that bounds a point read to the ≤ w·r+1 rows in
                         [root_src, src] instead of the bucket prefix)

outdegree is NOT stored — unlike the bit-packed BVGraph stream, the
column layout knows both array lengths, and copied-count follows from
the blocks + referenced list length.

Encode and decode run once per BUCKET (applyInPandas over a fixed
range bucketing of src). Buckets are independent ⇒ they parallelize;
the first rows of each bucket simply start with an empty window
(ref=0), the same boundary BVGraph has at node 0. At 100 TB, choose
num_buckets so each bucket is ~128-256 MB — same sizing rule as the
adjacency table's write path. This is an ingest-time storage transform,
OFF the query hot path: queries decode once into the plain CSR.

The encoder's reference search (``_encode_rows``) is batched: it costs a
fixed number of numpy passes per bucket, whatever the number of lists.
It flattens the bucket to (row, value) pairs, rank-compresses the values
and keys every pair as ``row·U + rank``; one ``searchsorted`` per window
offset k then marks, for every list at once, which of its successors
the list k rows later also holds. Per-row counts of those marks give the
whole [rows × window] matrix of candidate costs (copy-block count +
residual count). Only the choice itself — cheapest candidate whose chain
is still short enough — is a scalar loop, over small ints, because each
list's chain depth depends on the choices before it. Decode stays a
sequential per-list pass: each list needs its decoded reference. One
list rebuild (``_rebuild_list``) serves every decoder, columnar and
bit-packed.

A referenced list must sit within the previous ``window`` ROWS of the
same bucket and have chain depth < ``max_ref`` (BVGraph maxrefcount;
cnr-2000 uses 3). The table stores ``ref`` as a src delta, not the
window, so no decoder takes one: ``decode_refs`` resolves a reference
against the lists its bucket has already decoded (it keeps them all for
its output anyway), the bit-packed decoders against their chunk's, and
the point reads decode only the ≤ max_ref hops of one chain.

All arithmetic — residual gaps AND the ref delta — is int64 with
two's-complement wraparound (numpy's native behavior, the same mod-2⁶⁴
contract as graph_build._wrap_sub64), so the codec is lossless on
arbitrary hashed ids spanning the full int64 range, not just dense ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ENC_SCHEMA = (
    "bucket int, src long, ref long, blocks array<int>, res_gaps array<long>,"
    " root_src long"
)


def _mask_runs(mask) -> list[int]:
    """Alternating run lengths of a boolean mask with the copy-first
    convention: prepend a 0-length copy run when the mask starts False;
    the trailing run is DROPPED (implicit — decode extends by parity)."""
    import numpy as np

    changes = np.flatnonzero(np.diff(mask.astype(np.int8))) + 1
    bounds = [0, *changes.tolist(), len(mask)]
    runs = [bounds[i + 1] - bounds[i] for i in range(len(bounds) - 1)]
    if not mask[0]:
        runs = [0, *runs]
    return runs[:-1]


def _apply_blocks(ref_list, blocks: list[int]):
    """Inverse of ``_mask_runs``: the copied elements of ``ref_list``."""
    import numpy as np

    pieces = []
    pos = 0
    copy = True
    for b in blocks:
        if copy:
            pieces.append(ref_list[pos : pos + b])
        pos += b
        copy = not copy
    if copy:  # even #blocks → implicit trailing copy run
        pieces.append(ref_list[pos:])
    if not pieces:
        return ref_list[:0]
    return np.concatenate(pieces)


def _rebuild_list(src: int, gaps, ref_list=None, blocks=()):
    """Inverse of one ``_encode_rows`` row, shared by every decoder: the
    residuals are the mod-2⁶⁴ cumsum of ``gaps`` from ``src``; with a
    ``ref_list``, the runs ``blocks`` copy from it merge in sorted."""
    import numpy as np

    with np.errstate(over="ignore"):
        res = np.cumsum(np.asarray(gaps, dtype=np.int64)) + np.int64(src)
    if ref_list is None:
        return res
    return np.sort(np.concatenate([_apply_blocks(ref_list, blocks), res]))


def _ref_src(src: int, ref: int) -> int:
    """The referenced src of a stored ``ref = src − ref_src`` (mod 2⁶⁴)."""
    import numpy as np

    with np.errstate(over="ignore"):
        return int(np.int64(src) - np.int64(ref))


def _encode_rows(srcs, dsts_seq, window: int, max_ref: int, reset_every=None):
    """Encode one bucket: for each (src, dsts) in src order, pick the
    cheapest window reference (or standalone) and yield

        (src, off, ref_src, blocks, gaps, cur, root_src)

    where ``off`` is the WINDOW OFFSET (0 = standalone, k = the list k
    rows back — what a bit stream codes, BVGraph's ReferenceOffset),
    ``ref_src`` the referenced src (== src when standalone), ``gaps`` the
    residual successors gap-coded mod 2⁶⁴, ``cur`` the full decoded list
    and ``root_src`` the src of the chain BASE (the standalone row a
    point read must start decoding from — the columnar analogue of the
    reference's .pointers/.states O(1) entry).
    ``reset_every``: forget the window every N rows (bit-packed chunks
    decode independently).

    Three steps, none of them a numpy call per (row, candidate):

    1. Cost matrix. The bucket's successors are flattened to (row, value)
       pairs and the values replaced by their rank among the bucket's
       distinct values, so ``key = row·U + rank`` is strictly increasing
       (rows are sorted and duplicate-free) and exact for any int64 id.
       For each offset k one ``searchsorted`` of ``key + k·U`` marks the
       successors of row j that row j+k also holds — BVGraph's copy mask
       of j as the reference of j+k. Per-row counts of the marks give
       ``common``, and mask transitions inside a row plus a leading-False
       flag give the copy-block count, so every candidate costs
       ``1 + blocks + (d − common)`` coded numbers against ``d`` for a
       standalone list.
    2. Greedy choice, scalar over small ints: scan the candidates most
       recent first and take a strictly cheaper one only if its chain
       depth is below ``max_ref`` (ties go to standalone, then to the
       smallest offset). Depth depends on earlier choices, so this is the
       one sequential part; rows with no candidate cheaper than
       standalone are skipped outright.
    3. Emission. Blocks are the run lengths of the stored mask slice of
       the chosen reference; one more ``searchsorted`` flags the copied
       successors of every row, and the residual gaps of the whole bucket
       are taken in one pass.
    """
    import numpy as np

    srcs = list(srcs)
    n = len(srcs)
    if n == 0:
        return
    lists = [np.asarray(d, dtype=np.int64) for d in dsts_seq]
    lens = np.fromiter(map(len, lists), dtype=np.int64, count=n)
    starts = np.concatenate([[0], np.cumsum(lens)])
    vals = np.concatenate(lists)
    rowid = np.repeat(np.arange(n), lens)
    same_row = rowid[1:] == rowid[:-1]
    # enforce the sorted+distinct precondition LOUDLY: the rank keys below
    # must be strictly increasing and the bit packer writes gap-1 (a zero
    # gap underflows to 2^64-2), so one duplicate edge row from a caller
    # would silently decode to a DIFFERENT graph. Direct element
    # comparison (np.diff could wrap on full-range int64s), and only
    # between neighbours of the same row.
    bad = np.flatnonzero((vals[1:] <= vals[:-1]) & same_row)
    if len(bad):
        raise ValueError(
            f"encode_refs: dsts of src={srcs[rowid[bad[0]]]} are not strictly "
            "increasing (sorted, duplicate-free) — feed distinct "
            "(src, dst) edges or array_distinct the lists first"
        )
    n_vals = len(vals)
    kmax = min(window, n - 1) if n_vals else 0
    if reset_every is not None:
        kmax = min(kmax, reset_every - 1)
    segment = np.arange(n) // reset_every if reset_every else np.zeros(n, int)

    # 1. cost[i, k-1] of coding row i against row i-k; int64 max where
    # row i-k is not in row i's window
    uniq, rank = np.unique(vals, return_inverse=True)
    n_ranks = len(uniq)
    key = rowid * n_ranks + rank
    nonempty = np.flatnonzero(lens)
    no_candidate = np.iinfo(np.int64).max
    cost = np.full((n, window), no_candidate, dtype=np.int64)
    masks = [None]  # masks[k][e]: successor e of row j is in row j+k
    for k in range(1, kmax + 1):
        q = key + k * n_ranks
        m = key[np.minimum(np.searchsorted(key, q), n_vals - 1)] == q
        masks.append(m)
        common = np.bincount(rowid[m], minlength=n)
        n_blocks = np.bincount(rowid[1:][(m[1:] != m[:-1]) & same_row], minlength=n)
        n_blocks[nonempty] += ~m[starts[nonempty]]
        cost[k:, k - 1] = np.where(
            segment[k:] == segment[:-k],
            1 + n_blocks[:-k] + lens[k:] - common[:-k],
            no_candidate,
        )

    # 2. depth-constrained greedy over the rows that have a candidate
    # cheaper than standalone. An empty or disjoint candidate costs at
    # least d + 1, so it never wins and needs no explicit skip.
    off = [0] * n
    depth = [0] * n
    root = list(srcs)
    d = lens.tolist()
    cand = np.flatnonzero((cost < lens[:, None]).any(axis=1))
    for i, row in zip(cand.tolist(), cost[cand].tolist()):
        best_cost, best = d[i], 0
        for k, c in enumerate(row, 1):
            if c < best_cost and depth[i - k] < max_ref:
                best_cost, best = c, k
        if best:
            off[i] = best
            depth[i] = depth[i - best] + 1
            root[i] = root[i - best]

    # 3. residuals: the successors of row i absent from row i - off[i]
    # (copied values keep the referenced list's sorted order)
    elem_off = np.asarray(off, dtype=np.int64)[rowid]
    q = key - elem_off * n_ranks
    copied = (elem_off > 0) & (key[np.searchsorted(key, q)] == q)
    res = vals[~copied]
    res_row = rowid[~copied]
    res_starts = np.concatenate([[0], np.cumsum(np.bincount(res_row, minlength=n))])
    heads = res_starts[:-1][res_starts[:-1] < res_starts[1:]]
    gaps = np.empty_like(res)
    # int64 wraparound is the CONTRACT (mod-2^64 gaps, invertible by
    # wrapping cumsum) — silence numpy's overflow warning
    with np.errstate(over="ignore"):
        gaps[1:] = res[1:] - res[:-1]
        gaps[heads] = res[heads] - np.asarray(srcs, dtype=np.int64)[res_row[heads]]

    starts = starts.tolist()
    res_starts = res_starts.tolist()
    for i, src in enumerate(srcs):
        k = off[i]
        if k:
            j = i - k
            ref_src = srcs[j]
            blocks = _mask_runs(masks[k][starts[j] : starts[j + 1]])
        else:
            ref_src, blocks = src, []
        yield (
            src, k, ref_src, blocks, gaps[res_starts[i] : res_starts[i + 1]],
            lists[i], root[i],
        )


def _encode_pdf(pdf, window: int, max_ref: int):
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values("src")
    bkt = int(pdf["_bkt"].iloc[0]) if len(pdf) else 0
    o_src, o_ref, o_blocks, o_res, o_root = [], [], [], [], []
    for src, off, ref_src, blocks, gaps, _cur, root in _encode_rows(
        pdf["src"].tolist(), pdf["dsts"].to_numpy(), window, max_ref
    ):
        with np.errstate(over="ignore"):
            ref = 0 if off == 0 else np.int64(src) - np.int64(ref_src)
        o_src.append(src)
        o_ref.append(int(ref))
        o_blocks.append([int(b) for b in blocks])
        o_res.append(gaps.tolist())
        o_root.append(int(root))
    return pd.DataFrame(
        {
            "bucket": [bkt] * len(o_src),
            "src": o_src,
            "ref": o_ref,
            "blocks": o_blocks,
            "res_gaps": o_res,
            "root_src": o_root,
        }
    )


def _decode_pdf(pdf):
    import pandas as pd

    pdf = pdf.sort_values("src")
    decoded = {}  # src -> decoded list, every list of the bucket so far
    o_src, o_dsts = [], []
    for src, ref, blocks, res_gaps in zip(
        pdf["src"].tolist(),
        pdf["ref"].tolist(),
        pdf["blocks"].to_numpy(),
        pdf["res_gaps"].to_numpy(),
    ):
        ref_list = None
        if ref:
            rs = _ref_src(src, ref)
            ref_list = decoded.get(rs)
            if ref_list is None:
                raise ValueError(
                    f"decode_refs: referenced list {rs} for {src} "
                    "is not an earlier list of its bucket"
                )
        cur = _rebuild_list(src, res_gaps, ref_list, blocks)
        o_src.append(src)
        o_dsts.append(cur.tolist())
        decoded[src] = cur
    return pd.DataFrame({"src": o_src, "dsts": o_dsts})


def _range_buckets(adj: DataFrame, num_buckets: int):
    """(src, dsts) grouped by ``_bkt``: ``num_buckets`` equal-width src
    ranges over [min(src), max(src)] — the fixed bucketing every encoder
    shares, so the same graph always splits into the same buckets."""
    mn, mx = adj.agg(F.min("src"), F.max("src")).first()
    if mn is None:
        mn, mx = 0, 0
    span = max(1, (int(mx) - int(mn)) // num_buckets + 1)
    # decimal(38,0) offset arithmetic: full-range hashed ids overflow ANSI
    # long subtraction (span-division of the unsigned offset is exact in
    # decimal — the same wrap-safety contract as graph_build._wrap_sub64)
    off = F.col("src").cast("decimal(38,0)") - F.lit(int(mn)).cast(
        "decimal(38,0)"
    )
    return adj.select(
        F.floor(off / F.lit(span).cast("decimal(38,0)")).cast("int").alias("_bkt"),
        "src",
        "dsts",
    ).groupBy("_bkt")


def encode_refs(
    adj: DataFrame,
    num_buckets: int = 8,
    window: int = 7,
    max_ref: int = 3,
) -> DataFrame:
    """CSR (src, dsts sorted) → reference-coded layout (see module doc).
    Deterministic: fixed range-bucketing over [min(src), max(src)], fixed
    candidate scan order, ties broken to standalone/smallest delta.

    PRECONDITION (ENFORCED): ``dsts`` arrays must be sorted AND
    duplicate-free (the copy-search uses assume_unique set math).
    build_csr_adjacency collects raw edge rows without dedup — feed it
    distinct (src, dst) edges (every engine query path does; graphs are
    edge SETS), or array_distinct the lists first. _encode_rows raises
    ValueError on the first non-strictly-increasing list, so a violation
    fails the encode job loudly instead of decoding to a different
    graph."""
    return _range_buckets(adj, num_buckets).applyInPandas(
        lambda pdf: _encode_pdf(pdf, window, max_ref), ENC_SCHEMA
    )


def decode_refs(enc: DataFrame) -> DataFrame:
    """Exact inverse of ``encode_refs`` → (src, dsts array<long> sorted),
    whatever window the table was encoded with."""
    return enc.groupBy("bucket").applyInPandas(
        _decode_pdf, "src long, dsts array<long>"
    )


def _decode_chain(rows: dict, u: int):
    """Decode u's successor list from the src→(ref, blocks, res_gaps) map
    by walking ONLY its reference chain (≤ max_ref hops) — every chain
    member lies in [root_src, u] by construction."""
    ref, blocks, res_gaps = rows[u]
    ref_list = _decode_chain(rows, _ref_src(u, ref)) if ref else None
    return _rebuild_list(u, res_gaps, ref_list, blocks)


def successors_from_refs_batch(enc: DataFrame, probes: DataFrame) -> DataFrame:
    """Batch random access: (vertex) probe frame → (src, dsts) for every
    probe present, in ONE distributed job — the reference's random-access
    protocol shape (examples/bench_random_access.rs:15,28-41 enumerates
    millions of nodes; per-probe driver jobs amortize nothing).

    Plan: resolve each probe's (bucket, root_src) by a broadcast semi
    join, then ONE range join pulls every [root_src, u] chain slice
    (≤ window·max_ref+1 rows per probe), and a per-probe applyInPandas
    walks the chain. Work scales with |probes| × chain size, never with
    bucket size."""
    anchors = enc.join(
        F.broadcast(probes.select(F.col("vertex").alias("_u"))),
        F.col("src") == F.col("_u"),
    ).select("_u", F.col("bucket").alias("_b"), F.col("root_src").alias("_r"))
    slices = enc.join(
        F.broadcast(anchors),
        (F.col("bucket") == F.col("_b"))
        & (F.col("src") >= F.col("_r"))
        & (F.col("src") <= F.col("_u")),
    ).select("_u", "src", "ref", "blocks", "res_gaps")

    def decode_one(pdf):
        import pandas as pd

        u = int(pdf["_u"].iloc[0])
        rows = {
            int(s): (int(r), list(b), list(g))
            for s, r, b, g in zip(
                pdf["src"], pdf["ref"], pdf["blocks"], pdf["res_gaps"]
            )
        }
        dsts = [int(x) for x in _decode_chain(rows, u)]
        return pd.DataFrame({"src": [u], "dsts": [dsts]})

    return slices.groupBy("_u").applyInPandas(
        decode_one, "src long, dsts array<long>"
    )


def successors_from_refs(enc: DataFrame, u: int) -> DataFrame:
    """Random-access successors(u) on the ref-coded table via the stored
    chain root: ONE job reads only the rows in [u's root_src, u] of u's
    bucket (≤ window·max_ref+1 rows — the chain hops are each ≤ window
    rows back and the chain is ≤ max_ref deep), then walks the reference
    chain driver-side. This is the columnar analogue of the reference's
    .pointers/.states O(1) random-access entry
    (/root/reference/src/bvgraph/random_access.rs:84-221,
    factories/bvgraph_decoder_factory.rs:46-58): the point-read cost is
    the same bucket-pruned scan as the plain-CSR ``successors`` path
    plus a bounded (≤ w·r+1 row) decode, NOT a bucket-prefix decode."""
    spark = enc.sparkSession
    anchor = enc.where(F.col("src") == F.lit(u)).select(
        "bucket", F.col("root_src").alias("_root")
    )
    slice_rows = (
        enc.join(F.broadcast(anchor), "bucket")
        .where((F.col("src") >= F.col("_root")) & (F.col("src") <= F.lit(u)))
        .select("src", "ref", "blocks", "res_gaps")
        .collect()
    )
    if not slice_rows:
        return spark.createDataFrame([], "src long, dsts array<long>")
    rows = {r.src: (r.ref, r.blocks, r.res_gaps) for r in slice_rows}
    dsts = [int(x) for x in _decode_chain(rows, u)]
    return spark.createDataFrame([(u, dsts)], "src long, dsts array<long>")
