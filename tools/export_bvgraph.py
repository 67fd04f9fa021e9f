"""Export a parquet edge table to a BVGraph v0 artifact — the egress
twin of tools/ingest_bvgraph.py.

    python tools/export_bvgraph.py <edges.parquet> <out_basename> \
        [window] [max_ref] [min_interval] [zeta_k]

Writes `<out_basename>.graph` + `.properties` in the PUBLIC BVGraph v0
format (Boldi-Vigna WWW'04) that the reference toolchain consumes —
node ids must be dense 0..n-1 (run the dense_ids relabel first). The
written stream is verified by re-decoding before the tool returns.

Round-trip interop proof: `python tools/export_bvgraph.py` with no args
re-exports the ingested cnr-2000 edge table and reports our greedy
encoder's bits/link next to the original artifact's.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from webgraph_ans_rs_spark.sources.bvgraph import (  # noqa: E402
    CNR_BASENAME,
    ensure_cnr2000,
    parquet_to_bvgraph,
)


def main() -> int:
    if len(sys.argv) >= 3:
        edge_path, out_base = sys.argv[1], sys.argv[2]
        extra = [int(x) for x in sys.argv[3:7]]
        kw = dict(
            zip(["window_size", "max_ref_count", "min_interval_length", "zeta_k"], extra)
        )
        print(parquet_to_bvgraph(edge_path, out_base, **kw))
        return 0
    # default: cnr-2000 round-trip demonstration
    path, meta = ensure_cnr2000()
    out = os.path.join(os.path.dirname(path), "cnr-2000-reexport")
    res = parquet_to_bvgraph(path, out, num_nodes=meta["nodes"])
    orig = os.path.getsize(CNR_BASENAME + ".graph")
    print(
        f"re-export: {res}  original .graph: {orig} bytes "
        f"({8.0 * orig / meta['arcs']:.3f} bits/link)"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
