"""Ingest a BVGraph artifact into a parquet edge table.

    python tools/ingest_bvgraph.py [basename] [out.parquet]

Defaults to the reference's golden fixture
/root/reference/tests/data/cnr-2000/cnr-2000 → .cache/cnr-2000.parquet.
Counts are VERIFIED against the .properties file (nodes=325557,
arcs=3216152 for cnr-2000) before anything is written; a sidecar
.meta.json records them for consumers.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from webgraph_ans_rs_spark.sources.bvgraph import (  # noqa: E402
    CNR_BASENAME,
    bvgraph_to_parquet,
    ensure_cnr2000,
)


def main() -> int:
    if len(sys.argv) >= 3:
        meta = bvgraph_to_parquet(sys.argv[1], sys.argv[2])
        print(meta)
    else:
        base = sys.argv[1] if len(sys.argv) == 2 else CNR_BASENAME
        path, meta = ensure_cnr2000(base)
        print(path, meta)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
