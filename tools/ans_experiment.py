"""Measure (and decide) the ANS lever on the bit-packed ref layout.

The reference's actual contribution over BVGraph is ANS entropy coding of
the already-folded symbol streams (README.md:106-115: −5…−12% vs the
instantaneous γ/ζ codes). This tool measures that boundary on our own
layout, on the reference's golden graph, BEFORE we commit to an
implementation — the interval-codec adopt-or-reject protocol.

Method: consume the bit-packed payload's field sequence
(``bitpack._payload_fields``, the one _pack_pdf writes), but instead of
writing γ/ζ codes, fold each value into the symbol alphabet a static ANS
would code:

    sym(v) = v                     if v < DIRECT   (coded by the model)
    sym(v) = DIRECT + (bl - b0)    else            (escape bucket per bit
                                                    length; bl-1 raw
                                                    mantissa bits follow)

and collect per-component symbol histograms. A static order-0 ANS coder
over those alphabets achieves ~n·H(component) + escape-mantissa bits +
model storage; rANS on 12-bit quantized frequencies lands within ~0.1%
of H, so the histogram entropy IS the implementable bound (Duda 2013,
arXiv:1311.2540).

Output: one JSON line with per-component {current γ/ζ bits, entropy-bound
bits} and the implied bits/link, next to the measured parquet+zstd bytes
of the γ/ζ layout — the adopt/reject evidence for BASELINE.md.
"""

from __future__ import annotations

import json
import math
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from webgraph_ans_rs_spark.operators.bitpack import (  # noqa: E402
    FIELDS as COMPONENTS,
    _payload_fields,
)

DIRECT = int(os.environ.get("ANS_DIRECT", "256"))  # model symbols below; escape per bit length above
_B0 = DIRECT.bit_length()  # escape buckets start at this bit length

# refs_component_bits reports residuals combined — map both splits onto it
_CURRENT_KEY = {"residuals_first": "residuals", "residuals_rest": "residuals"}


def fold(v: int) -> tuple[int, int]:
    """(symbol, raw mantissa bits that follow)."""
    if v < DIRECT:
        return v, 0
    bl = v.bit_length()
    return DIRECT + (bl - _B0), bl - 1


def _hist_pdf(pdf, window: int, max_ref: int, chunk: int):
    """Per-bucket (component, symbol, count): consumes the payload field
    sequence, so the values are exactly the ones _pack_pdf γ/ζ-codes. The
    zigzag first residual keeps its own context (a different distribution
    from the sorted-diff rest)."""
    import pandas as pd

    pdf = pdf.sort_values("src")
    hists: dict[str, Counter] = {c: Counter() for c in COMPONENTS}
    raw_bits = Counter()  # escape mantissas per component
    for _c, field, v, _k in _payload_fields(
        pdf["src"].tolist(), pdf["dsts"].to_numpy(), window, max_ref, 3, chunk  # ζ_3: unused here
    ):
        s, rb = fold(v)
        hists[field][s] += 1
        raw_bits[field] += rb
    out = [
        (c, int(s), int(n)) for c in COMPONENTS for s, n in hists[c].items()
    ]
    return pd.DataFrame(
        {
            "component": [c for c, _, _ in out] + [f"_raw_{c}" for c in COMPONENTS],
            "symbol": [s for _, s, _ in out] + [-1] * len(COMPONENTS),
            "count": [n for _, _, n in out]
            + [int(raw_bits[c]) for c in COMPONENTS],
        }
    )


def main() -> None:
    from pyspark.sql import functions as F

    from webgraph_ans_rs_spark.operators.bitpack import refs_component_bits
    from webgraph_ans_rs_spark.operators.graph_build import build_csr_adjacency
    from webgraph_ans_rs_spark.operators.refcodec import _range_buckets
    from webgraph_ans_rs_spark.session import get_spark
    from webgraph_ans_rs_spark.sources.bvgraph import ensure_cnr2000

    spark = get_spark("ans-experiment")
    spark.sparkContext.setLogLevel("ERROR")
    cnr_path, meta = ensure_cnr2000()
    edges = spark.read.parquet(cnr_path)
    adj = build_csr_adjacency(edges, 8).persist()
    adj.count()
    window, max_ref, chunk = 7, 3, 1024

    # current γ/ζ payload bits per component (the thing ANS would replace)
    current = refs_component_bits(
        adj, num_buckets=8, window=window, max_ref=max_ref, chunk=chunk
    )

    # folded-symbol histograms (same bucketing so the streams match)
    hist_rows = (
        _range_buckets(adj, 8)
        .applyInPandas(
            lambda pdf: _hist_pdf(pdf, window, max_ref, chunk),
            "component string, symbol long, count long",
        )
        .groupBy("component", "symbol")
        .agg(F.sum("count").alias("n"))
        .collect()
    )
    hists: dict[str, Counter] = {c: Counter() for c in COMPONENTS}
    raw = dict.fromkeys(COMPONENTS, 0)
    for r in hist_rows:
        if r.component.startswith("_raw_"):
            raw[r.component[5:]] += int(r.n)
        else:
            hists[r.component][r.symbol] += int(r.n)

    arcs = meta["arcs"]
    report = {"graph": "cnr-2000", "arcs": arcs, "direct": DIRECT, "window": window,
              "max_ref": max_ref, "chunk": chunk, "components": {}}
    tot_cur = tot_ans = 0
    model_bits_total = 0
    for c in COMPONENTS:
        n = sum(hists[c].values())
        h = -sum(
            (k / n) * math.log2(k / n) for k in hists[c].values()
        ) if n else 0.0
        ans_bits = n * h + raw[c]
        # model storage: 12-bit quantized frequency per distinct symbol,
        # per graph (decode-side table; symbols identified positionally)
        model_bits = 12 * len(hists[c])
        model_bits_total += model_bits
        report["components"][c] = {
            "current_bits": current[_CURRENT_KEY.get(c, c)],
            "entropy_bits": round(n * h),
            "escape_raw_bits": raw[c],
            "ans_bound_bits": round(ans_bits),
            "n_symbols": n,
            "distinct": len(hists[c]),
            "H": round(h, 3),
        }
        # residuals_first/_rest both map onto the combined "residuals"
        # current-bits figure — count it once (on the _first split)
        if not c.endswith("_rest"):
            tot_cur += current[_CURRENT_KEY.get(c, c)]
        tot_ans += ans_bits
    report["total_current_bits"] = tot_cur
    report["total_ans_bound_bits"] = round(tot_ans + model_bits_total)
    report["model_bits"] = model_bits_total
    report["current_bits_per_link"] = round(tot_cur / arcs, 3)
    report["ans_bound_bits_per_link"] = round(
        (tot_ans + model_bits_total) / arcs, 3
    )
    report["published_bvgraph_bits_per_link"] = 2.897
    report["current_parquet_zstd_bits_per_link"] = 2.758
    print(json.dumps(report))
    adj.unpersist()


if __name__ == "__main__":
    main()
