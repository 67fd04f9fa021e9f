"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: it draws from a
NumPy PCG64 stream keyed by the seed and a per-generator stream id, and
writes plain parquet with pyarrow. The engine only ever sees the written
parquet. The shapes follow the engine's own fixtures, which hard-code their
seed and so cannot serve a seeded benchmark:

* ``write_pages`` keeps the page shape of ``datagen.synthetic_pages``:
  Zipf(1.2) out-degree capped at 64, one hub link to one of 16 hubs, a
  duplicate of the first link, dangling pages, 1-4 paragraphs of text.
* ``zipf_hub_edges`` keeps the shape of ``plans/bench_graph.synthetic_edges``:
  Zipf(1.2) out-degree capped at 48, uniform targets, one link per vertex to
  one of 64 hubs, self-loops and duplicates removed.
* ``crawl_edges`` keeps the shape of ``plans/bench_graph.synthetic_edges_crawl``:
  half of each out-degree as a consecutive run ``src+1 ...``, the rest at
  power-law (exponent 1.3) offsets, clamped to the id range.

Each generator also returns the ground truth the workload checks against.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "web graph page link rank crawl index spark shuffle join partition "
    "vertex edge hub node data scan batch query table row column value "
    "hash sort merge count text token corpus dedup sample filter"
).split()
LANGS = ("en", "de", "fr", "it")
N_SITES = 64
PAGE_HUBS = 16
PAGE_MAX_OUTDEG = 64
DANGLING_MOD = 97
PAGE_FILES = 16
EPOCH = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)

GRAPH_MAX_DEG = 48
GRAPH_HUBS = 64
ZIPF_EXP = 1.2
OFFSET_EXP = 1.3

# stream ids: one independent random stream per generator
_PAGES, _ZIPF, _CRAWL, _PROBES = 1, 2, 3, 4


def rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _zipf_degrees(g: np.random.Generator, n: int, cap: int) -> np.ndarray:
    u = np.maximum(g.random(n), 1e-9)
    return np.clip((u ** (-1.0 / ZIPF_EXP)).astype(np.int64), 1, cap)


def url_of(doc_id: int) -> str:
    return f"https://site{doc_id % N_SITES}.example/p/{doc_id}"


def write_pages(path: str, n_pages: int, seed: int) -> dict:
    """Write ``n_pages`` pages (url, warc_ts, html, text, lang) as
    ``PAGE_FILES`` parquet files in directory ``path``.

    Returns the truth: ``text_chars`` and ``outlinks`` summed over all pages,
    ``edges`` (distinct src→dst url pairs without self-links) and
    ``outdeg`` (distinct out-degree per doc id, an int64 array)."""
    g = rng(seed, _PAGES)
    deg = _zipf_degrees(g, n_pages, PAGE_MAX_OUTDEG)
    deg[np.arange(n_pages) % DANGLING_MOD == 0] = 0
    n_par = g.integers(1, 5, n_pages)
    n_words = g.integers(8, 33, int(n_par.sum()))
    words = np.array(VOCAB)[g.integers(0, len(VOCAB), int(n_words.sum()))].tolist()
    targets = g.integers(0, n_pages, int(deg.sum())).tolist()
    hubs = g.integers(0, PAGE_HUBS, n_pages).tolist()
    urls, htmls, texts = [], [], []
    outdeg = np.zeros(n_pages, dtype=np.int64)
    text_chars = outlinks = 0
    w = t = p = 0
    for doc in range(n_pages):
        pars = []
        for nw in n_words[p : p + n_par[doc]].tolist():
            pars.append(" ".join(words[w : w + nw]))
            w += nw
        p += n_par[doc]
        links: list[int] = []
        if deg[doc]:
            links = targets[t : t + deg[doc]]
            t += deg[doc]
            links.append(hubs[doc])
            if deg[doc] >= 2:
                links.append(links[0])  # deliberate duplicate link
            links = [x for x in links if x != doc]
        buf = [f"<html><head><title>page {doc}</title></head><body>"]
        buf += [f"<p>{x}</p>" for x in pars]
        buf += [f'<a href="{url_of(x)}">to {x}</a>' for x in links]
        buf.append("</body></html>")
        text = "\n".join(pars)
        urls.append(url_of(doc))
        htmls.append("".join(buf).encode("utf-8"))
        texts.append(text)
        text_chars += len(text)
        outlinks += len(links)
        outdeg[doc] = len(set(links))
    table = pa.table(
        {
            "url": urls,
            "warc_ts": pa.array(
                [EPOCH + datetime.timedelta(seconds=d) for d in range(n_pages)],
                pa.timestamp("us", tz="UTC"),
            ),
            "html": pa.array(htmls, pa.binary()),
            "text": texts,
            "lang": [LANGS[d % len(LANGS)] for d in range(n_pages)],
        }
    )
    # many small files, as a crawl segment lands: the parse then runs as
    # more tasks than cores, so one slow core does not hold up the stage
    os.makedirs(path)
    step = -(-n_pages // PAGE_FILES)
    for i in range(0, n_pages, step):
        pq.write_table(table.slice(i, step), f"{path}/part-{i // step:03d}.parquet")
    return {
        "text_chars": text_chars,
        "outlinks": outlinks,
        "edges": int(outdeg.sum()),
        "outdeg": outdeg,
    }


def _dedup(src: np.ndarray, dst: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    keep = src != dst
    key = np.unique(src[keep] * n + dst[keep])
    return key // n, key % n


def zipf_hub_edges(n: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Sorted distinct (src, dst) arrays over vertices 0..n-1."""
    g = rng(seed, _ZIPF)
    deg = _zipf_degrees(g, n, GRAPH_MAX_DEG)
    src = np.repeat(np.arange(n, dtype=np.int64), deg)
    dst = g.integers(0, n, len(src))
    hub_dst = g.integers(0, GRAPH_HUBS, n)
    return _dedup(
        np.concatenate([src, np.arange(n, dtype=np.int64)]),
        np.concatenate([dst, hub_dst]),
        n,
    )


def crawl_edges(n: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Sorted distinct (src, dst) arrays with crawl locality."""
    g = rng(seed, _CRAWL)
    deg = _zipf_degrees(g, n, GRAPH_MAX_DEG)
    blk = deg // 2
    ids = np.arange(n, dtype=np.int64)
    b_src = np.repeat(ids, blk)
    # j-th link of a run points at src + j, j = 1..blk
    starts = np.repeat(np.cumsum(blk) - blk, blk)
    b_dst = np.minimum(n - 1, b_src + 1 + np.arange(len(b_src)) - starts)
    rest = deg - blk
    f_src = np.repeat(ids, rest)
    uo = np.maximum(g.random(len(f_src)), 1e-9)
    off = np.minimum(n // 2, (uo ** (-1.0 / OFFSET_EXP)).astype(np.int64))
    sign = np.where(g.random(len(f_src)) < 0.5, 1, -1)
    f_dst = np.clip(f_src + sign * off, 0, n - 1)
    return _dedup(np.concatenate([b_src, f_src]), np.concatenate([b_dst, f_dst]), n)


def write_edges(path: str, src: np.ndarray, dst: np.ndarray) -> None:
    pq.write_table(pa.table({"src": src, "dst": dst}), path, row_group_size=1 << 18)


def write_vertices(path: str, n: int) -> None:
    pq.write_table(pa.table({"vertex": np.arange(n, dtype=np.int64)}), path)


def write_csr(path: str, src: np.ndarray, dst: np.ndarray) -> None:
    """(src long, dsts array<long> sorted) — one row per non-empty list."""
    srcs, starts = np.unique(src, return_index=True)
    offsets = np.append(starts, len(dst)).astype(np.int32)
    lists = pa.ListArray.from_arrays(pa.array(offsets), pa.array(dst, pa.int64()))
    pq.write_table(pa.table({"src": srcs, "dsts": lists}), path, row_group_size=1 << 14)


def probe_ids(n_probes: int, universe: int, seed: int) -> np.ndarray:
    """Distinct probe positions drawn from ``range(universe)``, sorted."""
    g = rng(seed, _PROBES)
    return np.sort(g.choice(universe, size=min(n_probes, universe), replace=False))


def write_probes(path: str, vertices: np.ndarray) -> None:
    pq.write_table(pa.table({"vertex": np.asarray(vertices, dtype=np.int64)}), path)


def triangle_count(src: np.ndarray, dst: np.ndarray, n: int) -> int:
    """Triangles of the undirected simple graph: orient every edge from
    lower to higher (degree, id), then for each oriented a→b count the
    c in N+(b) with a→c present."""
    a, b = np.minimum(src, dst), np.maximum(src, dst)
    key = np.unique(a * n + b)
    a, b = key // n, key % n
    deg = np.bincount(np.concatenate([a, b]), minlength=n)
    fwd = (deg[a] < deg[b]) | ((deg[a] == deg[b]) & (a < b))
    u, v = np.where(fwd, a, b), np.where(fwd, b, a)
    order = np.lexsort((v, u))
    u, v = u[order], v[order]
    keys = u * n + v
    ptr = np.searchsorted(u, np.arange(n + 1))
    cnt = ptr[v + 1] - ptr[v]  # |N+(b)| for each oriented edge a→b
    total = int(cnt.sum())
    if total == 0:
        return 0
    rep_a = np.repeat(u, cnt)
    # positions of N+(b) entries, edge by edge
    first = np.repeat(ptr[v] - (np.cumsum(cnt) - cnt), cnt)
    c = v[first + np.arange(total)]
    probe = rep_a * n + c
    pos = np.minimum(np.searchsorted(keys, probe), len(keys) - 1)
    return int((keys[pos] == probe).sum())
