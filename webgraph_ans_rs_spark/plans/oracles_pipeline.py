"""DuckDB oracle SQL for the training-data pipeline operators.

Each builder mirrors the Spark implementation expression-for-expression
(same float-op order, same rounding, same tie-breaks) — see
operators/textstats.py, operators/dedup.py, operators/similarity.py.
"""

from __future__ import annotations

from ..operators.dedup import (
    MAX_SHINGLE_DF,
    MINHASH_BANDS,
    MINHASH_K,
    NGRAM,
    SIMHASH_BITS,
    SIMHASH_HAMMING_K,
)
from ..operators.textstats import LANG_MARKERS, STOPWORDS, WORD_RE


def token_count_sql() -> str:
    return (
        "SELECT doc_id,"
        " CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,"
        f" CAST(len(regexp_extract_all(lower(text), '{WORD_RE}')) AS BIGINT) AS n_bpeish"
        " FROM documents"
    )


def lang_id_sql() -> str:
    langs = sorted(LANG_MARKERS)
    score_exprs = []
    for lang in langs:
        terms = " + ".join(
            f"CASE WHEN list_contains(toks, '{m}') THEN 1 ELSE 0 END"
            for m in LANG_MARKERS[lang]
        )
        score_exprs.append(f"({terms}) AS s_{lang}")
    best = "GREATEST(" + ", ".join(f"s_{l}" for l in langs) + ")"
    pred = "CASE " + " ".join(
        f"WHEN s_{l} = best THEN '{l}'" for l in langs
    ) + " END"
    return (
        "WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),\n"
        f"s AS (SELECT doc_id, {', '.join(score_exprs)} FROM t),\n"
        f"b AS (SELECT *, {best} AS best FROM s)\n"
        f"SELECT doc_id, {pred} AS lang_pred, CAST(best AS BIGINT) AS lang_score FROM b"
    )


def quality_score_sql() -> str:
    sw = ", ".join(f"'{s}'" for s in STOPWORDS)
    return (
        "WITH t AS (SELECT doc_id, text,"
        " CAST(length(text) AS BIGINT) AS n_chars,"
        " CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,"
        f" len(list_filter(string_split(text, ' '), x -> lower(x) IN ({sw}))) AS n_sw,"
        " length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS n_sym"
        " FROM documents),\n"
        "r AS (SELECT doc_id, n_chars, n_tokens,"
        " ROUND(CAST(n_chars AS DOUBLE) / n_tokens, 6) AS mean_token_len,"
        " ROUND(CAST(n_sw AS DOUBLE) / n_tokens, 6) AS stopword_ratio,"
        " ROUND(CAST(n_sym AS DOUBLE) / n_chars, 6) AS symbol_ratio"
        " FROM t)\n"
        "SELECT doc_id, n_chars, n_tokens, mean_token_len, stopword_ratio, symbol_ratio,"
        " ROUND(CAST(0.4 AS DOUBLE) * LEAST(CAST(1.0 AS DOUBLE), CAST(n_tokens AS DOUBLE) / CAST(100.0 AS DOUBLE))"
        " + CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - symbol_ratio)"
        " + CAST(0.3 AS DOUBLE) * LEAST(CAST(1.0 AS DOUBLE), stopword_ratio * CAST(10.0 AS DOUBLE)), 6) AS quality"
        " FROM r"
    )


def fingerprint_sql() -> str:
    return (
        "SELECT doc_id, md5(text) AS fp,"
        " md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS fp_norm"
        " FROM documents"
    )


def exact_dedup_sql() -> str:
    return (
        "SELECT md5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies"
        " FROM documents GROUP BY 1"
    )


def dedup_resolve_sql() -> str:
    """Mirrors operators/dedup.py dedup_resolve: per exact-dup cluster keep
    the highest-quality copy (tie → smallest id)."""
    return (
        f"WITH q AS ({quality_score_sql()}),\n"
        "fp AS (SELECT doc_id, md5(text) AS fp FROM documents),\n"
        "j AS (SELECT fp.fp, fp.doc_id, q.quality FROM fp JOIN q USING (doc_id)),\n"
        "r AS (SELECT fp, doc_id, quality,"
        " ROW_NUMBER() OVER (PARTITION BY fp ORDER BY quality DESC, doc_id ASC) AS rn,"
        " COUNT(*) OVER (PARTITION BY fp) AS n FROM j)\n"
        "SELECT fp, doc_id AS keep_id, CAST(n AS BIGINT) AS n_copies,"
        " quality AS best_quality FROM r WHERE rn = 1"
    )


def khop_sql(edges_cte: str, seed_mod: int = 97, k: int = 2, pct: int = 30) -> str:
    """Mirrors operators/sampling.py khop_neighbors (k=2) over the derived
    hash graph: same md5-byte edge sampler, same min-hop semantics."""
    assert k == 2, "oracle is unrolled for k=2"
    b0 = (
        f"((strpos('{_HEXD}', substr(h, 1, 1)) - 1) * 16"
        f" + strpos('{_HEXD}', substr(h, 2, 1)) - 1)"
    )
    return (
        f"WITH edges AS ({edges_cte}),\n"
        f"s AS (SELECT CAST(doc_id AS BIGINT) AS seed FROM documents"
        f" WHERE doc_id % {seed_mod} = 0),\n"
        "hs AS (SELECT src, dst,"
        " md5(CAST(src AS VARCHAR) || '|' || CAST(dst AS VARCHAR)) AS h FROM edges),\n"
        f"samp AS (SELECT src, dst FROM hs WHERE {b0} % 100 < {pct}),\n"
        "h1 AS (SELECT DISTINCT seed, dst AS v FROM s JOIN samp ON samp.src = s.seed),\n"
        "h2 AS (SELECT DISTINCT seed, samp.dst AS v FROM h1"
        " JOIN samp ON samp.src = h1.v),\n"
        "u AS (SELECT seed, v, 1 AS hop FROM h1"
        " UNION ALL SELECT seed, v, 2 AS hop FROM h2)\n"
        "SELECT seed, v AS vertex, CAST(MIN(hop) AS INT) AS hop FROM u"
        " WHERE v <> seed GROUP BY 1, 2"
    )


def khop_capped_sql(
    edges_cte: str,
    seed_mod: int = 97,
    k: int = 2,
    pct: int = 30,
    max_per_hop: int = 8,
) -> str:
    """Mirrors operators/sampling.py khop_neighbors_capped (k=2): per hop,
    the frontier is the ``max_per_hop`` candidates with smallest
    (md5('seed|v'), v) per seed. The engine computes the same top-K with a
    salted two-stage aggregation; the oracle uses the window form — they
    select identical rows because the salted merge is exact."""
    assert k == 2, "oracle is unrolled for k=2"
    b0 = (
        f"((strpos('{_HEXD}', substr(h, 1, 1)) - 1) * 16"
        f" + strpos('{_HEXD}', substr(h, 2, 1)) - 1)"
    )

    def topk(src_cte: str, out: str) -> str:
        return (
            f"{out} AS (SELECT seed, v FROM ("
            f"SELECT seed, v, ROW_NUMBER() OVER (PARTITION BY seed"
            f" ORDER BY md5(CAST(seed AS VARCHAR) || '|' || CAST(v AS VARCHAR)), v) AS rn"
            f" FROM {src_cte}) WHERE rn <= {max_per_hop})"
        )

    return (
        f"WITH edges AS ({edges_cte}),\n"
        f"s AS (SELECT CAST(doc_id AS BIGINT) AS seed FROM documents"
        f" WHERE doc_id % {seed_mod} = 0),\n"
        "hs AS (SELECT src, dst,"
        " md5(CAST(src AS VARCHAR) || '|' || CAST(dst AS VARCHAR)) AS h FROM edges),\n"
        f"samp AS (SELECT src, dst FROM hs WHERE {b0} % 100 < {pct}),\n"
        "c1 AS (SELECT DISTINCT seed, dst AS v FROM s JOIN samp ON samp.src = s.seed),\n"
        f"{topk('c1', 'f1')},\n"
        "c2 AS (SELECT DISTINCT seed, samp.dst AS v FROM f1"
        " JOIN samp ON samp.src = f1.v),\n"
        f"{topk('c2', 'f2')},\n"
        "u AS (SELECT seed, v, 1 AS hop FROM f1"
        " UNION ALL SELECT seed, v, 2 AS hop FROM f2)\n"
        "SELECT seed, v AS vertex, CAST(MIN(hop) AS INT) AS hop FROM u"
        " WHERE v <> seed GROUP BY 1, 2"
    )


def _shingles_cte(n: int = NGRAM) -> str:
    return (
        "d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),\n"
        f"sh0 AS (SELECT doc_id, l, unnest(range(1, len(l) - {n - 2})) AS i FROM d),\n"
        f"sh AS (SELECT DISTINCT doc_id, array_to_string(l[i:i+{n - 1}], ' ') AS sh FROM sh0)"
    )


def ngram_jaccard_sql(threshold: float = 0.05, max_df: int | None = None) -> str:
    # corpus-relative cap, mirrored from ngram_jaccard_pairs' default
    cap = (
        str(max_df)
        if max_df is not None
        else f"GREATEST({MAX_SHINGLE_DF}, (SELECT COUNT(*) FROM documents) // 1000)"
    )
    return (
        f"WITH {_shingles_cte()},\n"
        "sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),\n"
        f"rare AS (SELECT s.doc_id, s.sh FROM sh s JOIN (SELECT sh, COUNT(*) AS df FROM sh GROUP BY 1) f"
        f" ON f.sh = s.sh WHERE f.df <= {cap}),\n"
        "inter AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter"
        " FROM rare x JOIN rare y ON x.sh = y.sh AND x.doc_id < y.doc_id GROUP BY 1, 2)\n"
        "SELECT a, b, jaccard FROM ("
        "SELECT a, b, ROUND(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard"
        " FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b)"
        f" WHERE jaccard >= {threshold}"
    )


def minhash_lsh_sql(k: int = MINHASH_K, bands: int = MINHASH_BANDS) -> str:
    rpb = k // bands
    return (
        f"WITH {_shingles_cte()},\n"
        f"jj AS (SELECT doc_id, sh, unnest(range(0, {k})) AS j FROM sh),\n"
        "mh AS (SELECT doc_id, j, MIN(md5(CAST(j AS VARCHAR) || '|' || sh)) AS mh"
        " FROM jj GROUP BY 1, 2),\n"
        f"bk AS (SELECT doc_id, CAST(j // {rpb} AS INT) AS band,"
        " string_agg(CAST(j AS VARCHAR) || ':' || mh, '|'"
        " ORDER BY CAST(j AS VARCHAR) || ':' || mh) AS key"
        " FROM mh GROUP BY 1, 2)\n"
        "SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bk x"
        " JOIN bk y ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id"
    )


def _simhash_ctes(bits: int = SIMHASH_BITS) -> str:
    """CTE chain ending in sig(doc_id, sim_hi, sim_lo) — mirrors
    operators/dedup.py simhash (64-bit, two 32-bit halves)."""
    sums = []
    for b in range(bits):
        nib = f"(strpos('0123456789abcdef', substr(h, {b // 4 + 1}, 1)) - 1)"
        bit = f"(({nib} >> {b % 4}) & 1)"
        sums.append(f"SUM(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END) AS s{b}")

    def half(lo_bit: int) -> str:
        return " + ".join(
            f"CASE WHEN s{lo_bit + i} > 0 THEN CAST({1 << i} AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END"
            for i in range(32)
        )

    return (
        "toks AS (SELECT DISTINCT doc_id, tok FROM ("
        "SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)"
        " WHERE tok <> ''),\n"
        "h AS (SELECT doc_id, md5(tok) AS h FROM toks),\n"
        f"s AS (SELECT doc_id, {', '.join(sums)} FROM h GROUP BY doc_id),\n"
        f"sig AS (SELECT doc_id, {half(32)} AS sim_hi, {half(0)} AS sim_lo FROM s)"
    )


def simhash_sql(bits: int = SIMHASH_BITS) -> str:
    return f"WITH {_simhash_ctes(bits)}\nSELECT doc_id, sim_hi, sim_lo FROM sig"


def simhash_pairs_sql(hamming_k: int = SIMHASH_HAMMING_K, bits: int = SIMHASH_BITS) -> str:
    """Banded Hamming-≤k near-dup pairs — mirrors simhash_dup_pairs: (k+1)
    exact-match bands for candidates, then the exact bit_count(xor) filter."""
    bands = hamming_k + 1
    width = bits // bands
    mask = (1 << width) - 1
    band_selects = []
    for i in range(bands):
        start = i * width
        src = f"(sim_hi >> {start - 32})" if start >= 32 else f"(sim_lo >> {start})"
        band_selects.append(
            f"SELECT doc_id, sim_hi, sim_lo, {i} AS band, {src} & {mask} AS val FROM sig"
        )
    return (
        f"WITH {_simhash_ctes(bits)},\n"
        f"bk AS ({' UNION ALL '.join(band_selects)})\n"
        "SELECT DISTINCT a, b, hamming FROM ("
        "SELECT x.doc_id AS a, y.doc_id AS b,"
        " CAST(bit_count(xor(x.sim_hi, y.sim_hi)) AS BIGINT)"
        " + CAST(bit_count(xor(x.sim_lo, y.sim_lo)) AS BIGINT) AS hamming"
        " FROM bk x JOIN bk y ON x.band = y.band AND x.val = y.val"
        " AND x.doc_id < y.doc_id)"
        f" WHERE hamming <= {hamming_k}"
    )


def _kind_case() -> str:
    """payload_kind CASE mirroring operators/multimodal.py MAGIC for every
    magic a valid-UTF8 ``text`` column can express: the ASCII magics
    ('GIF8' → gif, 'RIFF' → riff) AND the webm magic \\x1aE\\xdf\\xa3,
    whose bytes are exactly the UTF-8 encoding of U+001A 'E' U+07E3 —
    chr(26)||chr(69)||chr(2019) in DuckDB (character-based substr, 3 chars
    = those 4 bytes). png (\\x89…) and jpeg (\\xff…) start with invalid
    UTF-8 lead bytes, so 'unknown' is exact for them. The mp4 rule
    ('ftyp' at BYTE offset 4, checked first like the operator) is
    byte-exact in character-based DuckDB: 'ftyp' is ASCII so in valid
    UTF-8 it must start on a character boundary, and a 4-byte prefix
    spans 1–4 characters — enumerate those (strlen is BYTE length)."""
    webm = "chr(26) || chr(69) || chr(2019)"
    mp4 = " OR ".join(
        f"(substr(text, {c + 1}, 4) = 'ftyp'"
        f" AND strlen(substr(text, 1, {c})) = 4)"
        for c in range(1, 5)
    )
    return (
        f"CASE WHEN {mp4} THEN 'mp4'"
        " WHEN substr(text, 1, 4) = 'GIF8' THEN 'gif'"
        " WHEN substr(text, 1, 4) = 'RIFF' THEN 'riff'"
        f" WHEN substr(text, 1, 3) = {webm} THEN 'webm'"
        " ELSE 'unknown' END"
    )


def multimodal_meta_sql() -> str:
    """payload = utf8 bytes of text; strlen() is byte length in DuckDB."""
    return (
        "SELECT doc_id, CAST(strlen(text) AS BIGINT) AS payload_len,"
        " md5(text) AS payload_md5,"
        f" {_kind_case()} AS payload_kind FROM documents"
    )


_HEXD = "0123456789abcdef"


def _md5_byte(i: int, col: str = "h") -> str:
    """Digest byte i (0-based) of an md5 hex column."""
    return (
        f"((strpos('{_HEXD}', substr({col}, {2 * i + 1}, 1)) - 1) * 16"
        f" + strpos('{_HEXD}', substr({col}, {2 * i + 2}, 1)) - 1)"
    )


def decode_image_sql() -> str:
    """Mirrors operators/multimodal.py decode_image_batches' deterministic
    fake kernel (md5-derived dims) so the mapInPandas plumbing is
    oracle-checked, not just pytest-checked. Features (float32 array) are
    excluded — float32 stringification is not portable across engines."""
    return (
        "WITH b AS (SELECT doc_id AS key, md5(text) AS h,"
        f" {_kind_case()} AS kind FROM documents)\n"
        "SELECT key, kind,"
        f" CAST(16 + {_md5_byte(0)} % 240 AS INT) AS width,"
        f" CAST(16 + {_md5_byte(1)} % 240 AS INT) AS height,"
        f" CAST(1 + {_md5_byte(2)} % 3 AS INT) AS n_channels"
        " FROM b"
    )


def frame_sample_sql(every_n: int = 10, max_frames: int = 5) -> str:
    """Mirrors operators/multimodal.py frame_sample: n_frames from digest
    byte 3, frame ids 0, every_n, 2·every_n, …; per-frame md5 over payload
    bytes + 4-byte big-endian frame index (chr() concat reproduces the
    exact bytes for indices < 256)."""
    span = every_n * max_frames
    frames = ", ".join(str(f) for f in range(0, span, every_n)[:max_frames])
    return (
        "WITH d AS (SELECT doc_id AS key, text, md5(text) AS h FROM documents),\n"
        f"n AS (SELECT key, text, 1 + {_md5_byte(3)} % {span} AS n_frames FROM d),\n"
        f"f AS (SELECT key, text, n_frames, unnest([{frames}]) AS frame_idx FROM n)\n"
        "SELECT key, CAST(frame_idx AS INT) AS frame_idx,"
        " md5(text || chr(0) || chr(0) || chr(0) || chr(frame_idx)) AS frame_md5"
        " FROM f WHERE frame_idx < n_frames"
    )


def _emb_cte() -> str:
    return "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"


def _cos(a: str, b: str) -> str:
    return (
        f"list_inner_product({a}, {b})"
        f" / (sqrt(list_inner_product({a}, {a})) * sqrt(list_inner_product({b}, {b})))"
    )


def lsh_topk_sql(
    query_ids: list[int], k: int = 5, dim: int = 64, n_planes: int = 8, seed: int = 42
) -> str:
    """Mirrors operators/similarity.py lsh_topk exactly: same deterministic
    ±1 hyperplanes (inlined as literals), same single-bucket candidate set,
    same (cos desc, vb asc) ranking — the approximate result is itself a
    deterministic function of the data, so it IS oracle-checkable."""
    from ..operators.similarity import _hyperplane

    bits = []
    for p in range(n_planes):
        plane = _hyperplane(dim, p, seed)
        lit = "[" + ", ".join("1.0" if x > 0 else "-1.0" for x in plane) + "]"
        bits.append(f"CASE WHEN list_inner_product(v, {lit}) > 0 THEN {1 << p} ELSE 0 END")
    ids = ", ".join(str(i) for i in query_ids)
    return (
        f"WITH {_emb_cte()},\n"
        f"b AS (SELECT vec_id, v, {' + '.join(bits)} AS bucket FROM e),\n"
        f"q AS (SELECT vec_id AS qa, v AS qv, bucket AS qb FROM b WHERE vec_id IN ({ids})),\n"
        "scored AS (SELECT qa, b.vec_id AS vb,"
        f" ROUND({_cos('qv', 'b.v')}, 6) AS cos"
        " FROM b JOIN q ON b.bucket = q.qb WHERE qa <> b.vec_id)\n"
        "SELECT qa, vb, cos, rn FROM ("
        "SELECT qa, vb, cos, ROW_NUMBER() OVER (PARTITION BY qa ORDER BY cos DESC, vb ASC) AS rn"
        f" FROM scored) WHERE rn <= {k}"
    )


def cosine_topk_sql(query_ids: list[int], k: int = 5) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    return (
        f"WITH {_emb_cte()},\n"
        f"q AS (SELECT vec_id AS qa, v AS qv FROM e WHERE vec_id IN ({ids})),\n"
        "scored AS (SELECT qa, e.vec_id AS vb,"
        f" ROUND({_cos('qv', 'e.v')}, 6) AS cos"
        " FROM e, q WHERE qa <> e.vec_id)\n"
        "SELECT qa, vb, cos, rn FROM ("
        "SELECT qa, vb, cos, ROW_NUMBER() OVER (PARTITION BY qa ORDER BY cos DESC, vb ASC) AS rn"
        f" FROM scored) WHERE rn <= {k}"
    )


def _dsum(expr: str) -> str:
    """Mirror of operators/relational.py _dsum: per-row double expression →
    exact micro-units (round(x·1e6)) → decimal(38,0) SUM — order- AND
    engine-independent (double→decimal casts disagree between engines at
    the 10th decimal; round-to-integer of a value whose true target is an
    integer cannot)."""
    return f"SUM(CAST(ROUND(({expr}) * 1e6, 0) AS DECIMAL(38,0)))"


def _dval(sum_expr: str, divisor: str | None = None) -> str:
    v = f"CAST({sum_expr} AS DOUBLE) / 1e6"
    if divisor is not None:
        v = f"({v}) / {divisor}"
    return f"ROUND({v}, 6)"


def pricing_summary_sql() -> str:
    disc_price = "l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)"
    return (
        "SELECT l_returnflag, l_linestatus,"
        f" {_dval(_dsum('l_quantity'))} AS sum_qty,"
        f" {_dval(_dsum('l_extendedprice'))} AS sum_base_price,"
        f" {_dval(_dsum(disc_price))} AS sum_disc_price,"
        f" {_dval(_dsum('l_quantity'), 'COUNT(*)')} AS avg_qty,"
        f" {_dval(_dsum('l_discount'), 'COUNT(*)')} AS avg_disc,"
        " COUNT(*) AS count_order"
        " FROM lineitem GROUP BY 1, 2"
    )


def top_customers_sql(k: int = 20) -> str:
    return (
        "SELECT custkey, c_name, total_spend FROM ("
        "SELECT o_custkey AS custkey,"
        f" {_dval(_dsum('o_totalprice'))} AS total_spend"
        " FROM orders GROUP BY 1) s JOIN customer c ON c.c_custkey = s.custkey"
        f" ORDER BY total_spend DESC, custkey ASC LIMIT {k}"
    )


def sessionize_sql(gap_minutes: int = 30) -> str:
    """Session windows via gap detection (lag + running sum); session_end
    mirrors Spark's session_window semantics: max(ts) + gap."""
    return (
        f"WITH x AS (SELECT user_id, ts,"
        f" CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)"
        f" > INTERVAL {gap_minutes} MINUTE"
        f" OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL"
        f" THEN 1 ELSE 0 END AS brk FROM events),\n"
        f"s AS (SELECT user_id, ts,"
        f" SUM(brk) OVER (PARTITION BY user_id ORDER BY ts"
        f" ROWS UNBOUNDED PRECEDING) AS sid FROM x)\n"
        f"SELECT user_id, MIN(ts) AS session_start,"
        f" MAX(ts) + INTERVAL {gap_minutes} MINUTE AS session_end,"
        f" COUNT(*) AS n_events"
        f" FROM s GROUP BY user_id, sid"
    )


def events_hourly_sql() -> str:
    return (
        "SELECT date_trunc('hour', ts) AS window_start, event_type,"
        " COUNT(*) AS n_events,"
        f" {_dval(_dsum('value'))} AS total_value"
        " FROM events GROUP BY 1, 2"
    )


def _enriched_emb_cte(dup_mod: int, dup_offset: int, delta: float) -> str:
    """Near-dup-enriched embedding set — mirrors
    operators/similarity.py neardup_enriched_embeddings."""
    return (
        "e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),\n"
        "e AS (SELECT vec_id AS id, v FROM e0 UNION ALL"
        f" SELECT vec_id + {dup_offset} AS id,"
        f" list_concat([v[1] + CAST({delta!r} AS DOUBLE)], v[2:]) AS v"
        f" FROM e0 WHERE vec_id % {dup_mod} = 0)"
    )


def cosine_neardup_lsh_sql(
    threshold: float,
    bands: int,
    planes_per_band: int,
    dim: int,
    dup_mod: int,
    dup_offset: int,
    delta: float,
    seed: int = 42,
) -> str:
    """Banded-LSH near-dup over the enriched set — mirrors
    cosine_neardup_pairs_lsh: same deterministic ±1 hyperplanes (inlined as
    literals), same band/bucket keys, same exact-cosine filter."""
    from ..operators.similarity import _hyperplane

    band_selects = []
    for t in range(bands):
        terms = []
        for i in range(planes_per_band):
            plane = _hyperplane(dim, t * planes_per_band + i, seed)
            lit = "[" + ", ".join("1.0" if x > 0 else "-1.0" for x in plane) + "]"
            terms.append(
                f"CASE WHEN list_inner_product(v, {lit}) > 0 THEN {1 << i} ELSE 0 END"
            )
        band_selects.append(
            f"SELECT id, {t} AS band, {' + '.join(terms)} AS bucket FROM e"
        )
    return (
        f"WITH {_enriched_emb_cte(dup_mod, dup_offset, delta)},\n"
        f"bk AS ({' UNION ALL '.join(band_selects)}),\n"
        "cand AS (SELECT DISTINCT x.id AS a, y.id AS b FROM bk x"
        " JOIN bk y ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id)\n"
        "SELECT a, b, cos FROM ("
        "SELECT a, b,"
        f" ROUND({_cos('ea.v', 'eb.v')}, 6) AS cos"
        " FROM cand JOIN e ea ON ea.id = a JOIN e eb ON eb.id = b)"
        f" WHERE cos >= {threshold}"
    )


def ivf_topk_sql(
    query_ids: list[int],
    k: int = 5,
    cent_mod: int | None = None,
    nprobe: int = 2,
) -> str:
    """Mirrors operators/similarity.py ivf_topk exactly: same deterministic
    sampled codebook (vec_id % cent_mod == 0), same 6dp-rounded
    centroid-id-tie-broken nearest-centroid assignment, same nprobe probe
    lists and exact re-rank — the IVF approximation is a deterministic
    function of the data, so it IS oracle-checkable. ``cent_mod=None``
    derives the stride IN SQL as GREATEST(31, FLOOR(SQRT(COUNT(*)))) —
    the identical IEEE-double computation as similarity.ivf_cent_mod, so
    the two engines always regenerate the same codebook."""
    ids = ", ".join(str(i) for i in query_ids)
    cm = (
        str(cent_mod)
        if cent_mod is not None
        else (
            "(SELECT GREATEST(31, CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE)))"
            " AS BIGINT)) FROM e)"
        )
    )
    return (
        f"WITH {_emb_cte()},\n"
        f"cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % {cm} = 0),\n"
        "asg AS MATERIALIZED (SELECT vb, v, cid FROM ("
        "SELECT e.vec_id AS vb, e.v AS v, c.cid,"
        f" ROW_NUMBER() OVER (PARTITION BY e.vec_id"
        f" ORDER BY ROUND({_cos('e.v', 'c.cv')}, 6) DESC, c.cid ASC) AS arn"
        " FROM e, cents c) WHERE arn = 1),\n"
        f"q AS (SELECT vb AS qa, v AS qv FROM asg WHERE vb IN ({ids})),\n"
        "probes AS (SELECT qa, qv, cid FROM ("
        "SELECT q.qa, q.qv, c.cid,"
        f" ROW_NUMBER() OVER (PARTITION BY q.qa"
        f" ORDER BY ROUND({_cos('q.qv', 'c.cv')}, 6) DESC, c.cid ASC) AS prn"
        f" FROM q, cents c) WHERE prn <= {nprobe}),\n"
        "scored AS (SELECT p.qa, a.vb,"
        f" ROUND({_cos('p.qv', 'a.v')}, 6) AS cos"
        " FROM asg a JOIN probes p ON a.cid = p.cid WHERE p.qa <> a.vb)\n"
        "SELECT qa, vb, cos, rn FROM ("
        "SELECT qa, vb, cos, ROW_NUMBER() OVER (PARTITION BY qa ORDER BY cos DESC, vb ASC) AS rn"
        f" FROM scored) WHERE rn <= {k}"
    )


def ann_topk_methods_sql(
    query_ids: list[int], dim: int, k: int = 5
) -> str:
    """Exact brute force, LSH, and IVF top-k in one method-tagged union —
    the consolidated-gate pattern (one registry slot, every method still
    value-hash-gated against its own oracle)."""
    return (
        f"SELECT 'exact' AS method, qa, vb, cos, rn"
        f" FROM ({cosine_topk_sql(query_ids, k)})"
        f" UNION ALL SELECT 'lsh' AS method, qa, vb, cos, rn"
        f" FROM ({lsh_topk_sql(query_ids, k, dim=dim)})"
        f" UNION ALL SELECT 'ivf' AS method, qa, vb, cos, rn"
        f" FROM ({ivf_topk_sql(query_ids, k)})"
    )


def vocab_stats_sql(top_n: int = 500) -> str:
    """Mirrors textstats.vocab_stats: same single-space tokenizer as
    token_count_sql, integer-exact df/tf, (tf DESC, term ASC) is a total
    order (term unique) so both engines select the identical top set."""
    return (
        "WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term"
        " FROM documents),\n"
        "pd AS (SELECT doc_id, term, COUNT(*) AS c FROM t GROUP BY 1, 2),\n"
        "v AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df,"
        " CAST(SUM(c) AS BIGINT) AS tf FROM pd GROUP BY term)\n"
        f"SELECT term, df, tf FROM v ORDER BY tf DESC, term ASC LIMIT {top_n}"
    )
