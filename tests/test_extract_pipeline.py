from __future__ import annotations

from pyspark.sql import functions as F

from webgraph_ans_rs_spark.datagen import (
    outlink_ids,
    page_html,
    page_text,
    synthetic_pages,
    url_of,
)
from webgraph_ans_rs_spark.operators.extract import (
    extract_text_and_links,
    parse_html,
)
from webgraph_ans_rs_spark.operators.graph_build import (
    edges_from_pages,
    hash_vertices,
)

N = 300


def test_parse_html_pure_roundtrip():
    """Local (no Spark) byte-identical contract: extract(html) == text and
    outlinks == generated targets in document order."""
    for doc_id in [0, 1, 7, 97, 123, 299]:
        text, links = parse_html(page_html(doc_id, N))
        assert text == page_text(doc_id), doc_id
        assert links == [url_of(t) for t in outlink_ids(doc_id, N)], doc_id


def test_parse_html_malformed():
    assert parse_html(b"") == ("", [])
    assert parse_html(b"<p>unclosed") == ("", [])  # never closed -> no paragraph
    t, l = parse_html(b'<p>a<a href="x">y</a>b</p><a href="z">')
    assert t == "ab" and l == ["x", "z"]
    assert parse_html(b"\xff\xfe<p>ok</p>")[0] == "ok"
    # markup outside the tokenizer's grammar, parsed by html.parser
    assert parse_html(b"<p>a&amp;b &#38; c & d</p>") == ("a&b & c & d", [])
    assert parse_html(b"<p>x<!-- <p>c</p> -->y</p>") == ("xy", [])
    assert parse_html(b'<p><script>"</p>"</script>s</p><style>p{}</style>') == ('"</p>"s', [])
    assert parse_html(b'<a href="x&amp;y&#38;z">') == ("", ["x&y&z"])
    assert parse_html(b"<a href='q' href=u\thref=\"t\">") == ("", ["q", "u", "t"])
    assert parse_html(b"<p>1 < 2</p >") == ("1 < 2", [])
    assert parse_html(b"<p/>a</p>") == ("", [])
    assert parse_html(b'<p>t<a href="x') == ("", [])
    # inside it
    assert parse_html(b'<a href>x</a><a href="">y</a>') == ("", [""])
    assert parse_html(b'<A HREF="U" href="v">') == ("", ["U", "v"])
    assert parse_html(b'<p><p>in</p>out</p><a><a href="n">a</a>b</a>') == ("inout", ["n"])


def test_extract_udf_byte_identical(spark):
    """The whole-table contract the driver cares about: extracted text equals
    the stored text column for every url."""
    pages = synthetic_pages(spark, N).persist()
    ext = extract_text_and_links(pages)
    joined = ext.withColumnRenamed("text", "got").join(
        pages.select("url", "text"), "url"
    )
    mismatches = joined.where(F.col("got") != F.col("text")).count()
    assert mismatches == 0
    assert ext.count() == N
    pages.unpersist()


def test_generation_partitioning_invariant(spark):
    """Same bytes at different parallelism — required for scaling runs."""
    a = synthetic_pages(spark, 50, num_partitions=1).orderBy("url").collect()
    b = synthetic_pages(spark, 50, num_partitions=7).orderBy("url").collect()
    assert [(r.url, bytes(r.html), r.text) for r in a] == [
        (r.url, bytes(r.html), r.text) for r in b
    ]


def test_edges_from_pages(spark):
    pages = synthetic_pages(spark, N)
    ext = extract_text_and_links(pages)
    edges = edges_from_pages(ext)
    # expected: hash-space edges from the generator's link lists
    from pyspark.sql.functions import xxhash64

    # build expected using Spark's own xxhash64 on driver-collected urls
    urls = {r.url: r.vertex for r in hash_vertices(pages).collect()}
    expected = set()
    for doc_id in range(N):
        src = urls[url_of(doc_id)]
        for t in outlink_ids(doc_id, N):
            dst = urls[url_of(t)]
            if src != dst:
                expected.add((src, dst))
    got = {(r.src, r.dst) for r in edges.collect()}
    assert got == expected


def test_dangling_and_duplicate_links():
    assert outlink_ids(0, N) == []  # 0 % 97 == 0 → dangling
    ids = outlink_ids(5, N)
    # duplicate link present pre-dedup when degree >= 2
    if len(set(ids)) >= 3:
        assert len(ids) > len(set(ids))
