"""The extract parse's tokenizer against its html.parser reference.

``parse_html`` tokenizes in-grammar pages with one compiled regex and hands
every other page to ``_PageParser.feed``. These tests hold the two paths to
the same output, pin that generated pages never need the reference path,
and bound the tokenizer regex to linear time. Pure Python, no Spark.
"""

from __future__ import annotations

import importlib.util
import os
import random
import time

import pyarrow.parquet as pq

from conftest import REPO
from webgraph_ans_rs_spark import datagen
from webgraph_ans_rs_spark.operators import extract
from webgraph_ans_rs_spark.operators.extract import _PageParser, parse_html

# Fragments inside the tokenizer's grammar.
_IN_GRAMMAR = [
    "<p>",
    "</p>",
    "<P>",
    "</P>",
    "<a>bare</a>",
    "</a>",
    "</A>",
    '<a href="https://site3.example/p/17">to 17</a>',
    '<a href="">empty</a>',
    "<a href>none</a>",
    '<a class="nav" href="/x y">nav</a>',
    '<a href="first" href="second">dup</a>',
    '<A HREF="UPPER">up</A>',
    '<a title="it\'s" href="q">q</a>',
    '<a href="line\nbreak">',
    "<div>",
    "</div>",
    '<div class="c" id="d-1">',
    "<br>",
    "<hr noshade>",
    "<title>page 9</title>",
    "<html><head>",
    "</head><body>",
    "</body></html>",
    "<h1>",
    "</h1>",
    "web graph ",
    "crawl index",
    " rank > link ",
    "tab\tand\nnewline\r\n",
    "café 中文 ",
    " ",
]

# Fragments outside it: each sends its page to the reference path.
_OUT_OF_GRAMMAR = [
    "<!-- comment -->",
    "<!-- <p>hidden</p> -->",
    "<script>var s = '<p>x</p>';</script>",
    "<style>p { color: red }</style>",
    "<SCRIPT>1 < 2</SCRIPT>",
    "<!DOCTYPE html>",
    "<?xml version='1.0'?>",
    "&amp;",
    "&#38;",
    " & ",
    "AT&T",
    "&lt;p&gt;",
    " < ",
    "a<3",
    "<p/>",
    "<br/>",
    '<a href="x&amp;y">',
    '<a href="x&y">',
    "<a href='single'>",
    "<a href=bare>",
    '<a\thref="tab">',
    '<a\nhref="newline">',
    '<a  href="two-spaces">',
    '<a href = "spaced">',
    '<a href="x" >',
    "</p >",
    "</ p>",
    "</>",
    "<>",
    "<1p>",
    '<a href="unterminated',
    "<p",
    "<!-- unclosed",
]

_BAD_BYTES = [b"\xff", b"\xfe\xff", b"\xc3", b"\xe2\x82", b"\x80"]


def _reference(html: bytes) -> tuple[str, list[str]]:
    parser = _PageParser()
    parser.feed(html.decode("utf-8", errors="replace"))
    parser.close()
    return "\n".join(parser.paragraphs), parser.outlinks


def _corpus(n: int, seed: int) -> list[bytes]:
    """Seeded documents of in-grammar fragments. Every third one stays in
    the grammar; every third gets exactly one out-of-grammar fragment, so
    the tokenizer must spot that fragment alone; the rest get up to three,
    plus undecodable bytes and truncation at EOF."""
    rng = random.Random(seed)
    docs = []
    for i in range(n):
        parts = [rng.choice(_IN_GRAMMAR).encode("utf-8") for _ in range(rng.randint(0, 40))]
        extra = [0, 1, rng.randint(0, 3)][i % 3]
        for _ in range(extra):
            parts.insert(rng.randint(0, len(parts)), rng.choice(_OUT_OF_GRAMMAR).encode("utf-8"))
        if i % 3 == 2 and rng.random() < 0.5:
            parts.insert(rng.randint(0, len(parts)), rng.choice(_BAD_BYTES))
        doc = b"".join(parts)
        if i % 3 == 2 and rng.random() < 0.5:
            doc = doc[: rng.randint(0, len(doc))]
        docs.append(doc)
    return docs


def test_parse_html_matches_reference_parser():
    docs = _corpus(3000, seed=9)
    for doc in docs:
        assert parse_html(doc) == _reference(doc), doc


def _benchmark_pages(tmp_path, n: int, seed: int) -> list[bytes]:
    path = os.path.join(REPO, "benchmark", "gen.py")
    spec = importlib.util.spec_from_file_location("benchmark_gen", path)
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    gen.write_pages(str(tmp_path / "pages"), n, seed)
    return pq.read_table(tmp_path / "pages", columns=["html"]).column("html").to_pylist()


def test_generated_pages_take_the_tokenizer_path(tmp_path, monkeypatch):
    pages = [datagen.page_html(i, 300) for i in range(300)]
    pages += _benchmark_pages(tmp_path, 500, 1)
    expected = [_reference(p) for p in pages]

    def no_fallback(self, data):
        raise AssertionError("page fell back to html.parser")

    monkeypatch.setattr(_PageParser, "feed", no_fallback)
    assert [parse_html(p) for p in pages] == expected


def test_tokenizer_regex_is_linear_time():
    n = 1 << 20
    adversarial = {
        "unterminated attribute list": "<a" + " b" * (n // 2),
        "unterminated attribute value": '<a href="' + "x" * n,
        "bare less-than": "x<" * (n // 2),
        "start tags": "<p>" * (n // 3),
    }
    for name, s in adversarial.items():
        t0 = time.perf_counter()
        extract._TOKEN.findall(s)
        assert time.perf_counter() - t0 < 1.0, name
