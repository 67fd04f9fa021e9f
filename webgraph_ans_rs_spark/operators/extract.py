"""HTML → (text, outlinks) extraction — the engine's parse stage.

Contract (BASELINE.json input_hint): byte-identical extracted text per url,
vectorized pandas/Arrow UDFs only — no per-row Python UDFs in the hot path.

The extraction rules live once, in ``_PageParser``'s handlers, an stdlib
``html.parser`` subclass. Two tokenizers feed them:

  * ``_TOKEN``, one compiled regex run once per page (``findall``), for pages
    inside a strict grammar: text holding no ``<`` or ``&``; start tags
    ``<name( attr(="value")?)*>`` with single-space-separated attributes and
    double-quoted values holding no ``<``, ``>``, ``&`` or ``"``; end tags
    ``</name>``; no raw-text element (``script``, ``style``). Generated
    pages are all of this shape.
  * ``html.parser`` itself (``feed``/``close``), the reference path, for a
    page with any other token: comment, declaration, processing
    instruction, raw-text element, bare ``<`` or ``&``, self-closing ``/>``,
    other whitespace or quoting, truncated markup.

On the grammar, ``html.parser`` calls the same handlers with the same
arguments: it lower-cases tag and attribute names, strips the quotes,
has no character reference to convert, and delivers the text between tags
as data. So both paths give the same (text, outlinks) for every page
(tests/test_extract_parse.py holds them equal), and EXTRACTOR_VERSION, which
versions the output and not the code path, is the same for both. The parse
is dependency-free and locale-independent, so the same bytes come out on
every executor, Python build, and cluster size (SURVEY.md §7 hard part (a)).

Semantics:
  * text      = text content of every <p> element, paragraphs joined "\n"
                (anchor text inside <p> is excluded — links are navigation)
  * outlinks  = href of every <a> tag, in document order, duplicates kept
                (dedup happens at edge-build, like the reference's distinct
                successor sets)

Plan shape: one ``pandas_udf`` returning a struct column — Arrow batches
both directions, Catalyst keeps projection pruning around it; at 100 TB the
parse is embarrassingly parallel, no shuffle.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

EXTRACTOR_VERSION = 1
EXTRACT_SCHEMA = StructType(
    [
        StructField("text", StringType()),
        StructField("outlinks", ArrayType(StringType())),
    ]
)

# One alternative per token kind. The last one takes the rest of the page
# from the first "<" or "&" that starts no in-grammar tag: such a page goes
# to html.parser whole. No quantifier nests an ambiguous one, so findall
# runs in linear time on any input.
_TOKEN = re.compile(
    r"([^<&]+)"  # text
    r'|<([a-zA-Z][a-zA-Z0-9]*)((?: [a-zA-Z][-a-zA-Z0-9]*(?:="[^<>&"]*")?)*)>'  # start tag
    r"|</([a-zA-Z][a-zA-Z0-9]*)>"  # end tag
    r"|[<&].*",  # anything else, to the end of the page
    re.DOTALL,
)
_ATTR = re.compile(r' ([a-zA-Z][-a-zA-Z0-9]*)(?:(=)"([^"]*)")?')
# html.parser reads these elements' content as raw text, not as markup.
_RAW_TEXT = frozenset(HTMLParser.CDATA_CONTENT_ELEMENTS)


class _PageParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.paragraphs: list[str] = []
        self.outlinks: list[str] = []
        self._p_depth = 0
        self._a_depth = 0
        self._buf: list[str] = []

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "p":
            if self._p_depth == 0:
                self._buf = []
            self._p_depth += 1
        elif tag == "a":
            self._a_depth += 1
            for k, v in attrs:
                if k == "href" and v is not None:
                    self.outlinks.append(v)

    def handle_endtag(self, tag: str) -> None:
        if tag == "p" and self._p_depth > 0:
            self._p_depth -= 1
            if self._p_depth == 0:
                self.paragraphs.append("".join(self._buf))
                self._buf = []
        elif tag == "a" and self._a_depth > 0:
            self._a_depth -= 1

    def handle_data(self, data: str) -> None:
        if self._p_depth > 0 and self._a_depth == 0:
            self._buf.append(data)


def _feed_tokens(parser: _PageParser, doc: str) -> bool:
    """Tokenize ``doc`` with ``_TOKEN`` and call ``parser``'s handlers as
    html.parser would. Returns False, with ``parser`` fed part of the page,
    at the first token outside the grammar (see the module docstring)."""
    for text, tag, attrs, end in _TOKEN.findall(doc):
        if text:
            parser.handle_data(text)
        elif tag:
            tag = tag.lower()
            if tag in _RAW_TEXT:
                return False
            parser.handle_starttag(
                tag, [(k.lower(), v if eq else None) for k, eq, v in _ATTR.findall(attrs)]
            )
        elif end:
            parser.handle_endtag(end.lower())
        else:
            return False
    return True


def parse_html(html: bytes) -> tuple[str, list[str]]:
    """Pure function: html bytes → (text, outlinks). Malformed input never
    raises; undecodable bytes are replaced.

    An in-grammar page is tokenized by ``_feed_tokens``. Any other page is
    parsed from the start by a fresh ``_PageParser.feed``, the reference
    path, which tolerates any input. Either way the output is the one
    html.parser gives."""
    doc = html.decode("utf-8", errors="replace")
    parser = _PageParser()
    if not _feed_tokens(parser, doc):
        parser = _PageParser()
        parser.feed(doc)
        parser.close()
    return "\n".join(parser.paragraphs), parser.outlinks


@pandas_udf(EXTRACT_SCHEMA)
def _extract_udf(html: pd.Series) -> pd.DataFrame:
    texts: list[str] = []
    links: list[list[str]] = []
    for h in html:
        t, l = parse_html(bytes(h) if h is not None else b"")
        texts.append(t)
        links.append(l)
    return pd.DataFrame({"text": texts, "outlinks": links})


def extract_text_and_links(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, ...) → (url, warc_ts, lang, text, outlinks).

    Reads only (url, warc_ts, lang, html) — column pruning keeps any other
    page payload out of the scan.
    """
    cols = [c for c in ("url", "warc_ts", "lang") if c in pages.columns]
    ext = pages.select(*cols, _extract_udf(F.col("html")).alias("_e"))
    return ext.select(*cols, F.col("_e.text").alias("text"), F.col("_e.outlinks").alias("outlinks"))
