"""Parser-path HTML field extraction — the correctness tier above the
pure-Catalyst regex chain in ``functions/html.py`` (see that module's
docstring for the two-tier design and the regex subset's documented
limitations).

This path runs the stdlib ``html.parser.HTMLParser`` (an HTML5-ish
tokenizer: CDATA-aware — text inside ``<script>``/``<style>`` never
tokenizes as markup — full named/numeric charref table, attribute-value
quoting) over each document in ``mapInPandas``:

- Arrow-batched, one output frame per input batch — constant memory per
  task; at 100 TB this is the same per-document CPU any extraction pass
  pays, with zero shuffle (a pure map stage over the crawl scan).
- skips ``script/style/template/noscript`` subtrees, harvests ``<title>``
  text, visible text, and ``<a href>`` link targets in ONE walk.
- whitespace convention matches the Catalyst path exactly (segments join
  on a space, then squash+trim), so the two tiers agree wherever the
  regex subset is sufficient — pinned in ``tests/test_html.py``.

Main-content extraction (boilerplate removal)
---------------------------------------------
The same walk also SEGMENTS the page into text blocks at block-level tag
boundaries and classifies each block with the jusText/trafilatura-style
density heuristic (Pomikalek 2011 "Removing boilerplate and duplicate
content from web corpora"; Barbaresi 2021 trafilatura — both public
work, re-implemented stdlib-only).  A block is BOILERPLATE when any of:

- it sits inside a semantic furniture container (``nav``/``header``/
  ``footer``/``aside``/``form``; ``<title>`` is head metadata, not body
  content),
- its link density (chars contributed inside ``<a>`` subtrees / block
  chars) exceeds ``MAX_LINK_DENSITY`` — link farms, related-article
  rails, pagination,
- it is shorter than ``MIN_BLOCK_CHARS`` — isolated headings, buttons,
  bylines, cookie-notice stubs.

``main_text`` is the surviving blocks joined in document order.  The
rule set is deliberately closed-form (no trained model, no cross-block
smoothing) so the oracle gate can recompute kept blocks exactly; real
corpora tune the two constants per ``main_content`` call.  At 100 TB
this adds zero cost shape-wise: still ONE parser walk per document in
the same Arrow-batched map stage, no extra scan, no shuffle.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import DataFrame

__all__ = ["extract_html_fields", "html_fields", "main_content"]

_WS_RE = re.compile(r"\s+")

#: tags that end the current text block (HTML5 flow-content set + title)
_BLOCK_TAGS = frozenset(
    {
        "address", "article", "aside", "blockquote", "body", "dd", "div",
        "dl", "dt", "fieldset", "figcaption", "figure", "footer", "form",
        "h1", "h2", "h3", "h4", "h5", "h6", "header", "hr", "li", "main",
        "nav", "ol", "p", "pre", "section", "table", "tbody", "td", "th",
        "thead", "tr", "ul", "title",
    }
)
#: containers whose every block is page furniture, never main content
_BOILER_CONTAINERS = frozenset({"nav", "header", "footer", "aside", "form", "title"})
#: classification defaults (jusText's length-short threshold is in this
#: range; link density 0.5 is trafilatura's rail cutoff)
MIN_BLOCK_CHARS = 25
MAX_LINK_DENSITY = 0.5


class _Extractor(HTMLParser):
    """One-pass visible-text + title + link extractor."""

    _SKIP = frozenset({"script", "style", "template", "noscript"})

    def __init__(self) -> None:
        # convert_charrefs=True folds &amp;/&#39;/... into the data stream
        # (the full stdlib entity table, a superset of the Catalyst tier's
        # core six — parity holds because the weld fixtures stay within
        # the shared subset).
        super().__init__(convert_charrefs=True)
        self._skip_depth = 0
        self._in_title = False
        self.parts: list[str] = []
        self.title_parts: list[str] = []
        self.links: list[str] = []
        self.lang: str | None = None
        self.meta_description: str | None = None
        # block segmentation state (main-content extraction)
        self._boiler_depth = 0
        self._a_depth = 0
        self._blk_parts: list[str] = []
        self._blk_link_chars = 0
        #: (text, link_chars, in_boiler_container) per flushed block
        self.blocks: list[tuple[str, int, bool]] = []

    def _flush_block(self) -> None:
        txt = _WS_RE.sub(" ", " ".join(self._blk_parts)).strip()
        if txt:
            self.blocks.append((txt, self._blk_link_chars, self._boiler_depth > 0))
        self._blk_parts = []
        self._blk_link_chars = 0

    def _attrs_of_interest(self, tag: str, attrs) -> None:
        if tag == "a":
            for k, v in attrs:
                if k == "href" and v:
                    self.links.append(v)
        elif tag == "html" and self.lang is None:
            for k, v in attrs:
                if k == "lang" and v:
                    self.lang = v
        elif tag == "meta" and self.meta_description is None:
            d = dict(attrs)
            # attribute ORDER is free in HTML — the tokenizer sees the
            # dict, unlike the Catalyst tier's name-before-content regex
            if (d.get("name") or "").lower() == "description" and d.get("content"):
                self.meta_description = d["content"]

    def handle_starttag(self, tag, attrs):
        if tag in self._SKIP:
            self._skip_depth += 1
        elif tag == "title":
            self._in_title = True
        if tag in _BLOCK_TAGS:
            self._flush_block()  # flush BEFORE entering a container so the
            if tag in _BOILER_CONTAINERS:  # preceding block keeps ITS flag
                self._boiler_depth += 1
        elif tag == "a":
            self._a_depth += 1
        self._attrs_of_interest(tag, attrs)

    def handle_startendtag(self, tag, attrs):  # <meta .../> / <hr/> void form
        if tag in _BLOCK_TAGS:
            self._flush_block()
        self._attrs_of_interest(tag, attrs)

    def handle_endtag(self, tag):
        if tag in self._SKIP:
            self._skip_depth = max(0, self._skip_depth - 1)
        elif tag == "title":
            self._in_title = False
        if tag in _BLOCK_TAGS:
            self._flush_block()  # flush BEFORE leaving: the block was
            if tag in _BOILER_CONTAINERS:  # inside, so it carries the flag
                self._boiler_depth = max(0, self._boiler_depth - 1)
        elif tag == "a":
            self._a_depth = max(0, self._a_depth - 1)

    def handle_data(self, data):
        if self._skip_depth:
            return
        if self._in_title:
            self.title_parts.append(data)
        # title text is ALSO document text (the Catalyst tier strips tags
        # without head-awareness, so it sees title content as text; the
        # tiers agreeing beats head-exclusion purism — documented parity)
        self.parts.append(data)
        self._blk_parts.append(data)
        if self._a_depth:
            self._blk_link_chars += len(_WS_RE.sub(" ", data).strip())


_FIELD_KEYS = ("title", "text", "main_text", "links", "lang", "meta_description")


def main_content(blocks: list[tuple[str, int, bool]]) -> str:
    """Classify segmented blocks and join the survivors in document
    order (module docstring has the rule set and its provenance).  Kept
    separate from the walk so the rule is unit-testable without a parse."""
    return " ".join(
        txt
        for txt, link_chars, in_boiler in blocks
        if not in_boiler
        and len(txt) >= MIN_BLOCK_CHARS
        and link_chars <= MAX_LINK_DENSITY * len(txt)
    )


def html_fields(html: str | None) -> dict:
    """Driver/unit-level single-document extraction (the mapInPandas body
    calls exactly this).  NULL/undecodable in -> all-None fields out."""
    if html is None:
        return dict.fromkeys(_FIELD_KEYS)
    ex = _Extractor()
    try:
        ex.feed(html)
        ex.close()
        ex._flush_block()  # trailing text after the last block tag
    except Exception:  # malformed beyond the tokenizer: error row, not a
        return dict.fromkeys(_FIELD_KEYS)  # failed stage
    squash = lambda parts: _WS_RE.sub(" ", " ".join(parts)).strip()  # noqa: E731
    return {
        "title": squash(ex.title_parts),
        "text": squash(ex.parts),
        "main_text": main_content(ex.blocks),
        "links": ex.links,
        "lang": ex.lang,
        "meta_description": ex.meta_description,
    }


def _ship_by_value() -> None:
    import sys

    from modal_vector_db_spark.shipping import ship_by_value

    ship_by_value(sys.modules[__name__])


def extract_html_fields(
    df: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """(id, html string, *passthrough) -> (id, *passthrough, title, text,
    links) via one parser walk per document.  ``passthrough`` columns are
    echoed THROUGH the Arrow batch (keeping this a pure map stage — no
    re-join, hence no shuffle, to recover sibling columns downstream)."""
    _ship_by_value()
    dtypes = dict(df.dtypes)
    extra_schema = "".join(f", {c} {dtypes[c]}" for c in passthrough)
    schema = (
        f"{id_col} {dtypes[id_col]}{extra_schema}, title string, text string, "
        "main_text string, links array<string>, lang string, meta_description string"
    )
    out_cols = [id_col, *passthrough, *_FIELD_KEYS]

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fields = [html_fields(None if h is None else str(h)) for h in pdf[html_col]]
            out = pdf[[id_col, *passthrough]].copy()
            for k in _FIELD_KEYS:
                out[k] = [f[k] for f in fields]
            yield out[out_cols]

    return df.select(id_col, *passthrough, html_col).mapInPandas(_extract, schema)


def crawl_pages_to_metadata(recs: DataFrame, text_tier: str = "parser") -> DataFrame:
    """WARC response records -> one ``metadata`` JSON-text column per
    HTML page: the front half of ``VectorDB.load_from_warc`` — filter to
    HTML responses, normalize the URL (the stage-zero dedup key), extract
    title + visible text through the chosen tier, drop textless pages,
    serialize for the engine's distributed embed+insert path."""
    if text_tier not in ("parser", "catalyst"):
        raise ValueError(f"text_tier must be 'parser' or 'catalyst', got {text_tier!r}")
    from pyspark.sql import functions as F

    from modal_vector_db_spark.functions.html import html_title, html_to_text
    from modal_vector_db_spark.functions.url import url_normalize

    recs = recs.filter(
        # 2xx only: a 404/5xx/redirect body is boilerplate, not a document
        F.col("http_status").between(200, 299)
        & F.lower(F.coalesce("http_content_type", F.lit(""))).startswith("text/html")
    )
    base = recs.select(
        url_normalize("target_uri").alias("url"),
        F.col("warc_date"),
        F.col("payload").cast("string").alias("html"),
    )
    if text_tier == "parser":
        base = base.withColumn("_rid", F.monotonically_increasing_id())
        doc = extract_html_fields(
            base, html_col="html", id_col="_rid", passthrough=("url", "warc_date")
        ).select("url", "warc_date", "title", "text", "main_text")
    else:
        # the regex subset has no block segmentation — main_text is a
        # parser-tier field (to_json drops the NULL, so catalyst-tier
        # metadata simply lacks the key rather than carrying "null")
        doc = base.select(
            "url",
            "warc_date",
            html_title(F.col("html")).alias("title"),
            html_to_text(F.col("html")).alias("text"),
            F.lit(None).cast("string").alias("main_text"),
        )
    return doc.filter(F.length(F.coalesce("text", F.lit(""))) > 0).select(
        F.to_json(F.struct("url", "title", "text", "main_text", "warc_date")).alias(
            "metadata"
        )
    )
