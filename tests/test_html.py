"""HTML extraction: the Catalyst regex tier (functions/html.py) welded to
its DuckDB twin over a shared case table, tier-parity against the stdlib
HTMLParser path (operators/html_extract.py), and the parser-only cases
the documented regex subset cannot see inside."""

from __future__ import annotations

from modal_vector_db_spark.functions.html import (
    html_title,
    html_title_sql,
    html_to_text,
    html_to_text_sql,
)
from modal_vector_db_spark.operators.html_extract import extract_html_fields, html_fields

#: (html, expected_text) — every case is INSIDE the documented regex
#: subset, so the Catalyst tier, its DuckDB twin, AND the parser tier
#: must all agree on it (test_tier_parity).
CASES = [
    ("<p>hello world</p>", "hello world"),
    ("<b>bo</b>ld", "bo ld"),  # inline tags split words — both tiers, by design
    ("<script>var a = '</p> <b>x';</script>after", "after"),
    ("<SCRIPT TYPE='text/javascript'>1<2</SCRIPT>ok", "ok"),  # case-insensitive
    ("<style>body { color: red; }</style>text", "text"),
    ("<!-- a <p>comment</p> -->seen", "seen"),
    ("a &amp; b", "a & b"),
    ("&lt;tag&gt; &quot;q&quot; &#39;s&#39; &apos;t&apos;", "<tag> \"q\" 's' 't'"),
    ("&amp;lt; stays literal", "&lt; stays literal"),  # &amp; unescaped LAST
    ("a&nbsp;b", "a b"),
    ("  lots \t of\n\n space  ", "lots of space"),
    ("<div><p>nested</p><p>tags</p></div>", "nested tags"),
    ("no markup at all", "no markup at all"),
    ("<script>one</script>mid<script>two</script>end", "mid end"),
    ("", ""),
    (None, None),
]

TITLE_CASES = [
    ("<html><head><title>My  Page</title></head><body>x</body></html>", "My Page"),
    ("<TITLE lang='en'>Upper</TITLE>", "Upper"),
    ("<p>no title</p>", ""),
    ("<title>a</title><title>b</title>", "a"),  # first wins on both engines
]


def test_catalyst_text_cases(spark):
    df = spark.createDataFrame([(c,) for c, _ in CASES], "h string")
    got = [r["t"] for r in df.select(html_to_text("h").alias("t")).collect()]
    for (src, want), g in zip(CASES, got):
        assert g == want, (src, g, want)


def test_catalyst_welded_to_duckdb_twin():
    import duckdb

    con = duckdb.connect()
    tsql = html_to_text_sql("h")
    for src, want in CASES:
        got = con.execute(f"select {tsql} from (select ? as h)", [src]).fetchone()[0]
        assert got == want, (src, got, want)
    usql = html_title_sql("h")
    for src, want in TITLE_CASES:
        got = con.execute(f"select {usql} from (select ? as h)", [src]).fetchone()[0]
        assert got == want, (src, got, want)


def test_catalyst_title_cases(spark):
    df = spark.createDataFrame([(c,) for c, _ in TITLE_CASES], "h string")
    got = [r["t"] for r in df.select(html_title("h").alias("t")).collect()]
    for (src, want), g in zip(TITLE_CASES, got):
        assert g == want, (src, g, want)


def test_tier_parity_on_subset():
    """The parser tier agrees with the regex tier on every case inside
    the documented subset (module contract in functions/html.py)."""
    for src, want in CASES:
        if src is None:
            assert html_fields(None)["text"] is None
            continue
        assert html_fields(src)["text"] == want, src


def test_parser_beyond_regex_subset():
    """Cases the regex subset documents as its limitations — the parser
    tier must get them right."""
    # '>' inside a quoted attribute value ends the regex tag early; the
    # tokenizer does not
    f = html_fields('<a title="a>b" href="/x">link</a>')
    assert f["text"] == "link"
    assert f["links"] == ["/x"]
    # nested skip-subtree bookkeeping + noscript/template
    f = html_fields("<noscript><p>hidden</p></noscript>shown<template>x</template>")
    assert f["text"] == "shown"
    # void-form anchor still harvests its href
    f = html_fields('<a href="/only"/>tail')
    assert f["links"] == ["/only"]
    # full stdlib entity table (beyond the core six)
    assert html_fields("&copy; &#x41;")["text"] == "\xa9 A"
    # title text is also document text (tier-parity convention)
    f = html_fields("<title>T</title><p>body</p>")
    assert f["title"] == "T" and f["text"] == "T body"


def test_extract_html_fields_passthrough(spark):
    rows = [(1, "<title>A</title><a href='/a'>x</a>", "u1"), (2, None, "u2")]
    df = spark.createDataFrame(rows, "doc_id long, html string, url string")
    out = {
        r["doc_id"]: r
        for r in extract_html_fields(df, passthrough=("url",)).collect()
    }
    assert out[1]["title"] == "A" and out[1]["text"] == "A x"
    assert out[1]["links"] == ["/a"] and out[1]["url"] == "u1"
    assert out[2]["title"] is None and out[2]["links"] is None and out[2]["url"] == "u2"


def test_lang_and_meta_parser_tier():
    """The parser tier reads the declared language and the meta
    description, in either attribute order and with any quoting."""
    f = html_fields('<html lang="en"><meta name="description" content="D"><p>x</p>')
    assert f["lang"] == "en" and f["meta_description"] == "D"
    # reversed attribute order, single quotes
    f = html_fields("<meta content='rev' name='description'>")
    assert f["meta_description"] == "rev"
    # first declaration wins on both fields
    f = html_fields('<html lang="en"><html lang="fr"><meta name="description" content="a">'
                    '<meta name="description" content="b">')
    assert f["lang"] == "en" and f["meta_description"] == "a"
    assert html_fields("<p>none</p>")["lang"] is None


def test_lang_meta_boundary_cases():
    """Attribute-boundary fixes (review findings): xml:lang/data-lang must
    not match; name="description-x" must not match."""
    assert html_fields('<html lang="en" xml:lang="fr">x')["lang"] == "en"
    assert html_fields('<html xml:lang="fr">x')["lang"] is None
    assert html_fields('<meta name="description-for-x" content="n">x')["meta_description"] is None


# ---- main-content extraction (boilerplate removal) ----------------------

_KEEP1 = "first real paragraph easily long enough to keep"
_KEEP2 = "second real paragraph also clearly long enough to keep"


def test_main_content_drop_rules():
    """Each planted block exercises exactly one drop rule of
    operators/html_extract.main_content (jusText/trafilatura-style)."""
    from modal_vector_db_spark.operators.html_extract import html_fields

    html = (
        "<title>Doc X</title>"
        '<nav><a href="/">Home</a> <a href="/a">About this site</a></nav>'
        "<header>A header banner easily long enough to pass the length rule</header>"
        "<h1>Short</h1>"
        f"<p>{_KEEP1}</p>"
        '<div><a href="/t/1">Alpha games</a> <a href="/t/2">Beta games</a> '
        '<a href="/t/3">Gamma games</a></div>'
        f"<p>{_KEEP2}</p>"
        "<aside>promoted sidebar content easily long enough to pass length</aside>"
        "<footer>Copyright notice easily long enough to pass the length rule</footer>"
    )
    f = html_fields(html)
    assert f["main_text"] == f"{_KEEP1} {_KEEP2}"
    # the whole-page text still contains every visible block
    assert "Home" in f["text"] and "Copyright" in f["text"] and _KEEP1 in f["text"]


def test_main_content_trailing_text_and_void_blocks():
    from modal_vector_db_spark.operators.html_extract import html_fields

    # text after the last block tag still flushes; <hr/> is a boundary
    f = html_fields(f"<p>{_KEEP1}</p><hr/>{_KEEP2}")
    assert f["main_text"] == f"{_KEEP1} {_KEEP2}"
    # a long link-free block inside nav is still furniture
    f = html_fields(f"<nav><p>{_KEEP1}</p></nav>")
    assert f["main_text"] == ""
    assert html_fields(None)["main_text"] is None


def test_main_content_thresholds_tunable(monkeypatch):
    from modal_vector_db_spark.operators import html_extract
    from modal_vector_db_spark.operators.html_extract import html_fields, main_content

    html = f'<p>tiny</p><div><a href="/x">{_KEEP1}</a></div>'
    f = html_fields(html)
    assert f["main_text"] == ""  # short rule + link-density rule
    # reconstruct blocks via a fresh parse and relax both thresholds
    from modal_vector_db_spark.operators.html_extract import _Extractor

    ex = _Extractor()
    ex.feed(html)
    ex.close()
    ex._flush_block()
    monkeypatch.setattr(html_extract, "MIN_BLOCK_CHARS", 1)
    monkeypatch.setattr(html_extract, "MAX_LINK_DENSITY", 1.0)
    assert main_content(ex.blocks) == f"tiny {_KEEP1}"


def test_main_content_rides_extract_schema(spark):
    from modal_vector_db_spark.operators.html_extract import extract_html_fields

    df = spark.createDataFrame(
        [(1, f"<nav><a href='/'>Home page link</a></nav><p>{_KEEP1}</p>")],
        "doc_id long, html string",
    )
    (r,) = extract_html_fields(df).collect()
    assert r["main_text"] == _KEEP1 and _KEEP1 in r["text"]
