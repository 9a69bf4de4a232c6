"""HTML -> text extraction, stage one of every web-corpus pipeline
(C4 / RefinedWeb / FineWeb all begin "strip markup, keep visible text").

Two implementations, by design:

- THIS module: a pure-Catalyst regex chain (``html_to_text`` /
  ``html_title``) — zero Python in the hot path, whole-stage codegen,
  with the DuckDB twin kept NEXT to each rule so the oracle and the
  engine evolve together (the ``url.py`` weld convention).
- ``operators/html_extract.py``: a real stdlib ``HTMLParser`` walk
  (CDATA-aware, full entity table, link harvest) behind ``mapInPandas``
  for markup the regex subset cannot see inside.

Documented subset of the fast path (weld-tested in ``tests/test_html.py``):

1. ``<script>``/``<style>`` blocks are removed first (CDATA content —
   legal ``<`` ``>`` inside — must never reach the tag stripper);
2. then comments ``<!-- ... -->``;
3. then every remaining tag becomes ONE SPACE (inline tags split words
   in both the regex and the parser path — intentional parity);
4. the core named entities (``&lt; &gt; &quot; &#39; &apos; &nbsp;``)
   are unescaped, ``&amp;`` strictly LAST (so ``&amp;lt;`` yields the
   literal text ``&lt;``, not ``<``);
5. whitespace squashes to single spaces, trimmed.

Known limitation (regex subset, both engines alike): a ``>`` inside a
quoted attribute value (``<a title="a>b">``) ends the tag early, and a
comment containing an unterminated ``<script`` can over-eat — the parser
path handles both; a corpus pass that needs them routes through it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "html_to_text",
    "html_to_text_sql",
    "html_title",
    "html_title_sql",
]

#: rule 1 — CDATA blocks (case-insensitive, dotall, non-greedy to the
#: matching close tag); RE2 (DuckDB) and java.util.regex (Spark) agree on
#: every construct used here: inline flags, \b, non-greedy, classes.
_SCRIPT_RE = r"(?is)<script\b[^>]*>.*?</script>"
_STYLE_RE = r"(?is)<style\b[^>]*>.*?</style>"
#: rule 2 — comments
_COMMENT_RE = r"(?s)<!--.*?-->"
#: rule 3 — any remaining tag
_TAG_RE = r"(?s)<[^>]*>"
#: rule 4 — literal (non-regex) entity replaces, &amp; handled separately
_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&nbsp;", " "),
)
_TITLE_RE = r"(?is)<title[^>]*>(.*?)</title>"


def _squash(c: Column) -> Column:
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def html_to_text(html: Column | str) -> Column:
    """Visible text of ``html`` per the module rules — NULL in, NULL out."""
    h = F.col(html) if isinstance(html, str) else html
    h = F.regexp_replace(h, _SCRIPT_RE, " ")
    h = F.regexp_replace(h, _STYLE_RE, " ")
    h = F.regexp_replace(h, _COMMENT_RE, " ")
    h = F.regexp_replace(h, _TAG_RE, " ")
    for ent, ch in _ENTITIES:
        h = F.replace(h, F.lit(ent), F.lit(ch))
    h = F.replace(h, F.lit("&amp;"), F.lit("&"))  # strictly last (rule 4)
    return _squash(h)


def html_title(html: Column | str) -> Column:
    """Squashed ``<title>`` content ('' when absent, matching
    ``regexp_extract``'s no-match convention on both engines)."""
    h = F.col(html) if isinstance(html, str) else html
    return _squash(F.regexp_extract(h, _TITLE_RE, 1))



#: ---- DuckDB twins (same rule order; backrefs/flags per RE2) ----------


def _squash_sql(expr: str) -> str:
    return f"trim(regexp_replace({expr}, '\\s+', ' ', 'g'))"


def html_to_text_sql(expr: str) -> str:
    h = f"regexp_replace({expr}, '{_SCRIPT_RE}', ' ', 'g')"
    h = f"regexp_replace({h}, '{_STYLE_RE}', ' ', 'g')"
    h = f"regexp_replace({h}, '{_COMMENT_RE}', ' ', 'g')"
    h = f"regexp_replace({h}, '{_TAG_RE}', ' ', 'g')"
    for ent, ch in _ENTITIES:
        lit = ch.replace("'", "''")
        h = f"replace({h}, '{ent}', '{lit}')"
    h = f"replace({h}, '&amp;', '&')"
    return _squash_sql(h)


def html_title_sql(expr: str) -> str:
    return _squash_sql(f"regexp_extract({expr}, '{_TITLE_RE}', 1)")
