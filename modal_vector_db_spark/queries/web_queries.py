"""Web-crawl ingestion queries: WARC source -> HTTP unwrap -> HTML
extraction -> URL normalization, end-to-end on the oracle gate.

This is the stage-zero of a 100 TB LLM data pipeline (CommonCrawl-shaped
corpora arrive as WARC, not parquet): ``read_warc`` (file-per-task
``binaryFile`` + ``mapInPandas`` record walker, type filter pushed into
the walker), then BOTH extraction tiers — the pure-Catalyst regex chain
(``functions/html.py``) and the stdlib-``HTMLParser`` walk
(``operators/html_extract.py``) — over the same planted fixture crawl,
so the oracle proves byte-exact payload delivery (char counts), HTTP
parsing (status), extraction semantics (title + visible text recomputed
closed-form from ``documents``), and tier agreement, in one query.

Fixture design (``_warc_fixture_dir``): every planted page embeds the
hostile cases the extractor must survive — a ``<script>`` whose string
literal contains ``</p>``, ``WARC/1.0`` (record-boundary poison: a
Content-Length walker ignores it, a magic-scanner desyncs), and ``<b>``;
an HTML comment containing tags; entity-escaped text (``&amp;``/``&lt;``)
whose unescape must reproduce the source document exactly.  Half the
shards are plain ``.warc``, half per-record-member ``.warc.gz`` (the
CommonCrawl convention), and each shard interleaves warcinfo + request
records that ``types=("response",)`` must skip.

Reference parity: the reference has no crawl source (its ingest is
pre-extracted JSON, ``/root/reference/vdb.py:73-104``); this module is
part of the pipeline-extension surface built alongside SURVEY.md §2.
"""

from __future__ import annotations

import gzip
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modal_vector_db_spark.functions.html import html_title, html_to_text
from modal_vector_db_spark.functions.url import url_normalize
from modal_vector_db_spark.harness import load, register
from modal_vector_db_spark.scratch import scratch_root
from modal_vector_db_spark.operators.html_extract import extract_html_fields
from modal_vector_db_spark.operators.pagerank import pagerank
from modal_vector_db_spark.sources.warc import build_record, read_warc

_WEBFIX_LIMIT = 300
_WEBFIX_SHARDS = 8
_WEBFIX_CACHE: dict[str, str] = {}


def _escape(t: str) -> str:
    return t.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _doc_html(doc_id: int, next_id: int, text_esc: str) -> str:
    """One planted page.  Visible text (both tiers, closed form):
    ``Doc {id} Home About Site Doc {id} AT&T <3 {text} Closing remarks
    for document {id} carry enough characters to stay. Alpha games Beta
    games Gamma games next hub Copyright 2026 Example Corp - all rights
    reserved worldwide``.  The doc links give the crawl a non-trivial
    graph for ``web_link_rank``: a ring edge (``id -> (id+1) % N``) plus
    a hub edge (``id -> id % 10`` — ten high-in-degree hub pages, so
    PageRank differentiates); the nav/tag links deliberately do NOT match
    the ``/doc/N`` shape, so the link-harvest must drop them.

    Boilerplate plan (the ``main`` arm's ground truth — each planted
    block exercises exactly one drop rule of
    ``operators/html_extract.main_content``):

    - ``<nav>`` + ``<footer>``: semantic-container rule (the footer is
      long AND link-free — only the container rule can drop it)
    - ``<h1>Doc {id}</h1>`` and the trailing next/hub anchors: short rule
    - ``<div class=related>``: link-density rule (34 chars of text, 32
      inside anchors — long enough to survive the short rule)
    - the two ``<p>`` blocks survive every rule -> ``main_text`` is their
      space-join, closed-form from (doc_id, text)."""
    return (
        f"<!DOCTYPE html><html><head><title>Doc {doc_id}</title>"
        '<style type="text/css">body { color: #000; }</style></head><body>'
        '<script type="text/javascript">var tricky = "</p> WARC/1.0 <b>&amp;";</script>'
        '<nav><a href="/">Home</a> <a href="/about">About Site</a></nav>'
        f"<h1>Doc {doc_id}</h1>"
        "<!-- hidden <p>comment</p> & noise -->"
        f"<p>AT&amp;T &lt;3 {text_esc}</p>"
        f"<p>Closing remarks for document {doc_id} carry enough characters to stay.</p>"
        '<div class="related"><a href="/tag/alpha">Alpha games</a> '
        '<a href="/tag/beta">Beta games</a> <a href="/tag/gamma">Gamma games</a></div>'
        f'<a href="/doc/{next_id}">next</a>'
        f'<a href="/doc/{doc_id % 10}">hub</a>'
        "<footer>Copyright 2026 Example Corp - all rights reserved worldwide</footer>"
        "</body></html>"
    )


#: chars in the template beyond the three doc_id slots, one next_id slot,
#: one hub (doc_id % 10) slot, and the escaped text (at id 0 each slot
#: is the single char '0' -> subtract 5)
_HTML_BASE_CHARS = len(_doc_html(0, 0, "")) - 5
#: total <a> anchors per planted page (nav 2 + related 3 + next + hub)
_N_LINKS = 7


def _http_response(html: bytes, doc_id: int) -> bytes:
    """Rotate the real HTTP wire layers per doc (identity / chunked /
    gzip Content-Encoding) so the oracle gate exercises the unwrap's
    decode stack end-to-end — the output columns are all post-decode, so
    the closed-form oracle is IDENTICAL across modes; only a broken
    decoder can tell the difference."""
    head = b"HTTP/1.1 200 OK\r\nServer: warcfix/1.0\r\nContent-Type: text/html; charset=utf-8\r\n"
    mode = doc_id % 3
    if mode == 0:  # chunked framing, split mid-document
        cut = max(1, len(html) // 2)
        body = b"%x\r\n%s\r\n%x\r\n%s\r\n0\r\n\r\n" % (
            cut, html[:cut], len(html) - cut, html[cut:],
        )
        head += b"Transfer-Encoding: chunked\r\n"
    elif mode == 1:  # gzip content-coding
        body = gzip.compress(html, mtime=0)
        head += b"Content-Encoding: gzip\r\nContent-Length: %d\r\n" % len(body)
    else:  # identity
        body = html
        head += b"Content-Length: %d\r\n" % len(body)
    return head + b"\r\n" + body


def _warc_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write the planted crawl (FIXTURE SETUP, not part of the measured
    query — once per process per sf_dir; at 100 TB these files ARE the
    corpus and nobody writes them driver-side)."""
    hit = _WEBFIX_CACHE.get(sf_dir)
    if hit is not None:
        return hit

    out = os.path.join(
        scratch_root(),
        "sparkvdb_warcfix",
        # pid-scoped: two concurrent processes (parallel pytest + a bench
        # run) must never delete each other's fixture files mid-scan
        # (review finding); a reused pid's leftovers are cleared below
        f"{sf_dir.strip('/').replace('/', '_')}_pid{os.getpid()}",
    )
    os.makedirs(out, exist_ok=True)
    for stale in os.listdir(out):  # shard count/template may differ from a
        os.unlink(os.path.join(out, stale))  # previous (reused) pid — never mix
    rows = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _WEBFIX_LIMIT)
        .select("doc_id", "text")
        .collect()
    )
    for r in rows:
        t = r["text"]
        # the oracle's closed forms (html_chars counts RAW text length;
        # text_out compares against UNSQUASHED text) hold only for clean
        # ASCII single-spaced text — fail LOUDLY here rather than letting
        # a future corpus regeneration surface as a bogus gate mismatch
        if any(c in t for c in "&<>") or "  " in t or t != t.strip() or "\n" in t:
            raise ValueError(
                f"web fixture assumes clean single-spaced text without &<>; "
                f"doc_id={r['doc_id']} violates it — update the oracle's "
                f"closed forms (escape-aware length/squash) before planting"
            )
        if len(t) < 17:  # 'AT&T <3 ' + text must clear the 25-char block
            raise ValueError(  # rule or the main arm's closed form breaks
                f"web fixture doc_id={r['doc_id']} text is {len(t)} chars; "
                "the main-content oracle needs >= 17 — make the closed "
                "form length-aware before planting"
            )
    shards: list[list[bytes]] = [[] for _ in range(_WEBFIX_SHARDS)]
    info = build_record(
        "warcinfo",
        b"software: modal-vector-db-spark fixture\r\n",
        content_type="application/warc-fields",
        record_id="<urn:uuid:%s>" % uuid.uuid5(uuid.NAMESPACE_URL, "warcfix:info"),
    )
    for s in shards:
        s.append(info)
    for r in rows:
        did = int(r["doc_id"])
        uri = f"https://Example.COM:443/doc/{did}?utm_source=fixture&ref=warc"
        rid = "<urn:uuid:%s>" % uuid.uuid5(uuid.NAMESPACE_URL, f"warcfix:{did}")
        html = _doc_html(did, (did + 1) % _WEBFIX_LIMIT, _escape(r["text"])).encode()
        req = build_record(
            "request",
            f"GET /doc/{did} HTTP/1.1\r\nHost: example.com\r\n\r\n".encode(),
            target_uri=uri,
            content_type="application/http; msgtype=request",
        )
        resp = build_record(
            "response",
            _http_response(html, did),
            target_uri=uri,
            record_id=rid,
            content_type="application/http; msgtype=response",
        )
        shards[did % _WEBFIX_SHARDS].extend((req, resp))
    for i, recs in enumerate(shards):
        if i % 2 == 0:  # plain
            with open(os.path.join(out, f"crawl_{i:02d}.warc"), "wb") as f:
                f.write(b"".join(recs))
        else:  # per-record gzip members (CommonCrawl convention)
            with open(os.path.join(out, f"crawl_{i:02d}.warc.gz"), "wb") as f:
                f.write(b"".join(gzip.compress(rec, mtime=0) for rec in recs))
    _WEBFIX_CACHE[sf_dir] = out
    return out


_MAIN_TEXT_SQL = (
    "'AT&T <3 ' || text || ' Closing remarks for document ' || doc_id"
    " || ' carry enough characters to stay.'"
)


def _oracle_arm(tag: str) -> str:
    """Closed-form twin of one extraction tier.  The ``main`` arm's
    text_out recomputes the KEPT blocks (see ``_doc_html`` boilerplate
    plan): the fixture corpus guarantees the first paragraph clears the
    25-char rule (min document text is 47 chars — asserted loud in
    ``_warc_fixture_dir``), so the kept set is exactly the two <p>s."""
    whole_page = (
        "'Doc ' || doc_id || ' Home About Site Doc ' || doc_id || ' AT&T <3 ' || text"
        " || ' Closing remarks for document ' || doc_id"
        " || ' carry enough characters to stay."
        " Alpha games Beta games Gamma games next hub"
        " Copyright 2026 Example Corp - all rights reserved worldwide'"
    )
    text_out = _MAIN_TEXT_SQL if tag == "main" else whole_page
    return f"""
    SELECT '{tag}' AS tag, doc_id,
           'https://example.com/doc/' || doc_id || '?ref=warc' AS url_norm,
           200::INT AS http_status,
           ({_HTML_BASE_CHARS} + 3 * length(doc_id::VARCHAR)
             + length(((doc_id + 1) % {_WEBFIX_LIMIT})::VARCHAR)
             + length((doc_id % 10)::VARCHAR)
             + length(text))::BIGINT AS html_chars,
           'Doc ' || doc_id AS title,
           {text_out} AS text_out,
           {_N_LINKS}::INT AS n_links
    FROM documents WHERE doc_id < {_WEBFIX_LIMIT}
    """


@register(
    "web_warc_extract",
    oracle=_oracle_arm("catalyst")
    + " UNION ALL "
    + _oracle_arm("parser")
    + " UNION ALL "
    + _oracle_arm("main"),
)
def web_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-ingest end-to-end: WARC records (mixed plain/gzip shards,
    request/warcinfo records skipped INSIDE the walker) -> HTTP body ->
    both HTML extraction tiers -> URL-normalized key — plus the ``main``
    arm: boilerplate removal (``operators/html_extract.main_content``)
    over planted nav/footer/link-rail furniture, each block exercising
    one drop rule (see ``_doc_html``), the kept blocks recomputed
    closed-form by the oracle.

    The oracle recomputes every output column closed-form from
    ``documents`` (nothing else relates doc_id to the page bytes), so a
    pass proves: record walking by Content-Length (the script poison
    contains ``WARC/1.0``), multi-member gunzip, HTTP status/body split,
    entity-exact text extraction on BOTH tiers, boilerplate
    classification, and tracking-param URL normalization.  Scale shape:
    one task per WARC file, extraction is a pure map stage (zero
    shuffle); the parser and main arms share ONE parser walk (main_text
    rides the same Arrow batch), so the third arm adds no extra scan."""
    d = _warc_fixture_dir(spark, sf_dir)
    recs = read_warc(spark, d, types=("response",))
    html = F.col("payload").cast("string")
    # Round-12 optimization (guide §2.4 / §4.1): the previous three-way
    # UNION physically duplicated the WARC record walk into every branch
    # (3 walks) and the parser walk into two (par + main) — a union does
    # not share map-stage subtrees.  Now the catalyst tier is computed
    # ONCE here (pure Catalyst, pre-parser) and echoed through the parser
    # walk's Arrow batch with the shared columns; the three tagged arms
    # are exploded from ONE row — one WARC walk, one parser walk, one
    # catalyst pass per invocation, identical (tag, ...) output rows.
    # TRADE (round-12 advice): the catalyst values now RIDE THROUGH the
    # Python parser task, so the tiers are no longer execution-independent
    # — a row-drop/duplication bug in extract_html_fields would corrupt
    # all three tags identically.  Detection is preserved (the oracle
    # recomputes every arm closed-form and would flag the parser tag),
    # but cross-tier redundancy as a DIAGNOSTIC is gone; that is the
    # price of the single-walk plan.
    base = recs.select(
        F.regexp_extract("target_uri", r"/doc/(\d+)\?", 1).cast("long").alias("doc_id"),
        url_normalize("target_uri").alias("url_norm"),
        F.col("http_status"),
        F.length(html).cast("long").alias("html_chars"),
        html_title(html).alias("_cat_title"),
        html_to_text(html).alias("_cat_text"),
        F.regexp_count(html, F.lit(r"(?i)<a\s")).cast("int").alias("_cat_links"),
        html.alias("html"),
    )
    shared = ["doc_id", "url_norm", "http_status", "html_chars"]
    fields = extract_html_fields(
        base,
        html_col="html",
        id_col="doc_id",
        passthrough=(
            "url_norm",
            "http_status",
            "html_chars",
            "_cat_title",
            "_cat_text",
            "_cat_links",
        ),
    )

    def _arm(tag: str, title_c, text_c, links_c):
        return F.struct(
            F.lit(tag).alias("tag"),
            *[F.col(c).alias(c) for c in shared],
            title_c.alias("title"),
            text_c.alias("text_out"),
            links_c.cast("int").alias("n_links"),
        )

    return fields.select(
        F.explode(
            F.array(
                _arm("catalyst", F.col("_cat_title"), F.col("_cat_text"), F.col("_cat_links")),
                _arm("parser", F.col("title"), F.col("text"), F.size("links")),
                _arm("main", F.col("title"), F.col("main_text"), F.size("links")),
            )
        ).alias("r")
    ).select("r.*")


def _pagerank_oracle(n: int = _WEBFIX_LIMIT, iters: int = 5, d: float = 0.85) -> str:
    """Unrolled fixed-iteration PageRank in plain SQL: the edge list is
    closed-form from the planted link structure (ring + hub, see
    ``_doc_html``), each iteration one nested CTE — division before
    summation exactly as the Spark loop, rounded 6dp only at the end."""
    parts = [
        f"""WITH docs AS (SELECT doc_id FROM documents WHERE doc_id < {n}),
    edges AS (
      SELECT doc_id AS src, (doc_id + 1) % {n} AS dst FROM docs
      UNION ALL
      SELECT doc_id AS src, doc_id % 10 AS dst FROM docs
    ),
    deg AS (SELECT src, count(*)::DOUBLE AS outdeg FROM edges GROUP BY src),
    r0 AS (SELECT doc_id AS node, 1.0 / {n} AS r FROM docs)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
    r{i} AS (
      SELECT d.doc_id AS node,
             {1.0 - d!r} / {n} + {d!r} * coalesce(sum(p.r / g.outdeg), 0) AS r
      FROM docs d
      LEFT JOIN edges e ON e.dst = d.doc_id
      LEFT JOIN r{i - 1} p ON p.node = e.src
      LEFT JOIN deg g ON g.src = e.src
      GROUP BY d.doc_id
    )"""
        )
    parts.append(f"\n    SELECT node AS doc_id, round(r, 6) AS rank FROM r{iters}")
    return "".join(parts)


# cache=False: pagerank() materializes its input eagerly (persist +
# count) at invocation — the engine_roundtrip/streaming convention; a
# cached plan would let repeat invocations skip the edge materialization.
@register("web_link_rank", oracle=_pagerank_oracle(), cache=False)
def web_link_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-graph ranking end-to-end: WARC records -> parser-tier link
    harvest -> edge list -> fixed-iteration PageRank
    (``operators/pagerank.py``; 5 iterations, damping 0.85).

    The planted graph is a ring (every page links its successor) plus
    ten hubs (page ``i`` links page ``i % 10``), so ranks genuinely
    differentiate (hubs ~8x the ring mass) and a constant-output bug
    cannot pass.  The oracle recomputes the edge list closed-form and
    unrolls the same five iterations as nested CTEs — a pass proves the
    link harvest (hrefs through real HTML), the degree normalization,
    the dangling/no-in-edge handling, and the iteration arithmetic.
    Scale shape: edges+degree persisted once; each iteration shuffles
    only the |V|-row rank table; contributions are partial-agg sums."""
    fix = _warc_fixture_dir(spark, sf_dir)
    recs = read_warc(spark, fix, types=("response",))
    base = recs.select(
        F.regexp_extract("target_uri", r"/doc/(\d+)\?", 1).cast("long").alias("doc_id"),
        F.col("payload").cast("string").alias("html"),
    )
    links = extract_html_fields(base).select("doc_id", F.explode("links").alias("href"))
    edges = links.select(
        F.col("doc_id").alias("src"),
        # nav/tag furniture links don't address documents — the harvest
        # keeps only /doc/N edges (try_cast: non-matching href extracts
        # '' which must become NULL, not an ANSI cast error)
        F.regexp_extract("href", r"/doc/(\d+)$", 1).try_cast("long").alias("dst"),
    ).filter(F.col("dst").isNotNull())
    # materialize=True (round-12 optimization): this query re-runs per
    # invocation (cache=False), so the lazy mode leaked e/ew/nodes persists
    # each run — the hygiene mode checkpoints the final ranks and releases
    # every pinned lineage table, keeping the session cache flat across a
    # bench's repeat invocations.  Identical ranks (pinned by
    # tests/test_pagerank.py::test_materialize_releases_all_lineage_cache).
    pr = pagerank(edges, iters=5, damping=0.85, materialize=True)
    return pr.select(F.col("node").alias("doc_id"), F.round("rank", 6).alias("rank"))
