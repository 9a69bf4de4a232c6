"""Facade crawl ingest (`VectorDB.load_from_warc`): WARC response records
-> HTML extraction -> distributed embed+insert, with content-id
idempotency across re-ingested segments and non-HTML filtering."""

from __future__ import annotations

import pytest

import gzip
import json
import os
import uuid

from modal_vector_db_spark.engine import VectorDB
from modal_vector_db_spark.sources.warc import build_record


# Long-tail suite (round-13): deselected by default via pytest.ini (-m "not slow");
# run everything with  python -m pytest tests/ -m "" -q
pytestmark = pytest.mark.slow


def _http(body: bytes, ctype: bytes = b"text/html; charset=utf-8") -> bytes:
    return (
        b"HTTP/1.1 200 OK\r\nContent-Type: %s\r\nContent-Length: %d\r\n\r\n"
        % (ctype, len(body))
        + body
    )


def _page(i: int) -> bytes:
    return (
        f"<html><head><title>Page {i}</title></head>"
        f"<body><p>crawl body {i} &amp; text</p></body></html>"
    ).encode()


def _resp(uri: str, body: bytes, ctype: bytes = b"text/html; charset=utf-8") -> bytes:
    return build_record(
        "response",
        _http(body, ctype),
        target_uri=uri,
        content_type="application/http; msgtype=response",
    )


def _write_segment(path, records, gz=False):
    with open(path, "wb") as f:
        if gz:
            f.write(b"".join(gzip.compress(r, mtime=0) for r in records))
        else:
            f.write(b"".join(records))


def _db(spark, tmp_path, **kw):
    wh = str(tmp_path / f"wh_{uuid.uuid4().hex[:8]}")
    return VectorDB(
        spark, "warcdb", embedding_dim=16, warehouse=wh, create_new_table=True, **kw
    )


def test_load_from_warc_end_to_end(spark, tmp_path):
    seg = tmp_path / "crawl"
    os.makedirs(seg)
    recs = [_resp(f"https://Example.COM/p/{i}?utm_source=x", _page(i)) for i in range(8)]
    # noise the ingest must skip: a non-HTML response + a request record
    recs.append(_resp("https://example.com/data.json", b"{}", b"application/json"))
    recs.append(build_record("request", b"GET / HTTP/1.1\r\n\r\n", target_uri="https://e.com"))
    _write_segment(seg / "a.warc", recs[:5])
    _write_segment(seg / "b.warc.gz", recs[5:], gz=True)

    db = _db(spark, tmp_path)
    db.load_from_warc(str(seg))
    assert db.num_rows() == 8  # html pages only
    metas = [json.loads(r["metadata"]) for r in db.items().collect()]
    by_url = {m["url"]: m for m in metas}
    # URL normalized (host lowercased, tracking param dropped)
    assert "https://example.com/p/3" in by_url
    m = by_url["https://example.com/p/3"]
    assert m["title"] == "Page 3"
    assert m["text"] == "Page 3 crawl body 3 & text"
    assert m["warc_date"] == "2026-01-01T00:00:00Z"

    # retrieval actually works over the ingested crawl
    hits = db.query("crawl body 3", k=1)
    assert len(hits) == 1

    # segment re-ingest is content-idempotent (same pages -> same ids)
    db.load_from_warc(str(seg))
    assert db.num_rows() == 8
    # an overlapping segment adds only the new page
    seg2 = tmp_path / "crawl2"
    os.makedirs(seg2)
    _write_segment(
        seg2 / "c.warc",
        [_resp("https://example.com/p/3", _page(3)), _resp("https://example.com/p/99", _page(99))],
    )
    db.load_from_warc(str(seg2))
    assert db.num_rows() == 9


def test_load_from_warc_catalyst_tier_and_validation(spark, tmp_path):
    seg = tmp_path / "crawl"
    os.makedirs(seg)
    _write_segment(seg / "a.warc", [_resp("https://example.com/x", _page(1))])
    db = _db(spark, tmp_path)
    db.load_from_warc(str(seg), text_tier="catalyst")
    (m,) = [json.loads(r["metadata"]) for r in db.items().collect()]
    assert m["text"] == "Page 1 crawl body 1 & text"
    try:
        db.load_from_warc(str(seg), text_tier="regex")
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "text_tier" in str(e)


def test_recrawl_new_date_and_error_pages(spark, tmp_path):
    """Content identity excludes the capture date (review finding): a
    re-crawl of an unchanged page under a NEW WARC-Date must dedup; and
    non-2xx HTML (404 pages) must never become corpus documents."""
    seg = tmp_path / "crawl"
    os.makedirs(seg)
    recs = [_resp("https://e.com/a", _page(1))]
    # a 404 whose body is text/html boilerplate
    nf = (
        b"HTTP/1.1 404 Not Found\r\nContent-Type: text/html\r\nContent-Length: 26\r\n\r\n"
        b"<p>Page not found, sorry</p>"[:26]
    )
    recs.append(
        build_record("response", nf, target_uri="https://e.com/missing",
                     content_type="application/http; msgtype=response")
    )
    _write_segment(seg / "a.warc", recs)
    db = _db(spark, tmp_path)
    db.load_from_warc(str(seg))
    assert db.num_rows() == 1  # the 404 never ingested

    # same page re-crawled a day later (different WARC-Date)
    seg2 = tmp_path / "crawl2"
    os.makedirs(seg2)
    rec2 = build_record(
        "response",
        _http(_page(1)),
        target_uri="https://e.com/a",
        date="2026-01-02T00:00:00Z",
        content_type="application/http; msgtype=response",
    )
    _write_segment(seg2 / "b.warc", [rec2])
    db.load_from_warc(str(seg2))
    assert db.num_rows() == 1  # identity = (url, title, text), not date


def test_load_from_warc_stores_main_text(spark, tmp_path):
    """Crawl ingest carries the boilerplate-removed main_text alongside
    the whole-page text (parser tier only — the catalyst regex subset has
    no block segmentation, so its metadata simply lacks the key)."""
    body = (
        b"<html><head><title>MT</title></head><body>"
        b'<nav><a href="/">Home navigation link</a></nav>'
        b"<p>the genuinely interesting article body with plenty of characters</p>"
        b"<footer>Copyright footer easily long enough to pass length</footer>"
        b"</body></html>"
    )
    seg = tmp_path / "crawl"
    os.makedirs(seg)
    _write_segment(seg / "s.warc", [_resp("https://example.com/mt", body)])

    db = _db(spark, tmp_path)
    db.load_from_warc(str(seg))
    (m,) = [json.loads(r["metadata"]) for r in db.items().collect()]
    assert m["main_text"] == (
        "the genuinely interesting article body with plenty of characters"
    )
    assert "Home navigation link" in m["text"] and "Copyright" in m["text"]

    db2 = _db(spark, tmp_path)
    db2.load_from_warc(str(seg), text_tier="catalyst")
    (m2,) = [json.loads(r["metadata"]) for r in db2.items().collect()]
    assert "main_text" not in m2  # to_json drops the NULL field


def test_incremental_crawl_refresh(spark, tmp_path):
    """The incremental-refresh composition, end to end in three phases:
    initial crawl -> CDX diff of a refresh segment (only captures not
    already indexed survive) -> byte-range fetch of JUST those records ->
    Bloom-admission insert keyed on crawl content identity.  Counts prove
    only-new-records fetched AND only-new-content inserted."""
    from pyspark.sql import functions as F

    from modal_vector_db_spark.operators.html_extract import crawl_pages_to_metadata
    from modal_vector_db_spark.schema import json_to_uuid
    from modal_vector_db_spark.sources.warc import build_cdx, fetch_records

    def page(i: int, rev: int = 0) -> bytes:
        return (
            f"<html><head><title>Page {i}</title></head>"
            f"<body><p>crawl body {i} revision {rev} text</p></body></html>"
        ).encode()

    def resp(i: int, date: str, rev: int = 0) -> bytes:
        return build_record(
            "response",
            _http(page(i, rev)),
            target_uri=f"https://example.com/p/{i}",
            date=date,
            record_id=f"<urn:uuid:rid-{i}-{date}>",
            content_type="application/http; msgtype=response",
        )

    d1, d2 = "2026-01-01T00:00:00Z", "2026-02-01T00:00:00Z"
    seg_a = tmp_path / "segA"
    seg_a.mkdir()
    _write_segment(seg_a / "a.warc", [resp(i, d1) for i in range(10)])
    seg_b = tmp_path / "segB"
    seg_b.mkdir()
    _write_segment(
        seg_b / "b.warc.gz",
        [resp(i, d1) for i in (5, 6)]  # re-shipped identical captures
        + [resp(7, d2)]  # re-crawled, content unchanged
        + [resp(i, d2, rev=1) for i in (8, 9)]  # re-crawled, content changed
        + [resp(i, d2) for i in range(10, 15)],  # brand-new pages
        gz=True,
    )

    # phase 1: initial crawl + maintained admission filter
    db = _db(spark, tmp_path, id_fields=("url", "title", "text"))
    db.load_from_warc(str(seg_a))
    assert db.num_rows() == 10
    db.create_bloom_filter(expected_items=1000)

    # phase 2: CDX diff — captures of the refresh segment minus captures
    # the initial segment already indexed (capture = target_uri+warc_date)
    cdx_a = build_cdx(spark, str(seg_a))
    cdx_b = build_cdx(spark, str(seg_b))
    new_caps = cdx_b.filter(F.col("warc_type") == "response").join(
        cdx_a.select("target_uri", "warc_date"),
        ["target_uri", "warc_date"],
        "left_anti",
    )
    fetched = fetch_records(new_caps)
    assert fetched.count() == 8  # 7,8,9 re-crawls + 10..14; NOT 5,6

    # phase 3: Bloom admission on the crawl content identity — the
    # unchanged re-crawl (page 7, new date, same url/title/text) is
    # rejected without a corpus scan; changed + new content passes
    pages = crawl_pages_to_metadata(fetched, "parser")
    rows = pages.collect()  # 8 rows — test-scale materialization
    batch = spark.createDataFrame(
        [
            (
                json_to_uuid(
                    {
                        k: json.loads(r["metadata"]).get(k)
                        for k in ("url", "title", "text")
                    }
                ),
                r["metadata"],
            )
            for r in rows
        ],
        "cid string, metadata string",
    )
    admitted = db.bloom_admit(batch, "cid")
    assert admitted.count() == 7  # page 7 deduped pre-insert
    db.insert_df(admitted.select("metadata"), embed_field="text")
    assert db.num_rows() == 17  # 10 + changed 8,9 + new 10..14

    # replaying the whole refresh is a no-op (idempotency survives the
    # composition)
    db.insert_df(pages, embed_field="text")
    assert db.num_rows() == 17
