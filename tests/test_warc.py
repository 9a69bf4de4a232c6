"""WARC source (sources/warc.py): record walking by Content-Length (magic
poison in payloads), multi-member gzip, HTTP unwrap, type-filter pushdown,
error modes, and the distributed reader end-to-end."""

from __future__ import annotations

import gzip
import os

import pytest

from modal_vector_db_spark.sources.warc import (
    _decompress,
    build_record,
    iter_warc_records,
    read_warc,
)


def _http(body: bytes, status: int = 200, ctype: bytes = b"text/html") -> bytes:
    return (
        b"HTTP/1.1 %d OK\r\nContent-Type: %s\r\nContent-Length: %d\r\n\r\n"
        % (status, ctype, len(body))
        + body
    )


def test_record_roundtrip():
    rec = build_record(
        "response",
        _http(b"<p>hi</p>"),
        target_uri="http://x.com/a",
        record_id="<urn:uuid:1>",
        content_type="application/http; msgtype=response",
    )
    rows = list(iter_warc_records(rec))
    assert len(rows) == 1
    r = rows[0]
    assert r["warc_type"] == "response"
    assert r["target_uri"] == "http://x.com/a"
    assert r["record_id"] == "<urn:uuid:1>"
    assert r["http_status"] == 200
    assert r["http_content_type"] == "text/html"
    assert r["payload"] == b"<p>hi</p>"
    assert r["content_length"] == len(_http(b"<p>hi</p>"))


def test_payload_magic_poison():
    """A payload containing the record magic must not desync the walker —
    boundaries come from Content-Length arithmetic only."""
    poison = b"WARC/1.0\r\nWARC-Type: fake\r\nContent-Length: 999999\r\n\r\n"
    recs = build_record("resource", poison, target_uri="http://p.com") + build_record(
        "resource", b"second", target_uri="http://q.com"
    )
    rows = list(iter_warc_records(recs))
    assert [r["target_uri"] for r in rows] == ["http://p.com", "http://q.com"]
    assert rows[0]["payload"] == poison


def test_types_filter_skips_other_records():
    recs = (
        build_record("warcinfo", b"software: x\r\n")
        + build_record("request", _http(b""), target_uri="http://x.com")
        + build_record("response", _http(b"body"), target_uri="http://x.com",
                       content_type="application/http; msgtype=response")
    )
    rows = list(iter_warc_records(recs, types=("response",)))
    assert len(rows) == 1 and rows[0]["payload"] == b"body"
    # no filter -> all three, non-HTTP payloads passed through raw
    rows = list(iter_warc_records(recs))
    assert [r["warc_type"] for r in rows] == ["warcinfo", "request", "response"]
    assert rows[0]["http_status"] is None


def test_non_http_response_payload_surfaces_raw():
    """A response record whose block is not an HTTP message (truncated
    capture) is surfaced raw, not dropped."""
    rec = build_record(
        "response", b"not-http", target_uri="http://x.com",
        content_type="application/http; msgtype=response",
    )
    (r,) = iter_warc_records(rec)
    assert r["http_status"] is None and r["payload"] == b"not-http"


def test_truncated_record_fail_and_skip():
    good = build_record("resource", b"abc", target_uri="http://ok.com")
    torn = build_record("resource", b"full-payload")[:-12]  # overruns file end
    data = good + torn
    with pytest.raises(ValueError, match="truncated"):
        list(iter_warc_records(data, "f.warc"))
    rows = list(iter_warc_records(data, "f.warc", on_error="skip"))
    assert len(rows) == 1 and rows[0]["payload"] == b"abc"


def test_malformed_header_modes():
    with pytest.raises(ValueError, match="version line"):
        list(iter_warc_records(b"NOT-WARC\r\n\r\n"))
    assert list(iter_warc_records(b"NOT-WARC\r\n\r\n", on_error="skip")) == []
    no_len = b"WARC/1.0\r\nWARC-Type: resource\r\n\r\n"
    with pytest.raises(ValueError, match="Content-Length"):
        list(iter_warc_records(no_len))
    with pytest.raises(ValueError, match="on_error"):
        list(iter_warc_records(b"", on_error="explode"))


def test_multi_member_gzip_decompress():
    a, b = build_record("resource", b"A" * 100), build_record("resource", b"B")
    blob = gzip.compress(a, mtime=0) + gzip.compress(b, mtime=0)  # 2 members
    assert _decompress(blob) == a + b
    assert _decompress(a) == a  # plain passthrough
    rows = list(iter_warc_records(_decompress(blob)))
    assert [r["payload"][:1] for r in rows] == [b"A", b"B"]


def test_read_warc_distributed(spark, tmp_path):
    """End-to-end through binaryFile + mapInPandas: mixed plain/gz shards,
    type pushdown, field fidelity."""
    recs = []
    for i in range(6):
        recs.append(
            build_record(
                "response",
                _http(b"doc-%d" % i),
                target_uri=f"http://x.com/{i}",
                content_type="application/http; msgtype=response",
            )
        )
    with open(os.path.join(tmp_path, "a.warc"), "wb") as f:
        f.write(b"".join(recs[:3]))
    with open(os.path.join(tmp_path, "b.warc.gz"), "wb") as f:
        f.write(b"".join(gzip.compress(r, mtime=0) for r in recs[3:]))
    with open(os.path.join(tmp_path, "ignored.txt"), "wb") as f:
        f.write(b"not a warc")  # pathGlobFilter must prune it
    df = read_warc(spark, str(tmp_path), types=("response",))
    rows = {r["target_uri"]: r for r in df.collect()}
    assert len(rows) == 6
    for i in range(6):
        r = rows[f"http://x.com/{i}"]
        assert bytes(r["payload"]) == b"doc-%d" % i
        assert r["http_status"] == 200
        assert r["warc_type"] == "response"
    with pytest.raises(ValueError, match="on_error"):
        read_warc(spark, str(tmp_path), on_error="nope")


def _mixed_crawl(tmp_path, n=10):
    """n response records across one plain + one per-record-gzip file."""
    recs = [
        build_record(
            "response",
            _http(b"payload-%d" % i),
            target_uri=f"http://x.com/{i}",
            record_id=f"<urn:uuid:{i}>",
            content_type="application/http; msgtype=response",
        )
        for i in range(n)
    ]
    # interleave a request record the index must still span correctly
    recs.insert(3, build_record("request", b"GET / HTTP/1.1\r\n\r\n", target_uri="http://x.com/r"))
    half = len(recs) // 2
    with open(os.path.join(tmp_path, "a.warc"), "wb") as f:
        f.write(b"".join(recs[:half]))
    with open(os.path.join(tmp_path, "b.warc.gz"), "wb") as f:
        f.write(b"".join(gzip.compress(r, mtime=0) for r in recs[half:]))
    return len(recs)


def test_build_cdx_spans_and_fetch_record(spark, tmp_path):
    from modal_vector_db_spark.sources.warc import build_cdx, fetch_records

    total = _mixed_crawl(tmp_path)
    cdx_df = build_cdx(spark, str(tmp_path))
    cdx = cdx_df.collect()
    assert len(cdx) == total
    # every indexed span fetches back the exact record, both file kinds
    fetched = {r["target_uri"]: r for r in fetch_records(cdx_df).collect()}
    assert len(fetched) == total
    for r in cdx:
        rec = fetched[r["target_uri"]]
        assert rec["record_id"] == r["record_id"]
        assert rec["content_length"] == r["content_length"]
        if rec["warc_type"] == "response":
            assert bytes(rec["payload"]).startswith(b"payload-")


def test_fetch_records_equals_filtered_full_scan(spark, tmp_path):
    """The record-level read path is byte-identical to the full scan
    filtered to the same records."""
    from modal_vector_db_spark.sources.warc import build_cdx, fetch_records

    _mixed_crawl(tmp_path)
    cdx = build_cdx(spark, str(tmp_path)).filter("warc_type = 'response'")
    # prune to a handful of URLs — the 'k URLs in a 100 TB crawl' shape
    wanted = cdx.filter("target_uri in ('http://x.com/1','http://x.com/7','http://x.com/9')")
    got = {r["target_uri"]: r for r in fetch_records(wanted).collect()}
    full = {
        r["target_uri"]: r
        for r in read_warc(spark, str(tmp_path), types=("response",)).collect()
    }
    assert set(got) == {"http://x.com/1", "http://x.com/7", "http://x.com/9"}
    for uri, r in got.items():
        f = full[uri]
        assert bytes(r["payload"]) == bytes(f["payload"])
        assert r["http_status"] == f["http_status"]
        assert r["record_id"] == f["record_id"]


def test_cdx_multi_record_member_rec_index(spark, tmp_path):
    """A gzip member holding TWO records indexes as rec_index 0 and 1,
    both fetchable from the same span."""
    from modal_vector_db_spark.sources.warc import build_cdx, fetch_records

    a = build_record("resource", b"first", target_uri="http://m.com/0")
    b = build_record("resource", b"second", target_uri="http://m.com/1")
    with open(os.path.join(tmp_path, "m.warc.gz"), "wb") as f:
        f.write(gzip.compress(a + b, mtime=0))
    cdx = build_cdx(spark, str(tmp_path))
    rows = sorted(cdx.collect(), key=lambda r: r["rec_index"])
    assert [r["rec_index"] for r in rows] == [0, 1]
    assert rows[0]["offset"] == rows[1]["offset"]  # same member span
    (second,) = fetch_records(cdx.filter("rec_index = 1")).collect()
    assert bytes(second["payload"]) == b"second"


def test_cdx_truncated_member_modes(spark, tmp_path):
    import pytest as _pytest

    from modal_vector_db_spark.sources.warc import _iter_member_spans

    blob = gzip.compress(build_record("resource", b"x"), mtime=0)
    with _pytest.raises(ValueError, match="truncated gzip member"):
        list(_iter_member_spans(blob[:-4], "t.warc.gz"))


def _http_hdrs(body: bytes, extra: bytes, ctype: bytes = b"text/html") -> bytes:
    # `extra` lines are each "\r\n"-terminated; the final "\r\n" is the
    # header/body blank line
    return b"HTTP/1.1 200 OK\r\nContent-Type: %s\r\n%s\r\n" % (ctype, extra) + body


def test_http_chunked_and_content_encoding():
    """Raw crawl captures carry the server's wire layers; the unwrap must
    undo chunked framing, then Content-Encoding, permissively."""
    html = b"<p>chunked page</p>"
    chunked = b"a\r\n" + html[:10] + b"\r\n9\r\n" + html[10:] + b"\r\n0\r\n\r\n"
    rec = build_record(
        "response",
        _http_hdrs(chunked, b"Transfer-Encoding: chunked\r\n"),
        target_uri="http://c.com",
        content_type="application/http; msgtype=response",
    )
    (r,) = iter_warc_records(rec)
    assert r["payload"] == html
    # gzip Content-Encoding
    rec = build_record(
        "response",
        _http_hdrs(gzip.compress(html, mtime=0), b"Content-Encoding: gzip\r\n"),
        target_uri="http://g.com",
        content_type="application/http; msgtype=response",
    )
    (r,) = iter_warc_records(rec)
    assert r["payload"] == html
    # chunked OVER gzip (wire order: chunked undone first)
    gz = gzip.compress(html, mtime=0)
    chunked_gz = b"%x\r\n%s\r\n0\r\n\r\n" % (len(gz), gz)
    rec = build_record(
        "response",
        _http_hdrs(chunked_gz, b"Transfer-Encoding: chunked\r\nContent-Encoding: gzip\r\n"),
        target_uri="http://cg.com",
        content_type="application/http; msgtype=response",
    )
    (r,) = iter_warc_records(rec)
    assert r["payload"] == html
    # deflate (zlib-wrapped AND raw)
    import zlib

    raw_deflater = zlib.compressobj(wbits=-15)
    raw_deflate = raw_deflater.compress(html) + raw_deflater.flush()
    for blob in (zlib.compress(html), raw_deflate):
        rec = build_record(
            "response",
            _http_hdrs(blob, b"Content-Encoding: deflate\r\n"),
            target_uri="http://d.com",
            content_type="application/http; msgtype=response",
        )
        (r,) = iter_warc_records(rec)
        assert r["payload"] == html


def test_http_decode_permissive_fallbacks():
    """Malformed layers keep the bytes as captured — never a crash."""
    bad_chunked = b"ZZ\r\nnot hex\r\n"
    rec = build_record(
        "response",
        _http_hdrs(bad_chunked, b"Transfer-Encoding: chunked\r\n"),
        target_uri="http://bad.com",
        content_type="application/http; msgtype=response",
    )
    (r,) = iter_warc_records(rec)
    assert r["payload"] == bad_chunked
    # declared gzip but not gzip
    rec = build_record(
        "response",
        _http_hdrs(b"plainly not gzip", b"Content-Encoding: gzip\r\n"),
        target_uri="http://ng.com",
        content_type="application/http; msgtype=response",
    )
    (r,) = iter_warc_records(rec)
    assert r["payload"] == b"plainly not gzip"
    # brotli (no stdlib codec): left as captured
    rec = build_record(
        "response",
        _http_hdrs(b"\x0bbr-bytes", b"Content-Encoding: br\r\n"),
        target_uri="http://br.com",
        content_type="application/http; msgtype=response",
    )
    (r,) = iter_warc_records(rec)
    assert r["payload"] == b"\x0bbr-bytes"


def test_http_charset_transcode():
    """text/* with a declared non-UTF-8 charset arrives as UTF-8 bytes;
    binary types and unknown codecs are untouched."""
    latin = "caf\xe9 r\xe9sum\xe9".encode("latin-1")
    rec = build_record(
        "response",
        _http_hdrs(latin, b"", ctype=b"text/html; charset=ISO-8859-1"),
        target_uri="http://l.com",
        content_type="application/http; msgtype=response",
    )
    (r,) = iter_warc_records(rec)
    assert r["payload"].decode("utf-8") == "caf\xe9 r\xe9sum\xe9"
    # explicit utf-8: bytes pass through
    utf = "d\xe9j\xe0".encode("utf-8")
    rec = build_record(
        "response",
        _http_hdrs(utf, b"", ctype=b"text/html; charset=utf-8"),
        target_uri="http://u.com",
        content_type="application/http; msgtype=response",
    )
    (r,) = iter_warc_records(rec)
    assert r["payload"] == utf
    # unknown codec name: untouched
    rec = build_record(
        "response",
        _http_hdrs(latin, b"", ctype=b"text/html; charset=x-no-such-codec"),
        target_uri="http://x.com",
        content_type="application/http; msgtype=response",
    )
    (r,) = iter_warc_records(rec)
    assert r["payload"] == latin
    # binary content type: never transcoded
    rec = build_record(
        "response",
        _http_hdrs(latin, b"", ctype=b"application/octet-stream; charset=ISO-8859-1"),
        target_uri="http://b.com",
        content_type="application/http; msgtype=response",
    )
    (r,) = iter_warc_records(rec)
    assert r["payload"] == latin


def test_chunked_negative_size_no_hang():
    """int('-4', 16) parses; accepting it would loop forever — the walker
    must fall back to the raw body instead (review finding)."""
    body = b"-4\r\nXXXX\r\n0\r\n\r\n"
    rec = build_record(
        "response",
        _http_hdrs(body, b"Transfer-Encoding: chunked\r\n"),
        target_uri="http://neg.com",
        content_type="application/http; msgtype=response",
    )
    (r,) = iter_warc_records(rec)
    assert r["payload"] == body


def test_truncated_gzip_body_kept_raw():
    """A truncated gzip Content-Encoding body raises EOFError (not an
    OSError subclass) — it must stay permissive, not fail the task."""
    blob = gzip.compress(b"<p>cut</p>", mtime=0)[:-5]
    rec = build_record(
        "response",
        _http_hdrs(blob, b"Content-Encoding: gzip\r\n"),
        target_uri="http://t.com",
        content_type="application/http; msgtype=response",
    )
    (r,) = iter_warc_records(rec)
    assert r["payload"] == blob


def test_torn_gz_file_honors_on_error(spark, tmp_path):
    """File-level decompression failures obey the same skip/fail contract
    as the record walk — a fetcher's torn .warc.gz must not fail a stage
    under 'skip'."""
    good = build_record("resource", b"ok", target_uri="http://ok.com")
    with open(os.path.join(tmp_path, "good.warc"), "wb") as f:
        f.write(good)
    with open(os.path.join(tmp_path, "torn.warc.gz"), "wb") as f:
        f.write(gzip.compress(good, mtime=0)[:-6])  # torn mid-member
    rows = read_warc(spark, str(tmp_path), on_error="skip").collect()
    assert [r["target_uri"] for r in rows] == ["http://ok.com"]
    with pytest.raises(Exception, match="undecodable gzip"):
        read_warc(spark, str(tmp_path), on_error="fail").collect()


def test_gz_member_recovery_skips_only_bad_member(spark, tmp_path):
    """Review finding: ``on_error='skip'`` abandoned a whole file at the
    first malformed record.  Multi-member ``.warc.gz`` now recovers at
    the next gzip member boundary: only the bad member's records are
    lost, every later member still lands."""
    gz_dir = tmp_path / "gz"
    gz_dir.mkdir()
    recs = [
        build_record("resource", b"ok-%d" % i, target_uri=f"http://m.com/{i}")
        for i in range(5)
    ]
    members = [gzip.compress(r, mtime=0) for r in recs]
    # member 2: perfectly valid gzip, garbage WARC framing inside
    members[2] = gzip.compress(b"GARBAGE-NOT-WARC\r\n\r\n", mtime=0)
    (gz_dir / "a.warc.gz").write_bytes(b"".join(members))
    out = read_warc(spark, str(gz_dir), on_error="skip").collect()
    assert sorted(r["target_uri"] for r in out) == [
        f"http://m.com/{i}" for i in (0, 1, 3, 4)
    ]
    with pytest.raises(Exception, match="WARC"):
        read_warc(spark, str(gz_dir), on_error="fail").collect()

    # plain .warc has NO safe in-band resync (payload may contain WARC/
    # magic — module invariant): skip still stops at the bad record,
    # keeping the prefix
    plain_dir = tmp_path / "plain"
    plain_dir.mkdir()
    (plain_dir / "b.warc").write_bytes(recs[0] + b"GARBAGE" + recs[1])
    out = read_warc(spark, str(plain_dir), on_error="skip").collect()
    assert [r["target_uri"] for r in out] == ["http://m.com/0"]


def test_gz_corrupt_member_header_skips_tail(spark, tmp_path):
    """A CORRUPT (not truncated) gzip member raises zlib.error, not
    ValueError — the member-recovery skip path must absorb it too,
    keeping everything before the corruption (review finding)."""
    recs = [
        build_record("resource", b"m-%d" % i, target_uri=f"http://z.com/{i}")
        for i in range(4)
    ]
    members = [gzip.compress(r, mtime=0) for r in recs]
    # corrupt member 2's DEFLATE body while keeping the gzip magic, so
    # decompressobj raises zlib.error mid-stream
    bad = bytearray(members[2])
    for i in range(12, min(30, len(bad))):
        bad[i] ^= 0xFF
    members[2] = bytes(bad)
    (tmp_path / "c.warc.gz").write_bytes(b"".join(members))
    out = read_warc(spark, str(tmp_path), on_error="skip").collect()
    assert sorted(r["target_uri"] for r in out) == [
        "http://z.com/0", "http://z.com/1"
    ]
    with pytest.raises(Exception):
        read_warc(spark, str(tmp_path), on_error="fail").collect()


def test_bgzf_style_members_fall_back_to_whole_stream(spark, tmp_path):
    """Review finding: block-compressed ``.warc.gz`` (bgzip/BGZF — gzip
    members are fixed-size blocks of ONE continuous stream, records span
    members) must NOT take the member-wise recovery walk under
    ``on_error='skip'``: every member after the first starts mid-record
    and would be silently dropped.  The convention probe (first member
    parses cleanly at a record boundary) routes such files to whole-stream
    decompression — 100% of records land, same as ``on_error='fail'``."""
    recs = [
        build_record("resource", b"blk-%d" % i, target_uri=f"http://b.com/{i}")
        for i in range(6)
    ]
    stream = b"".join(recs)
    # bgzip shape: chop the PLAINTEXT into arbitrary 100-byte blocks, one
    # gzip member per block — member boundaries land mid-record
    blocks = [stream[i : i + 100] for i in range(0, len(stream), 100)]
    assert len(blocks) > 3  # the regression needs records spanning members
    (tmp_path / "bgzf.warc.gz").write_bytes(
        b"".join(gzip.compress(b, mtime=0) for b in blocks)
    )
    for mode in ("skip", "fail"):
        out = read_warc(spark, str(tmp_path), on_error=mode).collect()
        assert sorted(r["target_uri"] for r in out) == [
            f"http://b.com/{i}" for i in range(6)
        ], mode


def test_gz_malformed_first_member_still_recovers_later_members(spark, tmp_path):
    """Review finding: the convention gate must not route a
    record-per-member file with a malformed FIRST record to the
    whole-stream path (which would drop everything after it).  The
    convention is established by the WARC/ magic at member starts, so a
    truncated first record loses only its own member's tail."""
    recs = [
        build_record("resource", b"f-%d" % i, target_uri=f"http://f.com/{i}")
        for i in range(4)
    ]
    members = [gzip.compress(r, mtime=0) for r in recs]
    # member 0: valid gzip, WARC/ magic intact, record truncated mid-payload
    members[0] = gzip.compress(recs[0][:-10], mtime=0)
    (tmp_path / "d.warc.gz").write_bytes(b"".join(members))
    out = read_warc(spark, str(tmp_path), on_error="skip").collect()
    assert sorted(r["target_uri"] for r in out) == [
        f"http://f.com/{i}" for i in (1, 2, 3)
    ]
