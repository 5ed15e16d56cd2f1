"""WARC reader (sources/warc.py): hand-assembled ISO 28500 files —
per-record gzip members like Common Crawl — through to the pages
schema, including the KG pipeline end-to-end."""

import gzip

import pytest

from ferenda_spark.sources.warc import parse_warc_bytes, read_warc


def _record(wtype, url, body: bytes, date="2024-03-01T12:00:00Z", extra=""):
    payload = body
    hdr = (
        f"WARC/1.0\r\n"
        f"WARC-Type: {wtype}\r\n"
        f"WARC-Date: {date}\r\n"
        + (f"WARC-Target-URI: {url}\r\n" if url else "")
        + extra
        + f"Content-Length: {len(payload)}\r\n\r\n"
    ).encode()
    return hdr + payload + b"\r\n\r\n"


def _http(status, body: bytes, ctype="text/html"):
    return (
        f"HTTP/1.1 {status} X\r\nContent-Type: {ctype}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body


HTML1 = b"<html><body><main><p>Hello crawl</p></main></body></html>"
HTML2 = b"<html><body>second</body></html>"


def make_warc(gz=True):
    recs = [
        _record("warcinfo", None, b"robots: classic\r\n"),
        _record("request", "http://a.org/x", b"GET /x HTTP/1.1\r\n\r\n"),
        _record("response", "http://a.org/x", _http(200, HTML1)),
        _record("response", "http://a.org/404", _http(404, b"nope")),
        _record("response", "http://b.org/y", _http(200, HTML2),
                date="2024-03-02T00:00:00Z"),
        _record("metadata", "http://a.org/x", b"fetchTime: 3\r\n"),
    ]
    if gz:
        return b"".join(gzip.compress(r) for r in recs)
    return b"".join(recs)


@pytest.mark.parametrize("gz", [True, False])
def test_parse_responses_only(gz):
    rows = parse_warc_bytes(make_warc(gz))
    assert [r[0] for r in rows] == ["http://a.org/x", "http://b.org/y"]
    assert rows[0][2] == HTML1
    assert rows[1][2] == HTML2
    assert rows[0][1].year == 2024 and rows[0][1].day == 1
    assert rows[1][1].day == 2


def test_lf_delimited_records_all_parse():
    """LF-only record separators (no CR) must not swallow records:
    the byte-wise skip consumes each lone '\\n' as one separator."""
    def lf_record(url, body):
        payload = f"HTTP/1.1 200 X\nContent-Length: {len(body)}\n\n".encode() + body
        hdr = (
            f"WARC/1.0\nWARC-Type: response\n"
            f"WARC-Date: 2024-03-01T12:00:00Z\n"
            f"WARC-Target-URI: {url}\n"
            f"Content-Length: {len(payload)}\n\n"
        ).encode()
        return hdr + payload + b"\n\n"

    lf = lf_record("http://a.org/1", HTML1) + lf_record("http://a.org/2", HTML2)
    rows = parse_warc_bytes(lf)
    assert [r[0] for r in rows] == ["http://a.org/1", "http://a.org/2"]


def test_chunked_and_gzip_bodies_decoded():
    import zlib as _z

    chunked = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
        b"19\r\n<html><body>chunk one rea\r\n"
        b"9\r\nl</body>x\r\n"
        b"0\r\n\r\n"
    )
    gz_body = gzip.compress(HTML2)
    gzipped = (
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n"
        + f"Content-Length: {len(gz_body)}\r\n\r\n".encode()
        + gz_body
    )
    co = _z.compressobj(wbits=-15)
    raw_deflate = co.compress(HTML1) + co.flush()
    deflated = (
        b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n" + raw_deflate
    )
    recs = [
        _record("response", "http://c.org/chunked", chunked),
        _record("response", "http://c.org/gz", gzipped),
        _record("response", "http://c.org/deflate", deflated),
    ]
    rows = parse_warc_bytes(b"".join(recs))
    got = {r[0]: r[2] for r in rows}
    assert got["http://c.org/chunked"] == b"<html><body>chunk one real</body>x"
    assert got["http://c.org/gz"] == HTML2
    assert got["http://c.org/deflate"] == HTML1


def test_not_warc_raises():
    with pytest.raises(ValueError):
        parse_warc_bytes(b"plain text, definitely not a crawl")
    with pytest.raises(ValueError):
        parse_warc_bytes(b"\x1f\x8bgarbage-after-magic")


def test_truncated_tail_keeps_earlier_records():
    data = make_warc(gz=False)
    # cut inside the SECOND response record's header: everything
    # before it still parses, the broken tail is dropped
    second_resp = data.find(b"WARC-Target-URI: http://b.org/y")
    cut = data[: second_resp - 20]
    rows = parse_warc_bytes(cut)
    assert [r[0] for r in rows] == ["http://a.org/x"]


def test_read_warc_to_pages(spark, tmp_path):
    p = tmp_path / "crawl"
    p.mkdir()
    (p / "part1.warc.gz").write_bytes(make_warc(True))
    (p / "part2.warc").write_bytes(make_warc(False))
    pages = read_warc(spark, str(p))
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
    rows = sorted((r["url"], bytes(r["html"])) for r in pages.collect())
    assert len(rows) == 4  # 2 responses × 2 files
    assert rows[0][1] == HTML1


def test_record_index_extents_are_exact(spark, tmp_path):
    """Every (offset, length) row reproduces its record standalone:
    slicing the file at the extent parses to exactly one record —
    for both per-member gz and plain layouts."""
    import gzip as _g

    from ferenda_spark.sources.warc import warc_record_index

    p = tmp_path / "idx"
    p.mkdir()
    (p / "a.warc.gz").write_bytes(make_warc(True))
    (p / "b.warc").write_bytes(make_warc(False))
    idx = warc_record_index(spark, str(p)).collect()
    by_file = {}
    for r in idx:
        by_file.setdefault(r["path"].rsplit("/", 1)[-1], []).append(
            (r["offset"], r["length"])
        )
    assert len(by_file["a.warc.gz"]) == 6  # one member per record
    assert len(by_file["b.warc"]) == 6
    raw_gz = (p / "a.warc.gz").read_bytes()
    for off, ln in by_file["a.warc.gz"]:
        piece = raw_gz[off : off + ln]
        assert _g.decompress(piece).startswith(b"WARC/1.0")
    # extents tile the gz file completely
    assert sum(ln for _, ln in by_file["a.warc.gz"]) == len(raw_gz)
    raw = (p / "b.warc").read_bytes()
    for off, ln in by_file["b.warc"]:
        assert raw[off : off + ln].startswith(b"WARC/1.0")


def test_gz_extents_of_a_highly_compressible_member_use_bounded_memory():
    """A member that inflates ~1000:1 (40 MB of zeros in ~40 KB) is
    indexed with exact extents, and the indexing pass never holds its
    decompressed bytes: the traced peak stays at a few read chunks."""
    import io
    import tracemalloc

    from ferenda_spark.sources.warc import _gz_member_extents

    members = [
        gzip.compress(_record("response", "http://a.org/x", _http(200, HTML1))),
        gzip.compress(
            _record("response", "http://z.org/", _http(200, bytes(40 << 20)))
        ),
        gzip.compress(_record("response", "http://b.org/y", _http(200, HTML2))),
    ]
    want, off = [], 0
    for m in members:
        want.append((off, len(m)))
        off += len(m)
    fh = io.BytesIO(b"".join(members))
    tracemalloc.start()
    try:
        got = list(_gz_member_extents(fh))
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert got == want
    assert peak < 8 << 20, f"peak {peak} bytes"


def test_split_read_equals_whole_file_read(spark, tmp_path):
    """The indexed range-reader returns row-for-row what the
    whole-file reader returns, across multiple partitions and both
    layouts (VERDICT r4 item 8)."""
    from ferenda_spark.sources.warc import read_warc, read_warc_indexed

    p = tmp_path / "split"
    p.mkdir()
    (p / "a.warc.gz").write_bytes(make_warc(True))
    (p / "b.warc").write_bytes(make_warc(False))

    def key(rows):
        return sorted(
            (r["url"], r["warc_ts"], bytes(r["html"])) for r in rows
        )

    whole = key(read_warc(spark, str(p)).collect())
    split = key(read_warc_indexed(spark, str(p), partitions=7).collect())
    assert split == whole and len(whole) == 4


def test_split_read_lf_delimited(spark, tmp_path):
    from ferenda_spark.sources.warc import read_warc_indexed

    def lf_record(url, body):
        payload = f"HTTP/1.1 200 X\nContent-Length: {len(body)}\n\n".encode() + body
        hdr = (
            f"WARC/1.0\nWARC-Type: response\n"
            f"WARC-Date: 2024-03-01T12:00:00Z\n"
            f"WARC-Target-URI: {url}\n"
            f"Content-Length: {len(payload)}\n\n"
        ).encode()
        return hdr + payload + b"\n\n"

    p = tmp_path / "lfidx"
    p.mkdir()
    (p / "c.warc").write_bytes(
        lf_record("http://a.org/1", HTML1) + lf_record("http://a.org/2", HTML2)
    )
    rows = sorted(
        r["url"]
        for r in read_warc_indexed(spark, str(p), partitions=2).collect()
    )
    assert rows == ["http://a.org/1", "http://a.org/2"]


def test_warc_feeds_the_extract_stage(spark, tmp_path):
    """End-to-end: raw Common-Crawl-style container → pages → the
    pipeline's extract stage pulls the body text (the KG tail then
    depends on the corpus's document grammar, covered by the golden
    pipeline tests over the synthetic corpus)."""
    from ferenda_spark.operators.extract import extract_docs

    p = tmp_path / "crawl2"
    p.mkdir()
    (p / "c.warc.gz").write_bytes(make_warc(True))
    pages = read_warc(spark, str(p))
    docs = {r["url"]: r for r in extract_docs(pages).collect()}
    assert "Hello crawl" in docs["http://a.org/x"]["extracted_text"]
