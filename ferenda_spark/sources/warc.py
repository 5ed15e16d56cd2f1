"""WARC reader: Common-Crawl container files → the pages table.

The pipeline's input contract is the pages table (url, warc_ts,
html, text, lang) — SURVEY scopes the crawler out, but the raw form
those pages arrive in IS the WARC file (ISO 28500; Common Crawl
ships `.warc.gz` where every record is its own gzip member).  This
module closes that last ingestion seam hermetically: a distributed
reader that turns a directory of WARC files into pages rows.

Unit of parallelism: the FILE (`spark.read.format("binaryFile")` →
one `mapInPandas` parse per file) — exactly how Common Crawl is
consumed at scale, where a crawl is ~64k files of ~1 GB and
per-file parallelism saturates any cluster.  Record walking is
streaming within a file: gzip members decompress lazily via
`zlib.decompressobj` over the member boundaries, headers parse per
record, and only `response` records with an HTTP 200 payload become
rows (request/metadata/warcinfo records are skipped, like every
Common-Crawl consumer).

Malformed records follow the codec family's contract: a corrupt
RECORD is skipped (bulk ingest must survive a damaged crawl file),
while a file that is not WARC at all raises ValueError."""

from __future__ import annotations

import zlib
from datetime import datetime, timezone
from typing import Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ferenda_spark.sources.pages import PAGES_SCHEMA

_GZ_MAGIC = b"\x1f\x8b"


def _gunzip_members(data: bytes) -> Iterator[bytes]:
    """Yield each gzip member of a multi-member stream (the
    Common-Crawl layout: one member per WARC record)."""
    pos = 0
    while pos < len(data):
        d = zlib.decompressobj(wbits=31)
        try:
            out = d.decompress(data[pos:])
        except zlib.error as e:
            raise ValueError(f"warc: corrupt gzip member: {e}") from e
        yield out
        rest = d.unused_data
        if not rest:
            return
        pos = len(data) - len(rest)


def _dechunk(body: bytes) -> bytes:
    """Undo HTTP/1.1 chunked transfer framing.  A malformed chunk
    header ends the walk with what was decoded so far (truncated
    captures are common in crawls)."""
    out = bytearray()
    pos = 0
    n = len(body)
    while pos < n:
        eol = body.find(b"\n", pos)
        if eol == -1:
            break
        size_field = body[pos:eol].strip().split(b";", 1)[0]
        try:
            size = int(size_field, 16)
        except ValueError:
            break
        if size == 0:
            break
        start = eol + 1
        out += body[start : start + size]
        pos = start + size
        # consume the CRLF / LF that terminates the chunk data
        if body[pos : pos + 2] == b"\r\n":
            pos += 2
        elif body[pos : pos + 1] == b"\n":
            pos += 1
    return bytes(out)


def _parse_http_response(payload: bytes) -> tuple[int, bytes] | None:
    """(status, body) for an HTTP response payload; None if the
    payload isn't HTTP.  Chunked transfer framing is removed and
    gzip/deflate content encodings are decompressed (both occur in
    real Common-Crawl response records)."""
    if not payload.startswith(b"HTTP/"):
        return None
    head, _, body = payload.partition(b"\r\n\r\n")
    if not _:
        head, _, body = payload.partition(b"\n\n")
    try:
        status = int(head.split(None, 2)[1])
    except (IndexError, ValueError):
        return None
    hdrs: dict[str, str] = {}
    for line in head.splitlines()[1:]:
        k, sep, v = line.decode("latin-1", "replace").partition(":")
        if sep:
            hdrs[k.strip().lower()] = v.strip().lower()
    if "chunked" in hdrs.get("transfer-encoding", ""):
        body = _dechunk(body)
    enc = hdrs.get("content-encoding", "")
    if enc in ("gzip", "x-gzip", "deflate"):
        try:
            body = zlib.decompressobj(
                wbits=47 if enc != "deflate" else 15
            ).decompress(body)
        except zlib.error:
            if enc == "deflate":
                # raw deflate without the zlib wrapper also occurs
                try:
                    body = zlib.decompressobj(wbits=-15).decompress(body)
                except zlib.error:
                    return None
            else:
                return None
    return status, body


def _iter_records(stream: bytes) -> Iterator[tuple[dict, bytes]]:
    """Walk WARC records in an uncompressed stream: (headers dict
    lower-cased, payload bytes).  Stops at the first structurally
    broken record (the remainder of a truncated file is
    unrecoverable — earlier records are still yielded)."""
    pos = 0
    n = len(stream)
    while pos < n:
        # skip inter-record blank lines byte-wise: a CRLF pair is one
        # separator, a lone LF is one separator (LF-delimited WARCs)
        while pos < n:
            if stream[pos : pos + 2] == b"\r\n":
                pos += 2
            elif stream[pos : pos + 1] == b"\n":
                pos += 1
            else:
                break
        if pos >= n:
            return
        if not stream.startswith(b"WARC/", pos):
            return
        hdr_end = stream.find(b"\r\n\r\n", pos)
        sep = 4
        if hdr_end == -1:
            hdr_end = stream.find(b"\n\n", pos)
            sep = 2
        if hdr_end == -1:
            return
        headers: dict[str, str] = {}
        for line in stream[pos:hdr_end].splitlines()[1:]:
            k, _, v = line.decode("latin-1").partition(":")
            if _:
                headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            return
        body_start = hdr_end + sep
        yield headers, stream[body_start : body_start + length]
        pos = body_start + length


def parse_warc_bytes(data: bytes) -> list[tuple]:
    """One WARC file (gz or plain) -> pages rows.  Responses only,
    HTTP 200 only; warc_ts from WARC-Date; text/lang left NULL for
    the extract stage to fill (operators/extract.py)."""
    if data.startswith(_GZ_MAGIC):
        stream = b"".join(_gunzip_members(data))
    elif data.startswith(b"WARC/"):
        stream = data
    else:
        raise ValueError("warc: neither gzip nor WARC/1.x")
    return _rows_from_records(_iter_records(stream))


def _rows_from_records(records) -> list[tuple]:
    """(headers, payload) pairs -> pages rows: responses only, HTTP
    200 only; warc_ts from WARC-Date."""
    rows: list[tuple] = []
    for headers, payload in records:
        if headers.get("warc-type") != "response":
            continue
        url = headers.get("warc-target-uri")
        if not url:
            continue
        http = _parse_http_response(payload)
        if http is None or http[0] != 200:
            continue
        ts = None
        raw_ts = headers.get("warc-date", "")
        try:
            ts = datetime.fromisoformat(raw_ts.replace("Z", "+00:00")).astimezone(
                timezone.utc
            ).replace(tzinfo=None)
        except ValueError:
            pass
        rows.append((url, ts, http[1], None, None))
    return rows


def read_warc(spark, path: str) -> DataFrame:
    """Directory/glob of .warc / .warc.gz files -> pages-schema
    DataFrame (one streaming parse per file inside mapInPandas;
    per-file parallelism, no shuffle).

    Limits, and when to use the indexed reader instead: the
    binaryFile source materializes each file as ONE row and caps it
    at 2 GB (Spark's byte-array limit), and a file is one task.
    Common Crawl's ~1 GB segment layout fits both constraints; for
    larger or non-CC single-file archives use warc_record_index +
    read_warc_indexed below, which stream record extents in one pass
    and then range-read records across many tasks."""
    import pandas as pd

    src = spark.read.format("binaryFile").load(path).select("content")

    def run(batches: Iterable["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows: list[tuple] = []
            for blob in pdf["content"]:
                if blob is None:
                    continue
                rows.extend(parse_warc_bytes(bytes(blob)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in PAGES_SCHEMA.fields]
            )

    return src.mapInPandas(run, PAGES_SCHEMA)


# ----------------------------------------------- record-offset index

WARC_INDEX_SCHEMA = "path string, offset long, length long"


def _local_path(uri: str) -> str:
    """Spark file URI -> OS path.  The range reads below use plain
    file access, which covers local disks and network mounts; an
    object-store deployment swaps this + open() for its ranged-GET
    client — the index format (path, offset, length) is exactly a
    byte-range request."""
    if uri.startswith("file:"):
        from urllib.parse import unquote, urlparse

        return unquote(urlparse(uri).path)
    return uri


def _gz_member_extents(fh) -> Iterator[tuple[int, int]]:
    """(offset, length) of every gzip member in an open file,
    streaming in bounded chunks — constant memory however large the
    archive (the indexing pass never holds the file) and however far
    a member expands: decompressed output is capped at one chunk per
    step and dropped, so a ~1000:1 member costs no more than any
    other."""
    chunk_size = 1 << 20
    file_pos = 0
    member_start = 0
    d = zlib.decompressobj(wbits=31)
    pending = b""
    while True:
        if not pending:
            pending = fh.read(chunk_size)
            if not pending:
                return
            file_pos += len(pending)
        try:
            # a full chunk of output may leave more buffered in zlib,
            # even with no input left: drain until it asks for input
            out = d.decompress(pending, chunk_size)
            while not d.eof and (d.unconsumed_tail or len(out) == chunk_size):
                out = d.decompress(d.unconsumed_tail, chunk_size)
        except zlib.error as e:
            raise ValueError(f"warc: corrupt gzip member: {e}") from e
        if d.eof:
            unused = d.unused_data
            member_end = file_pos - len(unused)
            yield member_start, member_end - member_start
            member_start = member_end
            pending = unused
            d = zlib.decompressobj(wbits=31)
        else:
            pending = b""
    # a trailing partial member (truncated file) yields nothing


def _plain_record_extents(fh) -> Iterator[tuple[int, int]]:
    """(offset, length) of every record in an uncompressed WARC,
    reading headers in bounded chunks and SEEKING over payloads —
    the pass touches header bytes only."""
    chunk_size = 1 << 16
    pos = 0
    buf = b""
    buf_at = 0  # absolute offset of buf[0]

    def refill() -> bool:
        nonlocal buf
        fh.seek(buf_at + len(buf))
        more = fh.read(chunk_size)
        buf += more
        return bool(more)

    while True:
        # skip inter-record separators byte-wise (CRLF pair or lone
        # LF — same contract as _iter_records)
        while True:
            rel = pos - buf_at
            if len(buf) - rel < 2 and not refill() and len(buf) - rel <= 0:
                return
            window = buf[rel : rel + 2]
            if window[:2] == b"\r\n":
                pos += 2
            elif window[:1] == b"\n":
                pos += 1
            else:
                break
        rel = pos - buf_at
        # refill until the record's full header block is buffered
        while True:
            cr = buf.find(b"\r\n\r\n", rel)
            lf = buf.find(b"\n\n", rel)
            if cr != -1 or lf != -1:
                break
            if not refill():
                return  # truncated/blank tail
        if cr != -1 and (lf == -1 or cr < lf):
            hdr_end, sep = cr, 4
        else:
            hdr_end, sep = lf, 2
        block = buf[rel:hdr_end]
        if not block.startswith(b"WARC/"):
            return
        length = None
        for line in block.splitlines()[1:]:
            k, colon, v = line.decode("latin-1").partition(":")
            if colon and k.strip().lower() == "content-length":
                try:
                    length = int(v.strip())
                except ValueError:
                    return
        if length is None:
            return
        rec_end = buf_at + hdr_end + sep + length
        yield pos, rec_end - pos
        pos = rec_end
        # drop consumed bytes; position the buffer at the next record
        buf = b""
        buf_at = pos


def warc_record_index(spark, path: str) -> DataFrame:
    """One streaming pass per file -> (path, offset, length) of every
    WARC record: the split map that lets a single huge archive (or a
    non-Common-Crawl layout past binaryFile's 2 GB row cap) be read
    record-parallel across tasks.  gz offsets are compressed member
    extents (each CC record is its own gzip member — a range read
    decompresses standalone); plain offsets are record extents.  The
    pass is bounded-memory: gz streams through a decompressor, plain
    seeks over payloads touching only headers."""
    import pandas as pd

    files = spark.read.format("binaryFile").load(path).select("path")

    def run(batches: Iterable["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows: list[tuple] = []
            for uri in pdf["path"]:
                lp = _local_path(uri)
                with open(lp, "rb") as fh:
                    head = fh.read(2)
                    fh.seek(0)
                    if head == _GZ_MAGIC:
                        ext = _gz_member_extents(fh)
                    elif head == b"WA":
                        ext = _plain_record_extents(fh)
                    else:
                        raise ValueError("warc: neither gzip nor WARC/1.x")
                    rows.extend((uri, off, ln) for off, ln in ext)
            yield pd.DataFrame(rows, columns=["path", "offset", "length"])

    return files.mapInPandas(run, WARC_INDEX_SCHEMA)


def read_warc_indexed(
    spark, path: str, partitions: int | None = None
) -> DataFrame:
    """Split-read of WARC archives via the record-offset index: the
    index rows repartition across `partitions` tasks (default: the
    session parallelism), each task range-reads only its records —
    so ONE 100 GB archive parallelizes like a directory of small
    ones, and no task ever materializes a whole file.  Row-for-row
    equal to read_warc on the same input (tests/test_warc.py)."""
    import pandas as pd

    idx = warc_record_index(spark, path)
    idx = idx.repartition(
        partitions or spark.sparkContext.defaultParallelism
    )

    def run(batches: Iterable["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows: list[tuple] = []
            # group by file so a task opens each file once
            for uri, grp in pdf.groupby("path", sort=False):
                with open(_local_path(uri), "rb") as fh:
                    for off, ln in zip(grp["offset"], grp["length"]):
                        fh.seek(int(off))
                        data = fh.read(int(ln))
                        if data[:2] == _GZ_MAGIC:
                            data = next(_gunzip_members(data), b"")
                        rows.extend(
                            _rows_from_records(_iter_records(data))
                        )
            yield pd.DataFrame(
                rows, columns=[f.name for f in PAGES_SCHEMA.fields]
            )

    return idx.mapInPandas(run, PAGES_SCHEMA)
