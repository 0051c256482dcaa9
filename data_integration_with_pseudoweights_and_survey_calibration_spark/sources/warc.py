"""WARC (Web ARChive, ISO 28500) ingestion — the Common Crawl input
format, which is where a real 100 TB text-curation run starts.

Shape: one WARC file = a concatenation of records, each a
``WARC/1.x`` header block (CRLF-terminated lines, ``Content-Length``
gives the payload size) followed by the payload and a blank-line
separator.  Crawl archives ship as ``.warc.gz`` with ONE GZIP MEMBER
PER RECORD (the spec's recommendation) so readers can split without
decompressing the whole file; plain ``.warc`` also occurs.

Spark mapping: ``spark.read.format("binaryFile")`` yields one
(path, bytes) row per file; an Arrow-batched ``mapInPandas`` parses
records with a pure-stdlib splitter (``zlib`` handles the
concatenated gzip members via ``decompressobj().unused_data``).  Whole
files ride single rows, so the task memory bound is the largest WARC
file (Common Crawl caps segments at ~1 GB — set executor memory and
``spark.sql.files.maxPartitionBytes`` accordingly); parallelism is
per-file, which at 100 TB is tens of thousands of files.  Nothing is
collected; downstream is the ordinary documents pipeline
(quarantine -> scrub -> dedup).

No DuckDB oracle exists for binary WARC, so this source is
tests-gated (synthetic archives, plain and gzip, golden parses) like
the quarantine readers' streaming twin.
"""

from __future__ import annotations

import re
import zlib
from typing import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession

#: output schema of :func:`read_warc`
WARC_SCHEMA = (
    "path string, record_id string, warc_type string, target_uri string, "
    "warc_date string, content_type string, content_length long, "
    "content binary"
)

_HDR_RE = re.compile(rb"^([A-Za-z0-9_-]+):[ \t]*(.*?)\r?$")


def _dechunk(body: bytes) -> bytes | None:
    """Undo ``Transfer-Encoding: chunked`` (RFC 9112 §7.1): hex size
    line (chunk extensions after ``;`` ignored), data, CRLF, …,
    ``0``-size terminator (trailer section ignored).  ``None`` on a
    malformed or truncated chunk stream — callers skip the record
    rather than emit garbage."""
    out: list[bytes] = []
    pos = 0
    while True:
        # the size line ends at the EARLIEST newline (an optional \r
        # stripped) — searching for \r\n across the whole remaining
        # body first would land inside LF-framed chunk DATA that
        # happens to contain a CRLF and reject a valid stream
        nl = body.find(b"\n", pos)
        if nl < 0:
            return None
        end = nl
        if end > pos and body[end - 1 : end] == b"\r":
            end -= 1
        size_tok = body[pos:end].split(b";", 1)[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError:
            return None
        pos = nl + 1
        if size == 0:
            return b"".join(out)
        if len(body) < pos + size:
            return None  # truncated capture
        out.append(body[pos : pos + size])
        pos += size
        if body[pos : pos + 2] == b"\r\n":
            pos += 2
        elif body[pos : pos + 1] == b"\n":
            pos += 1
        else:
            # RFC 9112 requires a CRLF after the chunk data; anything
            # else (including a truncated stream) is malformed —
            # falling through could mis-frame the next bytes as a hex
            # size line and silently emit garbage
            return None


def http_response_parts(
    raw: bytes,
) -> tuple[int | None, dict[str, str], bytes | None]:
    """Split one CAPTURED HTTP response (a WARC ``response`` payload)
    into ``(status, headers, body)``, undoing the transfer/content
    encodings real crawls preserve verbatim: Common Crawl stores the
    wire bytes, so robots.txt and page bodies are routinely
    ``Transfer-Encoding: chunked`` and/or ``Content-Encoding: gzip``
    — naive head/body splitting pollutes the text with chunk-size
    lines or mojibake.

    - ``status`` is the integer from the status line (``None`` when
      the payload does not start with an HTTP status line);
    - ``headers`` is a lowercase-keyed dict of the header fields;
    - ``body`` is the DECODED payload: dechunked per RFC 9112, then
      gunzipped/inflated per ``Content-Encoding`` (gzip / x-gzip /
      deflate, both zlib-wrapped and raw).  ``None`` when the
      encoding is unsupported or the stream is corrupt/truncated —
      callers skip such records instead of emitting garbage.

    Tolerates LF-only servers (header terminator ``\\n\\n``).  Pure
    stdlib; used by :func:`pages_from_warc`-style extraction and
    ``operators/robots.robots_from_warc``."""
    head, sep, body = raw.partition(b"\r\n\r\n")
    if not sep:
        head, sep, body = raw.partition(b"\n\n")
        if not sep:
            head, body = raw, b""
    lines = head.replace(b"\r\n", b"\n").split(b"\n")
    status: int | None = None
    first = lines[0].split()
    if len(first) >= 2 and first[0][:5].upper() == b"HTTP/":
        try:
            status = int(first[1])
        except ValueError:
            status = None
    headers: dict[str, str] = {}
    for ln in lines[1:]:
        k, colon, v = ln.partition(b":")
        if colon:
            key = k.strip().decode("latin-1").lower()
            val = v.strip().decode("latin-1")
            # repeated field lines are a comma list (RFC 9110 §5.3) —
            # last-wins would hide 'Transfer-Encoding: gzip' +
            # 'Transfer-Encoding: chunked' split across two lines and
            # emit still-transfer-coded bytes as the body
            if key in headers and val:
                headers[key] = headers[key] + ", " + val
            else:
                headers[key] = val
    te = headers.get("transfer-encoding", "identity").strip().lower()
    if te == "chunked":
        body = _dechunk(body)
        if body is None:
            return status, headers, None
    elif te not in ("identity", ""):
        # multi-coding ("gzip, chunked") or unknown TE: dechunking
        # alone would leave transfer-coded bytes — skip, never garble
        return status, headers, None
    ce = headers.get("content-encoding", "identity").lower()
    if ce in ("gzip", "x-gzip"):
        try:
            body = zlib.decompress(body, 16 + zlib.MAX_WBITS)
        except zlib.error:
            return status, headers, None
    elif ce == "deflate":
        try:
            body = zlib.decompress(body)
        except zlib.error:
            try:
                body = zlib.decompress(body, -zlib.MAX_WBITS)
            except zlib.error:
                return status, headers, None
    elif ce not in ("identity", ""):
        return status, headers, None
    return status, headers, body


def _iter_gzip_members(data: bytes) -> Iterator[bytes]:
    """Yield the decompressed bytes of each gzip member in turn.
    Memory high-water mark is ONE member (~one WARC record in the
    Common Crawl layout), not the whole decompressed archive — the
    round-7 guard for archives larger than task memory.

    Round-8 fix: the decompressor is fed bounded 4 MB WINDOWS of a
    memoryview, never the whole remaining tail.  The old shape passed
    ``rest`` (everything after the current member) to ``decompress``,
    and ``d.unused_data`` then materialized a fresh COPY of that tail
    per member — O(members x archive) memcpy, ~120 s for a 100 MB /
    3.8k-member archive (measured on the --warcsplit rung) vs ~0.3 s
    now."""
    view = memoryview(data)
    n = len(data)
    pos = 0
    window = 1 << 22
    while pos < n:
        d = zlib.decompressobj(wbits=31)
        out = bytearray()
        while pos < n:
            chunk = view[pos : pos + window]
            try:
                out += d.decompress(chunk)
            except zlib.error as e:
                raise ValueError(f"corrupt gzip member: {e}") from e
            if d.eof:
                pos += len(chunk) - len(d.unused_data)
                break
            pos += len(chunk)
        if not d.eof:
            out += d.flush()  # truncated final member: yield what we have
            yield bytes(out)
            return
        yield bytes(out)


def _parse_records(
    data: bytes, final: bool = True, drop_partial_tail: bool = False
) -> Iterator[tuple[dict, int]]:
    """Yield ``(record, end_offset)`` per WARC record in ``data``.

    ``final=True`` (whole archive in hand): tolerant of truncation and
    trailing garbage — a block that does not start with ``WARC/`` or
    lacks a parseable ``Content-Length`` ends the scan (crawl files
    are append-only, so truncation only loses the tail record).
    ``final=False`` (incremental feed): additionally STOPS before a
    record whose header or body is not fully buffered yet, so the
    caller can resume at the returned offset once more bytes arrive.
    ``drop_partial_tail`` (final mode): a tail record whose declared
    body extends past the buffer is NOT yielded — for ranges that end
    at a corruption point, where the single-task path raises before
    its final flush and therefore never emits that record.
    """
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record blank lines
        while pos < n and data[pos : pos + 2] in (b"\r\n", b"\n\n"):
            pos += 2 if data[pos : pos + 2] == b"\r\n" else 1
        while pos < n and data[pos : pos + 1] == b"\n":
            pos += 1
        if pos >= n:
            return
        if not data.startswith(b"WARC/", pos):
            if not final and n - pos < 5 and b"WARC/".startswith(data[pos:n]):
                return  # a header may still be arriving
            return
        # header blocks are small; BOUND the terminator search (round 8:
        # an unbounded find(b"\n\n") re-scanned the whole remaining
        # archive per record on CRLF files whose bodies contain no LF
        # pairs — O(records x archive))
        lim = min(n, pos + 65536)
        hdr_end = data.find(b"\r\n\r\n", pos, lim)
        sep = 4
        alt = data.find(b"\n\n", pos, lim)
        if hdr_end == -1 and alt == -1 and lim < n:
            # >64KB header block (the spec sets no size limit): fall
            # back to ONE unbounded search rather than silently
            # dropping every remaining record.  No quadratic risk:
            # normal headers resolve inside the window, and this scan
            # stops at the first terminator (or runs once for a
            # genuinely terminator-less tail).
            hdr_end = data.find(b"\r\n\r\n", pos)
            alt = data.find(
                b"\n\n", pos, hdr_end if hdr_end != -1 else n
            )
        if hdr_end == -1 or (alt != -1 and alt < hdr_end):
            hdr_end, sep = alt, 2
        if hdr_end == -1:
            return  # incomplete header: final -> truncated tail; else resume here
        headers: dict[str, str] = {}
        for line in data[pos:hdr_end].split(b"\n")[1:]:
            m = _HDR_RE.match(line)
            if m:
                headers[m.group(1).decode("ascii").lower()] = (
                    m.group(2).decode("utf-8", "replace").strip()
                )
        try:
            clen = int(headers.get("content-length", ""))
        except ValueError:
            return
        body_start = hdr_end + sep
        if body_start + clen > n:
            if not final:
                return  # body still arriving: resume at this record
            if drop_partial_tail:
                return  # range ends at a corruption point: parity
                # with the single-task path, which raises before
                # flushing this in-flight record
        yield {
            "record_id": headers.get("warc-record-id", ""),
            "warc_type": headers.get("warc-type", ""),
            "target_uri": headers.get("warc-target-uri", ""),
            "warc_date": headers.get("warc-date", ""),
            "content_type": headers.get("content-type", ""),
            "content_length": clen,
            "content": data[body_start : body_start + clen],
        }, body_start + clen
        pos = body_start + clen


def parse_warc_bytes(
    data: bytes, drop_partial_tail: bool = False
) -> Iterator[dict]:
    """Yield one dict per WARC record from raw (already-decompressed)
    archive bytes — see :func:`_parse_records` for tolerance rules."""
    for rec, _ in _parse_records(
        data, final=True, drop_partial_tail=drop_partial_tail
    ):
        yield rec


def iter_warc_records(chunks, drop_partial_tail: bool = False) -> Iterator[dict]:
    """Incremental WARC parse over an iterator of decompressed byte
    chunks (e.g. :func:`_iter_gzip_members`): buffers only the bytes
    of at most one in-flight record, so a multi-GB archive never
    materializes decompressed in task memory."""
    buf = b""
    for chunk in chunks:
        buf = buf + chunk if buf else chunk
        pos = 0
        for rec, end in _parse_records(buf, final=False):
            yield rec
            pos = end
        if pos:
            buf = buf[pos:]
    yield from parse_warc_bytes(buf, drop_partial_tail=drop_partial_tail)


#: ``warc_type`` marker of quarantine rows emitted for unreadable files
CORRUPT_TYPE = "__corrupt__"


def iter_member_offsets(read_chunk) -> Iterator[tuple[int, int, bytes]]:
    """Stream the compressed archive once and yield ``(start, end,
    head)`` per gzip member, where ``head`` is the first 16 DECOMPRESSED
    bytes (enough to see whether the member starts a new ``WARC/``
    record).  ``read_chunk(n)`` returns the next <= n compressed bytes
    (empty at EOF), so the scan never holds more than one input chunk
    plus zlib state — the index pass for ranged multi-task ingest of a
    giant archive.  Decompressed output is discarded as it is produced;
    wall is bounded by gunzip speed, memory by the chunk size.

    A corrupt member raises ``ValueError`` (callers quarantine, same
    contract as :func:`_iter_gzip_members`); a truncated final member
    yields with ``end`` at EOF.
    """
    offset = 0
    buf = b""
    eof_input = False
    while True:
        if not buf and not eof_input:
            chunk = read_chunk(1 << 22)
            if chunk:
                buf = chunk
            else:
                eof_input = True
        if not buf:
            return
        d = zlib.decompressobj(wbits=31)
        consumed = 0
        head = b""
        while True:
            data = buf
            buf = b""
            try:
                out = d.decompress(data)
            except zlib.error as e:
                raise ValueError(f"corrupt gzip member: {e}") from e
            if len(head) < 16:
                head += out[: 16 - len(head)]
            if d.eof:
                consumed += len(data) - len(d.unused_data)
                buf = d.unused_data
                break
            consumed += len(data)
            nxt = read_chunk(1 << 22)
            if not nxt:
                eof_input = True
                break  # truncated member: ends at EOF
            buf = nxt
        yield offset, offset + consumed, head
        offset += consumed
        if eof_input and not buf:
            return


def member_split_ranges(
    read_chunk, split_bytes: int
) -> Iterator[tuple[int, int]]:
    """Group consecutive gzip members into ``(start, end)`` byte ranges
    of >= ``split_bytes`` compressed bytes each, CLOSING a range only
    before a member whose decompressed bytes start a new ``WARC/``
    record — so a record whose header and body span several members
    (a legal if non-recommended layout) is never cut in half and every
    range parses independently with zero loss."""
    cur_start: int | None = None
    cur_end = 0
    for start, end, head in iter_member_offsets(read_chunk):
        if cur_start is None:
            cur_start = start
        elif start - cur_start >= split_bytes and head.startswith(b"WARC/"):
            # close BEFORE this member (the finished range ends where
            # the previous member did)
            yield cur_start, start
            cur_start = start
        cur_end = end
    if cur_start is not None and cur_end > cur_start:
        yield cur_start, cur_end


def _local_path(uri: str) -> str:
    """binaryFile paths are URIs; ranged reads open the file directly.
    Works for ``file:`` URIs (local / NFS mounts); any other scheme
    needs the filesystem's ranged-GET API wired in (S3/HDFS expose the
    same primitive) and raises a clear error here rather than decoding
    garbage."""
    if uri.startswith("file:"):
        from urllib.parse import unquote, urlparse

        parsed = urlparse(uri)
        if parsed.netloc not in ("", "localhost"):
            raise ValueError(
                f"ranged WARC split cannot read a remote file authority "
                f"({uri!r}); mount it locally or use "
                "read_warc(split_bytes=None)"
            )
        # Spark's binaryFile path column percent-encodes (spaces,
        # non-ASCII, '#'): decode before open() or the task dies with
        # FileNotFoundError on any such filename
        return unquote(parsed.path)
    if "://" in uri:
        raise ValueError(
            f"ranged WARC split needs a locally readable path, got {uri!r}; "
            "wire the filesystem's ranged-read API (S3 ranged GET / HDFS "
            "seek) for remote stores or use read_warc(split_bytes=None)"
        )
    return uri


class LocalRangeReader:
    """Ranged-read adapter for locally readable paths (bare paths,
    ``file:`` URIs, NFS mounts): plain ``seek`` + bounded ``read``.
    This is the reference implementation of the adapter protocol the
    ranged WARC ingest talks to — see :func:`register_range_reader`."""

    def read_range(self, uri: str, start: int, length: int) -> bytes:
        with open(_local_path(uri), "rb") as f:
            f.seek(int(start))
            return f.read(int(length))

    def size(self, uri: str) -> int:
        import os

        return os.path.getsize(_local_path(uri))

    def list_files(self, path: str) -> list[str]:
        import glob as _glob

        return sorted(_glob.glob(_local_path(path)))


LOCAL_RANGE_READER = LocalRangeReader()


class HttpRangeReader:
    """Ranged-GET adapter for ``http(s)`` URLs — pure stdlib
    ``urllib``, one ``GET`` with a ``Range: bytes=a-b`` header per
    read (exactly the primitive CDNs and S3-compatible endpoints
    expose; Common Crawl's ``https://data.commoncrawl.org/...``
    serves byte ranges).  Registered for ``http``/``https`` at import,
    so ``read_warc(spark, "https://.../x.warc.gz", split_bytes=...)``
    works out of the box.  A server that ignores the Range header
    (HTTP 200 instead of 206) raises instead of silently downloading
    the whole object.  No listing exists over plain HTTP — pass
    explicit object URLs, not globs.

    Real-server behavior handled (round 10):

    - **EOF = HTTP 416** ``Range Not Satisfiable``: spec-compliant
      servers (S3, CloudFront, nginx) answer a read at/after the end
      of the object with 416, and the sequential index pass ALWAYS
      issues one final read at ``pos == size`` (empty-read is its
      only EOF signal) — so 416 maps to ``b""``, not an error.
    - **HEAD-less servers**: ``size()`` falls back to a 1-byte ranged
      GET and parses the total from ``Content-Range: bytes 0-0/N``
      when HEAD is rejected (405/403) or omits ``Content-Length``.
    - **Stalls and transient faults**: every request carries
      ``timeout`` (seconds; default 30) and is retried up to
      ``retries`` times (default 2) on ``URLError`` / timeout /
      ``IncompleteRead`` / 5xx, with a tiny linear backoff — one dead
      CDN socket must fail the Spark TASK (which then retries on
      another executor) instead of hanging it forever.  4xx other
      than 416 are NOT retried (they are deterministic)."""

    def __init__(self, *, timeout: float = 30.0, retries: int = 2):
        self.timeout = float(timeout)
        self.retries = int(retries)

    def _open(self, req, *, require_206: bool = False, read_body: bool = True):
        """urlopen with timeout + bounded retry on transient faults;
        returns (status, headers, body_bytes).  ``require_206`` checks
        the status BEFORE touching the body: a Range-ignoring server
        answers 200 with the WHOLE object, and reading it first would
        download 100 TB to report an error.  ``read_body=False`` skips
        the body entirely (size probes need headers only)."""
        import http.client
        import socket
        import time
        import urllib.error
        import urllib.request

        last: Exception | None = None
        for attempt in range(self.retries + 1):
            try:
                with urllib.request.urlopen(req, timeout=self.timeout) as r:
                    if require_206 and r.status != 206:
                        raise ValueError(
                            f"server ignored the Range header for "
                            f"{req.full_url!r} (HTTP {r.status}, expected "
                            "206 Partial Content); ranged WARC ingest "
                            "needs byte-range support"
                        )
                    body = r.read() if read_body else b""
                    return r.status, r.headers, body
            except urllib.error.HTTPError as e:
                if e.code in (500, 502, 503, 504):  # transient server-side
                    last = e
                else:
                    # deterministic (4xx, 501, ...) — caller decides
                    raise
            except (
                urllib.error.URLError,
                socket.timeout,
                TimeoutError,
                http.client.IncompleteRead,
                ConnectionError,
            ) as e:
                last = e
            if attempt < self.retries:
                time.sleep(0.2 * (attempt + 1))
        raise last

    def _object_url(self, uri: str) -> str:
        """Map the adapter's URI to the HTTP(S) URL it is fetched at
        — identity here; subclasses for object stores (``s3://``)
        translate bucket/key to their endpoint's URL."""
        return uri

    def _request(self, method: str, url: str, headers: dict):
        """Build the :mod:`urllib` request for one transport call —
        the ONE subclass hook for authentication (the s3 adapter
        returns a SigV4-signed request here), so ``read_range`` /
        ``size`` and their 416/fallback/guard semantics live in
        exactly one place (round-11 review)."""
        import urllib.request

        return urllib.request.Request(url, headers=headers, method=method)

    def read_range(self, uri: str, start: int, length: int) -> bytes:
        if length <= 0:
            return b""
        import urllib.error

        req = self._request(
            "GET",
            self._object_url(uri),
            {"Range": f"bytes={int(start)}-{int(start) + int(length) - 1}"},
        )
        try:
            _, _, body = self._open(req, require_206=True)
        except urllib.error.HTTPError as e:
            if e.code == 416:
                # Range Not Satisfiable: start is at/after EOF — the
                # sequential reader's end-of-object signal
                return b""
            raise
        return body

    def size(self, uri: str) -> int:
        import urllib.error

        req = self._request("HEAD", self._object_url(uri), {})
        try:
            _, headers, _ = self._open(req)
            n = headers["Content-Length"]
            if n is not None:
                return int(n)
        except urllib.error.HTTPError as e:
            # only METHOD-related rejections warrant the ranged-GET
            # fallback (403/405/501: HEAD disallowed/unimplemented); a
            # deterministic 404/410 would fail the GET identically —
            # re-raise instead of doubling requests per missing object
            if e.code not in (403, 405, 501):
                raise
        # 1-byte ranged GET; total length is the Content-Range suffix.
        # Headers only — a Range-ignoring server answers 200 with the
        # WHOLE object, which a size probe must never download.
        req = self._request(
            "GET", self._object_url(uri), {"Range": "bytes=0-0"}
        )
        try:
            status, headers, _ = self._open(req, read_body=False)
        except urllib.error.HTTPError as e:
            if e.code == 416:
                # a zero-length object: bytes=0-0 is unsatisfiable;
                # the 416's own Content-Range carries 'bytes */N'
                cr = (e.headers.get("Content-Range") or "") if e.headers else ""
                total = cr.rsplit("/", 1)[-1].strip()
                return int(total) if total.isdigit() else 0
            raise
        cr = headers.get("Content-Range") or ""
        if status == 206 and "/" in cr:
            total = cr.rsplit("/", 1)[1].strip()
            if total.isdigit():
                return int(total)
        n = headers.get("Content-Length") if status == 200 else None
        if n is not None:
            # Range-ignoring server: Content-Length IS the total
            return int(n)
        raise ValueError(
            f"cannot determine object size for {uri!r}: HEAD gave no "
            "Content-Length and the ranged-GET fallback returned "
            f"HTTP {status} with Content-Range {cr!r}"
        )

    def list_files(self, path: str) -> list[str]:
        if any(ch in path for ch in "*?["):
            raise ValueError(
                f"cannot expand glob {path!r} over HTTP — pass explicit "
                "object URLs (or wire a store adapter with real listing)"
            )
        return [path]


#: scheme (lowercase, no '://') -> adapter; see register_range_reader
_RANGE_READERS: dict[str, object] = {
    "http": HttpRangeReader(),
    "https": HttpRangeReader(),
}


def register_range_reader(scheme: str, reader) -> None:
    """Wire a remote store's ranged-GET primitive into the ranged WARC
    ingest.  A SigV4-signed ``s3://`` adapter ships in
    :mod:`.s3` (``register_range_reader("s3",
    S3RangeReader(access_key, secret_key, region=...))``); ``http``/
    ``https`` are registered at import.  ``reader`` implements the
    :class:`LocalRangeReader` protocol:

    - ``read_range(uri, start, length) -> bytes`` — the bytes at
      ``[start, start+length)``, short at EOF.  For S3 this is ONE
      ``GetObject`` with ``Range: bytes=start-...``; for HTTPS a
      ranged GET; for HDFS a seek+read.  This is the ONLY data-path
      call the ingest makes — both the index pass (consecutive
      bounded windows from offset 0) and the per-range parse (one
      ``[start, end)`` read per task) go through it, so the access
      pattern is pure ranged-GET with no whole-object download.
    - ``size(uri) -> int`` — object length (S3 HeadObject).
    - ``list_files(path) -> list[str]`` — expand the load path/glob
      into concrete object URIs (S3 ListObjectsV2).

    The adapter instance is resolved on the DRIVER at
    :func:`read_warc_split` call time and shipped inside the task
    closures (cloudpickle), so it must be picklable — keep clients
    lazily constructed (e.g. create the boto3 client on first use in
    the task, not in ``__init__``)."""
    _RANGE_READERS[scheme.lower()] = reader


def range_reader_for(path: str):
    """Adapter for ``path``'s scheme: local paths / ``file:`` URIs get
    :data:`LOCAL_RANGE_READER`; other schemes must have been wired via
    :func:`register_range_reader` (raises with instructions
    otherwise)."""
    scheme = path.split("://", 1)[0].lower() if "://" in path else ""
    if scheme in ("", "file"):
        return LOCAL_RANGE_READER
    reader = _RANGE_READERS.get(scheme)
    if reader is None:
        raise ValueError(
            f"no ranged-read adapter registered for scheme "
            f"{scheme!r} ({path!r}); call register_range_reader("
            f"{scheme!r}, reader) with a read_range/size/list_files "
            "adapter, or use read_warc(split_bytes=None)"
        )
    return reader


def _chunk_reader(reader, uri: str):
    """Adapt ``reader.read_range`` into the sequential ``read(n)``
    callable :func:`iter_member_offsets` streams from — consecutive
    bounded windows, each one ranged GET."""
    pos = 0

    def read(n: int) -> bytes:
        nonlocal pos
        b = reader.read_range(uri, pos, n)
        pos += len(b)
        return b

    return read


def read_warc(
    spark: SparkSession, path: str, *, split_bytes: int | None = None
) -> DataFrame:
    """All WARC records under ``path`` (glob ok; ``.gz`` handled by
    magic-byte sniff, not extension), one row per record with the raw
    payload as a ``binary`` column — see :data:`WARC_SCHEMA`.

    A file whose gzip stream is corrupt does NOT fail the task: it
    yields ONE quarantine row (``warc_type = '__corrupt__'``, null
    content) so the loss is auditable — the same
    no-silent-drop / no-job-kill contract as the corpus quarantine
    readers (``sources/corpus.py``).  ``warc_to_documents`` keeps only
    ``response`` records, so quarantine rows never become documents.

    Memory guard (round 7): ``.gz`` archives are decompressed ONE GZIP
    MEMBER AT A TIME (:func:`iter_warc_records` buffers at most one
    in-flight record) and rows flush every ``batch_rows`` records, so
    the task high-water mark is the compressed blob + one row batch —
    never the whole decompressed archive (a 1 GB crawl segment
    decompresses to several GB).

    ``split_bytes`` (round 8): parallelism within ONE giant ``.gz``
    archive.  Default (None) keeps per-FILE parallelism — fine at
    100 TB where inputs are tens of thousands of ~1 GB segments, but a
    single pathological multi-GB archive serializes into one task.
    With an int, :func:`read_warc_split` runs instead: a streamed
    member-offset index pass per file (gunzip-speed, discards output)
    emits ``(path, start, end)`` ranges of ~``split_bytes`` compressed
    bytes aligned on gzip-member boundaries that START a ``WARC/``
    record, and the record parse fans out over ranges — N tasks per
    archive, identical rows (tests + the §3k rung assert equality).
    Byte access goes through the ranged-read seam: local paths work
    out of the box; S3/HTTPS/HDFS plug in via
    :func:`register_range_reader` (round 9).
    """
    if split_bytes is not None:
        return read_warc_split(spark, path, split_bytes=int(split_bytes))
    files = spark.read.format("binaryFile").load(path).select(
        "path", "content"
    )
    batch_rows = 2000
    cols = [
        "path",
        "record_id",
        "warc_type",
        "target_uri",
        "warc_date",
        "content_type",
        "content_length",
        "content",
    ]

    def _parse(batches):
        import pandas as pd

        rows: list[dict] = []
        for pdf in batches:
            for p, blob in zip(pdf["path"], pdf["content"]):
                data = bytes(blob)
                try:
                    recs = (
                        iter_warc_records(_iter_gzip_members(data))
                        if data[:2] == b"\x1f\x8b"
                        else parse_warc_bytes(data)
                    )
                    for rec in recs:
                        rec["path"] = p
                        rows.append(rec)
                        if len(rows) >= batch_rows:
                            yield pd.DataFrame(rows, columns=cols)
                            rows = []
                except ValueError:
                    rows.append(
                        {
                            "record_id": "",
                            "warc_type": CORRUPT_TYPE,
                            "target_uri": "",
                            "warc_date": "",
                            "content_type": "",
                            "content_length": None,
                            "content": None,
                            "path": p,
                        }
                    )
        yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(_parse, schema=WARC_SCHEMA)


def read_warc_split(
    spark: SparkSession, path: str, *, split_bytes: int = 64 << 20
) -> DataFrame:
    """Ranged multi-task ingest of ``.warc.gz`` archives: one archive
    becomes N ~``split_bytes`` ranges, each parsed independently.

    Two stages, both streaming:

    1. **index pass** (one task per file, gunzip-bounded, output
       discarded): :func:`member_split_ranges` records gzip-member
       byte offsets and closes a range only where the next member
       starts a fresh ``WARC/`` record, so ranges never cut a record
       regardless of member layout.  A corrupt member quarantines the
       file (one marker range).
    2. **ranged parse** (round-robin repartitioned over the cluster):
       each task opens its file, reads exactly ``[start, end)``, and
       runs the same streaming member/record parser as the
       single-task path.

    Row-for-row identical to ``read_warc(path)`` (asserted by tests
    and the §3k rung).  All byte access goes through the ranged-read
    seam (:func:`range_reader_for` — resolved on the driver, shipped
    in the task closures): local/NFS ``file:`` URIs use seek+read;
    remote stores (S3/HTTPS/HDFS) plug their ranged-GET primitive in
    via :func:`register_range_reader` — the access pattern on both
    stages is pure bounded ranged reads, never a whole-object
    download."""
    reader = range_reader_for(path)
    if reader is LOCAL_RANGE_READER:
        files = spark.read.format("binaryFile").load(path).select("path")
    else:
        # remote stores list through the adapter (S3 ListObjectsV2);
        # binaryFile would need a Hadoop connector for the scheme
        files = spark.createDataFrame(
            [(p,) for p in reader.list_files(path)], "path string"
        )

    def _scan(batches):
        import pandas as pd

        for pdf in batches:
            out = {"path": [], "start": [], "end": [], "drop_tail": []}
            for p in pdf["path"]:
                magic = reader.read_range(p, 0, 2)
                if magic != b"\x1f\x8b":
                    # plain .warc: no member structure to split on;
                    # single range, the parse stage sniffs and falls
                    # back to the whole-file record parser
                    out["path"].append(p)
                    out["start"].append(0)
                    out["end"].append(reader.size(p))
                    out["drop_tail"].append(False)
                    continue
                # group member offsets into ranges inline (rather than
                # via member_split_ranges) so a corrupt member mid-
                # archive still FLUSHES the partial range before the
                # quarantine marker — every valid record up to the
                # corruption is parsed, matching the single-task
                # path's rows-then-quarantine semantics
                cur_start: int | None = None
                cur_end = 0
                try:
                    for s, e, head in iter_member_offsets(
                        _chunk_reader(reader, p)
                    ):
                        if cur_start is None:
                            cur_start = s
                        elif (
                            s - cur_start >= split_bytes
                            and head.startswith(b"WARC/")
                        ):
                            out["path"].append(p)
                            out["start"].append(cur_start)
                            out["end"].append(s)
                            out["drop_tail"].append(False)
                            cur_start = s
                        cur_end = e
                except ValueError:
                    if cur_start is not None and cur_end > cur_start:
                        out["path"].append(p)
                        out["start"].append(cur_start)
                        out["end"].append(cur_end)
                        # this range ends AT the corruption: a record
                        # spanning into the corrupt member must not
                        # surface truncated (the single-task path
                        # raises before flushing it)
                        out["drop_tail"].append(True)
                        cur_start = None
                    out["path"].append(p)
                    out["start"].append(-1)  # quarantine marker
                    out["end"].append(-1)
                    out["drop_tail"].append(False)
                else:
                    if cur_start is not None and cur_end > cur_start:
                        out["path"].append(p)
                        out["start"].append(cur_start)
                        out["end"].append(cur_end)
                        out["drop_tail"].append(False)
            yield pd.DataFrame(out)

    ranges = files.mapInPandas(
        _scan,
        schema="path string, start long, end long, drop_tail boolean",
    )
    # spread the ranges of one archive across the cluster; row-level
    # output is partitioning-independent
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    ranges = ranges.repartition(n_parts)

    batch_rows = 2000
    cols = [
        "path",
        "record_id",
        "warc_type",
        "target_uri",
        "warc_date",
        "content_type",
        "content_length",
        "content",
    ]

    def _quarantine(p: str) -> dict:
        return {
            "record_id": "",
            "warc_type": CORRUPT_TYPE,
            "target_uri": "",
            "warc_date": "",
            "content_type": "",
            "content_length": None,
            "content": None,
            "path": p,
        }

    def _parse_range(batches):
        import pandas as pd

        rows: list[dict] = []
        for pdf in batches:
            for p, s, e, dt in zip(
                pdf["path"], pdf["start"], pdf["end"], pdf["drop_tail"]
            ):
                if s < 0:
                    rows.append(_quarantine(p))
                    continue
                blob = reader.read_range(p, int(s), int(e) - int(s))
                try:
                    recs = (
                        iter_warc_records(
                            _iter_gzip_members(blob),
                            drop_partial_tail=bool(dt),
                        )
                        if blob[:2] == b"\x1f\x8b"
                        else parse_warc_bytes(
                            blob, drop_partial_tail=bool(dt)
                        )
                    )
                    for rec in recs:
                        rec["path"] = p
                        rows.append(rec)
                        if len(rows) >= batch_rows:
                            yield pd.DataFrame(rows, columns=cols)
                            rows = []
                except ValueError:
                    rows.append(_quarantine(p))
        yield pd.DataFrame(rows, columns=cols)

    return ranges.mapInPandas(_parse_range, schema=WARC_SCHEMA)


#: output schema of :func:`parse_cdxj`
CDXJ_SCHEMA = (
    "surt string, ts string, url string, status string, mime string, "
    "digest string, path string, offset long, length long"
)


def parse_cdxj(
    lines: DataFrame,
    *,
    line_col: str = "value",
    base_uri: str = "",
    surt_prefix: str | None = None,
) -> DataFrame:
    """Parse CDXJ index lines — the Common Crawl / pywb index format,
    one line per capture: ``<SURT key> <14-digit timestamp> <JSON>``
    where the JSON block carries ``url``, ``status``, ``mime``,
    ``digest`` and the record's physical location (``filename``,
    ``offset``, ``length`` — the byte range of the record's OWN gzip
    member inside the ``.warc.gz``).

    Input is any one-string-column frame (``spark.read.text`` over
    ``cdx-*.gz`` index shards — Spark decompresses ``.gz`` text
    transparently); output is :data:`CDXJ_SCHEMA`, with ``path`` =
    ``base_uri + filename`` ready to feed :func:`read_warc_at`.
    Malformed lines yield NULL url/offset/length (filter on
    ``offset IS NOT NULL``); pure Column regex + ``from_json`` —
    map-only, no UDF, prunable and pushdown-friendly at the text
    scan.  The standard 100 TB flow is: read the index shards (tiny
    next to the crawl), FILTER by SURT prefix / status / mime
    (e.g. ``surt LIKE 'org,example)%'`` or ``url LIKE '%/robots.txt'``)
    and fetch ONLY the matching records — the crawl itself is never
    scanned.

    ``surt_prefix`` (round 11) is the fast path for the by-site
    selection: because a CDXJ line BEGINS with its SURT key, a SURT
    prefix predicate is exactly a line-prefix predicate — it is
    applied to the RAW line column *before* any regex or JSON
    parsing, so non-matching lines cost one codegen'd
    ``StartsWith`` each and never pay the parse (Common Crawl's
    cluster.idx side index bounds which shards are read at all; this
    bounds the per-line work inside them).  The selection stays one
    map-only stage: scan → StartsWith filter → parse, zero
    shuffles, no Python (see the EXPLAIN.md ``parse_cdxj`` section)."""
    from pyspark.sql import functions as F

    if surt_prefix is not None:
        # pre-parse, on the raw line: Catalyst keeps this ahead of
        # the projection, so the regex/from_json work below runs only
        # on matching lines
        lines = lines.where(F.col(line_col).startswith(surt_prefix))
    # ONE selectExpr round trip (optimization round 12, VERDICT-r11
    # item 3): the Column-object build of this projection cost ~960
    # py4j RPCs per call of pure driver latency; the SQL text parses
    # to the same regexp_extract / from_json / CASE trees (a WHEN
    # without ELSE is the same implicit-NULL CaseWhen) — value-gated
    # by the cdxj oracle branch and the wire-parser fuzz contracts.
    line = "`%s`" % line_col
    surt = r"regexp_extract(%s, '^(\\S+) \\d{14} \\{', 1)" % line
    ts = r"regexp_extract(%s, '^\\S+ (\\d{14}) \\{', 1)" % line
    js = r"regexp_extract(%s, '^\\S+ \\d{14} (\\{.*\\})\\s*$', 1)" % line
    base_lit = "'%s'" % base_uri.replace("\\", "\\\\").replace("'", "\\'")

    def m(field: str) -> str:
        return "from_json(%s, 'map<string,string>')['%s']" % (js, field)

    def when_ok(expr: str, alias: str) -> str:
        return "CASE WHEN %s != '' THEN %s END AS %s" % (surt, expr, alias)

    return lines.selectExpr(
        when_ok(surt, "surt"),
        when_ok(ts, "ts"),
        when_ok(m("url"), "url"),
        when_ok(m("status"), "status"),
        when_ok(m("mime"), "mime"),
        when_ok(m("digest"), "digest"),
        when_ok("concat(%s, %s)" % (base_lit, m("filename")), "path"),
        when_ok("cast(%s as long)" % m("offset"), "offset"),
        when_ok("cast(%s as long)" % m("length"), "length"),
    )


def cc_index_locations(
    index: DataFrame,
    *,
    base_uri: str = "",
    filename_col: str = "warc_filename",
    offset_col: str = "warc_record_offset",
    length_col: str = "warc_record_length",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Adapt Common Crawl's COLUMNAR index (the public ``cc-index``
    parquet table: ``url_surtkey, url, fetch_time, fetch_status,
    content_mime_type, warc_filename, warc_record_offset,
    warc_record_length, …``) into :func:`read_warc_at`'s location
    frame: ``path = base_uri + warc_filename`` plus ``offset`` /
    ``length`` as longs (``keep`` passes extra index columns
    through).

    This is the BEST 100 TB access path: unlike the CDXJ text shards
    (:func:`parse_cdxj` — regex over every line, with
    ``surt_prefix=`` bounding the per-line cost), a parquet index
    gets REAL scan pushdown — a ``url_surtkey`` prefix, a
    ``fetch_status = 200`` equality or a mime filter lands in the
    parquet reader's ``PushedFilters`` and prunes row groups by
    min/max stats, and ``ReadSchema`` prunes to the handful of
    location columns.  The standard flow::

        idx = spark.read.parquet("s3://commoncrawl/cc-index/table/cc-main/warc/")
        locs = cc_index_locations(
            idx.where(F.col("url_surtkey").startswith("org,example)"))
               .where(F.col("fetch_status") == 200),
            base_uri="s3://commoncrawl/")
        records = read_warc_at(spark, locs, parallelism=256)

    (register the signed ``s3://`` adapter from :mod:`.s3` first, or
    use ``base_uri="https://data.commoncrawl.org/"``).  The crawl
    itself is never scanned; the plan shape is pinned in EXPLAIN.md
    ("cc_index (parquet pushdown)")."""
    from pyspark.sql import functions as F

    cols = [
        F.concat(F.lit(base_uri), F.col(filename_col)).alias("path"),
        F.col(offset_col).cast("long").alias("offset"),
        F.col(length_col).cast("long").alias("length"),
    ]
    cols += [F.col(c) for c in keep]
    return index.select(*cols)


def read_warc_at(
    spark: SparkSession,
    locations: DataFrame,
    *,
    path_col: str = "path",
    offset_col: str = "offset",
    length_col: str = "length",
    parallelism: int | None = None,
) -> DataFrame:
    """Fetch SPECIFIC WARC records by byte location — the Common
    Crawl INDEX access pattern: query the (tiny) CDX index, then
    ranged-GET exactly the records you want out of a 100 TB crawl
    without scanning a single archive.  One input row = one ranged
    read of ``[offset, offset+length)`` from ``path``; for
    ``.warc.gz`` those CDX ranges are the record's own gzip member,
    so each read decompresses standalone.  A range holding several
    members yields every record in it.

    Byte access goes through the same pluggable seam as
    :func:`read_warc_split` (:func:`register_range_reader`): local
    paths and ``http(s)`` work out of the box, so
    ``read_warc_at(spark, parse_cdxj(idx, base_uri="https://…/"))``
    is a working Common Crawl record fetcher as-is.  Adapters are
    snapshotted on the DRIVER at call time and shipped in the task
    closure (keep them picklable — lazy clients).

    ``parallelism`` repartitions the location frame first: ranged
    GETs are latency-bound, so size it to the concurrent-request
    budget you want against the store (index frames are often a
    handful of tasks otherwise).  Output is :data:`WARC_SCHEMA`; a
    deterministically failed or corrupt range quarantines as ONE
    ``warc_type='__corrupt__'`` row carrying the path and the
    requested byte range as ``record_id`` (``range:<offset>+<len>``)
    so the exact failing index row is auditable — same
    no-silent-drop contract as :func:`read_warc`; transient faults
    (network errors, 5xx) instead FAIL the task so Spark retries it.
    """
    readers = dict(_RANGE_READERS)  # driver snapshot -> task closure

    def _resolve(p: str):
        scheme = p.split("://", 1)[0].lower() if "://" in p else ""
        if scheme in ("", "file"):
            return LOCAL_RANGE_READER
        r = readers.get(scheme)
        if r is None:
            # RuntimeError, not ValueError: a missing adapter is a
            # CONFIG error that must fail the job with instructions,
            # never quarantine rows silently
            raise RuntimeError(
                f"no ranged-read adapter registered for scheme "
                f"{scheme!r} ({p!r}); call register_range_reader()"
            )
        return r

    cols = [
        "path",
        "record_id",
        "warc_type",
        "target_uri",
        "warc_date",
        "content_type",
        "content_length",
        "content",
    ]

    def _quarantine(p: str, off, ln) -> dict:
        return {
            # the failing index row, auditable: which byte range of
            # which object could not be materialized
            "record_id": f"range:{off}+{ln}",
            "warc_type": CORRUPT_TYPE,
            "target_uri": "",
            "warc_date": "",
            "content_type": "",
            "content_length": None,
            "content": None,
            "path": p,
        }

    def _fetch(batches):
        import urllib.error

        import pandas as pd

        def _deterministic(e: Exception) -> bool:
            # quarantine only failures a RETRY cannot fix: a bad
            # range/corrupt member (ValueError), a missing/forbidden
            # object (FileNotFound/IsADirectory/Permission, HTTP 4xx).
            # Transient faults (URLError, 5xx, stalls) PROPAGATE so
            # the Spark task fails and retries on another executor.
            if isinstance(e, ValueError):
                return True
            if isinstance(e, urllib.error.HTTPError):
                return 400 <= e.code < 500
            return isinstance(
                e, (FileNotFoundError, IsADirectoryError, PermissionError)
            )

        rows: list[dict] = []
        for pdf in batches:
            for p, off, ln in zip(
                pdf[path_col], pdf[offset_col], pdf[length_col]
            ):
                p = str(p)
                try:
                    if off is None or ln is None or int(ln) <= 0:
                        raise ValueError("null/empty location")
                    blob = _resolve(p).read_range(p, int(off), int(ln))
                    recs = list(
                        iter_warc_records(_iter_gzip_members(blob))
                        if blob[:2] == b"\x1f\x8b"
                        else parse_warc_bytes(blob)
                    )
                    if not recs:
                        raise ValueError("no record in range")
                    for rec in recs:
                        rec["path"] = p
                        rows.append(rec)
                except Exception as e:  # noqa: BLE001 - triaged below
                    if not _deterministic(e):
                        raise
                    rows.append(_quarantine(p, off, ln))
            yield pd.DataFrame(rows, columns=cols)
            rows = []
        yield pd.DataFrame(rows, columns=cols)

    locs = locations.select(path_col, offset_col, length_col)
    if parallelism is not None:
        locs = locs.repartition(int(parallelism))
    return locs.mapInPandas(_fetch, schema=WARC_SCHEMA)


_TAG_RE = re.compile(r"<script\b.*?</script>|<style\b.*?</style>", re.S | re.I)
_MARKUP_RE = re.compile(r"<[^>]+>")
_WS_RE = re.compile(r"[ \t\r\f\v]+")


def _html_to_text(html: str) -> str:
    """C4-style crude text extraction: drop script/style subtrees,
    strip tags, collapse intra-line whitespace, keep line structure
    (the Gopher line rules run downstream).  A production run swaps a
    real extractor (trafilatura-class) behind the same column."""
    txt = _TAG_RE.sub(" ", html)
    txt = _MARKUP_RE.sub(" ", txt)
    lines = [_WS_RE.sub(" ", ln).strip() for ln in txt.split("\n")]
    return "\n".join(ln for ln in lines if ln)


def warc_to_documents(
    records: DataFrame,
    *,
    extractor: str = "strip",
    record_types: Sequence[str] = ("response",),
    with_headers: bool = False,
) -> DataFrame:
    """Project WARC records into the engine's documents shape:
    ``(doc_id, url, fetch_date, text)`` — plus ``http_headers`` when
    ``with_headers=True``.

    ``with_headers`` (round 11) surfaces the captured HTTP response
    header block as an ``http_headers`` string column — VERBATIM (the
    raw head up to the blank line, latin-1 decoded), not rebuilt from
    the parsed dict: ``X-Robots-Tag`` scoping is per LINE
    (``googlebot: noindex`` vs a second unscoped ``nofollow`` line),
    and a dict comma-merge would fuse them under one scope.  Feed it
    to ``operators.robots.robots_page_directives(header_col=
    "http_headers")`` so header-only opt-outs (``X-Robots-Tag:
    noai``/``noindex`` — the standard channel for non-HTML content
    and CDN-level policy) are enforced by the compliance gate;
    without this column that half of the gate never sees its input
    (round-10 verdict finding #1).  Non-response records (WET
    conversion, resource) have no HTTP envelope — their
    ``http_headers`` is NULL.

    ``record_types`` (round 10) selects which WARC record types become
    documents:

    - ``"response"`` (default): captured HTTP responses — kept only
      with an HTTP 200 status line, body split off the wire headers;
    - ``"conversion"``: Common Crawl **WET** extracted-text records —
      the payload IS the text (no HTTP envelope), taken verbatim and
      never tag-stripped (WET is already extracted);
    - ``"resource"``: direct resource captures — payload taken
      verbatim, text handled per ``extractor`` like a response body.

    Pass ``record_types=("conversion",)`` to ingest ``.warc.wet.gz``
    files — ``read_warc`` parses them unchanged (WET IS the WARC
    format), so the full pipeline is
    ``warc_to_documents(read_warc(spark, "….warc.wet.gz"),
    record_types=("conversion",))``.

    Response-record handling:

    - keeps an HTTP 200 status line;
    - splits the HTTP headers off the payload via
      :func:`http_response_parts` (dechunks ``Transfer-Encoding:
      chunked``, gunzips/inflates ``Content-Encoding: gzip/deflate``
      — crawls store wire bytes; records with unsupported or corrupt
      encodings are skipped), decodes the body as
      UTF-8 (replace) and extracts text per ``extractor``:
      ``"strip"`` (default) = the crude tag strip
      (:func:`_html_to_text`); ``"raw"`` = the UTF-8-decoded body
      markup un-stripped (decode is always utf-8/replace — "raw"
      means "not tag-stripped", not bytes-faithful), for callers that
      run a real boilerplate-removal pass downstream
      (``operators.html.extract_main_text`` — the jusText stage; same
      column, richer extraction);
    - ``doc_id`` is ``xxhash64(record_id)`` — deterministic, join-ready
      with every downstream operator (dedup, scrub, packing).

    Pure mapInPandas continuation of :func:`read_warc`'s batches — at
    scale fuse them (this function only adds columns) and feed the
    result straight into the quarantine/scrub funnel.
    """
    if extractor not in ("strip", "raw"):
        raise ValueError(f"unknown extractor {extractor!r}")
    keep_types = frozenset(record_types)
    unknown = keep_types - {"response", "conversion", "resource"}
    if unknown:
        raise ValueError(f"unknown record_types {sorted(unknown)!r}")
    import pandas as pd
    from pyspark.sql import functions as F

    def _extract(batches):
        for pdf in batches:
            out = {"record_id": [], "url": [], "fetch_date": [], "text": []}
            if with_headers:
                out["http_headers"] = []
            for rid, typ, uri, date, blob in zip(
                pdf["record_id"],
                pdf["warc_type"],
                pdf["target_uri"],
                pdf["warc_date"],
                pdf["content"],
            ):
                if typ not in keep_types or blob is None:
                    continue
                raw = bytes(blob)
                head_txt = None
                if typ == "response":
                    # status = 2nd token of the status line (a reason
                    # phrase containing " 200 " must not pass a
                    # non-200 response); body dechunked/gunzipped per
                    # the wire headers — None (unsupported/corrupt
                    # encoding) skips
                    status, _, body = http_response_parts(raw)
                    if status != 200 or body is None:
                        continue
                    if with_headers:
                        # verbatim head (up to the blank line), NOT
                        # rebuilt from the parsed dict — X-Robots-Tag
                        # scoping is per line and a comma-merge would
                        # fuse separately-scoped lines
                        head, sep, _rest = raw.partition(b"\r\n\r\n")
                        if not sep:
                            head, sep, _rest = raw.partition(b"\n\n")
                            if not sep:
                                head = raw
                        head_txt = head.decode("latin-1")
                else:
                    # conversion (WET) / resource: the payload IS the
                    # content — no HTTP envelope to strip
                    body = raw
                out["record_id"].append(rid)
                out["url"].append(uri)
                out["fetch_date"].append(date)
                decoded = body.decode("utf-8", "replace")
                out["text"].append(
                    decoded
                    if extractor == "raw" or typ == "conversion"
                    else _html_to_text(decoded)
                )
                if with_headers:
                    out["http_headers"].append(head_txt)
            yield pd.DataFrame(out)

    hdr_field = ", http_headers string" if with_headers else ""
    docs = records.select(
        "record_id", "warc_type", "target_uri", "warc_date", "content"
    ).mapInPandas(
        _extract,
        schema="record_id string, url string, fetch_date string, text string"
        + hdr_field,
    )
    cols = [
        F.xxhash64("record_id").alias("doc_id"),
        "url",
        "fetch_date",
        "text",
    ]
    if with_headers:
        cols.append("http_headers")
    return docs.select(*cols)
