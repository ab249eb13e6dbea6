"""WARC (Web ARChive, ISO 28500) source/sink + HTML text extraction.

The ingestion format of web-scale training-data pipelines (Common-Crawl
style): a WARC file is a sequence of records — `request`, `response`,
`metadata` — each with WARC headers, an HTTP block, and a payload. This
module implements, from the public spec:

- `write_warc(df, path)`: the per-partition codec handed to the shard
  sink in sources/_shards.py, which owns the FileBasedSink temp/rename
  commit (one `part-NNNNN-<write id>.warc.gz` per non-empty partition).
  Records are written as PER-RECORD GZIP MEMBERS — the layout real
  crawls use, because member boundaries give random access into a
  petabyte archive without a splittable codec.
- `read_warc(spark, path)`: the shard reader — committed-shard
  discovery (crash leftovers excluded, committed streaming ``batch=``
  dirs included) and a `binaryFile` scan for file-level parallelism —
  then `decode_shard` per file in one Arrow-batched mapInPandas pass
  (multi-member gzip handled transparently), keeping only
  `WARC-Type: response` records and splitting the HTTP block into
  status / content-type / body. `extract_text=True` runs the text
  extraction below in that same pass.
- `extract_html_text(html)`: REAL HTML text extraction via the stdlib
  `html.parser` state machine — script/style subtrees dropped, character
  references resolved, tag boundaries become spaces, whitespace
  collapsed. The boilerplate-strip step every curation pipeline runs
  first.

Scale shape: read parallelism is per FILE (a crawl ships thousands of
~1 GB segments, so file-level parallelism saturates any cluster; one
file parses as one streaming pass, bounded memory per record). The
parsed relation should be persisted to parquet immediately — WARC is an
ingest format, not a query format; every query downstream of ingest
reads columnar."""

from __future__ import annotations

import gzip
import io
import re
from collections.abc import Iterator
from html.parser import HTMLParser

WARC_SCHEMA = (
    "url string, warc_date string, status int, content_type string, "
    "html string"
)
_WARC_COLS = ["url", "warc_date", "status", "content_type", "html"]


def build_warc_record(
    url: str,
    html: str,
    warc_date: str = "2024-01-01T00:00:00Z",
    status: int = 200,
    content_type: str = "text/html",
    warc_type: str = "response",
) -> bytes:
    """One WARC/1.0 record (headers + HTTP block), per the spec layout."""
    if warc_type == "response":
        http = (
            f"HTTP/1.1 {status} OK\r\n"
            f"Content-Type: {content_type}\r\n\r\n"
        ).encode() + html.encode("utf-8")
        ct = "application/http;msgtype=response"
    else:  # request
        http = f"GET {url} HTTP/1.1\r\nHost: example\r\n\r\n".encode()
        ct = "application/http;msgtype=request"
    headers = (
        "WARC/1.0\r\n"
        f"WARC-Type: {warc_type}\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {warc_date}\r\n"
        f"Content-Type: {ct}\r\n"
        f"Content-Length: {len(http)}\r\n"
        "\r\n"
    ).encode()
    return headers + http + b"\r\n\r\n"


def parse_warc(blob: bytes) -> list[dict]:
    """Parse a WARC file (plain or multi-member gzip) into response-record
    dicts: url, warc_date, status, content_type, html."""
    if blob[:2] == b"\x1f\x8b":
        blob = gzip.GzipFile(fileobj=io.BytesIO(blob)).read()
    out: list[dict] = []
    pos = 0
    n = len(blob)
    while pos < n:
        # skip inter-record blank lines
        while pos < n and blob[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            break
        head_end = blob.find(b"\r\n\r\n", pos)
        if head_end < 0:
            raise ValueError("truncated WARC record header")
        head = blob[pos:head_end].decode("utf-8", "replace")
        lines = head.split("\r\n")
        if not lines[0].startswith("WARC/"):
            raise ValueError(f"bad WARC version line: {lines[0]!r}")
        hdr = {}
        for line in lines[1:]:
            k, _, v = line.partition(":")
            hdr[k.strip().lower()] = v.strip()
        try:
            length = int(hdr["content-length"])
        except (KeyError, ValueError) as exc:
            raise ValueError("WARC record missing Content-Length") from exc
        body = blob[head_end + 4 : head_end + 4 + length]
        if len(body) < length:
            raise ValueError("truncated WARC record body")
        pos = head_end + 4 + length
        if hdr.get("warc-type") != "response":
            continue
        http_end = body.find(b"\r\n\r\n")
        if http_end < 0:
            raise ValueError("WARC response without HTTP header block")
        http_lines = body[:http_end].decode("utf-8", "replace").split("\r\n")
        try:
            status = int(http_lines[0].split(" ")[1])
        except (IndexError, ValueError) as exc:
            raise ValueError(f"bad HTTP status line: {http_lines[0]!r}") from exc
        ct = ""
        for line in http_lines[1:]:
            k, _, v = line.partition(":")
            if k.strip().lower() == "content-type":
                ct = v.strip()
        out.append(
            {
                "url": hdr.get("warc-target-uri", ""),
                "warc_date": hdr.get("warc-date", ""),
                "status": status,
                "content_type": ct,
                "html": body[http_end + 4 :].decode("utf-8", "replace"),
            }
        )
    return out


def write_warc(df, path: str, with_requests: bool = True) -> int:
    """Distributed WARC sink through the shard sink's temp/rename
    commit: each non-empty partition writes one
    `part-NNNNN-<write id>.warc.gz` shard whose records are independent
    gzip members (the random-access layout). Input columns: url,
    warc_date, status, content_type, html. Returns the number of shards.
    `with_requests` interleaves a request record before each response,
    as real crawls do (the reader filters)."""
    import uuid

    from ._shards import write_shards

    # Unique write id per sink invocation (the FileBasedSink convention):
    # appending a second crawl segment to the same directory must create
    # NEW files, never overwrite part-00000 of an earlier write — file
    # sources track seen paths, so an overwrite would be silently skipped.
    write_id = uuid.uuid4().hex[:8]

    def members(rec):
        if with_requests:
            yield build_warc_record(
                rec["url"], "", rec["warc_date"], warc_type="request"
            )
        yield build_warc_record(
            rec["url"], rec["html"], rec["warc_date"],
            status=int(rec["status"]), content_type=rec["content_type"],
        )

    def encode(records) -> bytes:
        return b"".join(gzip.compress(m) for rec in records for m in members(rec))

    return write_shards(df, path, f"-{write_id}.warc.gz", encode)


def decode_shard(raw: bytes):
    """One WARC file → its response records as a frame in
    ``WARC_SCHEMA`` (``None`` when it has none); the shard reader's
    per-row decode."""
    import pandas as pd

    rows = parse_warc(bytes(raw))
    return pd.DataFrame(rows, columns=_WARC_COLS) if rows else None


def read_warc(spark, path: str, extract_text: bool = False):
    """Spark-native WARC reader: the shard reader's committed-file scan
    (one task per file — a crawl's parallelism unit) + one mapInPandas
    parse pass emitting response records only. With ``extract_text``
    the same pass appends ``text`` = `extract_html_text` of each page:
    ``with_extracted_text(read_warc(spark, path))`` without a second
    Python evaluator in the stage."""
    from ._shards import decode_rows, shard_files

    files = shard_files(spark, path, "warc.gz", "content")
    if not extract_text:
        return decode_rows(files, decode_shard, WARC_SCHEMA)

    def decode(raw: bytes):
        pdf = decode_shard(raw)
        if pdf is not None:
            pdf["text"] = [extract_html_text(h) for h in pdf["html"]]
        return pdf

    return decode_rows(files, decode, WARC_SCHEMA + ", text string")


class _TextExtractor(HTMLParser):
    """Boilerplate-stripping text extraction: drop script/style subtrees,
    record a boundary at every tag so adjacent text nodes never fuse,
    let the parser resolve character references."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.parts: list[str] = []
        self._skip = 0

    def handle_starttag(self, tag, attrs):  # noqa: ANN001
        if tag in ("script", "style"):
            self._skip += 1
        self.parts.append(" ")

    def handle_endtag(self, tag):  # noqa: ANN001
        if tag in ("script", "style") and self._skip:
            self._skip -= 1
        self.parts.append(" ")

    def handle_data(self, data):  # noqa: ANN001
        if not self._skip:
            self.parts.append(data)


# ASCII class, not \s: the oracle twin collapses with DuckDB/RE2
# regexp_replace('\s+') which is ASCII-only — unicode whitespace (NBSP,
#  , ...) must survive in BOTH engines or the value hash diverges.
_WS = re.compile(r"[ \t\n\r\f\v]+")


def extract_html_text(html: str) -> str:
    """HTML → visible text: script/style dropped, entities resolved, tag
    boundaries become spaces, ASCII whitespace collapsed, ends trimmed."""
    p = _TextExtractor()
    p.feed(html)
    p.close()
    # strip(" ") not strip(): after the ASCII collapse the ends hold at
    # most a plain ' ', and DuckDB's trim() removes only spaces — a
    # unicode-aware strip would diverge on text ending in NBSP etc.
    return _WS.sub(" ", "".join(p.parts)).strip(" ")


def with_extracted_text(df, html_col: str = "html"):
    """Append `text` = extract_html_text(html) via an Arrow-batched
    mapInPandas pass (the documented Python budget for parsing — HTML has
    no JVM-expression parse)."""
    import pandas as pd

    in_cols = df.columns

    def run(batches: Iterator) -> Iterator:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["text"] = [extract_html_text(h) for h in pdf[html_col]]
            yield pdf

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", text string"
    return df.mapInPandas(run, schema=out_schema).select(*in_cols, "text")
