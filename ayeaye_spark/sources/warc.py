"""WARC (Web ARChive, ISO 28500) crawl-archive source (``warc://``).

The container every public web crawl ships in (Common Crawl, Internet
Archive, Heritrix output): a ``.warc`` file is a sequence of records —
``WARC/1.0`` version line, CRLF-separated named headers (WARC-Type,
WARC-Target-URI, WARC-Date, Content-Length, ...), a blank line, then
exactly ``Content-Length`` payload bytes, then two CRLFs.  The
``.warc.gz`` variant gzips EACH RECORD as its own member (the spec's
recommendation, so readers can resume at member boundaries) — plain
concatenated-member streams decode with one ``zlib`` loop.

Mapping onto Spark, stdlib only:

* :func:`parse_warc_bytes` — pure-python record iterator over one
  archive's bytes (plain or gzip; tolerant of the trailing-CRLF
  variations real crawlers emit).
* :func:`read_warc` — ``binaryFile`` scan → ``mapInPandas`` record
  extraction, one row per record: the same ONE FILE = ONE TASK = ONE
  IN-MEMORY ARCHIVE contract as the WebDataset reader
  (``webdataset.py:read_tar_shards``); crawls are shipped as many
  ~1 GB archives, which is exactly the executor-friendly granularity.
* :func:`http_responses` — convenience projection of ``response``
  records: HTTP status / headers split from the body, decoded
  ``html`` text for ``text/*`` payloads — the frame
  ``operators.web.html_extract`` consumes directly.
* :func:`write_warc` — deterministic single-archive writer (driver-
  side; fixtures and small exports — a crawler writes the real ones).

Reference parity: the reference has no WARC connector — this is a
beyond-reference addition in the spirit of its file connectors
(``lib/ayeaye/connectors/uncooked_connector.py``), motivated by the
web-corpus curation family (``operators/web.py``).
"""

from __future__ import annotations

import gzip
import io
from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import ConnectorError, DataConnector, spark_path

RECORD_SCHEMA = (
    "archive_path STRING, warc_type STRING, record_id STRING, "
    "target_uri STRING, warc_date STRING, content_type STRING, "
    "payload BINARY"
)

_CRLF = b"\r\n"


def parse_warc_stream(f) -> Iterator[dict[str, Any]]:
    """Yield one dict per WARC record off a binary file object: the
    named headers (lowercased keys, version line under ``_version``)
    plus ``payload`` bytes.  Incremental — holds ONE record in memory
    at a time (the streaming DataSource's contract); skips stray blank
    lines between records (real crawlers vary between one and two
    trailing CRLFs)."""
    while True:
        line = f.readline()
        if not line:
            return
        if line in (b"\r\n", b"\n"):
            continue
        version = line.decode("utf-8", "replace").rstrip("\r\n")
        if not version.startswith("WARC/"):
            raise ConnectorError(
                f"malformed WARC: expected version line, got {version[:40]!r}"
            )
        rec: dict[str, Any] = {"_version": version}
        while True:
            h = f.readline()
            if not h:
                raise ConnectorError(
                    "malformed WARC: unterminated header block"
                )
            if h in (b"\r\n", b"\n"):
                break
            name, _, value = h.decode("utf-8", "replace").partition(":")
            rec[name.strip().lower()] = value.strip()
        try:
            length = int(rec["content-length"])
        except (KeyError, ValueError):
            raise ConnectorError(
                "malformed WARC: record without a numeric Content-Length"
            ) from None
        payload = f.read(length)
        if len(payload) < length:
            raise ConnectorError(
                f"malformed WARC: payload truncated ({len(payload)} of "
                f"{length} bytes)"
            )
        rec["payload"] = payload
        yield rec


def open_warc(path: str):
    """Binary stream over a WARC archive path — gzip-wrapped when the
    magic bytes say so (Python's gzip reads the record-per-member
    layout natively).  The sniffing handle is closed and the archive
    reopened through ``gzip.open`` (which OWNS its file), so closing
    the returned object always releases the underlying descriptor."""
    with open(path, "rb") as probe:
        magic = probe.read(2)
    if magic == b"\x1f\x8b":
        return gzip.open(path, "rb")
    return open(path, "rb")


def parse_warc_bytes(data: bytes) -> Iterator[dict[str, Any]]:
    """:func:`parse_warc_stream` over in-memory archive bytes (plain
    or gzip) — the ``binaryFile`` reader's entry point."""
    buf = io.BytesIO(data)
    if data[:2] == b"\x1f\x8b":
        return parse_warc_stream(gzip.GzipFile(fileobj=buf))
    return parse_warc_stream(buf)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC archives → one row per record (``RECORD_SCHEMA``).
    ``path`` may be a glob (``.../*.warc.gz``).

    ``binaryFile`` gives (path, whole-archive bytes) per file; records
    decode executor-side in an Arrow batch pass — no driver
    involvement, scan parallelism = number of archives (crawls ship
    thousands).  Memory contract: one whole archive materializes per
    row (Spark's 2 GB single-value ceiling) — the standard ~1 GB
    crawl-archive size fits; re-shard larger ones upstream."""
    files = spark.read.format("binaryFile").load(path)

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["archive_path", "warc_type", "record_id", "target_uri",
                "warc_date", "content_type", "payload"]
        for pdf in batches:
            out: list[dict[str, Any]] = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                for rec in parse_warc_bytes(bytes(content)):
                    out.append({
                        "archive_path": fpath,
                        "warc_type": rec.get("warc-type", ""),
                        "record_id": rec.get("warc-record-id", ""),
                        "target_uri": rec.get("warc-target-uri", ""),
                        "warc_date": rec.get("warc-date", ""),
                        "content_type": rec.get("content-type", ""),
                        "payload": rec["payload"],
                    })
            yield pd.DataFrame(out, columns=cols)

    return files.select("path", "content").mapInPandas(_extract, RECORD_SCHEMA)


def _dechunk(body: bytes) -> bytes:
    """Decode an HTTP/1.1 ``Transfer-Encoding: chunked`` body (hex size
    line, chunk bytes, repeat until the 0 chunk).  Malformed framing
    returns the body UNCHANGED — a hostile crawl record must not crash
    the plan, and raw bytes beat dropped bytes for debugging."""
    out = []
    pos = 0
    while True:
        nl = body.find(b"\n", pos)
        if nl < 0:
            return body
        size_token = body[pos:nl].strip().split(b";")[0]
        # strict hex only: int(b"-3", 16) / b"+3" / b"1_0" all parse but
        # are malformed framing — a negative size would walk pos
        # backwards and loop forever on hostile records
        if not size_token or any(
            c not in b"0123456789abcdefABCDEF" for c in size_token
        ):
            return body
        size = int(size_token, 16)
        pos = nl + 1
        if size == 0:
            return b"".join(out)
        if pos + size > len(body):
            return body
        out.append(body[pos:pos + size])
        pos += size
        if body[pos:pos + 2] == b"\r\n":
            pos += 2
        elif body[pos:pos + 1] == b"\n":
            pos += 1


def _decompress_body(body: bytes, content_encoding: str) -> bytes:
    """Undo ``Content-Encoding: gzip/x-gzip/deflate``; anything else —
    or corrupt compressed bytes — passes through unchanged."""
    enc = content_encoding.split(",")[0].strip().lower()
    try:
        if enc in ("gzip", "x-gzip"):
            return gzip.decompress(body)
        if enc == "deflate":
            import zlib

            try:
                return zlib.decompress(body)
            except zlib.error:  # raw-deflate servers omit the zlib header
                return zlib.decompress(body, -zlib.MAX_WBITS)
    except Exception:
        return body
    return body


def http_responses(records: DataFrame) -> DataFrame:
    """``response`` records → HTTP fields: status code, HTTP
    content-type, body bytes, and ``html`` (the body decoded utf-8-
    with-replacement when the HTTP content-type is ``text/*`` — the
    column ``operators.web.html_extract`` consumes).  Pure projection
    over the payload bytes (one Arrow pass, no shuffle).

    Real-crawl robustness: headers terminated by bare ``\\n\\n`` parse
    via fallback (some origin servers emit LF-only), chunked transfer
    framing is decoded (:func:`_dechunk`), and gzip/deflate content
    encodings are decompressed — all failure modes degrade to the raw
    bytes, never an exception."""
    def _split(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["target_uri", "warc_date", "http_status",
                "http_content_type", "body", "html"]
        for pdf in batches:
            out: list[dict[str, Any]] = []
            for uri, date, payload in zip(
                pdf["target_uri"], pdf["warc_date"], pdf["payload"]
            ):
                raw = bytes(payload)
                # earliest separator wins: an LF-only header whose BODY
                # happens to contain \r\n\r\n must still split at the
                # header's \n\n (note \n\n never occurs inside a
                # \r\n\r\n, so comparing positions is unambiguous)
                crlf_sep = raw.find(_CRLF + _CRLF)
                lf_sep = raw.find(b"\n\n")
                if crlf_sep >= 0 and (lf_sep < 0 or crlf_sep < lf_sep):
                    sep, seplen = crlf_sep, 4
                else:
                    sep, seplen = lf_sep, 2
                head = raw[:sep].decode("utf-8", "replace") if sep >= 0 else ""
                body = raw[sep + seplen:] if sep >= 0 else raw
                status = 0
                ctype = ""
                transfer_enc = ""
                content_enc = ""
                lines = head.splitlines()
                if lines and lines[0].startswith("HTTP/"):
                    parts = lines[0].split()
                    if len(parts) >= 2 and parts[1].isdigit():
                        status = int(parts[1])
                for line in lines[1:]:
                    name, _, value = line.partition(":")
                    name = name.strip().lower()
                    if name == "content-type" and not ctype:
                        ctype = value.strip()
                    elif name == "transfer-encoding" and not transfer_enc:
                        transfer_enc = value.strip()
                    elif name == "content-encoding" and not content_enc:
                        content_enc = value.strip()
                if "chunked" in transfer_enc.lower():
                    body = _dechunk(body)
                if content_enc:
                    body = _decompress_body(body, content_enc)
                html = (
                    body.decode("utf-8", "replace")
                    if ctype.split(";")[0].strip().startswith("text/")
                    else None
                )
                out.append({
                    "target_uri": uri, "warc_date": date,
                    "http_status": status, "http_content_type": ctype,
                    "body": body, "html": html,
                })
            yield pd.DataFrame(out, columns=cols)

    return records.where(F.col("warc_type") == "response").mapInPandas(
        _split,
        "target_uri STRING, warc_date STRING, http_status INT, "
        "http_content_type STRING, body BINARY, html STRING",
    )


def write_warc(
    path: str,
    records: list[dict[str, Any]],
    *,
    compress: bool | None = None,
) -> None:
    """Deterministic single-archive writer (driver-side): each record
    dict needs ``warc_type`` and ``payload`` (bytes); optional
    ``target_uri`` / ``warc_date`` / ``record_id`` / ``content_type``.
    Headers are emitted in a fixed order and ``.warc.gz`` paths gzip
    each record as its own member with pinned mtime, so output bytes
    are reproducible — fixtures, tests, and small exports (a crawler
    writes the real archives)."""
    if compress is None:
        compress = path.endswith(".gz")
    chunks = []
    for i, rec in enumerate(records):
        payload = rec["payload"]
        if isinstance(payload, str):
            payload = payload.encode("utf-8")
        headers = [("WARC-Type", rec["warc_type"])]
        rid = rec.get("record_id", f"<urn:uuid:{i:08d}>")
        headers.append(("WARC-Record-ID", rid))
        if rec.get("warc_date"):
            headers.append(("WARC-Date", rec["warc_date"]))
        if rec.get("target_uri"):
            headers.append(("WARC-Target-URI", rec["target_uri"]))
        if rec.get("content_type"):
            headers.append(("Content-Type", rec["content_type"]))
        headers.append(("Content-Length", str(len(payload))))
        head = b"WARC/1.0\r\n" + b"".join(
            f"{k}: {v}\r\n".encode("utf-8") for k, v in headers
        ) + _CRLF
        record = head + payload + _CRLF + _CRLF
        if compress:
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(record)
            record = buf.getvalue()
        chunks.append(record)
    with open(path, "wb") as f:
        f.write(b"".join(chunks))


def http_response_payload(
    html: str,
    *,
    status: int = 200,
    content_type: str = "text/html; charset=utf-8",
) -> bytes:
    """Assemble an HTTP response payload (status line + headers + body)
    for ``response`` records — fixture helper for :func:`write_warc`."""
    body = html.encode("utf-8")
    head = (
        f"HTTP/1.1 {status} OK\r\n"
        f"Content-Type: {content_type}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode("utf-8")
    return head + body


class WarcConnector(DataConnector):
    """``warc://`` — WARC crawl archives (read-only; crawlers write).

    ``warc:///data/crawl/*.warc.gz`` → the record frame
    (``RECORD_SCHEMA``); ``;responses`` narrows to HTTP ``response``
    records with the status/content-type/body/html projection."""

    engine_types = ["warc"]

    def read(self, spark: SparkSession) -> DataFrame:
        self._require_read()
        path = spark_path(self.url)
        if not any(ch in path for ch in "*?[") and not path.endswith(
            (".warc", ".warc.gz")
        ):
            path = path.rstrip("/") + "/*.warc*"
        records = read_warc(spark, path)
        if self.url.bool_option("responses", False):
            return http_responses(records)
        return records

    def write(self, df: DataFrame, mode: str = "overwrite") -> None:
        raise ConnectorError(
            "warc:// is read-only: WARC archives are produced by "
            "crawlers; export curated corpora via wds:// or arrow:// "
            "instead (write_warc exists for driver-side fixtures)."
        )
