"""WARC source: read Common-Crawl-style WARC files into the corpus
schema (url, warc_ts, html) — the container format real CC crawls ship.

Reader shape (100 TB): `spark.read.format("binaryFile")` gives one row
per WARC file; a per-row function run through `pipeline.map_rows`
parses records file-local, so the unit of parallelism is the WARC
file — exactly the grain Common Crawl publishes (~1 GB gzip members
per file, tens of thousands of files per crawl). No record-level
splitting is needed at that grain; repartition by file count before
the parse when file sizes skew.

Supports plain WARC/1.0–1.1 and the per-record-gzip-member layout CC
uses (multi-member gzip detected and inflated member-by-member).
`response` records carry an HTTP message; headers are stripped to the
body. Malformed records surface as warning rows, never task failures
(the kernel's lenient-parse discipline).

Reference surface: the reference engine has no WARC reader (it reads
loose PDF files); this source exists for the north rule's
Common-Crawl-shaped input table.
"""

from __future__ import annotations

import gzip
import io
import zlib
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (BinaryType, LongType, StringType, StructField,
                               StructType, TimestampType)

from ..pipeline import map_rows

WARC_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("html", BinaryType()),
    StructField("warc_file", StringType()),
    StructField("record_offset", LongType()),
    StructField("warning", StringType()),
])


def _split_gzip_members(data: bytes) -> bytes:
    """Inflate a (possibly multi-member) gzip stream to one buffer."""
    out = bytearray()
    pos = 0
    while pos < len(data):
        d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
        try:
            out += d.decompress(data[pos:])
        except zlib.error as e:
            raise ValueError(f"corrupt gzip member: {e}") from e
        if not d.eof:
            raise ValueError("truncated gzip member")
        consumed = len(data) - pos - len(d.unused_data)
        if consumed <= 0:
            raise ValueError("gzip member made no progress")
        pos += consumed
    return bytes(out)


def parse_warc(data: bytes, source_name: str = "",
               want_types: tuple[str, ...] = ("response",)) -> list[dict]:
    """Parse WARC bytes into rows (dicts matching WARC_SCHEMA).
    Records whose WARC-Type is in `want_types` yield their payload in
    `html` (the HTTP envelope is stripped when present); other record
    types (warcinfo, request, metadata) are skipped. WET files are the
    same grammar with `conversion` records, so `want_types=
    ("conversion",)` reads them. Malformed records become warning rows
    and parsing resumes at the next boundary."""
    if data[:2] == b"\x1f\x8b":
        data = _split_gzip_members(data)
    rows: list[dict] = []
    pos = 0
    n = len(data)
    while pos < n:
        if data[pos:pos + 1] in (b"\r", b"\n"):
            pos += 1
            continue
        start = pos
        if not data.startswith(b"WARC/", pos):
            nxt = data.find(b"WARC/", pos + 1)
            rows.append({"url": None, "warc_ts": None, "html": None,
                         "warc_file": source_name, "record_offset": start,
                         "warning": "garbage before record boundary"})
            if nxt == -1:
                break
            pos = nxt
            continue
        hdr_end = data.find(b"\r\n\r\n", pos)
        if hdr_end == -1:
            rows.append({"url": None, "warc_ts": None, "html": None,
                         "warc_file": source_name, "record_offset": start,
                         "warning": "truncated record header"})
            break
        headers: dict[str, str] = {}
        for line in data[pos:hdr_end].split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().lower().decode("latin-1")] = \
                v.strip().decode("latin-1")
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            rows.append({"url": None, "warc_ts": None, "html": None,
                         "warc_file": source_name, "record_offset": start,
                         "warning": "missing/bad Content-Length"})
            nxt = data.find(b"WARC/", hdr_end)
            if nxt == -1:
                break
            pos = nxt
            continue
        body = data[hdr_end + 4:hdr_end + 4 + length]
        pos = hdr_end + 4 + length
        if len(body) != length:
            rows.append({"url": None, "warc_ts": None, "html": None,
                         "warc_file": source_name, "record_offset": start,
                         "warning": "truncated record body"})
            break
        if headers.get("warc-type") not in want_types:
            continue
        url = headers.get("warc-target-uri")
        ts = None
        raw_ts = headers.get("warc-date", "")
        try:
            ts = datetime.strptime(raw_ts, "%Y-%m-%dT%H:%M:%SZ").replace(
                tzinfo=timezone.utc)
        except ValueError:
            pass
        payload = body
        if headers.get("content-type", "").startswith("application/http"):
            http_end = body.find(b"\r\n\r\n")
            payload = body[http_end + 4:] if http_end != -1 else b""
        rows.append({"url": url, "warc_ts": ts, "html": payload,
                     "warc_file": source_name, "record_offset": start,
                     "warning": None})
    return rows


def _warc_file_rows(path: str, content: bytes, *, want_types: tuple):
    try:
        return parse_warc(content, path, want_types=want_types)
    except Exception as e:  # noqa: BLE001 — lenient source
        return [{"warc_file": path, "record_offset": 0,
                 "warning": f"unreadable WARC: {e}"}]


def read_warc(spark: SparkSession, path: str,
              want_types: tuple[str, ...] = ("response",)) -> DataFrame:
    """WARC files → corpus rows. binaryFile scan (one row per file,
    content pruned to what the parse consumes) → per-file parse through
    `pipeline.map_rows`, one task per file (the CC grain)."""
    files = spark.read.format("binaryFile") \
        .load(path).select("path", "content")
    return map_rows(files, _warc_file_rows, WARC_SCHEMA,
                    want_types=want_types)


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """WET files (Common Crawl's extracted-text sibling of WARC:
    `conversion` records, text/plain payload) → (url, warc_ts, text)
    corpus rows. Same file-grain parallelism as read_warc; the UTF-8
    decode happens JVM-side via a cast on the parsed payload."""
    import pyspark.sql.functions as F

    rows = read_warc(spark, path, want_types=("conversion",))
    return rows.select(
        "url", "warc_ts",
        F.col("html").cast("string").alias("text"),
        F.col("warc_file").alias("wet_file"),
        "record_offset", "warning")


def build_warc(records: list[tuple[str, datetime, bytes]],
               gzip_per_record: bool = False,
               with_http: bool = True,
               warc_type: str = "response",
               plain_content_type: str = "application/octet-stream") -> bytes:
    """Serialize (url, ts, body) triples as a WARC/1.0 file — the test
    twin of parse_warc, emitting the CC layout (optionally one gzip
    member per record). warc_type/plain_content_type support the WET
    layout (`conversion` + text/plain) via the same grammar."""
    out = bytearray()
    for i, (url, ts, body) in enumerate(records):
        if with_http:
            http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                    + b"Content-Length: " + str(len(body)).encode()
                    + b"\r\n\r\n" + body)
            ctype = "application/http; msgtype=response"
        else:
            http = body
            ctype = plain_content_type
        hdr = (f"WARC/1.0\r\n"
               f"WARC-Type: {warc_type}\r\n"
               f"WARC-Record-ID: <urn:uuid:{i:032x}>\r\n"
               f"WARC-Date: {ts.strftime('%Y-%m-%dT%H:%M:%SZ')}\r\n"
               f"WARC-Target-URI: {url}\r\n"
               f"Content-Type: {ctype}\r\n"
               f"Content-Length: {len(http)}\r\n\r\n").encode()
        rec = hdr + http + b"\r\n\r\n"
        if gzip_per_record:
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(rec)
            out += buf.getvalue()
        else:
            out += rec
    return bytes(out)


def write_warc(df: DataFrame, out_dir: str, warc_type: str = "response",
               with_http: bool = True,
               plain_content_type: str = "application/octet-stream",
               ext_base: str = "warc") -> DataFrame:
    """Distributed WARC sink: each partition serializes its (url,
    warc_ts, html) rows into ONE WARC file (per-record gzip members —
    the CC layout) and returns a manifest row (warc_file, n_records,
    n_bytes, n_skipped). Rows with a null url are unserializable as
    WARC records — they are DROPPED and counted in the manifest's
    n_skipped (lenient-sink discipline: a bad row degrades to a
    warning count, never a task failure); a null warc_ts defaults to
    the epoch. Writing happens on executors; file
    names carry the partition id + a content hash so reruns are
    idempotent at the file level. Partition the input deterministically
    (repartition(n, key) + sortWithinPartitions) for reproducible
    files. At cluster scale out_dir is object storage and the manifest
    is committed to the catalog alongside the files — the standard
    export shape for interchange with WARC-consuming tools."""
    import hashlib
    import os
    from typing import Iterator

    import pandas as pd

    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    manifest_schema = StructType([
        StructField("warc_file", StringType()),
        StructField("n_records", LongType()),
        StructField("n_bytes", LongType()),
        StructField("n_skipped", LongType()),
    ])

    _EPOCH = datetime(1970, 1, 1)

    def write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        recs = []
        n_skipped = 0
        for pdf in batches:
            for url, ts, html in zip(pdf["url"], pdf["warc_ts"],
                                     pdf["html"]):
                if url is None or (isinstance(url, float) and pd.isna(url)):
                    n_skipped += 1  # no WARC-Target-URI possible
                    continue
                if ts is None or pd.isna(ts):
                    pyts = _EPOCH
                else:
                    pyts = ts.to_pydatetime()
                recs.append((str(url), pyts,
                             bytes(html) if html is not None else b""))
        if not recs:
            if n_skipped:  # all rows unserializable: surface the count
                yield pd.DataFrame(
                    [{"warc_file": None, "n_records": 0, "n_bytes": 0,
                      "n_skipped": n_skipped}])
            else:
                yield pd.DataFrame(
                    [], columns=[f.name for f in manifest_schema])
            return
        data = build_warc(recs, gzip_per_record=True,
                          warc_type=warc_type, with_http=with_http,
                          plain_content_type=plain_content_type)
        digest = hashlib.sha1(data).hexdigest()[:12]
        name = f"part-{pid:05d}-{digest}.{ext_base}.gz"
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, name)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)  # atomic publish — rerun-idempotent
        yield pd.DataFrame(
            [{"warc_file": name, "n_records": len(recs),
              "n_bytes": len(data), "n_skipped": n_skipped}])

    # the package's one mapInPandas: not a per-row map but a per-partition
    # sink that consumes every batch and publishes ONE file
    return df.select("url", "warc_ts", "html").mapInPandas(
        write, manifest_schema)


def write_wet(df: DataFrame, out_dir: str) -> DataFrame:
    """Distributed WET sink: (url, warc_ts, text) rows → Common-Crawl
    WET files (`conversion` records, text/plain, no HTTP envelope),
    one file per partition with the same atomic-publish + manifest
    discipline as write_warc. Null text serializes as empty payload;
    null url rows are skipped and counted, matching the WARC sink."""
    import pyspark.sql.functions as F

    wet = df.select(
        "url", "warc_ts",
        F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8")
        .alias("html"))
    m = write_warc(wet, out_dir, warc_type="conversion", with_http=False,
                   plain_content_type="text/plain", ext_base="wet")
    return m.withColumnRenamed("warc_file", "wet_file")
