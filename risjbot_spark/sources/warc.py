"""WARC / WET source and sink: Common Crawl's on-disk formats.

The north-star corpus is "Common-Crawl-style web pages" (BASELINE.json
input_hint) — at 100 TB that corpus does not arrive as parquet but as
WARC segments (ISO 28500 / WARC/1.0/1.1: gzip, one member per record,
~1 GB per file, ~100k files per crawl).  The reference crawls live HTTP
(Scrapy engine, /root/reference/RISJbot/settings.py:45-48) and never
reads archives; a Spark engine that replaces it needs a distributed
WARC reader that lands the exact PAGES_SCHEMA table the rest of the
pipeline consumes, plus a WARC writer so a crawl round can emit
interchange-format output.

Format knowledge used here is the public WARC spec only:
  * a record = "WARC/1.0\\r\\n" + header lines + CRLF CRLF + Content-Length
    payload bytes + CRLF CRLF;
  * Common Crawl compresses each record as its own gzip member, so a
    .warc.gz file is a concatenation of gzip streams — decodable
    member-by-member with zlib's `unused_data` loop (also how warcio and
    Hadoop's WARC readers resync);
  * `response` records wrap the payload in an HTTP/1.1 envelope (status
    line + headers + CRLF CRLF + body); `conversion` records (WET) carry
    extracted plain text; `warcinfo` / `request` / `metadata` records are
    bookkeeping.

Scale shape: one task per WARC file (`binaryFile` source).  A file is
parsed incrementally from its in-memory bytes; peak memory per task is
one file (~1 GB by CC convention) plus one decompressed record.  At
100 TB that is ~10^5 independent tasks with zero shuffle — the parse is
a pure mapInPandas, filters on rec_type/url prune before anything wide
runs, and the emitted DataFrame feeds the existing crawl/extract
operators unchanged.  Files are the parallelism unit because per-record
gzip members are not splittable without an external index; CC sizes
files (~1 GB) for exactly this access pattern.
"""

from __future__ import annotations

import gzip
import io
import re
import zlib
from datetime import datetime, timezone
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

CRLF = b"\r\n"
_GZ_MAGIC = b"\x1f\x8b"
# the spec's fixed-width WARC-Date form, guarded strictly (see the
# parse fast path): digits and separators both checked
_WARC_DATE_RE = re.compile(r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z$",
                           re.ASCII)

# Parsed-record rows (superset of PAGES_SCHEMA: rec_type/content_type
# let callers keep request/metadata records when they want them).
WARC_RECORD_SCHEMA = T.StructType([
    T.StructField("file", T.StringType()),
    T.StructField("rec_type", T.StringType()),
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("content_type", T.StringType()),
    T.StructField("http_status", T.IntegerType()),
    T.StructField("lang", T.StringType()),
    T.StructField("payload", T.BinaryType()),
])

WARC_MANIFEST_SCHEMA = T.StructType([
    T.StructField("file", T.StringType()),
    T.StructField("n_records", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
])


# ---------------------------------------------------------------------------
# record building (driver- or executor-side; pure bytes -> bytes)
# ---------------------------------------------------------------------------

def _warc_date(ts: datetime) -> str:
    """WARC-Date: UTC ISO-8601 with trailing Z (spec §5.4)."""
    if ts.tzinfo is not None:
        ts = ts.astimezone(timezone.utc).replace(tzinfo=None)
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def _record_id(url: str, date: str) -> str:
    """Deterministic WARC-Record-ID (spec requires a unique URI; a
    name-based UUID over url+date keeps output byte-stable run-to-run
    — same policy as the gzip mtime=0 raw-page sink, sinks.py)."""
    import uuid
    return f"<urn:uuid:{uuid.uuid5(uuid.NAMESPACE_URL, f'{url}|{date}')}>"


_LANG_RE = re.compile(r"^[A-Za-z0-9,\-]{1,64}$")


def _header_safe_uri(url: str) -> str:
    """WARC-Target-URI must be a header-safe ASCII URI: control chars
    (header injection — a CRLF in a url would forge header lines or
    terminate the block early) are rejected loudly; non-ASCII (IRIs are
    common in crawl data) is percent-encoded, the standard IRI→URI
    mapping, so the record still frames and round-trips."""
    if any(ord(c) < 0x20 or c == "\x7f" for c in url):
        raise ValueError(f"control character in url {url!r}; refusing "
                         "to write a corrupt WARC header")
    try:
        url.encode("ascii")
        if " " not in url:
            return url
    except UnicodeEncodeError:
        pass
    # spaces must encode too: the CDX sidecar is space-delimited, and a
    # bare space in a header value is at best ambiguous
    from urllib.parse import quote
    return quote(url, safe=":/?#[]@!$&'()*+,;=%~")


def build_record(url: str, ts: datetime, payload: bytes, *,
                 rec_type: str = "response",
                 http_envelope: bool = True,
                 http_status: int = 200,
                 http_content_type: str = "text/html; charset=utf-8",
                 lang: str | None = None) -> bytes:
    """One uncompressed WARC record. `response` records get an HTTP/1.1
    envelope (CC convention); `conversion` (WET) and others carry the
    payload bare."""
    url = _header_safe_uri(url)
    if lang is not None and not _LANG_RE.match(lang):
        raise ValueError(f"invalid language tag {lang!r} for the "
                         "WARC-Identified-Content-Language header")
    date = _warc_date(ts)
    if rec_type == "response" and http_envelope:
        body = (f"HTTP/1.1 {http_status} OK\r\n"
                f"Content-Type: {http_content_type}\r\n"
                f"Content-Length: {len(payload)}\r\n\r\n"
                ).encode("ascii") + payload
        content_type = "application/http; msgtype=response"
    else:
        body = payload
        content_type = ("text/plain" if rec_type == "conversion"
                        else "application/octet-stream")
    headers = [
        b"WARC/1.0",
        f"WARC-Type: {rec_type}".encode("ascii"),
        f"WARC-Record-ID: {_record_id(url, date)}".encode("ascii"),
        f"WARC-Date: {date}".encode("ascii"),
        f"WARC-Target-URI: {url}".encode("ascii"),
        f"Content-Type: {content_type}".encode("ascii"),
        f"Content-Length: {len(body)}".encode("ascii"),
    ]
    if lang:
        # WARC/1.1 extension header Common Crawl writes on WET records
        headers.append(
            f"WARC-Identified-Content-Language: {lang}".encode("ascii"))
    return CRLF.join(headers) + CRLF + CRLF + body + CRLF + CRLF


def gzip_member(record: bytes) -> bytes:
    """Record -> its own gzip member (CC convention), mtime=0 so the
    bytes are deterministic."""
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(record)
    return buf.getvalue()


def build_warc_bytes(records: Iterable[bytes], *,
                     gzip_members: bool = True) -> bytes:
    """Concatenate records into one .warc(.gz) file's bytes."""
    if gzip_members:
        return b"".join(gzip_member(r) for r in records)
    return b"".join(records)


# ---------------------------------------------------------------------------
# parsing (pure bytes -> iterator of dicts)
# ---------------------------------------------------------------------------

_GZ_FEED_MIN = 1 << 13      # first feed per member (8 KiB)
_GZ_FEED_CHUNK = 1 << 20    # feed cap per call (1 MiB)


def _iter_members(data: bytes) -> Iterator[bytes]:
    """Decompress a concatenated-gzip-member buffer one member at a
    time; plain buffers pass through whole.  Tolerates a truncated
    trailing member (yields what decoded).

    Cost is O(total bytes), not O(members × file size): an integer
    offset walks a memoryview and each decompressobj is fed bounded
    chunks until its ``eof``; the offset then rewinds by
    ``len(d.unused_data)`` (the tail of the final chunk that belongs
    to the NEXT member).  The naive ``rest = d.unused_data`` resync
    copies the whole remaining buffer once per member — hours for a
    ~1 GB / 100k-member Common Crawl segment.  Chunks grow
    geometrically per member (8 KiB → 1 MiB): ``unused_data`` is
    itself a copy of the fed chunk's tail, so a fixed 1 MiB feed would
    cost members × 1 MiB on CC's many-small-member files, while the
    growing feed bounds the final-chunk copy to ~the member's own
    size."""
    if not data.startswith(_GZ_MAGIC):
        yield data
        return
    view = memoryview(data)
    n = len(data)
    pos = 0
    while pos + 2 <= n and data[pos:pos + 2] == _GZ_MAGIC:
        d = zlib.decompressobj(wbits=16 + zlib.MAX_WBITS)
        parts: list = []
        feed = _GZ_FEED_MIN
        try:
            while not d.eof and pos < n:
                chunk = view[pos:pos + feed]
                parts.append(d.decompress(chunk))
                pos += len(chunk)
                feed = min(feed * 2, _GZ_FEED_CHUNK)
            pos -= len(d.unused_data)
        except zlib.error:
            return
        out = b"".join(parts)
        if out:
            yield out
        if not d.eof:           # truncated final member
            return
    # trailing non-gzip garbage is ignored (CC files never have any;
    # resyncing mid-stream without an index is what members are for)


def _parse_header_block(block: bytes) -> dict:
    """WARC or HTTP header block -> {lowercased-name: value}."""
    headers: dict = {}
    for line in block.split(CRLF):
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip().lower().decode("latin-1")] = (
                v.strip().decode("latin-1"))
    return headers


def _split_http_envelope(body: bytes, *, with_headers: bool = True,
                         ) -> tuple[int | None, dict, bytes]:
    """HTTP response envelope -> (status, headers, payload). Returns
    (None, {}, body) when the body is not an HTTP message.

    with_headers=False skips building the header dict (returns {}) —
    the hot parse path only needs status+payload, and the dict build
    is ~10% of per-record parse time."""
    if not body.startswith(b"HTTP/"):
        return None, {}, body
    head, sep, payload = body.partition(CRLF + CRLF)
    if not sep:
        return None, {}, body
    lines = head.split(CRLF)
    try:
        status = int(lines[0].split()[1])
    except (IndexError, ValueError):
        return None, {}, body
    headers = (_parse_header_block(CRLF.join(lines[1:]))
               if with_headers else {})
    return status, headers, payload


def parse_warc_bytes(data: bytes, *, file: str = "") -> Iterator[dict]:
    """One .warc(.gz) file's bytes -> dict per record (keys matching
    WARC_RECORD_SCHEMA).  `response` payloads are the HTTP body with
    the envelope stripped; malformed records stop the current member's
    scan (per-record gzip members resync at the next member, so one bad
    record cannot poison a file)."""
    for member in _iter_members(data):
        pos = 0
        n = len(member)
        while pos < n:
            # skip inter-record CRLFs
            while member.startswith(CRLF, pos):
                pos += 2
            if pos >= n:
                break
            if not member.startswith(b"WARC/", pos):
                break  # lost sync inside this member
            end = member.find(CRLF + CRLF, pos)
            if end < 0:
                break
            headers = _parse_header_block(member[pos:end])
            try:
                length = int(headers.get("content-length", ""))
            except ValueError:
                break
            if length < 0:
                # a negative length would move pos BACKWARD and loop
                # the same record forever — treat as lost sync
                break
            body = member[end + 4:end + 4 + length]
            if len(body) < length:
                break  # truncated record
            pos = end + 4 + length
            rec_type = headers.get("warc-type", "")
            url = headers.get("warc-target-uri")
            raw_date = headers.get("warc-date")
            ts = None
            if raw_date:
                # fast path for the spec's fixed-width form
                # YYYY-MM-DDTHH:MM:SSZ — strptime is ~8x slower and was
                # ~20% of whole-record parse time. The anchored regex
                # guard (C-level, ~strptime/15) keeps the slicing as
                # strict as strptime was: separators AND digits checked,
                # so a malformed 20-char date still yields ts=None
                # instead of silently mis-parsing
                if _WARC_DATE_RE.match(raw_date):
                    try:
                        ts = datetime(
                            int(raw_date[0:4]), int(raw_date[5:7]),
                            int(raw_date[8:10]), int(raw_date[11:13]),
                            int(raw_date[14:16]), int(raw_date[17:19]))
                    except ValueError:
                        ts = None
                if ts is None:
                    try:
                        ts = datetime.fromisoformat(
                            raw_date.replace("Z", "+00:00")
                        ).astimezone(timezone.utc).replace(tzinfo=None)
                    except ValueError:
                        # last resort: strptime tolerates non-padded
                        # fields (2026-1-2T3:04:05Z) that both the
                        # fixed-width regex and fromisoformat reject —
                        # sloppy third-party writers emit them, and the
                        # fast path must not be STRICTER than the
                        # strptime it replaced
                        try:
                            ts = datetime.strptime(
                                raw_date, "%Y-%m-%dT%H:%M:%SZ")
                        except ValueError:
                            ts = None
            content_type = headers.get("content-type", "")
            status = None
            payload = body
            if content_type.startswith("application/http"):
                status, _, payload = _split_http_envelope(
                    body, with_headers=False)
            yield {
                "file": file,
                "rec_type": rec_type,
                "url": url,
                "warc_ts": ts,
                "content_type": content_type,
                "http_status": status,
                "lang": headers.get("warc-identified-content-language"),
                "payload": payload,
            }


# ---------------------------------------------------------------------------
# Spark source
# ---------------------------------------------------------------------------

def record_chunks(data: bytes, *, file: str = "",
                  chunk_records: int = 512) -> "Iterator[pd.DataFrame]":
    """One file's bytes -> WARC_RECORD_SCHEMA-shaped pandas chunks of
    at most chunk_records rows — the shared executor-side inner loop of
    the batch reader AND the streaming path-queue reader, so per-task
    peak memory is the compressed bytes plus one chunk of decompressed
    payloads, never the whole decompressed file (a ~1 GB CC .warc.gz
    decompresses 3-5×)."""
    cols = [f.name for f in WARC_RECORD_SCHEMA.fields]
    buf: list = []
    for rec in parse_warc_bytes(data, file=file):
        buf.append(rec)
        if len(buf) >= chunk_records:
            yield pd.DataFrame(buf, columns=cols)
            buf = []
    if buf:
        yield pd.DataFrame(buf, columns=cols)


def parse_records_df(files: DataFrame, *, data_col: str = "content",
                     name_col: str | None = None,
                     chunk_records: int = 512) -> DataFrame:
    """(data_col binary[, name_col]) rows -> one WARC_RECORD_SCHEMA row
    per record.  Pure mapInPandas — no shuffle; records stream out in
    bounded Arrow batches (record_chunks)."""

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                name = str(row[name_col]) if name_col else ""
                yield from record_chunks(bytes(row[data_col]), file=name,
                                         chunk_records=chunk_records)

    return files.mapInPandas(_parse, schema=WARC_RECORD_SCHEMA)


def records_to_pages(rec: DataFrame) -> DataFrame:
    """WARC_RECORD_SCHEMA rows -> the engine's input table
    (PAGES_SCHEMA) — shared by the batch reader and the streaming twin
    so the mapping can never drift between them.  `response` records
    land their HTTP body in `html`; `conversion` (WET) records land
    their UTF-8 text in `text`."""
    keep = rec.filter(
        F.col("rec_type").isin("response", "conversion")
        & F.col("url").isNotNull())
    return keep.select(
        "url",
        "warc_ts",
        F.when(F.col("rec_type") == "response", F.col("payload"))
         .alias("html"),
        F.when(F.col("rec_type") == "conversion",
               F.decode(F.col("payload"), "UTF-8")).alias("text"),
        "lang",
    )


def read_warc(spark: SparkSession, path: str, *,
              glob: str | None = None,
              split_by_cdx: bool = False,
              split_bytes: int = 128 << 20,
              task_partitions: int | None = None) -> DataFrame:
    """Distributed WARC reader.

    Default mode: one task per file, zero shuffle.  `binaryFile` hands
    each task (path, content) — whole-file because per-record gzip
    members are not splittable without a side index; CC sizes files
    (~1 GB) for exactly this.  Column pruning applies downstream:
    select only url/warc_ts and the payload bytes never cross an
    exchange.

    split_by_cdx=True: when `.cdx` sidecars exist (write_warc writes
    one per part), the member byte extents make large files splittable
    — see read_warc_splits.  Removes the one-task-per-file ceiling for
    skewed segment sizes (>1 task/GB).  `glob` restricts which .warc.gz
    members are read in this mode too (matched against the CDX `file`
    column); `task_partitions` overrides the split-task spread count
    (defaults to 2× executor cores); a directory with NO sidecars
    raises rather than silently returning zero rows."""
    if split_by_cdx:
        return read_warc_splits(spark, path, split_bytes=split_bytes,
                                member_glob=glob,
                                task_partitions=task_partitions)
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    files = reader.load(path).select("path", "content")
    return parse_records_df(files, data_col="content", name_col="path")


def _split_task_partitions(spark: SparkSession,
                           requested: int | None) -> int:
    """Task count for the CDX-split spec spread.

    Target 2× the executor core count so split tasks saturate the
    cluster even with stragglers.  `sparkContext` is unavailable on
    Spark Connect sessions — fall back to the (always conf-readable)
    shuffle partition count, which operators size to the cluster."""
    if requested is not None:
        return max(int(requested), 1)
    try:
        cores = 2 * spark.sparkContext.defaultParallelism
    except Exception:  # Spark Connect: no sparkContext
        try:
            cores = int(spark.conf.get("spark.sql.shuffle.partitions",
                                       "200"))
        except (TypeError, ValueError):
            # e.g. AQE auto-optimized shuffle reports "auto"
            cores = 200
    return max(cores, 16)


def read_warc_splits(spark: SparkSession, path: str, *,
                     split_bytes: int = 128 << 20,
                     cdx_glob: str = "*.cdx",
                     member_glob: str | None = None,
                     task_partitions: int | None = None) -> DataFrame:
    """CDX-driven splittable WARC reader: offset-range tasks instead of
    whole files.

    The `.cdx` sidecar records every member's (offset, length) extent,
    so a file splits on exact member boundaries: members bucket by
    ``floor(offset / split_bytes)``; within a bucket, extents that sit
    back-to-back merge into one contiguous span, so a task does one
    seek+read per span (one per bucket for a complete index).  Byte
    ranges never overlap and never cut a member.  Split planning is
    itself a distributed job over the tiny index text — no driver-side
    file listing or collect; only extent STRUCTS shuffle (a few KB per
    GB of archive), never record bytes.

    Contract: returns EXACTLY the CDX-indexed records, invariant to
    split_bytes.  write_warc's sidecars index every member, so for
    archives this engine wrote (or any complete index) the result
    equals read_warc's (tests assert row-level identity); a foreign
    index that omits record types (some CC CDXes skip request records)
    omits those members here too — an unindexed member is never read,
    even when it sits between two indexed ones, because spans only
    merge across extents that are exactly adjacent.

    `member_glob` restricts reads to matching .warc.gz file names (the
    CDX `file` column).  A directory with no matching `.cdx` sidecars
    raises ValueError — silently returning zero rows would read as an
    empty archive.

    `path` must be the directory holding the .warc.gz parts and their
    sidecars, openable from executors (same contract as write_warc)."""
    import fnmatch
    import os as _os

    base_dir = path
    index = read_cdx(spark, path, glob=cdx_glob)
    # cheap existence probe over the tiny index text: one row suffices
    if not index.limit(1).take(1):
        raise ValueError(
            f"split_by_cdx: no {cdx_glob!r} sidecars under {path!r} — "
            "write_warc(cdx=True) writes them; use split_by_cdx=False "
            "for whole-file reads")
    if member_glob:
        index = index.filter(
            F.col("file").rlike("^" + fnmatch.translate(member_glob)))
    splits = (
        index
        .groupBy(
            "file",
            F.floor(F.col("offset") / F.lit(int(split_bytes)))
             .alias("split_id"))
        .agg(F.sort_array(F.collect_list(F.struct("offset", "length")))
              .alias("extents"))
        # spread the split SPECS across tasks — only spec structs ever
        # shuffle, never record bytes. The partition count MUST be
        # explicit: the spec rows are a few KB, so AQE's small-partition
        # coalescing would otherwise fuse ALL splits into one task
        # (measured: a 36-split read ran serially, slower than the
        # whole-file mode it exists to beat) — AQE optimizes for shuffle
        # bytes and can't see that each spec row fans out into megabytes
        # of range-read work downstream. The assignment must also be
        # DETERMINISTIC-BALANCED: hashing (file, split_id) — one row per
        # group — stacks ~1/e of the splits onto shared tasks by
        # collision, and bare round-robin only balances when AQE has
        # coalesced the groupBy output to a single upstream partition
        # (each upstream partition round-robins from its own random
        # start). A global row_number over the tiny spec set (the
        # single-partition window is fine: specs are KBs even for a
        # 100 TB archive) + repartitionByRange yields contiguous
        # ±1-balanced chunks regardless of AQE or upstream layout.
        .withColumn(
            "_rn",
            F.row_number().over(Window.orderBy("file", "split_id")))
        .repartitionByRange(
            _split_task_partitions(spark, task_partitions), F.col("_rn"))
        .drop("_rn")
    )

    def _read(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, r in pdf.iterrows():
                fpath = _os.path.join(base_dir, str(r["file"]))
                # merge exactly-adjacent extents into contiguous spans:
                # a gap means an unindexed member — skip it by seeking
                spans: list[list[int]] = []
                for e in r["extents"]:
                    off, ln = int(e["offset"]), int(e["length"])
                    if spans and spans[-1][1] == off:
                        spans[-1][1] = off + ln
                    else:
                        spans.append([off, off + ln])
                with open(fpath, "rb") as fh:
                    for start, end in spans:
                        fh.seek(start)
                        data = fh.read(end - start)
                        # "file:" + abspath matches binaryFile's path
                        # format so split and whole-file reads are
                        # row-identical
                        yield from record_chunks(
                            data, file="file:" + _os.path.abspath(fpath))

    return splits.mapInPandas(_read, schema=WARC_RECORD_SCHEMA)


def pages_from_warc(spark: SparkSession, path: str, *,
                    glob: str | None = None,
                    split_by_cdx: bool = False,
                    split_bytes: int = 128 << 20,
                    task_partitions: int | None = None) -> DataFrame:
    """WARC segments -> the engine's input table (PAGES_SCHEMA:
    url, warc_ts, html, text, lang) via records_to_pages.  A crawl
    that has both responses and conversions joins them by url
    downstream; most runs read one kind.  split_by_cdx / split_bytes /
    task_partitions as in read_warc (offset-range tasks off the .cdx
    sidecars — >1 task/GB on skewed segments)."""
    return records_to_pages(read_warc(
        spark, path, glob=glob, split_by_cdx=split_by_cdx,
        split_bytes=split_bytes, task_partitions=task_partitions))


# ---------------------------------------------------------------------------
# Spark sink
# ---------------------------------------------------------------------------

def records_df_to_warc_files(df: DataFrame, *, n_files: int,
                             rec_type: str = "response",
                             gzip_members: bool = True,
                             with_cdx: bool = True) -> DataFrame:
    """(url, warc_ts, payload[, lang]) rows -> (file_id, data) rows, one
    per WARC file, records routed by a deterministic url hash so the
    file layout is partitioning-independent.  Within a file, records
    are ordered by (url, warc_ts) — determinism again, and the sort is
    per-group (applyInPandas already shuffled by file_id; no extra
    exchange).  Each task materializes one output file's bytes —
    callers size n_files so a file is ~1 GB (CC convention)."""
    cols = df.columns
    lang_col = F.col("lang") if "lang" in cols else F.lit(None).cast("string")
    routed = df.select(
        "url", "warc_ts", "payload", lang_col.alias("lang"),
        F.pmod(F.xxhash64("url"), F.lit(n_files)).cast("int")
         .alias("file_id"))

    # every argument hinted (or none): a partial hint makes
    # applyInPandas warn that it cannot infer the eval type
    def _build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["url", "warc_ts"], kind="mergesort")
        members = []
        cdx = []
        n_payload = 0
        offset = 0
        for _, r in pdf.iterrows():
            ts = r["warc_ts"]
            if pd.isna(ts):
                # loud, not a cryptic NaT strftime failure rows later
                raise ValueError(
                    f"warc_ts is NULL for url {r['url']!r}; WARC "
                    "records require a WARC-Date — fill or filter "
                    "before writing")
            ts = ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts
            payload = bytes(r["payload"])
            n_payload += len(payload)
            rec = build_record(
                r["url"], ts, payload, rec_type=rec_type,
                lang=(r["lang"] if isinstance(r["lang"], str) else None))
            member = gzip_member(rec) if gzip_members else rec
            members.append(member)
            if with_cdx:
                # surt over the HEADER-SAFE url: the key must be
                # space-free and match what a consumer computes from
                # the stored (percent-encoded) url field
                safe = _header_safe_uri(r["url"])
                cdx.append((surt_key(safe), ts.strftime("%Y%m%d%H%M%S"),
                            safe, offset, len(member)))
            offset += len(member)
        return pd.DataFrame({"file_id": [int(key[0])],
                             "data": [b"".join(members)],
                             "n_records": [len(members)],
                             "n_payload_bytes": [n_payload],
                             "cdx": [cdx]})

    out_schema = T.StructType([
        T.StructField("file_id", T.IntegerType()),
        T.StructField("data", T.BinaryType()),
        T.StructField("n_records", T.LongType()),
        T.StructField("n_payload_bytes", T.LongType()),
        T.StructField("cdx", T.ArrayType(T.StructType([
            T.StructField("urlkey", T.StringType()),
            T.StructField("cdx_ts", T.StringType()),
            T.StructField("url", T.StringType()),
            T.StructField("offset", T.LongType()),
            T.StructField("length", T.LongType()),
        ]))),
    ])
    return routed.groupBy("file_id").applyInPandas(_build, schema=out_schema)


def write_warc(df: DataFrame, out_dir: str, *, n_files: int,
               rec_type: str = "response",
               gzip_members: bool = True,
               cdx: bool = True,
               verify: bool = False) -> DataFrame:
    """Write (url, warc_ts, payload[, lang]) rows as .warc.gz files under
    out_dir and return the manifest (file, n_records, n_bytes —
    payload bytes).  With cdx=True (default) each part also gets a
    sorted `part-XXXXX.cdx` sidecar (SURT urlkey, 14-digit timestamp,
    url, member offset, compressed length, filename) — the Common
    Crawl random-access convention: read_cdx() loads the index as a
    DataFrame and fetch_record() serves point lookups without
    scanning anything.

    Executor-side file writes (mapInPandas) so the driver never holds
    file bytes; the manifest rides the SAME pass — counts and payload
    sizes were known at build time, so nothing re-reads the output
    (pass verify=True to ALSO decompress-and-reparse every written
    file and check its record count — the paranoid integrity mode).
    Stale `part-*` files from a previous run into the same directory
    are removed first: a prior run with a larger n_files would
    otherwise leave mixed-corpus files that any downstream read picks
    up silently.  local-mode tests and a real cluster with a shared
    POSIX filesystem (NFS and friends) behave identically; out_dir
    must be a plain path executors can open() — for HDFS/object-store
    targets, take records_df_to_warc_files (the same bytes, still a
    DataFrame) and write through your store's API instead.
    Deterministic: gzip mtime=0, hash-routed membership, per-file
    (url, ts) order."""
    import glob as _glob
    import os
    files = records_df_to_warc_files(
        df, n_files=n_files, rec_type=rec_type,
        gzip_members=gzip_members, with_cdx=cdx)
    suffix = ".warc.gz" if gzip_members else ".warc"
    os.makedirs(out_dir, exist_ok=True)
    for stale in _glob.glob(os.path.join(out_dir, f"part-*{suffix}")) \
            + _glob.glob(os.path.join(out_dir, "part-*.cdx")):
        os.remove(stale)

    def _write(batches):
        for pdf in batches:
            out = []
            for _, r in pdf.iterrows():
                base = f"part-{int(r['file_id']):05d}"
                name = os.path.join(out_dir, base + suffix)
                tmp = name + ".tmp"
                with open(tmp, "wb") as fh:
                    fh.write(bytes(r["data"]))
                os.replace(tmp, name)
                if cdx:
                    lines = sorted(
                        f"{c['urlkey']} {c['cdx_ts']} {c['url']} "
                        f"{c['offset']} {c['length']} {base}{suffix}\n"
                        for c in r["cdx"])
                    cname = os.path.join(out_dir, base + ".cdx")
                    # explicit utf-8: a POSIX-locale executor would
                    # otherwise UnicodeEncodeError on non-ASCII keys
                    with open(cname + ".tmp", "w",
                              encoding="utf-8") as fh:
                        fh.writelines(lines)
                    os.replace(cname + ".tmp", cname)
                out.append((name, int(r["n_records"]),
                            int(r["n_payload_bytes"])))
            yield pd.DataFrame(
                out, columns=["file", "n_records", "n_bytes"])

    spark = df.sparkSession
    rows = files.mapInPandas(_write, schema=WARC_MANIFEST_SCHEMA).collect()
    if verify:
        counted = {r["file"]: r["n"] for r in
                   (read_warc(spark, out_dir, glob=f"*{suffix}")
                    .groupBy("file").agg(F.count("*").alias("n"))
                    .collect())}
        for r in rows:
            # read_warc reports scheme-qualified paths; match on name
            got = {os.path.basename(k): v for k, v in counted.items()}
            if got.get(os.path.basename(r["file"])) != r["n_records"]:
                raise IOError(
                    f"verify failed for {r['file']}: wrote "
                    f"{r['n_records']} records, re-parse found "
                    f"{got.get(os.path.basename(r['file']))}")
    return spark.createDataFrame(rows, schema=WARC_MANIFEST_SCHEMA)


# ---------------------------------------------------------------------------
# CDX index (Common Crawl's random-access sidecar: one line per record
# with the SURT url key, 14-digit timestamp, and the record's byte
# extent inside its .warc.gz — what makes a 100 TB archive seekable
# without parsing it)
# ---------------------------------------------------------------------------

CDX_SCHEMA = T.StructType([
    T.StructField("urlkey", T.StringType()),
    T.StructField("cdx_ts", T.StringType()),      # yyyymmddhhmmss
    T.StructField("url", T.StringType()),
    T.StructField("offset", T.LongType()),        # member start in file
    T.StructField("length", T.LongType()),        # compressed member len
    T.StructField("file", T.StringType()),
])


def surt_key(url: str) -> str:
    """SURT (Sort-friendly URI Reordering Transform) url key, the CDX
    convention: scheme and userinfo dropped, host lowercased and
    comma-reversed, the SCHEME'S default port dropped (http:80 /
    https:443 — http-on-443 is a different resource than https and
    must not collide), path lowercased, query params sorted — so one
    host's records sort together and one URL's captures are adjacent
    regardless of case/param order.  Never raises: a URL urlsplit
    rejects (stray brackets read as broken IPv6) degrades to a
    lowercased percent-encoded literal key — still deterministic,
    still space-free, just not host-reversed."""
    from urllib.parse import quote, urlsplit
    url = url.strip()
    try:
        u = urlsplit(url)
        port = u.port          # can also raise ValueError (bad digits)
    except ValueError:
        return quote(url.lower(), safe=":/?#[]@!$&'()*+,;=%~")
    host = (u.hostname or "").lower()
    rev = ",".join(reversed([p for p in host.split(".") if p]))
    default = {"http": 80, "https": 443}.get(u.scheme.lower())
    if port and port != default:
        rev = f"{rev}:{port}"
    path = (u.path or "/").lower() or "/"
    if not path.startswith("/"):
        path = "/" + path
    key = f"{rev}){path}"
    if u.query:
        key += "?" + "&".join(sorted(u.query.lower().split("&")))
    return key


def read_cdx(spark: SparkSession, path: str, *,
             glob: str = "*.cdx") -> DataFrame:
    """Read the sidecar .cdx files written by write_warc(cdx=True) into
    a CDX_SCHEMA DataFrame.  Space-delimited text, one record per line
    (urlkey has no spaces by construction; url is percent-encoded by
    the writer, so the 5-way split is unambiguous)."""
    reader = spark.read.format("text").option("pathGlobFilter", glob)
    lines = reader.load(path)
    parts = F.split(F.col("value"), " ", 6)
    return lines.select(
        parts.getItem(0).alias("urlkey"),
        parts.getItem(1).alias("cdx_ts"),
        parts.getItem(2).alias("url"),
        parts.getItem(3).cast("long").alias("offset"),
        parts.getItem(4).cast("long").alias("length"),
        parts.getItem(5).alias("file"),
    )


def fetch_record(path: str, offset: int, length: int) -> dict:
    """Random access: read ONE record from a .warc(.gz) file by its CDX
    extent — seek, read `length` bytes, parse the single member.  The
    whole point of the index: a 100 TB archive serves point lookups
    without scanning anything."""
    with open(path, "rb") as fh:
        fh.seek(offset)
        data = fh.read(length)
    rows = list(parse_warc_bytes(data, file=path))
    if not rows:
        raise ValueError(f"no record at {path}:{offset}+{length}")
    return rows[0]


def seeds_from_cdx(spark: SparkSession, path: str, *,
                   glob: str = "*.cdx",
                   newest_only: bool = True) -> DataFrame:
    """Frontier seeds from a CDX index: re-crawl (or backfill) exactly
    what an archive already captured.  Returns (url, capture_ts
    string) — one row per url with its newest 14-digit capture
    timestamp when newest_only (the refetch scheduler compares it
    against its own recency windows), every capture otherwise.  The
    column name is the same in both modes so a scheduler written
    against one schema works against the other."""
    idx = read_cdx(spark, path, glob=glob)
    if not newest_only:
        return idx.select("url", F.col("cdx_ts").alias("capture_ts"))
    return (idx.groupBy("url")
            .agg(F.max("cdx_ts").alias("capture_ts")))


def robots_from_pages(pages: DataFrame) -> DataFrame:
    """ROBOTS_SCHEMA (host, robots_txt) from an ingested pages table:
    Common Crawl captures robots.txt responses as ordinary WARC
    records, so the politeness layer can bootstrap straight from the
    same segments the corpus came from — no live fetch.  When a host
    has several captures the newest wins (max_by on warc_ts — total
    order completed by the body hash, so re-runs pick the same one)."""
    from ..urlnorm import host_expr

    # scheme is case-insensitive (RFC 3986) and archives preserve the
    # original casing; the PATH stays case-sensitive — /robots.txt only
    robots = pages.filter(
        F.col("url").rlike(
            r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]+/robots\.txt$")
        & F.col("html").isNotNull())
    ord_ = F.struct(F.col("warc_ts"),
                    F.md5(F.col("html").cast("binary")))
    # lenient decode: archived robots bodies are frequently NOT valid
    # UTF-8 (latin-1 is common); strict F.decode would fail the whole
    # aggregation on one bad capture.  binary→string is a raw wrap;
    # make_valid_utf8 replaces invalid sequences with U+FFFD.
    return (robots
            .select(host_expr(F.col("url")).alias("host"),
                    F.make_valid_utf8(
                        F.col("html").cast("string"))
                    .alias("robots_txt"),
                    ord_.alias("_ord"))
            .groupBy("host")
            .agg(F.max_by("robots_txt", "_ord").alias("robots_txt")))


# ---------------------------------------------------------------------------
# Two-level CDX cluster index (Common Crawl's layout for point lookups
# into a multi-PB archive: globally SORTED cdx shards plus a tiny
# `cluster.idx` secondary index listing every Nth key — a URL resolves
# with two seeks and ZERO Spark jobs.  Public layout reference: the
# commoncrawl cc-index buckets ship exactly this shape — sorted
# cdx-NNNNN.gz parts + cluster.idx.)
# ---------------------------------------------------------------------------

# cdx_cluster_lookup's parsed-cluster.idx memo: {(path, mtime_ns,
# size): (entries, first_keys)}; single-slot — lookups target one
# index at a time and a 1M-line parse is the cost being amortized
_CLUSTER_IDX_CACHE: dict = {}

CDX_CLUSTER_MANIFEST_SCHEMA = T.StructType([
    T.StructField("file", T.StringType()),
    T.StructField("n_lines", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("first_key", T.StringType()),
    T.StructField("last_key", T.StringType()),
])


def _cluster_sorted_index(idx: DataFrame, *, shards: int) -> DataFrame:
    """The global-sort plan write_cdx_cluster executes (exposed for the
    plan audit): ONE range exchange over index structs — never payload
    bytes.  Ties on (urlkey, ts) break by offset, so the concatenated
    LINE SEQUENCE (the index content lookups read) is deterministic.
    Per-shard byte identity additionally requires stable range BOUNDS:
    exact below RangePartitioner's sampling threshold (the tests'
    regime); at sampling scale two builds may cut shard boundaries
    differently — same global order, different cdx-NNNNN splits."""
    # (urlkey, ts, offset, file) is a TOTAL order — one file cannot
    # hold two records at one offset — so the global line sequence is
    # fully determined even when case-variant urls share a urlkey+ts
    # across different part files
    return (idx
            .repartitionByRange(int(shards),
                                "urlkey", "cdx_ts", "offset", "file")
            .sortWithinPartitions("urlkey", "cdx_ts", "offset", "file"))


def write_cdx_cluster(spark: SparkSession, archive_dir: str,
                      out_dir: str, *, shards: int = 64,
                      block: int = 3000,
                      compress: bool = False,
                      cdx_glob: str = "*.cdx") -> DataFrame:
    """Build the two-level index from an archive's per-part sidecars:
    `out_dir/cdx-NNNNN[.gz]` shards globally sorted by (urlkey, ts,
    offset) and `out_dir/cluster.idx` with one line per `block`
    records.

    The build is the canonical distributed sorted-index pattern: ONE
    range exchange over index STRUCTS (a few bytes per archived
    record — never payload bytes), each task streaming its sorted
    slice straight to its shard file while sampling every block-th
    line into the secondary index.  Shard lines use the exact sidecar
    line format, so `read_cdx(out_dir, glob="cdx-*")` reads the
    clustered index distributed too (Spark's text source decompresses
    .gz shards by extension).

    compress=True writes BLOCK-ALIGNED gzip members — each cluster
    block is its own deterministic (mtime=0) gzip member, the same
    trick the archive files use for records — so cluster.idx offsets
    keep pointing at seekable boundaries and a lookup still costs two
    seeks, decompressing exactly one ~block-line member (CC ships its
    public cc-index cdx parts gzipped the same way).

    `out_dir` must be a directory openable from executors (same
    contract as write_warc); the build actually writes into the
    SIBLING `out_dir + ".build"` (same filesystem) and swaps it in with
    two renames, so a rebuild that dies mid-build never touches the
    live index (its partial `.build` is removed) and a crash between
    the renames is recovered on the next build.  Between the two
    renames `out_dir` briefly does not exist: a concurrent lookup then
    raises FileNotFoundError.  The `.build` and `.trash` siblings, like
    `out_dir`, must hold nothing but index output — anything else is
    refused, never deleted.  Returns
    the per-shard manifest (n_bytes = on-disk bytes).  Lookups:
    `cdx_cluster_lookup` (driver-side, no Spark jobs)."""
    import glob as _glob
    import os as _os

    idx = read_cdx(spark, archive_dir, glob=cdx_glob)
    if not idx.limit(1).take(1):
        raise ValueError(
            f"write_cdx_cluster: no {cdx_glob!r} sidecars under "
            f"{archive_dir!r} — write_warc(cdx=True) writes them")

    import shutil as _shutil

    # Build into a SIBLING dir and swap it in at the end (the edge-log
    # replace-commit idiom, two renames): this index serves live point
    # lookups, so a rebuild that dies mid-sort must never have
    # destroyed the previous good index.  The swap also supersedes the
    # old in-place stale-file cleanup — a fresh build dir can't carry
    # orphan shards from a previous larger-shard-count build.
    build_dir = out_dir.rstrip("/") + ".build"
    trash_dir = out_dir.rstrip("/") + ".trash"

    def _refuse_strays(d: str) -> None:
        # refuse rather than rename away or delete a user's co-located
        # data. Index output: cdx-* shards, cluster.idx, .cluster-*
        # parts, and the *.tmp droppings a crashed build leaves of each
        # (cluster.idx.tmp included)
        if not _os.path.exists(d):
            return
        stray = [e for e in _os.listdir(d)
                 if not (e.startswith(("cdx-", ".cluster-"))
                         or e.removesuffix(".tmp") == "cluster.idx")]
        if stray:
            raise ValueError(
                f"write_cdx_cluster: {d!r} contains non-index "
                f"entries {stray[:5]!r} — the rebuild swaps, moves and "
                f"deletes WHOLE directories; point out_dir at a "
                f"dedicated index dir")

    # recover an interrupted previous swap: a crash between the two
    # renames leaves the old index parked at .trash with no live dir
    if _os.path.exists(trash_dir):
        if not _os.path.exists(out_dir):
            _os.rename(trash_dir, out_dir)
        else:
            _refuse_strays(trash_dir)
            _shutil.rmtree(trash_dir, ignore_errors=True)
    _refuse_strays(out_dir)
    _refuse_strays(build_dir)
    if _os.path.exists(build_dir):
        _shutil.rmtree(build_dir)
    _os.makedirs(build_dir)

    n_block = int(block)
    if n_block < 1:
        raise ValueError("block must be >= 1")

    def _write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        name = f"cdx-{pid:05d}" + (".gz" if compress else "")
        path = _os.path.join(build_dir, name)
        tmp = path + ".tmp"
        n_lines = 0
        n_bytes = 0
        first_key = last_key = None
        cluster: list[str] = []
        buf: list[bytes] = []
        # binary writes throughout: cluster.idx stores BYTE offsets —
        # platform newline translation would silently shift every
        # offset after block 0
        with open(tmp, "wb") as fh:

            def _flush() -> None:
                # compress only: close the current block's gzip member.
                # The plain path streams each line straight to disk —
                # buffering would make per-task memory O(block) lines
                # for no reason (block can be sized very large to
                # shrink cluster.idx on huge archives)
                nonlocal n_bytes
                if not buf:
                    return
                out_bytes = gzip_member(b"".join(buf))
                fh.write(out_bytes)
                n_bytes += len(out_bytes)
                buf.clear()

            for pdf in batches:
                for r in pdf.itertuples(index=False):
                    if n_lines % n_block == 0:
                        # member/block boundary: finalize the previous
                        # block FIRST so n_bytes is this block's start
                        _flush()
                        cluster.append(
                            f"{r.urlkey} {r.cdx_ts}\t{name}\t"
                            f"{n_bytes}\n")
                    enc = (f"{r.urlkey} {r.cdx_ts} {r.url} "
                           f"{r.offset} {r.length} {r.file}\n"
                           ).encode("utf-8")
                    if compress:
                        buf.append(enc)
                    else:
                        fh.write(enc)
                        n_bytes += len(enc)
                    n_lines += 1
                    if first_key is None:
                        first_key = r.urlkey
                    last_key = r.urlkey
            _flush()
        if n_lines == 0:
            _os.remove(tmp)
            yield pd.DataFrame(
                [], columns=[f.name for f in
                             CDX_CLUSTER_MANIFEST_SCHEMA.fields])
            return
        _os.replace(tmp, path)
        cname = _os.path.join(build_dir, f".cluster-{pid:05d}.part")
        with open(cname + ".tmp", "w", encoding="utf-8",
                  newline="") as fh:
            fh.writelines(cluster)
        _os.replace(cname + ".tmp", cname)
        yield pd.DataFrame(
            [(name, n_lines, n_bytes, first_key, last_key)],
            columns=[f.name for f in CDX_CLUSTER_MANIFEST_SCHEMA.fields])

    try:
        manifest = (
            _cluster_sorted_index(idx, shards=shards)
            .mapInPandas(_write, schema=CDX_CLUSTER_MANIFEST_SCHEMA)
        ).collect()

        # assemble cluster.idx from the per-shard samples, in shard
        # order (shard files are range-partitioned, so concatenation IS
        # the global order); driver cost is O(records / block) — tiny
        parts = sorted(_glob.glob(_os.path.join(build_dir,
                                                ".cluster-*.part")))
        with open(_os.path.join(build_dir, "cluster.idx.tmp"), "w",
                  encoding="utf-8", newline="") as out:
            for p in parts:
                with open(p, encoding="utf-8", newline="") as fh:
                    out.write(fh.read())
                _os.remove(p)
        _os.replace(_os.path.join(build_dir, "cluster.idx.tmp"),
                    _os.path.join(build_dir, "cluster.idx"))
    except BaseException:
        # a failed build owns nothing worth keeping: drop the partial
        # tree now instead of leaving it on disk until the next rebuild
        _shutil.rmtree(build_dir, ignore_errors=True)
        raise
    # the swap: two renames. Lookups read the old index until the
    # first rename and the new one after the second; between them
    # out_dir does not exist and a concurrent lookup raises
    # FileNotFoundError. A crash between them is recovered by the next
    # build (old index restored from .trash above)
    if _os.path.exists(out_dir):
        _os.rename(out_dir, trash_dir)
    _os.rename(build_dir, out_dir)
    _shutil.rmtree(trash_dir, ignore_errors=True)
    return spark.createDataFrame(manifest, CDX_CLUSTER_MANIFEST_SCHEMA)


def cdx_cluster_lookup(out_dir: str, url: str, *,
                       newest_only: bool = False) -> list[dict]:
    """Point lookup against a write_cdx_cluster index — pure driver
    code, zero Spark jobs, two seeks: binary-search `cluster.idx` for
    the candidate block, then scan forward from the last block whose
    first key sorts strictly below the target (equal keys can straddle
    block and shard boundaries) until the sorted stream passes the
    target.  Returns CDX rows (urlkey, cdx_ts, url, offset, length,
    file), oldest capture first; [] when the URL was never archived.

    cluster.idx is parsed once and memoized by (path, mtime, size) —
    at CC scale (3B records / block=3000 → ~1M lines) the first lookup
    pays the ~1 s load, batch lookups after it pay only the two seeks;
    a rebuild (new mtime/size) invalidates the cache."""
    import bisect
    import os as _os

    # the index was keyed over the WRITER'S header-safe form of the
    # url (percent-encoded IRIs, encoded spaces) — key the probe
    # identically or archived non-ASCII urls silently miss
    key = surt_key(_header_safe_uri(url))
    cpath = _os.path.join(out_dir, "cluster.idx")
    st = _os.stat(cpath)
    cache_key = (cpath, st.st_mtime_ns, st.st_size)
    cached = _CLUSTER_IDX_CACHE.get(cache_key)
    if cached is None:
        entries: list[tuple[str, str, int]] = []  # (first_key, shard, off)
        with open(cpath, encoding="utf-8", newline="\n") as fh:
            for line in fh:
                head, shard, off = line.rstrip("\n").split("\t")
                entries.append((head.split(" ", 1)[0], shard, int(off)))
        firsts = [e[0] for e in entries]
        _CLUSTER_IDX_CACHE.clear()   # hold ONE index at a time
        _CLUSTER_IDX_CACHE[cache_key] = (entries, firsts)
    else:
        entries, firsts = cached
    if not entries:
        return []
    # start at the last block whose first key < target (a block whose
    # first key == target may continue a run begun in the previous one)
    i = bisect.bisect_left(firsts, key)
    start = max(0, i - 1)
    out: list[dict] = []
    for j in range(start, len(entries)):
        first_key, shard, off = entries[j]
        if first_key > key:
            break
        end = (entries[j + 1][2]
               if j + 1 < len(entries) and entries[j + 1][1] == shard
               else None)
        # binary mode: cluster offsets are BYTE offsets, and text-mode
        # seek to an arbitrary byte lands mid-codepoint on non-ASCII keys
        with open(_os.path.join(out_dir, shard), "rb") as fh:
            fh.seek(off)
            raw = fh.read() if end is None else fh.read(end - off)
        if raw[:2] == _GZ_MAGIC:
            # compress=True index: the span is exactly one block-aligned
            # gzip member (the next cluster entry starts the next one)
            decoded = b"".join(_iter_members(raw))
            if not decoded:
                # _iter_members tolerates truncation (it must, for
                # archive tails) — but an index shard that decodes to
                # NOTHING is corruption, and returning [] here would
                # read as "url never archived"
                raise ValueError(
                    f"corrupt cluster shard {shard!r}: gzip member at "
                    f"byte {off} failed to decode")
            raw = decoded
        done = False
        for line in raw.decode("utf-8").splitlines():
            urlkey, ts, u, offset, length, fname = line.split(" ", 5)
            if urlkey > key:
                done = True
                break
            if urlkey == key:
                out.append({"urlkey": urlkey, "cdx_ts": ts, "url": u,
                            "offset": int(offset),
                            "length": int(length), "file": fname})
        if done:
            break
    if newest_only and out:
        out = [max(out, key=lambda r: r["cdx_ts"])]
    return out
