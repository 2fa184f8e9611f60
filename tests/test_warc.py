"""WARC/WET source + sink (sources/warc.py).

Format coverage: per-record gzip members (CC convention), plain
uncompressed WARC, HTTP-envelope stripping, WET conversion records,
warcinfo/request records, language header, truncated members,
lost-sync resync at member boundaries, round-trip byte identity.
"""
import gzip
from datetime import datetime

import pytest

from risjbot_spark.sources import warc as W


def _ts(i: int) -> datetime:
    return datetime(2026, 1, 1, 0, 0, 0).replace(second=i % 60,
                                                 minute=(i // 60) % 60)


def _mk_pages(n=6):
    return [
        (f"https://ex{i % 3}.org/p/{i}", _ts(i),
         f"<html><body>doc {i} body</body></html>".encode())
        for i in range(n)
    ]


def test_record_roundtrip_plain():
    url, ts, body = "https://a.org/x", _ts(1), b"<html>hi</html>"
    rec = W.build_record(url, ts, body)
    rows = list(W.parse_warc_bytes(rec))
    assert len(rows) == 1
    r = rows[0]
    assert r["url"] == url
    assert r["rec_type"] == "response"
    assert r["warc_ts"] == ts
    assert r["http_status"] == 200
    assert r["payload"] == body  # HTTP envelope stripped exactly


def test_record_is_deterministic():
    a = W.build_record("https://a.org/x", _ts(1), b"abc")
    b = W.build_record("https://a.org/x", _ts(1), b"abc")
    assert a == b
    assert W.gzip_member(a) == W.gzip_member(b)  # mtime=0


def test_gzip_members_parse_individually():
    pages = _mk_pages(4)
    data = W.build_warc_bytes(
        [W.build_record(u, t, b) for u, t, b in pages])
    # file is a concatenation of gzip streams, not one stream
    assert data.count(b"\x1f\x8b\x08") >= 4
    rows = list(W.parse_warc_bytes(data))
    assert [r["url"] for r in rows] == [u for u, _, _ in pages]
    assert [r["payload"] for r in rows] == [b for _, _, b in pages]


def test_plain_warc_multi_record():
    pages = _mk_pages(3)
    data = W.build_warc_bytes(
        [W.build_record(u, t, b) for u, t, b in pages],
        gzip_members=False)
    rows = list(W.parse_warc_bytes(data))
    assert len(rows) == 3


def test_wet_conversion_record_with_lang():
    rec = W.build_record("https://a.org/x", _ts(2), "päge text".encode(),
                         rec_type="conversion", lang="de")
    rows = list(W.parse_warc_bytes(W.gzip_member(rec)))
    r = rows[0]
    assert r["rec_type"] == "conversion"
    assert r["lang"] == "de"
    assert r["http_status"] is None
    assert r["payload"].decode() == "päge text"


def test_warcinfo_and_request_records_kept_with_type():
    info = W.build_record("https://a.org", _ts(0), b"software: test",
                          rec_type="warcinfo")
    req = W.build_record("https://a.org/x", _ts(1), b"GET /x HTTP/1.1",
                         rec_type="request")
    resp = W.build_record("https://a.org/x", _ts(1), b"<html/>")
    rows = list(W.parse_warc_bytes(W.build_warc_bytes([info, req, resp])))
    assert [r["rec_type"] for r in rows] == ["warcinfo", "request",
                                            "response"]


def test_truncated_trailing_member_yields_prefix():
    pages = _mk_pages(3)
    members = [W.gzip_member(W.build_record(u, t, b)) for u, t, b in pages]
    data = members[0] + members[1] + members[2][:20]
    rows = list(W.parse_warc_bytes(data))
    assert [r["url"] for r in rows] == [pages[0][0], pages[1][0]]


def test_bad_record_resyncs_at_next_member():
    good = W.gzip_member(W.build_record("https://a.org/1", _ts(1), b"x"))
    junk = W.gzip_member(b"NOT A WARC RECORD AT ALL")
    good2 = W.gzip_member(W.build_record("https://a.org/2", _ts(2), b"y"))
    rows = list(W.parse_warc_bytes(good + junk + good2))
    assert [r["url"] for r in rows] == ["https://a.org/1", "https://a.org/2"]


def test_payload_binary_safe():
    body = bytes(range(256)) * 4 + b"\r\n\r\nWARC/1.0\r\n"  # hostile bytes
    rec = W.build_record("https://a.org/bin", _ts(3), body,
                         http_envelope=False)
    # content-length framing must carry it through untouched
    rows = list(W.parse_warc_bytes(rec))
    assert rows[0]["payload"] == body


def test_spark_read_and_pages(spark, tmp_path):
    pages = _mk_pages(6)
    wet = [W.build_record(u, t, f"text {u}".encode(),
                          rec_type="conversion", lang="en")
           for u, t, _ in pages[:2]]
    (tmp_path / "seg-0.warc.gz").write_bytes(W.build_warc_bytes(
        [W.build_record(u, t, b) for u, t, b in pages[:3]]))
    (tmp_path / "seg-1.warc.gz").write_bytes(W.build_warc_bytes(
        [W.build_record(u, t, b) for u, t, b in pages[3:]] + wet))

    rec = W.read_warc(spark, str(tmp_path), glob="*.warc.gz")
    got = rec.orderBy("url", "rec_type").collect()
    assert len(got) == 8
    assert {r["rec_type"] for r in got} == {"response", "conversion"}

    p = W.pages_from_warc(spark, str(tmp_path), glob="*.warc.gz")
    assert [f.name for f in p.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang"]
    pr = p.orderBy("url").collect()
    resp = [r for r in pr if r["html"] is not None]
    conv = [r for r in pr if r["text"] is not None]
    assert len(resp) == 6 and len(conv) == 2
    by_url = {(u, True): b for u, _, b in pages}
    for r in resp:
        assert bytes(r["html"]) == by_url[(r["url"], True)]
    for r in conv:
        assert r["text"] == f"text {r['url']}"
        assert r["lang"] == "en"


def test_spark_write_then_read_roundtrip(spark, tmp_path):
    pages = _mk_pages(10)
    df = spark.createDataFrame(
        [(u, t, b) for u, t, b in pages],
        "url string, warc_ts timestamp, payload binary")
    out = str(tmp_path / "out")
    manifest = W.write_warc(df, out, n_files=3).collect()
    assert sum(m["n_records"] for m in manifest) == 10
    assert len(manifest) <= 3

    back = W.pages_from_warc(spark, out, glob="*.warc.gz")
    got = {r["url"]: bytes(r["html"]) for r in back.collect()}
    assert got == {u: b for u, t, b in pages}

    # determinism: a second write of the same rows is byte-identical
    out2 = str(tmp_path / "out2")
    W.write_warc(df, out2, n_files=3).collect()
    import pathlib
    b1 = {p.name: p.read_bytes()
          for p in pathlib.Path(out).glob("*.warc.gz")}
    b2 = {p.name: p.read_bytes()
          for p in pathlib.Path(out2).glob("*.warc.gz")}
    assert b1 == b2


def test_write_warc_routing_is_partitioning_independent(spark, tmp_path):
    pages = _mk_pages(8)
    rows = [(u, t, b) for u, t, b in pages]
    a = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, payload binary").coalesce(1)
    b = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, payload binary").repartition(7)
    fa = {r["file_id"]: r["n_records"] for r in
          W.records_df_to_warc_files(a, n_files=4)
          .select("file_id", "n_records").collect()}
    fb = {r["file_id"]: r["n_records"] for r in
          W.records_df_to_warc_files(b, n_files=4)
          .select("file_id", "n_records").collect()}
    assert fa == fb


def test_warc_files_plan_infers_eval_type_without_warning(spark):
    """Building the writer's applyInPandas plan must not warn that the
    eval type cannot be inferred from type hints (a half-hinted grouped
    function did, once per write_warc call)."""
    import warnings

    df = spark.createDataFrame(
        [(u, t, b) for u, t, b in _mk_pages(2)],
        "url string, warc_ts timestamp, payload binary")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        W.records_df_to_warc_files(df, n_files=2)
    assert not [w for w in caught if issubclass(w.category, UserWarning)
                and "infer the eval type" in str(w.message)]


def test_negative_content_length_cannot_loop():
    evil = (b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: https://a.org/x\r\n"
            b"Content-Length: -33\r\n\r\nbody\r\n\r\n")
    good = W.build_record("https://a.org/ok", _ts(1), b"fine")
    rows = list(W.parse_warc_bytes(
        W.gzip_member(evil) + W.gzip_member(good)))
    # the poisoned member is abandoned; the next member resyncs
    assert [r["url"] for r in rows] == ["https://a.org/ok"]


def test_non_ascii_url_percent_encoded_roundtrip():
    rec = W.build_record("https://exämple.org/päth?q=ü", _ts(2), b"x")
    rows = list(W.parse_warc_bytes(rec))
    assert rows[0]["url"] == (
        "https://ex%C3%A4mple.org/p%C3%A4th?q=%C3%BC")


def test_header_injection_rejected():
    with pytest.raises(ValueError):
        W.build_record("https://a.org/\r\nWARC-Type: forged",
                       _ts(1), b"x")
    with pytest.raises(ValueError):
        W.build_record("https://a.org/x", _ts(1), b"x",
                       rec_type="conversion", lang="en\r\nX: y")


def test_write_warc_cleans_stale_parts(spark, tmp_path):
    pages = _mk_pages(10)
    df = spark.createDataFrame(
        [(u, t, b) for u, t, b in pages],
        "url string, warc_ts timestamp, payload binary")
    out = str(tmp_path / "clean")
    W.write_warc(df, out, n_files=8).collect()
    man2 = W.write_warc(df, out, n_files=2, verify=True).collect()
    import pathlib
    names = sorted(p.name for p in pathlib.Path(out).glob("*.warc.gz"))
    # no stale part-000[2-7] files from the 8-file run survive
    assert all(n in ("part-00000.warc.gz", "part-00001.warc.gz")
               for n in names)
    assert sum(m["n_records"] for m in man2) == 10
    assert all(m["n_bytes"] > 0 for m in man2)


# ---------------------------------------------------------------------------
# CDX index
# ---------------------------------------------------------------------------

def test_surt_key():
    assert W.surt_key("https://www.Example.ORG/Path/Page?b=2&a=1") == \
        "org,example,www)/path/page?a=1&b=2"
    assert W.surt_key("http://example.org") == "org,example)/"
    assert W.surt_key("https://example.org:8443/x") == \
        "org,example:8443)/x"
    assert W.surt_key("https://example.org:443/x") == "org,example)/x"


def test_cdx_roundtrip_random_access(spark, tmp_path):
    pages = _mk_pages(9)
    df = spark.createDataFrame(
        [(u, t, b) for u, t, b in pages],
        "url string, warc_ts timestamp, payload binary")
    out = str(tmp_path / "cdx")
    W.write_warc(df, out, n_files=3).collect()

    idx = W.read_cdx(spark, out).collect()
    assert len(idx) == 9
    assert all(r["urlkey"].startswith("org,ex") for r in idx)
    # every CDX extent serves the exact record back without a scan
    import os
    for r in idx:
        rec = W.fetch_record(os.path.join(out, r["file"]),
                             r["offset"], r["length"])
        assert rec["url"] == r["url"]
        expected = {u: b for u, _, b in pages}[r["url"]]
        # response records carry an HTTP envelope; payload is the body
        assert rec["payload"] == expected
    # cdx files are sorted by urlkey
    import pathlib
    for p in pathlib.Path(out).glob("*.cdx"):
        lines = p.read_text().splitlines()
        assert lines == sorted(lines)


def test_cdx_sidecars_cleaned_on_rewrite(spark, tmp_path):
    pages = _mk_pages(6)
    df = spark.createDataFrame(
        [(u, t, b) for u, t, b in pages],
        "url string, warc_ts timestamp, payload binary")
    out = str(tmp_path / "re")
    W.write_warc(df, out, n_files=6).collect()
    W.write_warc(df, out, n_files=2).collect()
    import pathlib
    cdxs = sorted(p.name for p in pathlib.Path(out).glob("*.cdx"))
    assert all(n in ("part-00000.cdx", "part-00001.cdx") for n in cdxs)
    assert len(W.read_cdx(spark, out).collect()) == 6


def test_engine_export_warc(spark, tmp_path):
    from datetime import datetime, timezone

    from risjbot_spark.corpus import pages_df, robots_rows, seed_urls
    from risjbot_spark.crawl import CrawlConfig, CrawlEngine
    from risjbot_spark.frontier.state import RefetchConfig
    from risjbot_spark.schema import ROBOTS_SCHEMA

    corpus = pages_df(spark, 40, partitions=2)
    robots = spark.createDataFrame(robots_rows(), ROBOTS_SCHEMA)
    cfg = CrawlConfig(refetch=RefetchConfig(maxfetches=3,
                                            refetchsecs=3600),
                      default_budget=50, num_partitions=2)
    eng = CrawlEngine(spark, str(tmp_path / "wh"), corpus, robots, cfg)
    seeds = spark.createDataFrame(seed_urls(40), "url string, "
                                  "source_kind string, priority int") \
        .select("url", "priority")
    eng.run(seeds, rounds=1,
            start_ts=datetime(2026, 1, 2, tzinfo=timezone.utc))
    n_articles = eng.articles_table.read().select("url_canon") \
        .distinct().count()
    assert n_articles > 0

    out = str(tmp_path / "warc_out")
    manifest = eng.export_warc(out, n_files=3).collect()
    assert sum(m["n_records"] for m in manifest) == n_articles
    back = W.pages_from_warc(spark, out, glob="*.warc.gz")
    assert back.count() == n_articles
    idx = W.read_cdx(spark, out)
    assert idx.count() == n_articles


def test_surt_key_robustness():
    # scheme-default ports only: http:443 is NOT https
    assert W.surt_key("http://host.org:443/x") == "org,host:443)/x"
    assert W.surt_key("http://host.org:80/x") == "org,host)/x"
    # never raises: stray brackets degrade to a literal key
    k = W.surt_key("http://exa[mple.org/x")
    assert " " not in k and k  # deterministic, space-free
    # spaces in URLs percent-encode end-to-end
    assert " " not in W.surt_key(W._header_safe_uri(
        "https://example.org/foo bar?q=a b"))


def test_cdx_with_spaces_in_url(spark, tmp_path):
    from datetime import datetime
    df = spark.createDataFrame(
        [("https://ex.org/foo bar?q=a b", datetime(2026, 1, 1),
          b"payload")],
        "url string, warc_ts timestamp, payload binary")
    out = str(tmp_path / "sp")
    W.write_warc(df, out, n_files=1).collect()
    idx = W.read_cdx(spark, out).collect()
    assert len(idx) == 1
    r = idx[0]
    assert r["url"] == "https://ex.org/foo%20bar?q=a%20b"
    assert r["offset"] == 0 and r["length"] > 0
    import os
    rec = W.fetch_record(os.path.join(out, r["file"]),
                         r["offset"], r["length"])
    assert rec["payload"] == b"payload"


def test_seeds_from_cdx(spark, tmp_path):
    from datetime import datetime
    rows = [("https://a.org/x", datetime(2026, 1, 1, 0, 0, 1), b"v1"),
            ("https://a.org/x", datetime(2026, 1, 2, 0, 0, 2), b"v2"),
            ("https://a.org/y", datetime(2026, 1, 1, 0, 0, 3), b"w")]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, payload binary")
    out = str(tmp_path / "seedidx")
    W.write_warc(df, out, n_files=1).collect()
    newest = W.seeds_from_cdx(spark, out)
    seeds = {r["url"]: r["capture_ts"] for r in newest.collect()}
    assert seeds == {"https://a.org/x": "20260102000002",
                     "https://a.org/y": "20260101000003"}
    every = W.seeds_from_cdx(spark, out, newest_only=False)
    # one schema for both modes: a scheduler written against either works
    assert every.columns == newest.columns == ["url", "capture_ts"]
    assert len(every.collect()) == 3


def test_robots_from_pages(spark, tmp_path):
    from datetime import datetime
    rows = [
        ("https://a.org/robots.txt", datetime(2026, 1, 1),
         b"User-agent: *\nDisallow: /old"),
        ("https://a.org/robots.txt", datetime(2026, 1, 5),
         b"User-agent: *\nDisallow: /new"),
        ("https://b.org/robots.txt", datetime(2026, 1, 2),
         b"User-agent: *\nCrawl-delay: 2"),
        ("https://a.org/page", datetime(2026, 1, 1), b"<html/>"),
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, payload binary")
    seg = str(tmp_path / "rb")
    W.write_warc(df, seg, n_files=1).collect()
    pages = W.pages_from_warc(spark, seg)
    got = {r["host"]: r["robots_txt"]
           for r in W.robots_from_pages(pages).collect()}
    assert got == {"a.org": "User-agent: *\nDisallow: /new",
                   "b.org": "User-agent: *\nCrawl-delay: 2"}


def test_robots_from_pages_lenient_decode_and_scheme_case(spark):
    from datetime import datetime
    rows = [
        # latin-1 body — NOT valid UTF-8; must not fail the job
        ("https://l1.org/robots.txt", datetime(2026, 1, 1),
         b"User-agent: *\nDisallow: /caf\xe9"),
        # uppercase scheme (RFC 3986: schemes are case-insensitive,
        # archives preserve original casing) — must still match
        ("HTTP://up.org/robots.txt", datetime(2026, 1, 1),
         b"User-agent: *\nDisallow: /x"),
        # uppercase PATH is a different resource — must NOT match
        ("https://no.org/ROBOTS.TXT", datetime(2026, 1, 1),
         b"User-agent: *\nDisallow: /y"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary")
    got = {r["host"]: r["robots_txt"]
           for r in W.robots_from_pages(pages).collect()}
    assert set(got) == {"l1.org", "up.org"}
    assert got["l1.org"] == "User-agent: *\nDisallow: /caf�"
    assert got["up.org"] == "User-agent: *\nDisallow: /x"


def test_split_by_cdx_rows_identical_to_unsplit(spark, tmp_path):
    """read_warc(split_by_cdx=True) must parse EXACTLY the rows of the
    whole-file read, and a small split_bytes must plan >1 split per
    file (the one-task-per-file ceiling is gone)."""
    pages = _mk_pages(40)
    df = spark.createDataFrame(
        [(u, t, b) for u, t, b in pages],
        "url string, warc_ts timestamp, payload binary")
    out = str(tmp_path / "seg")
    W.write_warc(df, out, n_files=2).collect()

    def canon(rows):
        return sorted(
            (r["file"].split("/")[-1], r["rec_type"], r["url"],
             r["warc_ts"], r["content_type"], r["http_status"],
             r["lang"], bytes(r["payload"]))
            for r in rows)

    whole = canon(W.read_warc(spark, out, glob="*.warc.gz").collect())
    split = canon(W.read_warc(spark, out, split_by_cdx=True,
                              split_bytes=512).collect())
    assert split == whole and len(whole) == 40

    # >1 split per file at this split_bytes: count planned split specs
    idx = W.read_cdx(spark, out)
    from pyspark.sql import functions as F
    n_splits = (idx.groupBy("file",
                            F.floor(F.col("offset") / 512))
                .count().count())
    n_files = idx.select("file").distinct().count()
    assert n_files == 2 and n_splits > n_files

    # big split_bytes degrades to one split per file, still identical
    one = canon(W.read_warc(spark, out, split_by_cdx=True).collect())
    assert one == whole

    # pages mapping parity through the split reader
    got = {r["url"]: bytes(r["html"])
           for r in W.records_to_pages(
               W.read_warc(spark, out, split_by_cdx=True,
                           split_bytes=512)).collect()}
    assert got == {u: b for u, t, b in pages}

def test_split_by_cdx_task_partitions_override(spark, tmp_path):
    """task_partitions pins the split-task spread count (the Spark
    Connect escape hatch — no sparkContext needed) without changing
    the rows."""
    pages = _mk_pages(24)
    df = spark.createDataFrame(
        [(u, t, b) for u, t, b in pages],
        "url string, warc_ts timestamp, payload binary")
    out = str(tmp_path / "seg")
    W.write_warc(df, out, n_files=2).collect()

    rd = W.read_warc(spark, out, split_by_cdx=True, split_bytes=512,
                     task_partitions=7)
    assert rd.rdd.getNumPartitions() == 7
    assert sorted(r["url"] for r in rd.collect()) == sorted(
        u for u, _, _ in pages)
    # default path: range spread caps at the split-group count when
    # that's below the session-sized target — one split per task,
    # no empty padding partitions
    from pyspark.sql import functions as F
    n_groups = (W.read_cdx(spark, out)
                .groupBy("file", F.floor(F.col("offset") / 512))
                .count().count())
    got = (W.read_warc(spark, out, split_by_cdx=True, split_bytes=512)
           .rdd.getNumPartitions())
    assert got == min(n_groups, max(
        2 * spark.sparkContext.defaultParallelism, 16))


def test_split_by_cdx_incomplete_index_exact_and_invariant(spark, tmp_path):
    """A foreign CDX that indexes only SOME members (e.g. CC indexes
    that skip request records): the split reader returns EXACTLY the
    indexed records — an unindexed member is never parsed even when it
    sits between two indexed ones — and the row set is invariant to
    split_bytes."""
    import pathlib

    pages = _mk_pages(12)
    df = spark.createDataFrame(
        [(u, t, b) for u, t, b in pages],
        "url string, warc_ts timestamp, payload binary")
    out = str(tmp_path / "seg")
    W.write_warc(df, out, n_files=1).collect()

    cdx_path = next(pathlib.Path(out).glob("*.cdx"))
    lines = cdx_path.read_text().splitlines()
    assert len(lines) == 12
    # drop every third member from the index, including interior ones
    kept = [ln for i, ln in enumerate(lines) if i % 3 != 1]
    cdx_path.write_text("\n".join(kept) + "\n")
    kept_urls = {ln.split(" ")[2] for ln in kept}

    def urls(rows):
        return sorted(r["url"] for r in rows)

    tiny = urls(W.read_warc(spark, out, split_by_cdx=True,
                            split_bytes=512).collect())
    big = urls(W.read_warc(spark, out, split_by_cdx=True).collect())
    assert tiny == big == sorted(kept_urls)
    assert len(tiny) == len(kept) < 12


def test_split_by_cdx_honors_glob_and_raises_without_index(spark, tmp_path):
    import pathlib

    pages = _mk_pages(20)
    df = spark.createDataFrame(
        [(u, t, b) for u, t, b in pages],
        "url string, warc_ts timestamp, payload binary")
    out = str(tmp_path / "seg")
    W.write_warc(df, out, n_files=2).collect()
    parts = sorted(p.name for p in pathlib.Path(out).glob("*.warc.gz"))
    assert len(parts) == 2

    # glob restricts the split read to the matching part file
    only = W.read_warc(spark, out, glob=parts[0], split_by_cdx=True)
    whole = W.read_warc(spark, out, glob=parts[0])
    assert (sorted(r["url"] for r in only.collect())
            == sorted(r["url"] for r in whole.collect()))
    assert 0 < only.count() < 20

    # a directory with no sidecars raises instead of returning 0 rows
    bare = str(tmp_path / "bare")
    for p in pathlib.Path(out).glob("*.warc.gz"):
        dest = pathlib.Path(bare) / p.name
        dest.parent.mkdir(exist_ok=True)
        dest.write_bytes(p.read_bytes())
    with pytest.raises(ValueError, match="no '\\*\\.cdx' sidecars"):
        W.read_warc(spark, bare, split_by_cdx=True).collect()


def test_cdx_cluster_build_and_lookup(spark, tmp_path):
    """Two-level cluster index: globally sorted shards + cluster.idx;
    driver-side point lookups agree with the full index for every url,
    including multi-capture runs that straddle block/shard boundaries."""
    import pathlib
    rows = []
    for i in range(60):
        rows.append((f"https://ex{i % 7}.org/p/{i}", _ts(i),
                     f"<html>{i}</html>".encode()))
    # one hot url with many captures — forces an equal-key run across
    # block boundaries at block=4
    for j in range(10):
        rows.append(("https://hot.org/page", _ts(100 + j),
                     f"<html>capture {j}</html>".encode()))
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, payload binary")
    seg = str(tmp_path / "seg")
    W.write_warc(df, seg, n_files=3).collect()

    out = str(tmp_path / "cluster")
    man = W.write_cdx_cluster(spark, seg, out, shards=4, block=4)
    shards = sorted(r["file"] for r in man.collect())
    assert shards and all(s.startswith("cdx-") for s in shards)
    assert (pathlib.Path(out) / "cluster.idx").exists()

    # the clustered shards are themselves a readable CDX, same row set
    base = {(r["urlkey"], r["cdx_ts"], r["offset"], r["length"], r["file"])
            for r in W.read_cdx(spark, seg).collect()}
    clus = {(r["urlkey"], r["cdx_ts"], r["offset"], r["length"], r["file"])
            for r in W.read_cdx(spark, out, glob="cdx-*").collect()}
    assert clus == base and len(base) == 70

    # global sortedness across shard-file concatenation
    lines = []
    for s in shards:
        lines += (pathlib.Path(out) / s).read_text().splitlines()
    keys = [(ln.split(" ")[0], ln.split(" ")[1]) for ln in lines]
    assert keys == sorted(keys)

    # every url resolves identically to the full index; a url with one
    # capture, the hot url, and a never-archived url
    idx_rows = W.read_cdx(spark, seg).collect()
    by_url = {}
    for r in idx_rows:
        by_url.setdefault(r["url"], set()).add(
            (r["cdx_ts"], r["offset"], r["length"], r["file"]))
    for url, want in by_url.items():
        got = {(r["cdx_ts"], r["offset"], r["length"], r["file"])
               for r in W.cdx_cluster_lookup(out, url)}
        assert got == want, url
    assert len(W.cdx_cluster_lookup(out, "https://hot.org/page")) == 10
    assert W.cdx_cluster_lookup(out, "https://never.example/x") == []

    # newest_only picks the max capture timestamp
    newest = W.cdx_cluster_lookup(out, "https://hot.org/page",
                                  newest_only=True)
    assert len(newest) == 1
    assert newest[0]["cdx_ts"] == max(
        t for t, *_ in by_url["https://hot.org/page"])

    # the looked-up extent serves the record bytes (two-seek fetch)
    ext = newest[0]
    rec = W.fetch_record(str(pathlib.Path(seg) / ext["file"]),
                         ext["offset"], ext["length"])
    assert rec["url"] == "https://hot.org/page"
    assert bytes(rec["payload"]) == b"<html>capture 9</html>"

    # rebuild is byte-identical (deterministic index)
    import hashlib
    def digest():
        h = hashlib.sha256()
        for s in sorted(pathlib.Path(out).glob("cdx-*")):
            h.update(s.read_bytes())
        h.update((pathlib.Path(out) / "cluster.idx").read_bytes())
        return h.hexdigest()
    d1 = digest()
    W.write_cdx_cluster(spark, seg, out, shards=4, block=4)
    assert digest() == d1


def test_warc_date_malformed_20char_yields_none():
    """A 20-char date with corrupt separators must NOT satisfy the
    fixed-width fast path: ts falls back and ends None, as strptime
    behaved."""
    evil = (b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: https://a.org/x\r\n"
            b"WARC-Date: 2026=01/01T00:00:00Z\r\n"
            b"Content-Length: 4\r\n\r\nbody\r\n\r\n")
    rows = list(W.parse_warc_bytes(evil))
    assert rows[0]["warc_ts"] is None
    ok = (b"WARC/1.0\r\nWARC-Type: response\r\n"
          b"WARC-Target-URI: https://a.org/x\r\n"
          b"WARC-Date: 2026-01-02T03:04:05Z\r\n"
          b"Content-Length: 4\r\n\r\nbody\r\n\r\n")
    assert list(W.parse_warc_bytes(ok))[0]["warc_ts"] == datetime(
        2026, 1, 2, 3, 4, 5)


def test_split_http_envelope_with_headers():
    body = (b"HTTP/1.1 301 Moved\r\nLocation: https://b.org/\r\n"
            b"X-Thing: v\r\n\r\npayload")
    status, headers, payload = W._split_http_envelope(body)
    assert status == 301
    assert headers == {"location": "https://b.org/", "x-thing": "v"}
    assert payload == b"payload"
    s2, h2, p2 = W._split_http_envelope(body, with_headers=False)
    assert (s2, h2, p2) == (301, {}, b"payload")


def test_cdx_cluster_lookup_nonascii_and_space_urls(spark, tmp_path):
    """The index keys over the WRITER'S header-safe (percent-encoded)
    url form; the lookup must key its probe identically or archived
    IRIs / space-bearing urls silently miss."""
    rows = [("https://ex.org/päge", _ts(1), b"<html>a</html>"),
            ("https://ex.org/a b", _ts(2), b"<html>b</html>"),
            ("https://ex.org/plain", _ts(3), b"<html>c</html>")]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, payload binary")
    seg = str(tmp_path / "seg")
    W.write_warc(df, seg, n_files=1).collect()
    out = str(tmp_path / "cidx")
    W.write_cdx_cluster(spark, seg, out, shards=2, block=2)
    for url, _, payload in rows:
        hits = W.cdx_cluster_lookup(out, url)
        assert len(hits) == 1, url
        import pathlib
        rec = W.fetch_record(str(pathlib.Path(seg) / hits[0]["file"]),
                             hits[0]["offset"], hits[0]["length"])
        assert bytes(rec["payload"]) == payload


def test_cdx_cluster_compressed(spark, tmp_path):
    """compress=True: block-aligned gzip members — cluster.idx offsets
    stay seekable, a lookup decompresses exactly one member, Spark
    still reads the shards distributed (by .gz extension), and results
    match the uncompressed index exactly."""
    import pathlib
    rows = [(f"https://ex{i % 5}.org/p/{i}", _ts(i),
             f"<html>{i}</html>".encode()) for i in range(40)]
    for j in range(6):
        rows.append(("https://hot.org/page", _ts(100 + j),
                     f"<html>c{j}</html>".encode()))
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, payload binary")
    seg = str(tmp_path / "seg")
    W.write_warc(df, seg, n_files=2).collect()

    plain = str(tmp_path / "plain")
    gz = str(tmp_path / "gz")
    W.write_cdx_cluster(spark, seg, plain, shards=3, block=4)
    man = W.write_cdx_cluster(spark, seg, gz, shards=3, block=4,
                              compress=True)
    names = [r["file"] for r in man.collect()]
    assert names and all(n.endswith(".gz") for n in names)

    # every shard is a concatenation of valid gzip members whose
    # decompressed text equals lines; compressed is smaller on disk
    tot_gz = tot_plain = 0
    plain_text = b""
    for p in sorted(pathlib.Path(plain).glob("cdx-*")):
        tot_plain += p.stat().st_size
        plain_text += p.read_bytes()
    gz_text = b""
    for n in names:
        p = pathlib.Path(gz) / n
        tot_gz += p.stat().st_size
        data = p.read_bytes()
        assert data[:2] == b"\x1f\x8b"
        # members decode individually and concatenate to the exact
        # uncompressed shard text
        gz_text += b"".join(W._iter_members(data))
    assert gz_text == plain_text
    assert tot_gz < tot_plain

    # distributed read of the gz shards equals the base index
    base = {(r["urlkey"], r["cdx_ts"], r["offset"], r["length"], r["file"])
            for r in W.read_cdx(spark, seg).collect()}
    got = {(r["urlkey"], r["cdx_ts"], r["offset"], r["length"], r["file"])
           for r in W.read_cdx(spark, gz, glob="cdx-*").collect()}
    assert got == base and len(base) == 46

    # lookup parity: compressed == uncompressed for every url
    for url in {u for u, _, _ in rows}:
        a = W.cdx_cluster_lookup(plain, url)
        b = W.cdx_cluster_lookup(gz, url)
        assert a == b and a, url
    assert W.cdx_cluster_lookup(gz, "https://no.example/") == []

    # fetch through the compressed index round-trips payload bytes
    hit = W.cdx_cluster_lookup(gz, "https://hot.org/page",
                               newest_only=True)[0]
    rec = W.fetch_record(str(pathlib.Path(seg) / hit["file"]),
                         hit["offset"], hit["length"])
    assert bytes(rec["payload"]) == b"<html>c5</html>"


def test_cdx_cluster_compressed_corruption_raises(spark, tmp_path):
    """A damaged .gz shard must fail LOUDLY — returning [] would be
    indistinguishable from 'url never archived'."""
    import pathlib
    rows = [(f"https://ex.org/p/{i}", _ts(i), b"<html/>")
            for i in range(8)]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, payload binary")
    seg = str(tmp_path / "seg")
    W.write_warc(df, seg, n_files=1).collect()
    out = str(tmp_path / "cidx")
    W.write_cdx_cluster(spark, seg, out, shards=1, block=4,
                        compress=True)
    shard = next(pathlib.Path(out).glob("cdx-*.gz"))
    shard.write_bytes(b"\x1f\x8b" + b"\x00" * 30)  # truncated garbage
    with pytest.raises(ValueError, match="corrupt cluster shard"):
        W.cdx_cluster_lookup(out, "https://ex.org/p/1")


def test_sloppy_warc_date_still_parses():
    """The fixed-width fast path must not be STRICTER than the strptime
    it replaced: non-padded date fields (out of spec, but emitted by
    sloppy writers and accepted by the old code) still parse."""
    raw = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"WARC-Target-URI: https://a.org/x\r\n"
           b"WARC-Date: 2026-1-2T3:04:05Z\r\n"
           b"Content-Length: 2\r\n\r\nhi\r\n\r\n")
    rows = list(W.parse_warc_bytes(raw))
    assert rows and rows[0]["warc_ts"] == datetime(2026, 1, 2, 3, 4, 5)


def test_cluster_rebuild_failure_preserves_live_index(
        spark, tmp_path, monkeypatch):
    """The index serves LIVE point lookups: a rebuild that dies
    mid-build must leave the previous good index fully intact (the
    build-into-sibling + atomic-swap idiom)."""
    import pathlib
    rows = [(f"https://ex.org/p/{i}", _ts(i), b"<html/>")
            for i in range(8)]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, payload binary")
    seg = str(tmp_path / "seg")
    W.write_warc(df, seg, n_files=2).collect()
    out = str(tmp_path / "cidx")
    W.write_cdx_cluster(spark, seg, out, shards=2, block=4)
    assert W.cdx_cluster_lookup(out, "https://ex.org/p/3")

    def _boom(*a, **k):
        raise RuntimeError("simulated mid-build failure")

    monkeypatch.setattr(W, "_cluster_sorted_index", _boom)
    with pytest.raises(RuntimeError, match="simulated"):
        W.write_cdx_cluster(spark, seg, out, shards=2, block=4)
    monkeypatch.undo()
    # the live index never went away, and the failed build removed its
    # partial .build tree instead of leaving it for the next rebuild
    assert (pathlib.Path(out) / "cluster.idx").exists()
    assert not pathlib.Path(out + ".build").exists()
    assert W.cdx_cluster_lookup(out, "https://ex.org/p/3")
    # and a subsequent rebuild succeeds and leaves no droppings
    W.write_cdx_cluster(spark, seg, out, shards=3, block=4)
    assert W.cdx_cluster_lookup(out, "https://ex.org/p/3")
    assert not pathlib.Path(out + ".build").exists()
    assert not pathlib.Path(out + ".trash").exists()
    # the rebuild with MORE shards left no stale smaller-build shard
    names = sorted(p.name for p in pathlib.Path(out).glob("cdx-*"))
    assert names == [f"cdx-{i:05d}" for i in range(3)]


def test_cluster_out_dir_with_stray_files_refused(spark, tmp_path):
    """The atomic rebuild swaps the WHOLE directory — refuse loudly if
    out_dir holds anything that is not index output, instead of
    renaming a user's co-located data away."""
    rows = [(f"https://ex.org/p/{i}", _ts(i), b"<html/>")
            for i in range(4)]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, payload binary")
    seg = str(tmp_path / "seg")
    W.write_warc(df, seg, n_files=1).collect()
    out = tmp_path / "cidx"
    out.mkdir()
    (out / "keep.txt").write_text("user data")
    with pytest.raises(ValueError, match="non-index entries"):
        W.write_cdx_cluster(spark, seg, str(out), shards=1, block=4)
    assert (out / "keep.txt").read_text() == "user data"


def _cluster_seg(spark, tmp_path, n=4):
    rows = [(f"https://ex.org/p/{i}", _ts(i), b"<html/>") for i in range(n)]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, payload binary")
    seg = str(tmp_path / "seg")
    W.write_warc(df, seg, n_files=1).collect()
    return seg


@pytest.mark.parametrize("sibling", [".build", ".trash"])
def test_cluster_sibling_dir_with_stray_files_refused(spark, tmp_path,
                                                      sibling):
    """The rebuild deletes the .build and .trash siblings of out_dir:
    a user directory that happens to sit at either path must be refused
    like out_dir itself, not silently removed."""
    seg = _cluster_seg(spark, tmp_path)
    out = tmp_path / "cidx"
    W.write_cdx_cluster(spark, seg, str(out), shards=1, block=4)
    side = tmp_path / ("cidx" + sibling)
    side.mkdir()
    (side / "keep.txt").write_text("user data")
    with pytest.raises(ValueError, match="non-index entries"):
        W.write_cdx_cluster(spark, seg, str(out), shards=1, block=4)
    assert (side / "keep.txt").read_text() == "user data"
    assert W.cdx_cluster_lookup(str(out), "https://ex.org/p/1")


def test_cluster_rebuild_accepts_tmp_droppings(spark, tmp_path):
    """A crashed build can leave cluster.idx.tmp and *.tmp shard files
    in the index dir: they are index output, so the next rebuild must
    replace them instead of refusing the directory."""
    import pathlib
    seg = _cluster_seg(spark, tmp_path)
    out = pathlib.Path(tmp_path / "cidx")
    W.write_cdx_cluster(spark, seg, str(out), shards=1, block=4)
    for name in ("cluster.idx.tmp", "cdx-00000.tmp", "cdx-00003.gz.tmp"):
        (out / name).write_text("partial")
    W.write_cdx_cluster(spark, seg, str(out), shards=1, block=4)
    assert not list(out.glob("*.tmp"))
    assert W.cdx_cluster_lookup(str(out), "https://ex.org/p/2")

