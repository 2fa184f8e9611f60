"""Frontier-source tests (S1-S5): RSS/Atom/sitemap parsing incl. gzipped
sitemaps, sitemapindex expansion, Google News meta, alternate links."""

import gzip
import json

import pytest
from pyspark.sql import functions as F

from risjbot_spark.sources.feeds import expand_feeds, expand_sitemaps, parse_feed

RSS = b"""<?xml version="1.0"?>
<rss version="2.0"><channel><title>Feed</title>
<item><title>Story One</title><link>https://h/a1</link>
<description>Sum 1</description><pubDate>Mon, 27 Feb 2017 18:02:16 GMT</pubDate></item>
<item><title>Story Two</title><link> https://h/a2 </link></item>
<item><title>No link</title></item>
</channel></rss>"""

ATOM = b"""<?xml version="1.0"?>
<feed xmlns="http://www.w3.org/2005/Atom"><title>F</title>
<entry><link href="https://h/e1"/><title>E1</title></entry>
<entry><link href="https://h/e2"/></entry>
</feed>"""

URLSET = b"""<?xml version="1.0"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"
        xmlns:news="http://www.google.com/schemas/sitemap-news/0.9"
        xmlns:xhtml="http://www.w3.org/1999/xhtml">
<url><loc>https://h/s1</loc><lastmod>2017-03-01T00:00:00Z</lastmod>
  <news:news><news:title>SM Title</news:title>
  <news:keywords>k1,k2</news:keywords>
  <news:publication_date>2017-02-28</news:publication_date></news:news>
  <xhtml:link rel="alternate" hreflang="de" href="https://h/s1-de"/></url>
<url><loc>https://h/s2</loc></url>
</urlset>"""

SMINDEX = b"""<?xml version="1.0"?>
<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
<sitemap><loc>https://h/child1.xml</loc></sitemap>
<sitemap><loc>https://h/child2.xml</loc></sitemap>
</sitemapindex>"""


def test_rss_items():
    rows = parse_feed(RSS)
    # whitespace stripped like etree_to_recursive_dict (utils.py:86-88)
    assert [r["url"] for r in rows] == ["https://h/a1", "https://h/a2"]
    meta = rows[0]["meta"]["RSSFeed"]
    assert meta["title"] == "Story One"
    assert meta["description"] == "Sum 1"
    assert meta["pubDate"] == "Mon, 27 Feb 2017 18:02:16 GMT"


def test_atom_entries():
    rows = parse_feed(ATOM)
    assert [r["url"] for r in rows] == ["https://h/e1", "https://h/e2"]
    assert all(r["kind"] == "atom" for r in rows)


def test_urlset_news_meta_and_alternate():
    rows = parse_feed(URLSET)
    urls = [r["url"] for r in rows]
    assert urls == ["https://h/s1", "https://h/s1-de", "https://h/s2"]
    sm = rows[0]["meta"]["NewsSitemap"]
    assert sm["lastmod"] == "2017-03-01T00:00:00Z"
    assert sm["news"]["title"] == "SM Title"
    assert sm["news"]["keywords"] == "k1,k2"
    assert sm["alternatede"] == "https://h/s1-de"


def test_gzipped_sitemap():
    rows = parse_feed(gzip.compress(URLSET))
    assert len(rows) == 3


def test_sitemapindex_children():
    rows = parse_feed(SMINDEX)
    assert [r["kind"] for r in rows] == ["sitemapindex-child"] * 2


def test_invalid_xml_yields_nothing():
    assert parse_feed(b"this is not xml <<<") == []


def test_corrupt_gzip_yields_nothing():
    """A truncated .xml.gz body (gzip magic, broken stream) is skipped
    like malformed XML — one bad sitemap must never fail the stage."""
    truncated = gzip.compress(URLSET)[:20]
    assert truncated[:2] == b"\x1f\x8b"
    assert parse_feed(truncated) == []
    assert parse_feed(b"\x1f\x8b not really gzip") == []


def test_atom_whitespace_href_skipped():
    """A whitespace-only Atom href must not become an empty frontier
    URL (strip happens before the emptiness check, matching the
    rss/sitemap text.strip() guards)."""
    atom = (b'<feed xmlns="http://www.w3.org/2005/Atom">'
            b'<entry><link href="  "/><link href=" https://h/ok "/></entry>'
            b"</feed>")
    rows = parse_feed(atom)
    assert [r["url"] for r in rows] == ["https://h/ok"]


def test_expand_feeds_spark(spark):
    feeds = spark.createDataFrame(
        [("https://h/rss", RSS), ("https://h/atom", ATOM)],
        "feed_url string, body binary",
    )
    rows = expand_feeds(feeds).collect()
    got = {(r["feed_url"], r["url"]) for r in rows}
    assert ("https://h/rss", "https://h/a1") in got
    assert ("https://h/atom", "https://h/e2") in got
    rss_meta = json.loads(
        next(r["meta_json"] for r in rows if r["url"] == "https://h/a1"))
    assert rss_meta["RSSFeed"]["title"] == "Story One"


def test_expand_sitemaps_recursive(spark):
    feeds = spark.createDataFrame(
        [("https://h/index.xml", SMINDEX)], "feed_url string, body binary")
    bodies = spark.createDataFrame(
        [("https://h/child1.xml", URLSET),
         ("https://h/child2.xml", gzip.compress(URLSET))],
        "feed_url string, body binary",
    )
    rows = expand_sitemaps(feeds, bodies).collect()
    urls = sorted(r["url"] for r in rows)
    # two children × 3 leaf rows each
    assert len(urls) == 6
    assert urls[0] == "https://h/s1"


def test_seeds_from_csv_and_textfile(spark, tmp_path):
    from risjbot_spark.sources import seeds_from_csv, seeds_from_textfile

    csv = tmp_path / "seeds.csv"
    csv.write_text("url,extra\nhttps://h/a,1\n ,2\nhttps://h/b ,3\n")
    got = {r["url"] for r in seeds_from_csv(spark, str(csv)).collect()}
    assert got == {"https://h/a", "https://h/b"}

    txt = tmp_path / "seeds.txt"
    txt.write_text("https://h/x\n\n  https://h/y  \n")
    got = {r["url"] for r in seeds_from_textfile(spark, str(txt)).collect()}
    assert got == {"https://h/x", "https://h/y"}


def test_sitemaps_from_robots(spark):
    from risjbot_spark.sources.feeds import sitemaps_from_robots

    robots = spark.createDataFrame(
        [("h1", "User-agent: *\nSitemap: https://h1/sm.xml\nDisallow: /x"),
         ("h2", "User-agent: *\nDisallow: /")],
        "host string, robots_txt string",
    )
    got = {(r["host"], r["url"]) for r in sitemaps_from_robots(robots).collect()}
    assert got == {("h1", "https://h1/sm.xml")}


def test_recent_sitemap_filter(spark):
    from datetime import date

    from risjbot_spark.sources.feeds import recent_sitemap_filter

    urls = spark.createDataFrame(
        [("https://h/sitemap_20170308-20170309.xml",),
         ("https://h/sitemap_20170301-20170302.xml",),
         ("https://h/other.xml",)],
        "url string",
    )
    got = {r["url"] for r in recent_sitemap_filter(
        urls, days=1, today=date(2017, 3, 9)).collect()}
    assert got == {"https://h/sitemap_20170308-20170309.xml"}


def test_sitemaps_from_robots_crlf(spark):
    """CRLF robots.txt (IIS/CDN-common) must not leave trailing \\r on
    the extracted sitemap URLs — a '\\r'-suffixed seed silently misses
    every subsequent body join and fetch."""
    from risjbot_spark.sources.feeds import sitemaps_from_robots

    robots = spark.createDataFrame(
        [("h.example.com",
          "User-agent: *\r\nSitemap: https://h.example.com/news.xml\r\n")],
        "host string, robots_txt string")
    rows = sitemaps_from_robots(robots).collect()
    assert [r.url for r in rows] == ["https://h.example.com/news.xml"]


def test_non_alternate_links_not_enqueued():
    """REGRESSION: rel='canonical'/'self' xhtml:link children (and
    alternates without hreflang) must not become frontier rows —
    only rel='alternate' with hreflang is followed
    (newssitemapspider.py:94-100)."""
    body = b"""<?xml version="1.0"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"
        xmlns:xhtml="http://www.w3.org/1999/xhtml">
<url><loc>https://h/s1</loc>
  <xhtml:link rel="canonical" href="https://h/canon"/>
  <xhtml:link rel="alternate" href="https://h/no-hreflang"/>
  <xhtml:link rel="alternate" hreflang="fr" href="https://h/s1-fr"/></url>
</urlset>"""
    urls = [r["url"] for r in parse_feed(body)]
    assert urls == ["https://h/s1", "https://h/s1-fr"]


def test_expand_sitemaps_cycle_terminates_without_duplicates(spark):
    """REGRESSION: mutually-referencing sitemapindex files (A lists B, B
    lists A) were re-expanded at alternating depths, duplicating every
    leaf; the cumulative expanded-set anti-join yields each leaf once."""
    idx_a = b"""<?xml version="1.0"?>
<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
<sitemap><loc>https://h/b.xml</loc></sitemap>
<sitemap><loc>https://h/leafmap.xml</loc></sitemap>
</sitemapindex>"""
    idx_b = b"""<?xml version="1.0"?>
<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
<sitemap><loc>https://h/a.xml</loc></sitemap>
</sitemapindex>"""
    feeds = spark.createDataFrame(
        [("https://h/a.xml", idx_a)], "feed_url string, body binary")
    bodies = spark.createDataFrame(
        [("https://h/a.xml", idx_a), ("https://h/b.xml", idx_b),
         ("https://h/leafmap.xml", URLSET)],
        "feed_url string, body binary")
    urls = sorted(r["url"] for r in expand_sitemaps(feeds, bodies).collect())
    assert urls == ["https://h/s1", "https://h/s1-de", "https://h/s2"]


def test_splash_fetcher_adapter(spark, tmp_path):
    """S7: the Splash wrapper routes every engine fetch through
    render.html with the original URL as a query param, keeping the
    logical URL on the article (meta originalurl semantics)."""
    from datetime import datetime, timezone
    from urllib.parse import parse_qs, urlparse

    from risjbot_spark.corpus import pages_df
    from risjbot_spark.crawl import CrawlConfig, CrawlEngine
    from risjbot_spark.frontier.state import RefetchConfig
    from risjbot_spark.sources.splash import splash_fetcher, splash_render_url
    from risjbot_spark.urlnorm import canonicalize_py

    assert splash_render_url("http://splash:8050", "https://h/a?x=1") == \
        "http://splash:8050/render.html?url=https%3A%2F%2Fh%2Fa%3Fx%3D1"
    import pytest as _pytest
    with _pytest.raises(ValueError, match="SPLASH_URL"):
        splash_fetcher(lambda u, auth=None: None, "")

    corpus = pages_df(spark, 12, partitions=2)
    web = {canonicalize_py(r["url"]): bytes(r["html"])
           for r in corpus.select("url", "html").collect()}

    def http(url, auth=None, _web=web):
        # a fake Splash: unwrap ?url= and serve the rendered page
        assert "/render.html?url=" in url
        target = parse_qs(urlparse(url).query)["url"][0]
        body = _web.get(target)
        if body is None:
            return 404, b"", "Sat, 01 Apr 2017 12:00:00 GMT"
        return 200, body, "Sat, 01 Apr 2017 12:00:00 GMT"

    eng = CrawlEngine(
        spark, str(tmp_path / "wh"), None, None,
        CrawlConfig(refetch=RefetchConfig(), num_partitions=2,
                    use_bloom=False, salt=2),
        fetcher=splash_fetcher(http, "http://splash:8050"))
    seeds = corpus.select("url").withColumn("priority", F.lit(0))
    eng.run_round(seeds, 0, datetime(2017, 4, 1, tzinfo=timezone.utc))
    arts = eng.articles_table.read()
    assert arts.count() > 0
    # articles carry the ORIGINAL canonical urls, never the splash url
    assert arts.filter(F.col("url_canon").contains("splash")).count() == 0
