"""Robots/budgets scale path: the DataFrame rules table must be
row-for-row identical to the driver-dict path (same corpus), and must
hold host counts the dict path cannot (no driver collect anywhere).

VERDICT r1 "What's wrong #3": build_rules_map collects every host into a
driver dict and budgets ship as a create_map literal — fine at 10^3
Crawl-delay hosts, an OOM at the 10^7-10^8 hosts of a 10^10-URL
frontier. These tests pin the replacement (parse_rules_df +
robots_filter_df + host_budgets_df + politeness_schedule(budgets_df=))
to the old semantics.
"""

from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from risjbot_spark.corpus import pages_df, robots_rows, seed_urls
from risjbot_spark.crawl import CrawlConfig, CrawlEngine
from risjbot_spark.frontier.politeness import (
    build_rules_map,
    host_budgets,
    host_budgets_df,
    parse_rules_df,
    politeness_schedule,
    robots_filter,
    robots_filter_df,
)
from risjbot_spark.frontier.state import RefetchConfig
from risjbot_spark.schema import ROBOTS_SCHEMA

START = datetime(2017, 4, 1, tzinfo=timezone.utc)

# rule corpus exercising: longest-prefix ties, Allow-beats-Disallow,
# www-normalization, Crawl-delay, rule-free hosts, unknown hosts
_ROBOTS = [
    ("a.example.com",
     "User-agent: *\nDisallow: /private/\nAllow: /private/ok\nCrawl-delay: 2\n"),
    ("www.b.example.com",
     "User-agent: *\nDisallow: /x\nDisallow: /y/z\nAllow: /x/pub\n"),
    ("c.example.com", "User-agent: *\nCrawl-delay: 0.5\n"),
    ("d.example.com", "User-agent: other\nDisallow: /\n"),   # not for us
    ("e.example.com", "User-agent: *\nDisallow: /\nAllow: /\n"),  # tie → allow
    # negative Crawl-delay typo: dict path yields budget max(1, ...) = 1;
    # the DF path must agree, not silently drop the host to the default
    ("neg.example.com", "User-agent: *\nCrawl-delay: -1\n"),
]

_FRONTIER = [
    ("https://a.example.com/private/x", "a.example.com"),
    ("https://a.example.com/private/ok/page", "a.example.com"),
    ("https://a.example.com/public", "a.example.com"),
    ("https://a.example.com/search?q=/private/", "a.example.com"),
    ("https://a.example.com?x=/private/", "a.example.com"),
    ("https://b.example.com/x/pub/1", "b.example.com"),
    ("https://b.example.com/x/secret", "b.example.com"),
    ("https://b.example.com/y/z", "b.example.com"),
    ("https://b.example.com/y/a", "b.example.com"),
    ("https://c.example.com/anything", "c.example.com"),
    ("https://d.example.com/anything", "d.example.com"),
    ("https://e.example.com/root", "e.example.com"),
    ("https://unknown.example.com/free", "unknown.example.com"),
]


def _robots_df(spark):
    return spark.createDataFrame(_ROBOTS, ROBOTS_SCHEMA)


def _frontier_df(spark):
    return spark.createDataFrame(_FRONTIER, "url_canon string, host string")


def test_robots_filter_df_parity(spark):
    """Join-path filter keeps exactly the dict-path rows."""
    fr = _frontier_df(spark)
    dict_kept = {
        r.url_canon
        for r in robots_filter(fr, build_rules_map(_robots_df(spark)),
                               spark).collect()
    }
    df_kept = {
        r.url_canon
        for r in robots_filter_df(fr, parse_rules_df(_robots_df(spark)))
        .collect()
    }
    assert df_kept == dict_kept
    # and the filter's own sanity: tie goes to Allow, unknown host passes
    assert "https://e.example.com/root" in df_kept
    assert "https://unknown.example.com/free" in df_kept
    assert "https://a.example.com/private/x" not in df_kept


def test_robots_filter_df_preserves_columns(spark):
    """The rule columns must not leak into the output schema."""
    fr = _frontier_df(spark).withColumn("priority", F.lit(1))
    out = robots_filter_df(fr, parse_rules_df(_robots_df(spark)))
    assert out.columns == ["url_canon", "host", "priority"]


def test_host_budgets_df_parity(spark):
    rules_map = build_rules_map(_robots_df(spark))
    want = host_budgets(rules_map, round_seconds=10, default_budget=99)
    got = {
        r.host_norm: r.budget
        for r in host_budgets_df(parse_rules_df(_robots_df(spark)), 10)
        .collect()
    }
    assert got == want
    assert got == {"a.example.com": 5, "c.example.com": 20,
                   "neg.example.com": 1}


def test_politeness_schedule_budgets_df_parity(spark):
    """Window + budget join ≡ window + create_map literal, including the
    salted pre-rank path (budgets well under the presplit threshold)."""
    rows = []
    t0 = START
    for h in ("a.example.com", "c.example.com", "nodelay.example.com"):
        for i in range(30):
            rows.append((f"https://{h}/p{i:02d}", h, i % 3,
                         t0 + timedelta(seconds=i), i * 7 + (len(h) * 31) % 100))
    fr = spark.createDataFrame(
        rows,
        "url_canon string, host string, priority int, "
        "discovered_ts timestamp, url_hash long")
    rules_map = build_rules_map(_robots_df(spark))
    budgets = host_budgets(rules_map, round_seconds=10, default_budget=8)
    via_dict = politeness_schedule(fr, budgets, 8, spark)
    via_df = politeness_schedule(
        fr, {}, 8, spark,
        budgets_df=host_budgets_df(parse_rules_df(_robots_df(spark)), 10))
    key = lambda r: (r.url_canon, r.host_rank)
    assert sorted(map(key, via_df.collect())) == \
        sorted(map(key, via_dict.collect()))
    assert via_df.columns == via_dict.columns


def test_crawl_scale_path_output_identical(spark, tmp_path):
    """End-to-end: the robots DataFrame path (robots_scale_hosts=0, so
    any host count selects it) produces the same per-round fetch
    ordering and final seen-set as the dict engine."""
    corpus = pages_df(spark, 120, partitions=4)
    robots = spark.createDataFrame(robots_rows(), ROBOTS_SCHEMA)
    base = dict(
        refetch=RefetchConfig(maxfetches=3, refetchsecs=3600),
        default_budget=7, round_seconds=10, num_partitions=4,
        use_bloom=True, bloom_buckets=8,
    )
    seeds = spark.createDataFrame(
        seed_urls(120), "url string, source_kind string, priority int"
    ).select("url", "priority")

    results = {}
    for name, kw in (("dict", {}), ("scale", {"robots_scale_hosts": 0})):
        eng = CrawlEngine(
            spark, str(tmp_path / f"wh_{name}"), corpus, robots,
            CrawlConfig(**kw, **base))
        assert (eng.rules_df is not None) == (name == "scale")
        for rnd in range(2):
            ts = START + timedelta(seconds=rnd * 3600)
            eng.run_round(seeds, rnd, ts, with_order_audit=True)
        arts = [
            (r.round, r.fetch_seq, r.url_canon)
            for r in eng.articles_table.read()
            .select("round", "fetch_seq", "url_canon")
            .orderBy("round", "fetch_seq").collect()
        ]
        seen = {(r.url, r.fetches) for r in eng.seen().collect()}
        results[name] = (arts, seen)

    assert results["scale"][0] == results["dict"][0]
    assert results["scale"][1] == results["dict"][1]


def test_rules_df_holds_many_hosts(spark):
    """The scale path parses and filters against 200k distinct hosts with
    no driver-side rules structure — the host count where the dict path's
    collect() becomes the driver OOM (VERDICT #3). Rules are synthesized
    distributed (spark.range), parsed in executors, joined on host."""
    n = 200_000
    robots = spark.range(n).selectExpr(
        "concat('h', id, '.example.com') AS host",
        "concat('User-agent: *\nDisallow: /block', id % 7, '/\n',"
        " CASE WHEN id % 5 = 0 THEN concat('Crawl-delay: ', 1 + id % 3)"
        "      ELSE '' END) AS robots_txt",
    )
    rules = parse_rules_df(robots)
    fr = spark.range(0, n, 97).selectExpr(
        "concat('https://h', id, '.example.com/block', id % 7, '/x')"
        " AS url_canon",
        "concat('h', id, '.example.com') AS host",
    ).unionByName(spark.range(0, n, 101).selectExpr(
        "concat('https://h', id, '.example.com/free/x') AS url_canon",
        "concat('h', id, '.example.com') AS host",
    ))
    kept = robots_filter_df(fr, rules)
    # every /block{id%7}/ URL is disallowed by its own host; /free passes
    assert kept.filter(F.col("url_canon").contains("/block")).count() == 0
    assert kept.count() == fr.filter(
        F.col("url_canon").contains("/free")).count()
    # budgets table materializes distributed too: n/5 Crawl-delay hosts
    budgets = host_budgets_df(rules, 10)
    assert budgets.count() == n // 5


def test_live_fetch_scale_path_carries_crawl_delay(spark, tmp_path,
                                                   monkeypatch):
    """keep_crawl_delay: live-fetch mode on the robots scale path rides
    the per-host Crawl-delay on the politeness budget join — fetch_stage
    receives it as a per-row column (no host→delay dict shipped), with
    the robots value for Crawl-delay hosts and null elsewhere — and the
    column is dropped before extraction/commit."""
    import risjbot_spark.crawl as C
    from risjbot_spark.urlnorm import canonicalize_py

    corpus = pages_df(spark, 60, partitions=4)
    robots = spark.createDataFrame(robots_rows(), ROBOTS_SCHEMA)
    web = {canonicalize_py(r["url"]): (bytes(r["html"]), r["warc_ts"])
           for r in corpus.select("url", "html", "warc_ts").collect()}

    def fake_fetch(url):
        hit = web.get(url)
        if hit is None:
            return (404, None, "")
        body, ts = hit
        return (200, body, ts.strftime("%a, %d %b %Y %H:%M:%S GMT"))

    captured = {}
    real_fetch_stage = C.fetch_stage

    def spy(scheduled, fetcher, **kw):
        captured["cols"] = scheduled.columns
        if "crawl_delay" in scheduled.columns:
            captured["delays"] = {
                r["host"]: r["crawl_delay"]
                for r in scheduled.select("host", "crawl_delay")
                .distinct().collect()}
        kw["sleep_fn"] = lambda s: None      # no wall-clock pacing in test
        return real_fetch_stage(scheduled, fetcher, **kw)

    monkeypatch.setattr(C, "fetch_stage", spy)
    cfg = CrawlConfig(refetch=RefetchConfig(maxfetches=3, refetchsecs=3600),
                      robots_scale_hosts=0, default_budget=1000,
                      round_seconds=10, num_partitions=4,
                      use_bloom=False)
    eng = CrawlEngine(spark, str(tmp_path / "wh"), corpus, robots, cfg,
                      fetcher=fake_fetch)
    seeds = corpus.select("url").withColumn("priority", F.lit(0))
    eng.run_round(seeds, 0, START)

    assert "crawl_delay" in captured["cols"]
    delays = captured["delays"]
    # robots fixture: theguardian sets Crawl-delay 1; every other host
    # has no delay directive → null rides through the left join
    assert delays["www.theguardian.com"] == 1.0
    assert all(v is None for h, v in delays.items()
               if h != "www.theguardian.com")
    arts = eng.articles_table.read()
    assert "crawl_delay" not in arts.columns
    assert arts.count() > 0
    assert arts.filter(F.col("host") == "www.theguardian.com").count() > 0
