"""Frontier state machine vs the in-memory oracle (SURVEY.md §5.2).

Locks the north_rule invariants: same seed list + politeness budget ⇒
identical crawl ordering and identical final seen-set; RefetchControl
predicates (first fetch / skip / refetch / age-out / trim) match the
reference's rules."""

from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from risjbot_spark.frontier.politeness import RobotsRules, parse_robots
from risjbot_spark.frontier.state import RefetchConfig, resolve_split, \
    seen_filter, seen_updates, trawl_candidates, trim_seen
from risjbot_spark.frontier.xxhash import xxhash64
from risjbot_spark.schema import SEEN_SCHEMA

T0 = datetime(2017, 4, 1, tzinfo=timezone.utc)
CFG = RefetchConfig(maxfetches=3, refetchsecs=3600)  # agelimit = 10800


def _seen(spark, rows):
    return spark.createDataFrame(
        [(xxhash64(u), u, u.split("/")[2], nf, t) for u, nf, t in rows],
        SEEN_SCHEMA,
    )


def _frontier(spark, urls):
    return spark.createDataFrame(
        [(u, u, xxhash64(u), u.split("/")[2], 0, T0, "t", None, 0) for u in urls],
        "url string, url_canon string, url_hash long, host string, "
        "priority int, discovered_ts timestamp, source_kind string, "
        "feed_meta map<string,string>, round int",
    )


def test_xxhash64_matches_spark(spark):
    urls = ["", "a", "abc" * 20, "https://example.com/x?q=1"]
    got = {
        r["u"]: r["h"]
        for r in spark.createDataFrame([(u,) for u in urls], ["u"])
        .select("u", F.xxhash64("u").alias("h")).collect()
    }
    for u in urls:
        assert xxhash64(u) == got[u]


def test_seen_filter_rules(spark):
    """J1 predicates: refetchcontrol.py:252-279 truth table."""
    rows = [
        ("https://h1/first", None, None),                       # not in seen
        ("https://h1/max", 3, T0 - timedelta(seconds=7200)),    # nf >= maxfetches
        ("https://h1/young", 1, T0 - timedelta(seconds=100)),   # age < refetchsecs
        ("https://h1/old", 1, T0 - timedelta(seconds=99999)),   # age > agelimit
        ("https://h1/ok", 2, T0 - timedelta(seconds=7200)),     # eligible refetch
    ]
    seen = _seen(spark, [r for r in rows if r[1] is not None])
    frontier = _frontier(spark, [r[0] for r in rows])
    got = {
        r["url_canon"]: r["previousfetches"]
        for r in seen_filter(frontier, seen, CFG, T0).collect()
    }
    assert got == {"https://h1/first": 0, "https://h1/ok": 2}


def test_merge_seen_upsert(spark):
    """J2: INSERT OR REPLACE with fetches+1 (refetchcontrol.py:302-313),
    in the compaction form: resolved updates ∪ (seen ∖ update-keys).
    `fetched` carries previousfetches as the seen gate annotates it."""
    seen = _seen(spark, [("https://h1/a", 2, T0 - timedelta(hours=2))])
    fetched = spark.createDataFrame(
        [(xxhash64("https://h1/a"), "https://h1/a", "h1", 2),
         (xxhash64("https://h1/b"), "https://h1/b", "h1", 0)],
        "url_hash long, url_canon string, host string, previousfetches int",
    )
    merged = resolve_split(seen, seen_updates(fetched, T0))
    got = {r["url"]: r["fetches"] for r in merged.collect()}
    assert got["https://h1/a"] == 3
    assert got["https://h1/b"] == 1
    # spark-side comparison: collect() renders timestamps in the
    # driver's OS timezone, so python-side equality would be TZ-fragile
    assert merged.filter(F.col("last_fetch") == F.lit(T0)).count() == 2


def test_trawl_window(spark):
    """J3a eligibility: cutoffold < t <= cutofft AND nf < maxfetches."""
    seen = _seen(spark, [
        ("https://h1/eligible", 1, T0 - timedelta(seconds=7200)),
        ("https://h1/toyoung", 1, T0 - timedelta(seconds=600)),
        ("https://h1/tooold", 1, T0 - timedelta(seconds=99999)),
        ("https://h1/maxed", 3, T0 - timedelta(seconds=7200)),
    ])
    got = {r["url"] for r in trawl_candidates(seen, CFG, T0).collect()}
    assert got == {"https://h1/eligible"}


def test_trim_keeps_requested_stale(spark):
    """J3b: stale ∧ ¬requested deleted; stale ∧ requested kept."""
    seen = _seen(spark, [
        ("https://h1/stale-gone", 1, T0 - timedelta(seconds=99999)),
        ("https://h1/stale-kept", 1, T0 - timedelta(seconds=99999)),
        ("https://h1/fresh", 1, T0 - timedelta(seconds=100)),
    ])
    requested = spark.createDataFrame(
        [(xxhash64("https://h1/stale-kept"),)], "url_hash long")
    got = {r["url"] for r in trim_seen(seen, requested, CFG, T0).collect()}
    assert got == {"https://h1/stale-kept", "https://h1/fresh"}


def test_robots_parser():
    r = parse_robots(
        "User-agent: *\nDisallow: /private/\nAllow: /private/ok\n"
        "Crawl-delay: 2\nSitemap: https://h/sm.xml\n"
        "User-agent: bot\nDisallow: /\n"
    )
    assert r.crawl_delay == 2.0
    assert r.sitemaps == ("https://h/sm.xml",)
    assert not r.allowed("/private/x")
    assert r.allowed("/private/ok/page")
    assert r.allowed("/public")
    # the bot-specific Disallow:/ must not leak into *
    assert r.allowed("/")


def test_xxhash64_matches_spark_fuzz(spark):
    """Pure-Python xxhash64 must be bit-equal to Spark's for arbitrary
    UTF-8 strings across the seed-block/stripe boundaries (lengths 0-64+
    cover the <32-byte fast path, one full stripe, and multi-stripe)."""
    import random

    rnd = random.Random(7)
    pool = "abcdefghijklmnopqrstuvwxyz0123456789:/?#[]@!$&'()*+,;=%-._~äöü中"
    urls = [""]
    for n in list(range(1, 70)) + [100, 255, 1000]:
        urls.append("".join(rnd.choice(pool) for _ in range(n)))
    got = {
        r["u"]: r["h"]
        for r in spark.createDataFrame([(u,) for u in urls], ["u"])
        .select("u", F.xxhash64("u").alias("h")).collect()
    }
    for u in urls:
        assert xxhash64(u) == got[u], repr(u)


def test_parse_robots_multi_agent_group():
    """RFC 9309: consecutive User-agent lines share one rule group; the
    group applies when ANY of its agents is '*'."""
    from risjbot_spark.frontier.politeness import parse_robots

    r = parse_robots(
        "User-agent: *\nUser-agent: SomeBot\nDisallow: /private\n\n"
        "User-agent: OtherBot\nDisallow: /other\n")
    assert r.disallow == ("/private",)      # group rules kept; OtherBot's not
    r2 = parse_robots(
        "User-agent: SomeBot\nUser-agent: *\nCrawl-delay: 2\nDisallow: /x\n")
    assert r2.disallow == ("/x",) and r2.crawl_delay == 2.0
    # a User-agent line AFTER rules starts a fresh group
    r3 = parse_robots(
        "User-agent: *\nDisallow: /a\nUser-agent: Bot\nDisallow: /b\n")
    assert r3.disallow == ("/a",)


def test_robots_filter_matches_path_not_query(spark):
    """The matched path is urlparse().path — query strings neither leak
    into the prefix match nor derail it (oracle parity)."""
    from risjbot_spark.frontier.politeness import RobotsRules, robots_filter

    rules = {"h.example.com": RobotsRules(disallow=("/private", "/y"))}
    fr = spark.createDataFrame(
        [("https://h.example.com/search?q=/private", "h.example.com"),
         ("https://h.example.com/private/x", "h.example.com"),
         ("https://h.example.com?x=/y", "h.example.com"),
         ("https://h.example.com/ok", "h.example.com")],
        "url_canon string, host string")
    kept = {r.url_canon for r in robots_filter(fr, rules, spark).collect()}
    assert kept == {"https://h.example.com/search?q=/private",
                    "https://h.example.com?x=/y",
                    "https://h.example.com/ok"}


def test_bloom_broadcast_reused_until_mutation(spark):
    """REGRESSION: split() broadcast the bitmaps anew every round and
    never unpersisted — one leaked N-MiB block per round."""
    import numpy as np

    from risjbot_spark.frontier.bloom import PartitionedBloom

    bl = PartitionedBloom(4, 1 << 12)
    bl.add_local(np.array([1, 2, 3], dtype=np.int64))
    fr = spark.createDataFrame([(1,), (99,)], "url_hash long")
    bl.split(fr, spark)
    first = bl._bc
    bl.split(fr, spark)
    assert bl._bc is first            # same broadcast across rounds
    bl.add_local(np.array([7], dtype=np.int64))
    assert bl._bc is None             # mutation invalidates
    maybe, fresh = bl.split(fr, spark)
    assert bl._bc is not first
    assert maybe.count() + fresh.count() == 2
