"""Scale-backend auto-selection (r3 verdict item #3): with the default
"auto" config the engine must pick the 100×-safe backend from OBSERVED
scale — seen key count vs the driver bloom budget, robots host count,
frontier rows vs the broadcast budget — without the caller asking,
record the choice + evidence in `engine.backend_choices`. Only
broadcast_frontier keeps an explicit override, because round 0 has no
frontier evidence. At sandbox scale the autos must resolve to the same
fast paths the pre-auto defaults hard-coded (driver bloom, broadcast
fetch, dict robots), so every existing parity test doubles as an
auto-resolution regression."""

from datetime import datetime, timedelta, timezone

from pyspark.sql import functions as F

from risjbot_spark.corpus import host_lang_for, pages_df, pathway_for, url_for
from risjbot_spark.crawl import CrawlConfig, CrawlEngine
from risjbot_spark.frontier.bloom import PartitionedBloom
from risjbot_spark.frontier.oracle import CrawlOracle
from risjbot_spark.frontier.politeness import build_rules_map, host_budgets
from risjbot_spark.frontier.state import RefetchConfig
from risjbot_spark.schema import ROBOTS_SCHEMA
from risjbot_spark.urlnorm import canonicalize_py

T0 = datetime(2017, 4, 1, tzinfo=timezone.utc)


def _engine(spark, tmp_path, pages, name="wh", robots=None, **cfg_kw):
    cfg_kw.setdefault("refetch", RefetchConfig(maxfetches=3,
                                               refetchsecs=3600))
    cfg_kw.setdefault("num_partitions", 4)
    cfg_kw.setdefault("bloom_buckets", 8)
    return CrawlEngine(spark, str(tmp_path / name), pages, robots,
                       CrawlConfig(**cfg_kw))


def test_small_scale_resolves_to_fast_paths(spark, tmp_path):
    """Defaults at sandbox scale: driver bloom, broadcast fetch, dict
    robots — each recorded as an auto choice."""
    pages = pages_df(spark, 30, partitions=2)
    robots = spark.createDataFrame(
        [("example.com", "User-agent: *\nAllow: /")], ROBOTS_SCHEMA)
    eng = _engine(spark, tmp_path, pages, robots=robots)
    assert isinstance(eng.bloom, PartitionedBloom)
    assert eng.backend_choices["bloom"] == {
        "value": True, "auto": True,
        "why": "seen footer rows=0 vs driver budget 20000000 keys"}
    assert eng.rules_map and eng.rules_df is None
    seeds = pages.select("url").withColumn("priority", F.lit(0))
    eng.run_round(seeds, 0, T0)
    ch = eng.backend_choices
    assert ch["bloom"] == {
        "value": True, "auto": True,
        "why": "n_keys=30 after round 0 vs driver budget 20000000 keys"}
    assert isinstance(eng.bloom, PartitionedBloom)
    assert ch["robots_dataframe"]["value"] is False
    assert ch["robots_dataframe"]["auto"] is True
    assert ch["broadcast_frontier"]["value"] is True
    assert ch["broadcast_frontier"]["auto"] is True


def _oracle(cfg, n_pages):
    pages = {canonicalize_py(url_for(i)) for i in range(n_pages)}
    fake404 = {canonicalize_py(url_for(i)) for i in range(n_pages)
               if pathway_for(i, host_lang_for(i)[0]) == "fake404"}
    return CrawlOracle(pages, {}, cfg.refetch, cfg.default_budget,
                       cfg.round_seconds, fake404=fake404)


def _round_vs_oracle(spark, eng, orc, ids, rnd, ts):
    """Run one engine round and one oracle round over seeds url_for(i),
    i in ids; the fetched URL sets must match."""
    eng.run_round(spark.createDataFrame([(url_for(i), 0) for i in ids],
                                        "url string, priority int"),
                  rnd, ts)
    log = orc.run_round([{"url": url_for(i), "priority": 0,
                          "discovered_ts": ts} for i in ids], rnd, ts)
    got = {r.url_canon for r in eng.articles_table.read()
           .filter(F.col("round") == rnd).select("url_canon").collect()}
    assert got == {u for (_, u, _) in log}, f"round {rnd}"
    if rnd > 0 and rnd % eng.cfg.trim_every == 0:       # compaction round
        orc.trim({canonicalize_py(url_for(i)) for i in ids}, ts)


def _seen_matches(eng, orc):
    return ({r.url: r.fetches for r in eng.seen().collect()}
            == {u: nf for u, (nf, _) in orc.seen.items()})


def test_bloom_off_beyond_driver_budget(spark, tmp_path):
    """A warehouse whose seen keys outgrow driver_bloom_max_keys builds
    no filter at the next construction — evidence from a current
    checkpoint's n_keys, else from the seen snapshot's footer rows — and
    the seen join alone gates exactly like the oracle afterwards."""
    pages = pages_df(spark, 40, partitions=2)
    eng = _engine(spark, tmp_path, pages)
    orc = _oracle(eng.cfg, 40)
    _round_vs_oracle(spark, eng, orc, range(40), 0, T0)   # 40 keys seen
    assert isinstance(eng.bloom, PartitionedBloom)
    eng2 = _engine(spark, tmp_path, pages, driver_bloom_max_keys=25)
    assert eng2.bloom is None
    assert eng2.backend_choices["bloom"] == {
        "value": False, "auto": True,
        "why": "checkpoint n_keys=40 vs driver budget 25 keys"}
    # gated (1 s later) and refetch-eligible (1 h later) rounds
    _round_vs_oracle(spark, eng2, orc, range(40), 1,
                     T0 + timedelta(seconds=1))
    _round_vs_oracle(spark, eng2, orc, range(40), 2,
                     T0 + timedelta(seconds=3601))
    assert eng2.bloom is None and _seen_matches(eng2, orc)
    # the drop took the marker with it: a third construction reads the
    # seen footers (40 round-0 + 40 round-2 delta rows), not the
    # round-0 checkpoint
    eng3 = _engine(spark, tmp_path, pages, driver_bloom_max_keys=25)
    assert eng3.bloom is None
    assert "seen footer rows=80" in eng3.backend_choices["bloom"]["why"]


def test_robots_flips_to_dataframe_beyond_host_budget(spark, tmp_path):
    pages = pages_df(spark, 10, partitions=2)
    robots = spark.createDataFrame(
        [(f"host{i}.example", "User-agent: *\nAllow: /")
         for i in range(20)], ROBOTS_SCHEMA)
    eng = _engine(spark, tmp_path, pages, robots=robots,
                  robots_scale_hosts=10)
    assert eng.rules_df is not None and not eng.rules_map
    ch = eng.backend_choices["robots_dataframe"]
    assert ch["value"] is True and ch["auto"] is True
    # the read stops at the threshold, so the evidence is a lower bound
    assert ch["why"] == ">= 10 robots hosts vs threshold 10"


def _delay_robots(spark, n):
    return spark.createDataFrame(
        [(f"www.host{i}.example",
          f"User-agent: *\nDisallow: /p{i}/\nCrawl-delay: {i % 4}")
         for i in range(n)], ROBOTS_SCHEMA)


def test_robots_threshold_boundary(spark, tmp_path):
    """One row short of robots_scale_hosts is the dict backend with
    exactly the rules and budgets the whole-table helpers build;
    exactly robots_scale_hosts rows is the DataFrame backend, and so is
    a threshold of 0 (whose construction reads no robots row:
    test_lineage_jobs pins its job count)."""
    pages = pages_df(spark, 10, partitions=2)
    robots = _delay_robots(spark, 12)
    eng = _engine(spark, tmp_path, pages, "below", robots=robots,
                  robots_scale_hosts=13)
    assert eng.rules_df is None
    rules = build_rules_map(robots)
    assert eng.rules_map == rules and len(rules) == 12
    assert eng.budgets == host_budgets(rules, eng.cfg.round_seconds,
                                       eng.cfg.default_budget)
    assert eng.budgets
    assert eng.backend_choices["robots_dataframe"] == {
        "value": False, "auto": True,
        "why": "12 robots hosts vs threshold 13"}
    eng = _engine(spark, tmp_path, pages, "at", robots=robots,
                  robots_scale_hosts=12)
    assert eng.rules_df is not None and not eng.rules_map
    assert not eng.budgets
    assert eng.backend_choices["robots_dataframe"] == {
        "value": True, "auto": True,
        "why": ">= 12 robots hosts vs threshold 12"}
    eng = _engine(spark, tmp_path, pages, "zero", robots=robots,
                  robots_scale_hosts=0)
    assert eng.rules_df is not None and not eng.rules_map
    assert eng.backend_choices["robots_dataframe"]["why"] == (
        ">= 0 robots hosts vs threshold 0")


def test_frontier_stops_broadcasting_beyond_row_budget(spark, tmp_path):
    pages = pages_df(spark, 60, partitions=2)
    seeds = pages.select("url").withColumn("priority", F.lit(0))
    eng = _engine(spark, tmp_path, pages,
                  broadcast_frontier_max_rows=10)
    eng.run_round(seeds, 0, T0)
    # round 0 has no frontier evidence yet → broadcast, but the round's
    # frontier_in Observation (no extra job) feeds the next decision
    assert eng.backend_choices["broadcast_frontier"]["value"] is True
    assert eng._last_frontier_rows == 60
    eng.run_round(seeds, 1, T0 + timedelta(seconds=3600))
    ch = eng.backend_choices["broadcast_frontier"]
    assert ch["value"] is False and ch["auto"] is True
    assert "60 rows" in ch["why"]
    # both the broadcast and the SMJ round fetched + extracted all 60
    assert eng.articles_table.read().count() == 120


def test_auto_equals_explicit_round_output(spark, tmp_path):
    """The auto engine's articles + seen state must be identical to the
    old explicit defaults (driver bloom, broadcast fetch)."""
    pages = pages_df(spark, 50, partitions=2)
    seeds = pages.select("url").withColumn("priority", F.lit(0))
    results = {}
    for name, kw in (("auto", {}),
                     ("explicit", dict(broadcast_frontier=True))):
        eng = _engine(spark, tmp_path, pages, name=f"wh_{name}", **kw)
        for rnd in range(2):
            eng.run_round(seeds, rnd, T0 + timedelta(seconds=rnd * 3600),
                          with_order_audit=True)
        arts = sorted(
            (r.round, r.fetch_seq, r.url_canon)
            for r in eng.articles_table.read()
            .select("round", "fetch_seq", "url_canon").collect())
        seen = sorted((r.url, r.fetches) for r in eng.seen().collect())
        results[name] = (arts, seen)
    assert results["auto"] == results["explicit"]


def test_bloom_promotes_mid_run_when_budget_crossed(spark, tmp_path,
                                                    monkeypatch):
    """A crawl whose round adds carry the seen key count past
    driver_bloom_max_keys hands gating to the seen join alone INSIDE
    that round: the driver bloom is dropped with its marker, not kept
    until the next construction, and every later round still fetches
    what the oracle fetches. The budget check reads the round's
    first-fetch counter, so the crossing round adds no key at all. The
    drop is sticky at the same budget, and a later construction under a
    larger budget rebuilds the filter from seen instead of trusting the
    checkpoint taken before the drop."""
    import os

    adds = []
    real_add_df = PartitionedBloom.add_df

    def counting_add_df(self, *a, **kw):
        adds.append(1)
        return real_add_df(self, *a, **kw)

    monkeypatch.setattr(PartitionedBloom, "add_df", counting_add_df)
    pages = pages_df(spark, 60, partitions=2)
    wh = tmp_path / "wh"
    marker = wh / "bloom" / "seen_snapshot"
    eng = _engine(spark, tmp_path, pages, driver_bloom_max_keys=30)
    orc = _oracle(eng.cfg, 60)
    _round_vs_oracle(spark, eng, orc, range(25), 0, T0)
    assert isinstance(eng.bloom, PartitionedBloom) and eng.bloom.n_keys == 25
    assert marker.read_text().split()[1] == "driver"
    assert len(adds) == 1
    # round 1's adds cross the budget: dropped mid-run, marker with it,
    # and none of its 15 first-fetch keys is added before the drop
    _round_vs_oracle(spark, eng, orc, range(40), 1,
                     T0 + timedelta(seconds=1))
    assert eng.bloom is None and not marker.exists()
    assert len(adds) == 1
    assert eng.backend_choices["bloom"] == {
        "value": False, "auto": True,
        "why": "n_keys=40 after round 1 vs driver budget 30 keys"}
    _round_vs_oracle(spark, eng, orc, range(50), 2,
                     T0 + timedelta(seconds=2))      # seen join alone

    # same budget: a fresh construction stays off (no marker to trust)
    eng = _engine(spark, tmp_path, pages, driver_bloom_max_keys=30)
    assert eng.bloom is None
    assert "seen footer rows=" in eng.backend_choices["bloom"]["why"]

    # a larger budget later: bloom.npz still holds round 0's 25 keys,
    # so it is rebuilt from seen, never trusted
    assert os.path.exists(wh / "bloom" / "bloom.npz")
    eng = _engine(spark, tmp_path, pages, driver_bloom_max_keys=1000)
    assert eng.bloom.n_keys == 50
    hs = eng.seen().select("url_hash")
    assert eng.bloom.split(hs, spark)[1].count() == 0
    _round_vs_oracle(spark, eng, orc, range(60), 3,
                     T0 + timedelta(seconds=3))
    assert _seen_matches(eng, orc)
