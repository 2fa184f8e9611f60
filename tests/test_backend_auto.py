"""Scale-backend auto-selection (r3 verdict item #3): with the default
"auto" config the engine must pick the 100×-safe backend from OBSERVED
scale — bloom key count vs the driver budget, robots host count, frontier
rows vs the broadcast budget — without the caller asking, record the
choice + evidence in `engine.backend_choices`, and keep the explicit
flags as overrides. At sandbox scale the autos must resolve to the same
fast paths the pre-auto defaults hard-coded (driver bloom, broadcast
fetch, dict robots), so every existing parity test doubles as an
auto-resolution regression."""

from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from risjbot_spark.corpus import pages_df
from risjbot_spark.crawl import CrawlConfig, CrawlEngine
from risjbot_spark.frontier.state import RefetchConfig
from risjbot_spark.schema import ROBOTS_SCHEMA

T0 = datetime(2017, 4, 1, tzinfo=timezone.utc)


def _engine(spark, tmp_path, pages, name="wh", robots=None, **cfg_kw):
    cfg_kw.setdefault("refetch", RefetchConfig(maxfetches=3,
                                               refetchsecs=3600))
    cfg_kw.setdefault("num_partitions", 4)
    cfg_kw.setdefault("collect_lineage", True)
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
    assert eng.bloom_backend == "driver"
    assert eng.rules_map and eng.rules_df is None
    seeds = pages.select("url").withColumn("priority", F.lit(0))
    eng.run_round(seeds, 0, T0)
    ch = eng.backend_choices
    assert ch["bloom_backend"] == {
        "value": "driver", "auto": True,
        "why": "empty seen table vs driver budget 20000000 keys"}
    assert ch["robots_scale_path"]["value"] is False
    assert ch["robots_scale_path"]["auto"] is True
    assert ch["broadcast_frontier"]["value"] is True
    assert ch["broadcast_frontier"]["auto"] is True


def test_bloom_flips_to_table_beyond_driver_budget(spark, tmp_path):
    """A warehouse whose seen table outgrows driver_bloom_max_keys must
    resolve bloom_backend=auto to the table backend on the NEXT engine
    construction (promotion: durable rebuild from the seen snapshot),
    and gate identically afterwards."""
    from risjbot_spark.frontier.bloom_table import DistributedBloomTable

    pages = pages_df(spark, 40, partitions=2)
    seeds = pages.select("url").withColumn("priority", F.lit(0))
    # write the over-budget warehouse under an EXPLICIT driver backend
    # (auto would already promote mid-run — covered by its own test);
    # this scenario is resuming an old driver-pinned warehouse with auto
    eng = _engine(spark, tmp_path, pages, bloom_backend="driver")
    assert eng.bloom_backend == "driver"
    eng.run_round(seeds, 0, T0)                 # 40 keys now seen
    eng2 = _engine(spark, tmp_path, pages, driver_bloom_max_keys=25)
    assert eng2.bloom_backend == "table"
    assert isinstance(eng2.bloom, DistributedBloomTable)
    why = eng2.backend_choices["bloom_backend"]["why"]
    assert "n_keys=40" in why and "budget 25" in why
    # promoted filter must still know every seen key (no false negatives)
    hs = eng2.seen().select("url_hash")
    maybe, fresh = eng2.bloom.split(hs, spark)
    assert maybe.count() == 40 and fresh.count() == 0
    # a THIRD construction is sticky on the table checkpoint
    eng3 = _engine(spark, tmp_path, pages, driver_bloom_max_keys=25)
    assert eng3.bloom_backend == "table"
    assert "sticky" in eng3.backend_choices["bloom_backend"]["why"]


def test_robots_flips_to_dataframe_beyond_host_budget(spark, tmp_path):
    pages = pages_df(spark, 10, partitions=2)
    robots = spark.createDataFrame(
        [(f"host{i}.example", "User-agent: *\nAllow: /")
         for i in range(20)], ROBOTS_SCHEMA)
    eng = _engine(spark, tmp_path, pages, robots=robots,
                  robots_scale_hosts=10)
    assert eng.rules_df is not None and not eng.rules_map
    ch = eng.backend_choices["robots_scale_path"]
    assert ch["value"] is True and ch["auto"] is True
    assert "20 robots hosts" in ch["why"]
    # explicit override beats the evidence
    eng2 = _engine(spark, tmp_path, pages, name="wh2", robots=robots,
                   robots_scale_hosts=10, robots_scale_path=False)
    assert eng2.rules_map and eng2.rules_df is None
    assert eng2.backend_choices["robots_scale_path"]["auto"] is False


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
    # with lineage OFF the evidence still flows: the frontier_in
    # Observation is attached whenever broadcast_frontier is auto (it
    # costs no job), so round 1 flips without any caller help
    eng2 = _engine(spark, tmp_path, pages, name="wh2",
                   broadcast_frontier_max_rows=10, collect_lineage=False)
    eng2.run_round(seeds, 0, T0)
    assert eng2.backend_choices["broadcast_frontier"]["value"] is True
    assert eng2._last_frontier_rows == 60
    eng2.run_round(seeds, 1, T0 + timedelta(seconds=3600))
    assert eng2.backend_choices["broadcast_frontier"]["value"] is False


@pytest.mark.parametrize("backend", ["cuckoo", "drvier"])
def test_unknown_bloom_backend_rejected(spark, tmp_path, backend):
    """Only auto/driver/table exist; anything else must fail at
    construction instead of silently building a driver bloom with no
    auto-promotion."""
    pages = pages_df(spark, 10, partitions=2)
    with pytest.raises(ValueError, match="bloom_backend"):
        _engine(spark, tmp_path, pages, bloom_backend=backend)


def test_auto_equals_explicit_round_output(spark, tmp_path):
    """The auto engine's articles + seen state must be identical to the
    old explicit defaults (driver bloom, broadcast fetch)."""
    pages = pages_df(spark, 50, partitions=2)
    seeds = pages.select("url").withColumn("priority", F.lit(0))
    results = {}
    for name, kw in (("auto", {}),
                     ("explicit", dict(bloom_backend="driver",
                                       broadcast_frontier=True,
                                       robots_scale_path=False))):
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


def test_bloom_promotes_mid_run_when_budget_crossed(spark, tmp_path):
    """A brand-new crawl (empty seen table → auto picks driver) whose
    round-0 key count crosses driver_bloom_max_keys must promote to the
    table backend INSIDE the round — not wait for the next engine
    construction — and keep gating correctly afterwards."""
    from risjbot_spark.frontier.bloom_table import DistributedBloomTable

    pages = pages_df(spark, 50, partitions=2)
    seeds = pages.select("url").withColumn("priority", F.lit(0))
    eng = _engine(spark, tmp_path, pages, driver_bloom_max_keys=30)
    assert eng.bloom_backend == "driver"
    eng.run_round(seeds, 0, T0)                # 50 keys > 30 budget
    assert eng.bloom_backend == "table"
    assert isinstance(eng.bloom, DistributedBloomTable)
    assert "promoted mid-run" in eng.backend_choices["bloom_backend"]["why"]
    # next round (1 s later): everything gated, zero refetches
    eng.run_round(seeds, 1, T0 + timedelta(seconds=1))
    assert eng.articles_table.read().count() == 50
    # a fresh construction is sticky on the promoted table checkpoint
    eng2 = _engine(spark, tmp_path, pages, driver_bloom_max_keys=30)
    assert eng2.bloom_backend == "table"
