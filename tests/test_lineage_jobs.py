"""r3 verdict item #6: the lineage counters must add ZERO extra Spark
jobs per round — every counter rides the commit action as an Observation
(frontier_in inside the cached frontier plan, the four article counters
on the written plan, first_fetched on the committed rows) and
per-partition extraction counts come from the committed files' parquet
footers, driver-side. The r3 shape paid three extra jobs per round
(eager frontier count, article-counters agg, per-partition
groupBy+collect).

The counters are always on, so there is no counter-free engine to
compare against: the test pins each round's absolute job count to what
the engine ran when the counters were still optional and already cost
zero jobs (the same count with and without them)."""

from datetime import datetime, timedelta, timezone

from pyspark.sql import functions as F

from risjbot_spark.corpus import pages_df, robots_rows
from risjbot_spark.crawl import CrawlConfig, CrawlEngine
from risjbot_spark.frontier.state import RefetchConfig
from risjbot_spark.schema import ROBOTS_SCHEMA

T0 = datetime(2017, 4, 1, tzinfo=timezone.utc)


def _job_count(spark, group, fn):
    """(Spark jobs fn() started, its result) via a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _round_job_count(spark, eng, seeds, rnd, ts, tag):
    return _job_count(spark, f"lineage-jobs-{tag}-{rnd}",
                      lambda: eng.run_round(seeds, rnd, ts))


# Spark jobs in each of the three rounds below (local[4], 8 shuffle
# partitions, AQE on). The counters cost zero jobs when they were still
# optional: the engine ran [10, 16, 17] with them on and off. Since the
# seen table is read through frontier.state.seen_parts with its known
# schema, no seen read pays a parquet schema-inference job: rounds 1
# and 2 lost the gate's whole-table read (1 job) and the trawl's read
# of each in-window delta dir (1 job in round 1, 2 in round 2)
ROUND_JOBS = [10, 14, 14]


def test_lineage_collection_adds_no_jobs(spark, tmp_path):
    pages = pages_df(spark, 40, partitions=2)
    seeds = pages.select("url").withColumn("priority", F.lit(0))
    eng = CrawlEngine(
        spark, str(tmp_path / "wh"), pages, None,
        CrawlConfig(refetch=RefetchConfig(maxfetches=3, refetchsecs=3600),
                    num_partitions=4, bloom_buckets=8))
    jobs, lineages = [], []
    for rnd in range(3):
        n, lin = _round_job_count(
            spark, eng, seeds, rnd, T0 + timedelta(seconds=rnd * 3600),
            "on")
        jobs.append(n)
        lineages.append(lin)
    assert jobs == ROUND_JOBS, f"the lineage counters added jobs: {jobs}"
    # and the counters are still real: exact values, not placeholders
    lin = lineages[0]
    assert lin["frontier_in"] == 40
    assert lin["fetched"] == 40
    assert lin["extracted"] > 0
    assert lin["scheduled"] == 40
    assert lin["first_fetched"] == 40
    assert sum(lin["per_partition_extracted"].values()) == lin["fetched"]
    # rounds 1 and 2 land exactly refetchsecs apart, so every URL is
    # eligible again: fetch counts stay consistent with the frontier,
    # and none of the refetches counts as a first fetch
    for lr in lineages:
        assert lr["frontier_in"] == 40
        assert lr["fetched"] <= lr["scheduled"]
    assert [lr["first_fetched"] for lr in lineages[1:]] == [0, 0]


def test_manifest_still_carries_counters(spark, tmp_path):
    """The commit manifest must keep the lineage contract (round,
    round_ts, extracted, per-partition counts) now that the counters are
    resolved between the data write and the manifest write."""
    pages = pages_df(spark, 20, partitions=2)
    seeds = pages.select("url").withColumn("priority", F.lit(0))
    eng = CrawlEngine(
        spark, str(tmp_path / "wh"), pages, None,
        CrawlConfig(refetch=RefetchConfig(), num_partitions=4,
                    bloom_buckets=8))
    eng.run_round(seeds, 0, T0)
    man = eng.articles_table.manifest()
    lin = man["lineage"]
    assert lin["round"] == 0
    assert lin["fetched"] == 20 and lin["extracted"] > 0
    assert lin["frontier_in"] == 20
    assert sum(lin["per_partition_extracted"].values()) == 20


def test_construction_reads_robots_in_one_job(spark, tmp_path):
    """Engine construction reads the robots table with ONE single-task
    job that both picks the backend and fills the rules dict, and the
    DataFrame backend runs nothing more (its parse and budgets stay
    lazy). The 12-host table from Python rows (4 partitions here) ran 3
    jobs when a count() picked the backend and a collect() filled the
    dict; the DataFrame backend ran 5 (4 at robots_scale_hosts=0) while
    a max(budget) agg decided the politeness presplit."""
    pages = pages_df(spark, 10, partitions=2)

    def build(tag, robots, **kw):
        cfg = CrawlConfig(num_partitions=4, bloom_buckets=8, **kw)
        return _job_count(spark, f"construction-jobs-{tag}",
                          lambda: CrawlEngine(spark, str(tmp_path / tag),
                                              pages, robots, cfg))

    def robots():
        return spark.createDataFrame(robots_rows(), ROBOTS_SCHEMA)

    n, eng = build("dict", robots())
    assert eng.rules_df is None and len(eng.rules_map) == 12
    assert n == 1, f"dict backend construction ran {n} jobs"
    n, eng = build("none", None)
    assert n == 0, f"construction without robots ran {n} jobs"
    n, eng = build("df", robots(), robots_scale_hosts=10)
    assert eng.rules_df is not None and not eng.rules_map
    assert n == 1, f"DataFrame backend construction ran {n} jobs"
    # threshold 0 skips the read: the same backend, no job at all
    n0, eng = build("df0", robots(), robots_scale_hosts=0)
    assert eng.rules_df is not None
    assert n0 == 0, f"threshold-0 construction ran {n0} jobs"
