"""Beyond-broadcast fetch joins: a pages table bucketed by the canonical
URL must (a) plan the fetch join with an Exchange on the FRONTIER side
only — the 100 TB pages side never shuffles — and (b) produce the same
crawl output as the broadcast path."""

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from risjbot_spark.bucketing import read_bucketed_pages, write_bucketed_pages
from risjbot_spark.corpus import pages_df
from risjbot_spark.crawl import CrawlConfig, CrawlEngine
from risjbot_spark.frontier.state import RefetchConfig
from risjbot_spark.urlnorm import with_canonical

START = datetime(2017, 4, 1, tzinfo=timezone.utc)


@pytest.fixture(scope="module")
def bucketed_table(spark, tmp_path_factory):
    loc = tmp_path_factory.mktemp("bucketdb")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bkt LOCATION '{loc}'")
    write_bucketed_pages(pages_df(spark, 80, partitions=4),
                        "bkt.pages", buckets=8)
    yield "bkt.pages"
    spark.sql("DROP TABLE IF EXISTS bkt.pages")
    spark.sql("DROP DATABASE IF EXISTS bkt")


def test_bucketed_join_shuffles_frontier_side_only(spark, bucketed_table):
    pages = read_bucketed_pages(spark, bucketed_table) \
        .select("page_url", "warc_ts", "html")
    fr = (with_canonical(pages_df(spark, 80, partitions=4).select("url"))
          .select("url_canon", "url_hash", "host"))
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        j = pages.join(fr, pages.page_url == fr.url_canon, "inner")
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    assert "SortMergeJoin" in plan
    # exactly ONE Exchange: the frontier repartitions into the bucket
    # layout; the bucketed pages scan is read in place
    assert plan.count("Exchange") == 1, plan
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan


def test_bucketed_engine_output_matches_broadcast_path(spark, bucketed_table,
                                                       tmp_path):
    raw = pages_df(spark, 80, partitions=4)
    seeds = raw.select("url").withColumn("priority", F.lit(0))
    base = dict(refetch=RefetchConfig(), num_partitions=4,
                use_bloom=False)
    outs = {}
    for name, pages, bcast in (
        ("broadcast", raw, True),
        ("bucketed", read_bucketed_pages(spark, bucketed_table), False),
    ):
        eng = CrawlEngine(
            spark, str(tmp_path / name), pages, None,
            CrawlConfig(broadcast_frontier=bcast, **base))
        eng.run_round(seeds, 0, START)
        outs[name] = {
            (r.url_canon, r.headline, r.wordcount)
            for r in eng.articles_table.read()
            .select("url_canon", "headline", "wordcount").collect()
        }
    assert outs["bucketed"] == outs["broadcast"]
    assert len(outs["bucketed"]) > 0


def test_register_bucketed_pages_restores_bucket_spec(spark, bucketed_table,
                                                      tmp_path):
    """A new process loses the in-memory catalog but keeps the bucket
    files; register_bucketed_pages over the surviving directory must
    restore the bucket spec — same single-Exchange SMJ plan, same rows
    — without rewriting anything."""
    import shutil

    from risjbot_spark.bucketing import register_bucketed_pages

    src_loc = spark.sql(f"DESCRIBE TABLE EXTENDED {bucketed_table}") \
        .filter("col_name = 'Location'").collect()[0]["data_type"] \
        .removeprefix("file:")
    copy = str(tmp_path / "pages_copy")
    shutil.copytree(src_loc, copy)
    register_bucketed_pages(spark, "bkt.pages_re", copy, buckets=8)
    try:
        orig = read_bucketed_pages(spark, bucketed_table)
        re = read_bucketed_pages(spark, "bkt.pages_re")
        assert re.count() == orig.count() == 80
        fr = (with_canonical(pages_df(spark, 80, partitions=4)
                             .select("url"))
              .select("url_canon", "url_hash", "host"))
        old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            j = re.select("page_url", "warc_ts", "html").join(
                fr, F.col("page_url") == fr.url_canon, "inner")
            plan = j._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                           old_thresh)
            spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        assert "SortMergeJoin" in plan
        assert plan.count("Exchange") == 1, plan
    finally:
        # external table: DROP removes only the catalog entry
        spark.sql("DROP TABLE IF EXISTS bkt.pages_re")
