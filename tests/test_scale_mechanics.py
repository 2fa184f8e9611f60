"""Scale mechanics (north_rule): hot-host skew handling and ordering
determinism across parallelism levels."""

from datetime import datetime, timedelta, timezone

from pyspark.sql import functions as F

from risjbot_spark.corpus import pages_df, url_for
from risjbot_spark.crawl import CrawlConfig, CrawlEngine
from risjbot_spark.frontier.bloom import PartitionedBloom
from risjbot_spark.frontier.politeness import salted_repartition
from risjbot_spark.frontier.state import RefetchConfig
from risjbot_spark.frontier.xxhash import xxhash64

START = datetime(2017, 4, 1, tzinfo=timezone.utc)


def test_salted_repartition_bounds_hot_host(spark):
    """One host = 50% of the frontier (the SURVEY M3 skew scenario): the
    salted layout must spread the hot host over `salt` partitions so no
    partition exceeds ~(50%/salt + cold mass) of rows."""
    n = 4000
    rows = []
    for i in range(n):
        host = "hot.example.com" if i % 2 == 0 else f"h{i % 37}.example.com"
        url = f"https://{host}/p/{i}"
        rows.append((url, xxhash64(url), host))
    df = spark.createDataFrame(rows, "url_canon string, url_hash long, host string")

    unsalted = df.repartition(16, F.col("host"))
    max_unsalted = max(
        r["c"] for r in unsalted.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count("*").alias("c")).collect())
    salted = salted_repartition(df, 16, salt=8)
    max_salted = max(
        r["c"] for r in salted.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count("*").alias("c")).collect())

    assert max_unsalted >= n // 2           # hot host lands in one partition
    assert max_salted < n // 4              # salt spreads it
    # and the hot host occupies at most `salt` distinct partitions
    hot_parts = (
        salted.filter(F.col("host") == "hot.example.com")
        .select(F.spark_partition_id().alias("p")).distinct().count())
    assert hot_parts <= 8


def test_ordering_invariant_across_parallelism(spark, tmp_path):
    """north_rule: crawl ordering is defined by (priority, discovered_ts,
    url_hash) — never by partition arrival. The same seeds at different
    partition counts must produce the identical fetch sequence.

    Self-contained: both configurations run INSIDE this test — the old
    parametrized form stashed the first run's result on the session and
    only compared when both params happened to execute in order in one
    process (single-param runs and xdist asserted nothing)."""
    def run(partitions: int, shuffle: int) -> list[str]:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle))
        try:
            pages = pages_df(spark, 80, partitions=partitions)
            eng = CrawlEngine(
                spark, str(tmp_path / f"wh{partitions}"), pages, None,
                CrawlConfig(refetch=RefetchConfig(), default_budget=9,
                            num_partitions=partitions),
            )
            seeds = spark.createDataFrame(
                [(url_for(i), (i * 7) % 3) for i in range(80)],
                "url string, priority int")
            eng.run_round(seeds, 0, START, with_order_audit=True)
            return [r["url_canon"] for r in eng.articles_table.read()
                    .orderBy("fetch_seq").collect()]
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "8")

    first = run(3, 5)
    second = run(7, 13)
    assert first and first == second, "fetch ordering depends on parallelism!"


def test_bloom_driver_path_equivalent(spark):
    """add_df driver path and distributed path set identical bits."""
    df = spark.createDataFrame(
        [(xxhash64(f"u{i}"),) for i in range(500)], "url_hash long")
    a = PartitionedBloom(8, 1 << 14)
    a.add_df(df, driver_threshold=10_000)   # driver path
    b = PartitionedBloom(8, 1 << 14)
    b.add_df(df)                            # distributed path
    assert set(a.bitmaps) == set(b.bitmaps)
    for k in a.bitmaps:
        assert (a.bitmaps[k] == b.bitmaps[k]).all()


def test_bloom_key_tracking_and_overfull(spark):
    df = spark.createDataFrame(
        [(xxhash64(f"u{i}"),) for i in range(500)], "url_hash long")
    b = PartitionedBloom(4, 1 << 10)         # capacity ~409 keys at 10 b/key
    assert not b.overfull()
    b.add_df(df, driver_threshold=10_000)    # driver path counts keys
    assert b.n_keys == 500 and b.overfull()
    c = PartitionedBloom(4, 1 << 10)
    c.add_df(df)                             # distributed path counts too
    assert c.n_keys == 500 and c.overfull()


def test_bloom_n_keys_survives_checkpoint(spark, tmp_path):
    b = PartitionedBloom(4, 1 << 12)
    import numpy as np
    b.add_local(np.array([xxhash64(f"u{i}") for i in range(50)], dtype=np.int64))
    b.save(str(tmp_path))
    r = PartitionedBloom.load(str(tmp_path))
    assert r is not None and r.n_keys == 50 and r.m == 1 << 12


def test_engine_grows_bloom_when_full(spark, tmp_path):
    """Adaptive sizing: a deliberately tiny filter must rebuild larger
    from the seen snapshot once the round's keys exceed capacity — and
    the rebuilt filter must still contain every seen key (no false
    negatives: a missed seen URL would skip the authoritative join and
    double-fetch)."""
    pages = pages_df(spark, 600, partitions=4)
    eng = CrawlEngine(
        spark, str(tmp_path / "wh"), pages, None,
        CrawlConfig(refetch=RefetchConfig(), num_partitions=4,
                    bloom_buckets=4,
                    bloom_bits_per_bucket=1 << 10),  # capacity ~409 < 600
    )
    seeds = pages.select("url").withColumn("priority", F.lit(0))
    eng.run_round(seeds, 0, START)
    assert eng.bloom.m == 1 << 12            # grew 4x
    assert not eng.bloom.overfull()
    # every committed seen key still probes as maybe-seen
    maybe, fresh = eng.bloom.split(eng.seen().select("url_hash"), spark)
    assert fresh.count() == 0


def test_bloom_n_keys_counts_keys_not_refetches(spark, tmp_path):
    """Refetch rounds must not inflate the filter's key count: n_keys
    drives overfull() growth and the driver-budget check, so it counts
    first-fetch keys only — refetched keys are already in the filter."""
    pages = pages_df(spark, 40, partitions=2)
    eng = CrawlEngine(
        spark, str(tmp_path / "wh"), pages, None,
        CrawlConfig(refetch=RefetchConfig(maxfetches=8, refetchsecs=3600),
                    num_partitions=4, bloom_buckets=4))
    seeds = pages.select("url").withColumn("priority", F.lit(0))
    for rnd in range(4):                     # rounds 1-3 refetch every key
        eng.run_round(seeds, rnd, START + timedelta(seconds=3600 * rnd))
    assert eng.articles_table.read().filter("round = 3").count() > 0
    assert eng.bloom.n_keys == eng.seen().count()


def test_bloom_marker_is_backend_scoped(spark, tmp_path):
    """The seen_snapshot marker names the filter it validates, and only
    a "<sid>\ndriver" marker vouches for bloom.npz. An older engine
    could promote a warehouse to a table-backed filter, leaving a stale
    bloom.npz beside a "<sid>\ntable" marker that names the CURRENT
    seen snapshot; loading that bloom.npz would read the keys it lacks
    as definite-new, skip the authoritative seen join and re-fetch them
    early. Past the budget no filter is built and the foreign marker is
    removed; under it the filter is rebuilt from seen."""
    pages = pages_df(spark, 30, partitions=2)
    marker = tmp_path / "wh" / "bloom" / "seen_snapshot"

    def engine(**kw):
        return CrawlEngine(
            spark, str(tmp_path / "wh"), pages, None,
            CrawlConfig(refetch=RefetchConfig(), num_partitions=4,
                        bloom_buckets=4, **kw))

    def seeds(n):
        return spark.createDataFrame([(url_for(i), 0) for i in range(n)],
                                     "url string, priority int")

    eng = engine()
    eng.run_round(seeds(10), 0, START)              # bloom.npz: 10 keys
    assert marker.read_text().split()[1] == "driver"
    # round 1 adds 10 keys the checkpoint never sees, then the older
    # engine's table marker names the current snapshot
    eng = engine(use_bloom=False)
    eng.run_round(seeds(20), 1, START + timedelta(seconds=1))
    marker.write_text(f"{eng.seen_table.current_snapshot_id()}\ntable")

    off = engine(driver_bloom_max_keys=15)
    assert off.bloom is None and not marker.exists()
    assert "seen footer rows=20" in off.backend_choices["bloom"]["why"]
    marker.write_text(f"{off.seen_table.current_snapshot_id()}\ntable")

    eng = engine()
    assert eng.bloom.n_keys == 20                   # rebuilt, not loaded
    seen_before = {r.url for r in eng.seen().collect()}
    assert len(seen_before) == 20
    maybe, fresh = eng.bloom.split(eng.seen().select("url_hash"), spark)
    assert maybe.count() == 20 and fresh.count() == 0
    # 2 s later nothing seen is due: round 2 fetches only new URLs
    eng.run_round(seeds(25), 2, START + timedelta(seconds=2))
    got = {r.url_canon for r in eng.articles_table.read()
           .filter("round = 2").select("url_canon").collect()}
    assert got and not got & seen_before
    assert marker.read_text().split()[1] == "driver"


def test_politeness_two_phase_equals_exact(spark):
    """The salted pre-rank cut must be bit-identical to the plain
    per-host window: a row's rank within any (host, salt) subset never
    exceeds its true per-host rank, so only rows already past budget
    are cut."""
    from risjbot_spark.frontier.politeness import politeness_schedule

    rows = []
    for i in range(5000):
        host = "hot.example.com" if i % 2 == 0 else f"h{i % 7}.example.com"
        rows.append((f"https://{host}/{i}", xxhash64(f"https://{host}/{i}"),
                     host, (i * 13) % 5, i % 100))
    fr = spark.createDataFrame(
        rows, "url_canon string, url_hash long, host string, "
              "priority int, off int"
    ).withColumn(
        "discovered_ts",
        F.expr("timestamp '2017-04-01 00:00:00' + make_interval(0,0,0,0,0,0,off)")
    ).drop("off")

    budgets = {"hot.example.com": 7}
    exact = politeness_schedule(fr, budgets, 25, spark,
                                presplit_threshold=0)       # pre-phase off
    two = politeness_schedule(fr, budgets, 25, spark,
                              presplit_threshold=10_000)    # pre-phase on
    key = lambda df: sorted((r.url_hash, r.host_rank) for r in df.collect())
    assert key(two) == key(exact)
    # budgets actually bind
    per_host = {r["host"]: r["n"] for r in
                two.groupBy("host").agg(F.count("*").alias("n")).collect()}
    assert per_host["hot.example.com"] == 7
    assert all(v <= 25 for v in per_host.values())
    # the decision reads the default budget alone: at the threshold the
    # pre-rank runs although the hot host's budget (40) is above it
    over = {"hot.example.com": 40}
    exact = politeness_schedule(fr, over, 25, spark, presplit_threshold=0)
    two = politeness_schedule(fr, over, 25, spark, presplit_threshold=25)
    assert "_pre_rank" in two._jdf.queryExecution().analyzed().toString()
    assert key(two) == key(exact)
