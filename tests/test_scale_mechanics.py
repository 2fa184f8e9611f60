"""Scale mechanics (north_rule): hot-host skew handling and ordering
determinism across parallelism levels."""

from datetime import datetime, timedelta, timezone

import pytest
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
                            num_partitions=partitions,
                            collect_lineage=False),
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
                    collect_lineage=False, bloom_buckets=4,
                    bloom_bits_per_bucket=1 << 10),  # capacity ~409 < 600
    )
    seeds = pages.select("url").withColumn("priority", F.lit(0))
    eng.run_round(seeds, 0, START)
    assert eng.bloom.m == 1 << 12            # grew 4x
    assert not eng.bloom.overfull()
    # every committed seen key still probes as maybe-seen
    maybe, fresh = eng.bloom.split(eng.seen().select("url_hash"), spark)
    assert fresh.count() == 0


@pytest.mark.parametrize("backend", ["driver", "table"])
def test_bloom_n_keys_counts_keys_not_refetches(spark, tmp_path, backend):
    """Refetch rounds must not inflate the filter's key count: n_keys
    drives overfull() growth and the driver→table promotion, so it
    counts first-fetch keys only — refetched keys are already in the
    filter."""
    pages = pages_df(spark, 40, partitions=2)
    eng = CrawlEngine(
        spark, str(tmp_path / "wh"), pages, None,
        CrawlConfig(refetch=RefetchConfig(maxfetches=8, refetchsecs=3600),
                    num_partitions=4, collect_lineage=False,
                    bloom_buckets=4, bloom_backend=backend))
    seeds = pages.select("url").withColumn("priority", F.lit(0))
    for rnd in range(4):                     # rounds 1-3 refetch every key
        eng.run_round(seeds, rnd, START + timedelta(seconds=3600 * rnd))
    assert eng.articles_table.read().filter("round = 3").count() > 0
    assert eng.bloom.n_keys == eng.seen().count()


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


# ---------------------------------------------------------------------------
# DistributedBloomTable — the table-backed (10^10-key) bloom
# ---------------------------------------------------------------------------

def _table_bloom(spark, tmp_path, name, nb=8, m=1 << 14):
    from risjbot_spark.frontier.bloom_table import DistributedBloomTable
    return DistributedBloomTable(spark, str(tmp_path / name), nb, m)


def test_bloom_table_probe_parity_with_driver_bloom(spark, tmp_path):
    """Same keys, same (n_buckets, m, k) → the table-backed probe must
    classify every key exactly like the driver-resident filter (they
    share the hash family, so the bitmaps are bit-identical)."""
    seen = spark.createDataFrame(
        [(xxhash64(f"seen{i}"),) for i in range(300)], "url_hash long")
    drv = PartitionedBloom(8, 1 << 14)
    drv.add_df(seen)
    tbl = _table_bloom(spark, tmp_path, "bt")
    tbl.add_df(seen)
    fr = spark.createDataFrame(
        [(xxhash64(f"seen{i}"),) for i in range(0, 300, 3)]
        + [(xxhash64(f"new{i}"),) for i in range(200)], "url_hash long")
    key = lambda df: sorted(r.url_hash for r in df.collect())
    m1, f1 = drv.split(fr, spark)
    m2, f2 = tbl.split_aligned(fr)
    assert key(m1) == key(m2)
    assert key(f1) == key(f2)
    members = {xxhash64(f"seen{i}") for i in range(0, 300, 3)}
    assert members <= set(key(m2))          # no false negatives


def test_bloom_table_incremental_checkpoint_and_gc(spark, tmp_path):
    """Two incremental adds OR together; state survives a reload from
    disk (meta.json + version dir only — no driver bitmap state); old
    versions beyond current-1 are garbage-collected."""
    import os

    from risjbot_spark.frontier.bloom_table import DistributedBloomTable

    tbl = _table_bloom(spark, tmp_path, "bt2", nb=4, m=1 << 12)
    b1 = spark.createDataFrame(
        [(xxhash64(f"a{i}"),) for i in range(100)], "url_hash long")
    b2 = spark.createDataFrame(
        [(xxhash64(f"b{i}"),) for i in range(100)], "url_hash long")
    tbl.add_df(b1)
    tbl.add_df(b2)
    assert tbl.version == 2 and tbl.n_keys == 200
    # the instance holds NO bitmap bytes — only metadata ints
    assert not hasattr(tbl, "bitmaps")
    re = DistributedBloomTable.load(spark, str(tmp_path / "bt2"))
    assert re.version == 2 and re.n_keys == 200 and re.m == 1 << 12
    fr = spark.createDataFrame(
        [(xxhash64(f"a{i}"),) for i in range(100)]
        + [(xxhash64(f"b{i}"),) for i in range(100)], "url_hash long")
    maybe, fresh = re.split_aligned(fr)
    assert fresh.count() == 0               # both batches present
    tbl.add_df(b1)                          # v3 → v1 GC'd, v2 kept
    assert not os.path.isdir(str(tmp_path / "bt2" / "v1"))
    assert os.path.isdir(str(tmp_path / "bt2" / "v2"))


def test_bloom_table_growth_rebuild(spark, tmp_path):
    tbl = _table_bloom(spark, tmp_path, "bt3", nb=4, m=1 << 10)
    keys = spark.createDataFrame(
        [(xxhash64(f"k{i}"),) for i in range(500)], "url_hash long")
    tbl.add_df(keys)
    assert tbl.overfull()                   # 500 keys > ~409 capacity
    tbl.rebuild_from(keys, bits_per_bucket=1 << 12)
    assert tbl.m == 1 << 12 and not tbl.overfull()
    assert tbl.n_keys == 500
    maybe, fresh = tbl.split_aligned(keys)
    assert fresh.count() == 0               # rebuilt filter keeps members


def test_bloom_table_incremental_commit_touches_only_delta_groups(
        spark, tmp_path):
    """add_df must be O(touched file groups), not O(filter): a delta
    whose keys all land in one bucket rewrites only that bucket's file
    group — every other group is HARD-LINKED from the previous version
    (same inode), so a small round against a huge filter never reads or
    rewrites the untouched ~all of it. Probe parity must hold across the
    incremental commit."""
    import os

    nb = 8                                   # nparts == nb == 8 groups
    tbl = _table_bloom(spark, tmp_path, "bt4", nb=nb, m=1 << 12)
    seed = [(xxhash64(f"s{i}"),) for i in range(400)]
    tbl.add_df(spark.createDataFrame(seed, "url_hash long"))
    assert tbl.version == 1
    # delta constrained to bucket 3 (python % matches pmod for negatives)
    delta = [h for h in (xxhash64(f"d{i}") for i in range(3000))
             if h % nb == 3][:60]
    assert len(delta) == 60

    def group_files(v):
        vdir = tmp_path / "bt4" / f"v{v}"
        out = {}
        for gname in os.listdir(vdir):
            if not gname.startswith("g="):
                continue
            g = int(gname.split("=")[1])
            out[g] = {
                (fn, os.stat(os.path.join(vdir, gname, fn)).st_ino)
                for fn in os.listdir(os.path.join(vdir, gname))
                if not fn.startswith(("_", "."))}
        return out

    v1 = group_files(1)
    tbl.add_df(spark.createDataFrame([(h,) for h in delta],
                                     "url_hash long"))
    assert tbl.version == 2
    v2 = group_files(2)
    touched_g = 3 % tbl._nparts()
    for g, files in v1.items():
        if g == touched_g:
            assert v2[g] != files            # rewritten
        else:
            assert v2[g] == files            # hard-linked: same inodes
    # membership: every seed AND delta key still probes maybe
    allk = spark.createDataFrame(
        seed + [(h,) for h in delta], "url_hash long")
    maybe, fresh = tbl.split_aligned(allk)
    assert fresh.count() == 0
    assert tbl.n_keys == 460


def test_bloom_table_pending_appends_and_fold(spark, tmp_path):
    """The LSM pending layer: a small round appends O(delta) raw keys —
    NO new dense version, no bitmap rewrite — and those keys must still
    probe as maybe (a definite-new verdict for a pending key is a false
    negative). State survives reload; crossing the fold threshold
    produces ONE new dense version and clears the pending dirs."""
    import os

    from risjbot_spark.frontier.bloom_table import DistributedBloomTable

    def df(rows):
        return spark.createDataFrame(rows, "url_hash long")

    tbl = DistributedBloomTable(spark, str(tmp_path / "bt5"), n_buckets=8,
                                bits_per_bucket=1 << 12,
                                pending_threshold=150)
    base = [(xxhash64(f"s{i}"),) for i in range(200)]
    tbl.add_df(df(base))                     # 200 ≥ 150 → dense v1
    assert tbl.version == 1 and not tbl._pending

    p1 = [(xxhash64(f"p{i}"),) for i in range(40)]
    tbl.add_df(df(p1))                       # 40 < 150 → pending append
    assert tbl.version == 1                  # dense untouched
    assert tbl._pending == [[1, 40]] and tbl.n_keys == 240
    assert os.path.isdir(str(tmp_path / "bt5" / "pending_1"))

    fr = df(p1 + [(xxhash64(f"new{i}"),) for i in range(50)])
    maybe, fresh = tbl.split_aligned(fr)
    assert {h for (h,) in p1} <= {r.url_hash for r in maybe.collect()}

    re = DistributedBloomTable.load(spark, str(tmp_path / "bt5"))
    assert re._pending == [[1, 40]] and re.n_keys == 240
    # an explicit fold threshold survives reload — reverting to the
    # derived default would let pending (the probe's exact-join side)
    # grow far past the caller's configured bound
    assert re.pending_threshold == 150 and re._fold_threshold() == 150
    m2, _ = re.split_aligned(fr)
    assert {h for (h,) in p1} <= {r.url_hash for r in m2.collect()}

    p2 = [(xxhash64(f"q{i}"),) for i in range(120)]
    tbl.add_df(df(p2))                       # 40+120 ≥ 150 → fold
    assert tbl.version == 2 and not tbl._pending
    assert not os.path.isdir(str(tmp_path / "bt5" / "pending_1"))
    _, fresh = tbl.split_aligned(df(base + p1 + p2))
    assert fresh.count() == 0                # every key folded in
    assert tbl.n_keys == 360


def test_bloom_table_failed_fold_restores_pending(spark, tmp_path):
    """A fold or growth rebuild that dies mid-job (executor loss, OOM)
    must leave the LIVE object consistent with the on-disk version: the
    pending list (and on rebuild, the old geometry) is restored, so the
    probe still flags pending keys as maybe. Without the restore, a
    caught-and-continued failure silently drops pending membership —
    false negatives that bypass the authoritative seen join."""
    from risjbot_spark.frontier.bloom_table import DistributedBloomTable

    def df(rows):
        return spark.createDataFrame(rows, "url_hash long")

    tbl = DistributedBloomTable(spark, str(tmp_path / "bt6"), n_buckets=8,
                                bits_per_bucket=1 << 12,
                                pending_threshold=100)
    tbl.add_df(df([(xxhash64(f"s{i}"),) for i in range(150)]))   # dense v1
    p1 = [(xxhash64(f"p{i}"),) for i in range(30)]
    tbl.add_df(df(p1))                                  # pending append
    assert tbl._pending == [[1, 30]]

    boom = RuntimeError("executor lost")

    def _raise(*a, **k):
        raise boom

    # fold path: _delta_df runs inside the fold job
    orig = tbl._delta_df
    tbl._delta_df = _raise
    try:
        with pytest.raises(RuntimeError):
            tbl.add_df(df([(xxhash64(f"q{i}"),) for i in range(90)]))
    finally:
        tbl._delta_df = orig
    assert tbl._pending == [[1, 30]]        # restored, not dropped
    assert tbl.version == 1
    maybe, _ = tbl.split_aligned(df(p1))
    assert maybe.count() == len(p1)         # pending keys still maybe

    # growth-rebuild path: geometry must roll back too
    tbl._delta_df = _raise
    try:
        with pytest.raises(RuntimeError):
            tbl.rebuild_from(df([(1,)]), bits_per_bucket=1 << 13,
                             n_buckets=16)
    finally:
        tbl._delta_df = orig
    assert (tbl.m, tbl.n_buckets) == (1 << 12, 8)
    assert tbl._pending == [[1, 30]]
    # and the filter still works end to end after both failures
    maybe, fresh = tbl.split_aligned(df(p1 + [(xxhash64("zz"),)]))
    assert maybe.count() >= len(p1)


def test_bloom_table_empty_rebuild_and_reload(spark, tmp_path):
    """rebuild_from an EMPTY key set (a warehouse whose only round
    fetched nothing, engine re-init with a stale marker) must produce a
    working empty filter — not crash on the schema-less partitioned dir
    (a zero-row partitioned write leaves no parquet footers to read
    back). Empty state = version 0: probe says definite-new for every
    key, stale version dirs are GC'd, and the filter keeps working."""
    from risjbot_spark.frontier.bloom_table import DistributedBloomTable

    def df(rows):
        return spark.createDataFrame(rows, "url_hash long")

    tbl = DistributedBloomTable(spark, str(tmp_path / "bt7"), n_buckets=8,
                                bits_per_bucket=1 << 12)
    tbl.add_df(df([(xxhash64(f"k{i}"),) for i in range(50)]))
    assert tbl.version >= 1 and tbl.n_keys == 50

    tbl.rebuild_from(df([]))                 # empty membership
    assert tbl.version == 0 and tbl.n_keys == 0
    maybe, fresh = tbl.split_aligned(df([(xxhash64("k1"),)]))
    assert maybe.count() == 0 and fresh.count() == 1

    re = DistributedBloomTable.load(spark, str(tmp_path / "bt7"))
    assert re.version == 0 and re.n_keys == 0
    # and the empty filter accepts new keys normally
    re.add_df(df([(xxhash64("new"),)]))
    m2, f2 = re.split_aligned(df([(xxhash64("new"),), (xxhash64("zz"),)]))
    assert m2.count() == 1 and f2.count() == 1


def test_table_bloom_init_rebuild_writes_marker(spark, tmp_path):
    """A stale-marker rebuild at engine construction is DURABLE (new
    on-disk version), so the marker must be stamped then — otherwise
    every later engine construction that doesn't complete a round
    repeats the full seen scan + version rewrite."""
    import os

    from risjbot_spark.corpus import pages_df
    from risjbot_spark.crawl import CrawlConfig, CrawlEngine
    from risjbot_spark.frontier.state import RefetchConfig

    wh = str(tmp_path / "wh")
    pages = pages_df(spark, 30, partitions=2)
    seeds = pages.select("url").withColumn("priority", F.lit(0))
    cfg = CrawlConfig(refetch=RefetchConfig(), num_partitions=4,
                      collect_lineage=False, bloom_backend="table")
    eng = CrawlEngine(spark, wh, pages, robots=None, cfg=cfg)
    eng.run_round(seeds, 0, datetime(2017, 4, 1, tzinfo=timezone.utc))
    marker = os.path.join(wh, "bloom", "seen_snapshot")
    os.remove(marker)                        # simulate a stale marker
    eng2 = CrawlEngine(spark, wh, pages, robots=None, cfg=cfg)
    v_after_rebuild = eng2.bloom.version
    assert os.path.exists(marker)            # stamped by the init rebuild
    # a THIRD construction must find the marker fresh: no new rebuild
    eng3 = CrawlEngine(spark, wh, pages, robots=None, cfg=cfg)
    assert eng3.bloom.version == v_after_rebuild


def test_bloom_marker_is_backend_scoped(spark, tmp_path):
    """The seen_snapshot marker names the backend it validates: after
    rounds under one backend, constructing the engine with the OTHER
    backend must rebuild its filter from the seen table instead of
    trusting the other backend's marker — a stale filter missing those
    rounds' keys would read them definite-new and bypass the
    authoritative seen join."""
    import os

    pages = pages_df(spark, 20, partitions=2)
    seeds = pages.select("url").withColumn("priority", F.lit(0))
    t0 = datetime(2017, 4, 1, tzinfo=timezone.utc)

    def cfg(backend):
        return CrawlConfig(refetch=RefetchConfig(), num_partitions=4,
                           collect_lineage=False, bloom_backend=backend)

    wh = str(tmp_path / "wh")
    eng = CrawlEngine(spark, wh, pages, robots=None, cfg=cfg("table"))
    seeds1 = seeds.limit(0).unionByName(
        spark.createDataFrame([(url_for(i),) for i in range(10)],
                              "url string")
        .withColumn("priority", F.lit(0)))
    eng.run_round(seeds1, 0, t0)
    marker = open(os.path.join(wh, "bloom", "seen_snapshot")).read().split()
    assert marker[1] == "table"
    # rounds under the DRIVER backend add 10 NEW keys to seen and keep
    # the marker current — but only for the driver's checkpoint; the
    # table backend's meta.json still reflects round 0
    eng2 = CrawlEngine(spark, wh, pages, robots=None, cfg=cfg("driver"))
    eng2.run_round(seeds, 1, t0 + timedelta(seconds=1))
    # back to the table backend: pre-fix, the driver-maintained marker
    # (current snapshot id) validated the STALE table filter — the 10
    # driver-round keys read definite-new and bypass the seen join.
    # The backend-scoped marker forces a rebuild from seen instead.
    eng3 = CrawlEngine(spark, wh, pages, robots=None, cfg=cfg("table"))
    hs = [(r["url_hash"],) for r in eng3.seen().collect()]
    assert len(hs) == 20
    maybe, fresh = eng3.bloom.split(
        spark.createDataFrame(hs, "url_hash long"), spark)
    assert maybe.count() == 20 and fresh.count() == 0


def test_engine_round_same_under_table_bloom_backend(spark, tmp_path):
    """A crawl run on the table-backed bloom must fetch exactly the same
    articles as the driver-backed run, survive engine re-construction
    (checkpoint resume), and grow adaptively without driver bitmaps."""
    from datetime import timedelta

    pages = pages_df(spark, 120, partitions=4)
    seeds = pages.select("url").withColumn("priority", F.lit(0))

    def run(backend, wh):
        cfg = CrawlConfig(refetch=RefetchConfig(), num_partitions=4,
                          collect_lineage=False, use_bloom=True,
                          bloom_buckets=8, bloom_backend=backend)
        eng = CrawlEngine(spark, str(tmp_path / wh), pages, None, cfg)
        eng.run_round(seeds, 0, START)
        # re-open mid-run: round 1 must resume from the checkpointed
        # filter (not rebuild) and still gate correctly
        eng = CrawlEngine(spark, str(tmp_path / wh), pages, None, cfg)
        eng.run_round(seeds, 1, START + timedelta(seconds=10801))
        return sorted((r.url_canon, r.round)
                      for r in eng.articles_table.read().collect())

    assert run("driver", "wd") == run("table", "wt")


def test_bloom_marker_roundtrips_empty_seen_snapshot(spark, tmp_path):
    """A marker stamped over an EMPTY seen table (rollback/time travel:
    current_snapshot_id() is None) must round-trip — the file holds the
    literal text 'None', and parsing it as int would read as no-marker,
    so every engine construction would repeat the full durable rebuild
    the stamp exists to prevent."""
    import os
    import shutil

    from risjbot_spark.corpus import pages_df
    from risjbot_spark.crawl import CrawlConfig, CrawlEngine
    from risjbot_spark.frontier.state import RefetchConfig

    pages = pages_df(spark, 20, partitions=2)
    seeds = pages.select("url").withColumn("priority", F.lit(0))
    cfg = CrawlConfig(refetch=RefetchConfig(), num_partitions=4,
                      collect_lineage=False, bloom_backend="table")
    wh_a = str(tmp_path / "wh_a")
    eng = CrawlEngine(spark, wh_a, pages, robots=None, cfg=cfg)
    eng.run_round(seeds, 0, datetime(2017, 4, 1, tzinfo=timezone.utc))
    # time-travel: a warehouse whose seen table rolled back to empty but
    # whose bloom checkpoint survived
    wh_b = str(tmp_path / "wh_b")
    os.makedirs(wh_b)
    shutil.copytree(os.path.join(wh_a, "bloom"), os.path.join(wh_b, "bloom"))

    from risjbot_spark.frontier.bloom_table import DistributedBloomTable
    calls = []
    real = DistributedBloomTable.rebuild_from

    def counting(self, keys, *a, **kw):
        calls.append(1)
        return real(self, keys, *a, **kw)

    DistributedBloomTable.rebuild_from = counting
    try:
        eng2 = CrawlEngine(spark, wh_b, pages, robots=None, cfg=cfg)
        assert len(calls) == 1            # stale vs empty seen: rebuild once
        assert eng2.bloom.version == 0    # empty membership
        # marker now records sid=None; later constructions must accept it
        eng3 = CrawlEngine(spark, wh_b, pages, robots=None, cfg=cfg)
        assert len(calls) == 1            # NO repeated rebuild
        assert eng3.bloom is not None and eng3.bloom.version == 0
    finally:
        DistributedBloomTable.rebuild_from = real
