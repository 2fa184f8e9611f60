"""Bucketed seen base (Iceberg bucket(N, url_hash) analogue): the split
J1 gate and the MoR resolve must be row-identical to the groupBy
latest-wins resolve, with or without a base, shuffle-free on the base
side, and resumable across catalogs."""

from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from risjbot_spark.corpus import host_lang_for, pages_df, pathway_for, url_for
from risjbot_spark.crawl import CrawlConfig, CrawlEngine, seen_bucket_count
from risjbot_spark.frontier.oracle import CrawlOracle
from risjbot_spark.frontier.state import (
    SEEN_COLS,
    RefetchConfig,
    resolve_split,
    seen_filter,
    seen_parts,
    seen_state,
    seen_updates,
    trawl_candidates_pruned,
)
from risjbot_spark.frontier.xxhash import xxhash64
from risjbot_spark.schema import SEEN_SCHEMA
from risjbot_spark.store import SnapshotTable
from risjbot_spark.urlnorm import canonicalize_py, host_py

START = datetime(2017, 4, 1, tzinfo=timezone.utc)


def _seen_rows(spark, spec):
    """spec: [(key_suffix, fetches, iso_ts)] → resolved seen rows."""
    rows = [
        (xxhash64(f"https://h{i % 3}.example.com/{k}"),
         f"https://h{i % 3}.example.com/{k}", f"h{i % 3}.example.com",
         f, datetime.fromisoformat(ts))
        for i, (k, f, ts) in enumerate(spec)
    ]
    return spark.createDataFrame(
        rows, "url_hash long, url string, host string, fetches int, "
              "last_fetch timestamp")


def test_resolve_split_equals_seen_state(spark):
    """newer ∪ (base ∖ newer-keys) must equal the groupBy latest-wins
    resolve whenever newer rows are strictly newer (the MoR invariant)."""
    base = _seen_rows(spark, [
        ("a", 1, "2017-04-01 00:00:00"),
        ("b", 2, "2017-04-01 03:00:00"),
        ("c", 1, "2017-04-01 06:00:00"),
    ])
    newer = _seen_rows(spark, [
        ("b", 3, "2017-04-02 00:00:00"),     # supersedes base
        ("d", 1, "2017-04-02 00:00:00"),     # new key
    ])
    split = resolve_split(base, newer)
    generic = seen_state(base.unionByName(newer))
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(split) == key(generic)


def test_seen_filter_split_equals_seen_filter(spark):
    base = _seen_rows(spark, [
        ("a", 1, "2017-04-01 12:00:00"),     # refetch-eligible (age 14h)
        ("b", 8, "2017-04-01 12:00:00"),     # maxfetches reached
        ("c", 1, "2017-04-01 20:00:00"),     # would be eligible (age 6h)…
    ])
    # …but the delta supersedes 'c' with a fresh fetch 30 min ago —
    # delta precedence must drop it (_seen_rows keys by enumeration
    # order, so a single-row spec hashes as i=0 → h0/c; mirror that key
    # in base/frontier via the same helper ordering)
    newer = _seen_rows(spark, [("c", 2, "2017-04-02 01:30:00")])
    fr_rows = [(xxhash64(f"https://h{i % 3}.example.com/{k}"),
                f"https://h{i % 3}.example.com/{k}", f"h{i % 3}.example.com")
               for i, k in [(0, "a"), (1, "b"), (2, "c"), (0, "c"),
                            (1, "zz")]]
    frontier = spark.createDataFrame(
        fr_rows, "url_hash long, url_canon string, host string")
    cfg = RefetchConfig()
    ts = datetime(2017, 4, 2, 2, 0, tzinfo=timezone.utc)
    merged = resolve_split(base, newer)
    a = seen_filter(frontier, merged, cfg, ts)
    b = seen_filter(frontier, base, cfg, ts, newer=newer)
    key = lambda df: sorted(
        (r.url_hash, r.previousfetches) for r in df.collect())
    assert key(a) == key(b)
    # 'a' eligible (old enough), 'b' dropped (maxfetches), h2/c eligible
    # from base, h0/c dropped (the DELTA row is 30 min old — precedence),
    # 'zz' new
    got = dict(key(b))
    assert set(got) == {xxhash64("https://h0.example.com/a"),
                        xxhash64("https://h2.example.com/c"),
                        xxhash64("https://h1.example.com/zz")}
    assert got[xxhash64("https://h1.example.com/zz")] == 0


@pytest.mark.parametrize("sides", ["base", "newer", "both", "neither"])
def test_seen_filter_optional_sides_parity(spark, sides):
    """seen_filter over (base | None, newer | None) gates exactly as the
    single join against resolve_split(base, newer), an absent side read
    as an empty table — the one J1 path before the first compaction
    (newer only), right after one (base only) and between them."""
    base = _seen_rows(spark, [
        ("a", 1, "2017-04-01 12:00:00"),     # eligible (age 14h)
        ("b", 8, "2017-04-01 12:00:00"),     # maxfetches reached
        ("c", 1, "2017-04-01 20:00:00"),     # too young (age 6h)
    ])
    newer = _seen_rows(spark, [
        ("a", 2, "2017-04-02 01:30:00"),     # h0/a supersedes: too young
        ("d", 2, "2017-04-01 12:00:00"),     # h1/d: eligible, newer only
    ])
    empty = spark.createDataFrame([], SEEN_SCHEMA)
    b = base if sides in ("base", "both") else None
    n = newer if sides in ("newer", "both") else None
    frontier = spark.createDataFrame(
        [(xxhash64(f"https://h{i}.example.com/{k}"),
          f"https://h{i}.example.com/{k}", f"h{i}.example.com")
         for i in range(3) for k in ("a", "b", "c", "d", "zz")],
        "url_hash long, url_canon string, host string")
    cfg = RefetchConfig()
    ts = datetime(2017, 4, 2, 2, 0, tzinfo=timezone.utc)
    key = lambda df: sorted(
        (r.url_hash, r.previousfetches) for r in df.collect())
    got = key(seen_filter(frontier, b, cfg, ts, newer=n))
    want = key(seen_filter(
        frontier, resolve_split(base if b is not None else empty,
                                newer if n is not None else empty),
        cfg, ts))
    assert got == want
    assert len(got) < 15 or sides == "neither"   # the gate dropped rows
    if sides == "neither":
        assert got == sorted((r.url_hash, 0) for r in frontier.collect())


def test_compaction_without_base_equals_seen_state(spark, tmp_path):
    """A never-compacted warehouse (round deltas only, no base) compacts
    through the same resolve_split as a bucketed one: the written base
    equals seen_state(seen ∪ updates) row-for-row and is bucketed."""
    ts = [START + timedelta(seconds=10801 * r) for r in range(3)]
    wh = str(tmp_path / "wh")
    seen_table = SnapshotTable(spark, wh, "seen")
    urls = [url_for(i) for i in range(12)]
    fk = "url_hash long, url_canon string, host string, previousfetches int"

    def fetched(rows):
        return spark.createDataFrame(
            [(xxhash64(u), u, host_py(u), pf) for u, pf in rows], fk)

    for r, rows in ((0, [(u, 0) for u in urls[:8]]),
                    (1, [(u, 1) for u in urls[:3]]
                     + [(u, 0) for u in urls[8:10]])):
        seen_table.commit(
            seen_updates(fetched(rows), ts[r]),
            lineage={"round": r, "round_ts": ts[r].isoformat(),
                     "seen_format": CrawlEngine.SEEN_FORMAT},
            mode="append")
    before = seen_table.read().select(*SEEN_COLS)
    before_rows = before.collect()
    eng = CrawlEngine(spark, wh, pages_df(spark, 12, partitions=2), None,
                      CrawlConfig(refetch=RefetchConfig(trimdb=False),
                                  num_partitions=4, trim_every=2,
                                  use_bloom=False))
    parts = seen_parts(eng.seen_table)
    assert parts[0] is None and parts[1] is not None
    upd_rows = [(u, 2) for u in urls[:2]] + [(u, 1) for u in urls[8:9]] \
        + [(u, 0) for u in urls[10:]]
    eng.last_delta_dir = str(tmp_path / "delta")
    fetched(upd_rows).write.parquet(eng.last_delta_dir)
    eng._commit_seen(parts, spark.read.parquet(eng.last_delta_dir),
                     spark.createDataFrame([], "url_hash long"), {}, 2, ts[2])
    want = seen_state(
        spark.createDataFrame(before_rows, SEEN_SCHEMA)
        .unionByName(seen_updates(fetched(upd_rows), ts[2])))
    key = lambda df: sorted(map(tuple, df.select(*SEEN_COLS).collect()))
    assert key(eng.seen()) == key(want)
    assert {r.url: r.fetches for r in eng.seen().collect()}[urls[0]] == 3
    base, deltas = seen_parts(eng.seen_table)
    assert base is not None and deltas is None


def _run_engine(spark, wh, pages, seeds, rounds=6, **cfg_kw):
    cfg = CrawlConfig(refetch=RefetchConfig(), num_partitions=4,
                      trim_every=2, **cfg_kw)
    eng = CrawlEngine(spark, wh, pages, None, cfg)
    for r in range(rounds):
        eng.run_round(seeds, r, START + timedelta(seconds=10801 * r))
    return eng


def _oracle(cfg, n_pages):
    pages = {canonicalize_py(url_for(i)) for i in range(n_pages)}
    fake404 = {canonicalize_py(url_for(i)) for i in range(n_pages)
               if pathway_for(i, host_lang_for(i)[0]) == "fake404"}
    return CrawlOracle(pages, {}, cfg.refetch, cfg.default_budget,
                       cfg.round_seconds, fake404=fake404)


def _fetched(eng, rnd):
    return {r.url_canon for r in eng.articles_table.read()
            .filter(F.col("round") == rnd).select("url_canon").collect()}


def _seen_fetches(eng):
    return {r.url: r.fetches for r in eng.seen().collect()}


def test_bucketed_run_parity_with_generic(spark, tmp_path):
    """Six rounds through two compactions: the fetched URL set of every
    round and the final seen url → fetches equal the in-memory
    CrawlOracle's (the generic reference state machine)."""
    _parity_with_oracle(spark, tmp_path)


def test_bucketed_run_parity_past_bloom_budget(spark, tmp_path):
    """The same series with round 0's keys crossing a small driver bloom
    budget: the filter is dropped mid-run and the (split, bucketed) seen
    join gates alone — still the oracle's fetches and seen state."""
    eng = _parity_with_oracle(spark, tmp_path, driver_bloom_max_keys=40)
    assert eng.bloom is None
    assert eng.backend_choices["bloom"]["value"] is False


def _parity_with_oracle(spark, tmp_path, **cfg_kw):
    n = 90
    pages = pages_df(spark, n, partitions=4)
    seeds = pages.select("url").withColumn("priority", F.lit(0))
    eng = _run_engine(spark, str(tmp_path / "wh"), pages, seeds, **cfg_kw)
    orc = _oracle(eng.cfg, n)
    seed_rows = [{"url": url_for(i), "priority": 0} for i in range(n)]
    requested = {canonicalize_py(s["url"]) for s in seed_rows}
    for r in range(6):
        ts = START + timedelta(seconds=10801 * r)
        log = orc.run_round([dict(s, discovered_ts=ts) for s in seed_rows],
                            r, ts)
        assert _fetched(eng, r) == {u for (_, u, _) in log}, f"round {r}"
        if r % eng.cfg.trim_every == 0:
            orc.trim(requested, ts)
    assert _seen_fetches(eng) == {u: nf for u, (nf, _) in orc.seen.items()}
    # the engine actually produced a bucketed base with deltas after it
    base, deltas = seen_parts(eng.seen_table)
    assert base is not None and deltas is not None
    return eng


def test_seen_bucket_count_sized_from_keys():
    """No Spark: one bucket at the 1.2k-page probe, today's 32 at the
    scale receipts' ≥1M keys, powers of two in between."""
    assert seen_bucket_count(90) == 1
    assert seen_bucket_count(1_200) == 1
    assert seen_bucket_count(1_000_000) == 32
    assert seen_bucket_count(10 ** 10) == 32
    counts = [seen_bucket_count(10 ** k) for k in range(11)]
    assert counts == sorted(counts)
    assert all(c & (c - 1) == 0 for c in counts)


def test_resume_from_flat_base_compacts_bucketed(spark, tmp_path):
    """A warehouse whose compacted base was written flat (lf_day
    partitions, no buckets — what older engines wrote with bucketing
    off) resumes with that dir as its split base: seen() equals
    seen_state over the same rows, the next round gates as the oracle does, and
    the next compaction writes the url_hash-bucketed base."""
    n = 60
    cfg = CrawlConfig(refetch=RefetchConfig(maxfetches=2),
                      num_partitions=4, trim_every=3)
    orc = _oracle(cfg, n)
    seed_rows = [{"url": url_for(i), "priority": 0} for i in range(n)]
    ts = [START + timedelta(seconds=10801 * r) for r in range(4)]
    # rounds 0-1 in the oracle: every URL once, the first half twice
    # (maxed at maxfetches=2, so the gate must drop them later)
    orc.run_round([dict(s, discovered_ts=ts[0]) for s in seed_rows], 0,
                  ts[0])
    orc.run_round([dict(s, discovered_ts=ts[1]) for s in seed_rows[:n // 2]],
                  1, ts[1])
    rows = spark.createDataFrame(
        [(xxhash64(u), u, host_py(u), nf, t)
         for u, (nf, t) in orc.seen.items()], SEEN_SCHEMA)
    wh = str(tmp_path / "wh")
    SnapshotTable(spark, wh, "seen").commit(
        rows.withColumn("lf_day", F.to_date("last_fetch")),
        lineage={"round": 1, "round_ts": ts[1].isoformat(),
                 "seen_format": CrawlEngine.SEEN_FORMAT, "compacted": True},
        mode="replace", partition_by=["lf_day"])

    pages = pages_df(spark, n, partitions=4)
    seeds = pages.select("url").withColumn("priority", F.lit(0))
    eng = CrawlEngine(spark, wh, pages, None, cfg)
    base, deltas = seen_parts(eng.seen_table)    # flat base, no deltas
    assert base is not None and deltas is None
    key = lambda df: sorted(map(tuple, df.select(*SEEN_COLS).collect()))
    assert key(eng.seen()) == key(seen_state(rows))

    maxed = {u for u, (nf, _) in orc.seen.items() if nf >= 2}
    for r in (2, 3):                             # round 3 compacts
        eng.run_round(seeds, r, ts[r])
        log = orc.run_round([dict(s, discovered_ts=ts[r]) for s in seed_rows],
                            r, ts[r])
        assert _fetched(eng, r) == {u for (_, u, _) in log}, f"round {r}"
    # the gate did drop work: the keys maxed in the flat base
    assert maxed and not maxed & _fetched(eng, 2)
    man = eng.seen_table.manifest()
    assert man["files"] and man["lineage"]["compacted"]
    meta = man["file_meta"][man["files"][0]]
    assert meta["bucket_table"] and meta["n_buckets"] == 1
    base, deltas = seen_parts(eng.seen_table)
    assert base is not None and deltas is None   # just compacted
    orc.trim({canonicalize_py(s["url"]) for s in seed_rows}, ts[3])
    assert _seen_fetches(eng) == {u: nf for u, (nf, _) in orc.seen.items()}


def test_gate_plan_no_exchange_on_base_side(spark, tmp_path):
    """The whole point: after compaction, the J1 gate join must read the
    base bucketed with NO hash exchange on the base side — the only
    Exchange hashpartitioning in the plan belongs to the frontier."""
    pages = pages_df(spark, 90, partitions=4)
    seeds = pages.select("url").withColumn("priority", F.lit(0))
    eng = _run_engine(spark, str(tmp_path / "wh"), pages, seeds, rounds=4)                   # compaction at 2 + delta
    base, deltas = seen_parts(eng.seen_table)
    newer = seen_state(deltas)
    frontier = spark.createDataFrame(
        [(xxhash64(url_for(i)), url_for(i), "h") for i in range(30)],
        "url_hash long, url_canon string, host string")
    gated = seen_filter(frontier, base, RefetchConfig(),
                        START + timedelta(days=2), newer=newer)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = gated._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "Bucketed: true" in plan
    # two hash exchanges total: the frontier into the bucket layout and
    # the O(delta) resolve groupBy — NEVER the base
    assert plan.count("Exchange hashpartitioning") == 2
    _, ancestors = _scan_ancestors(plan, "Bucketed: true")
    assert not any("Exchange" in l for l in ancestors), ancestors


def test_trawl_plan_resolves_against_base_in_place(spark, tmp_path):
    """After a compaction the J3a trawl scans the base ONCE, day-pruned
    (a PartitionFilters on lf_day), with no exchange on its ancestor
    chain: the window's deltas anti-join into the base in place instead
    of the whole window re-shuffling through a groupBy."""
    pages = pages_df(spark, 90, partitions=4)
    seeds = pages.select("url").withColumn("priority", F.lit(0))
    eng = _run_engine(spark, str(tmp_path / "wh"), pages, seeds, rounds=4)
    man = eng.seen_table.manifest()
    tbl = man["file_meta"][man["files"][0]]["bucket_table"]
    trawl = trawl_candidates_pruned(spark, eng.seen_table, eng.cfg.refetch,
                                    START + timedelta(seconds=10801 * 4))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = trawl._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    scan, ancestors = _scan_ancestors(plan, tbl)
    assert sum(tbl in l for l in plan.splitlines()) == 1, plan
    assert "PartitionFilters: [" in scan and "lf_day" in scan.split(
        "PartitionFilters: [")[1], scan
    assert not any("Exchange" in l for l in ancestors), ancestors


def _scan_ancestors(plan: str, marker: str) -> tuple[str, list[str]]:
    """(the scan line holding `marker`, its ancestor chain): the tree
    lines above it with a shallower branch marker, up to the root."""
    lines = plan.splitlines()
    scan_i = next(i for i, l in enumerate(lines) if marker in l)

    def depth(line):
        for tok in ("+- ", ":- "):
            if tok in line:
                return line.index(tok)
        return -1                            # root line
    d = depth(lines[scan_i])
    ancestors = []
    for i in range(scan_i - 1, -1, -1):
        di = depth(lines[i])
        if di < d:
            ancestors.append(lines[i])
            d = di
        if di == -1:
            break
    return lines[scan_i], ancestors


def test_bucketed_base_survives_catalog_loss(spark, tmp_path):
    """Resume on a fresh cluster: the in-memory catalog forgets the
    table; read_dir must re-register from the manifest DDL (incl.
    partition recovery) and the engine must resume losslessly."""
    pages = pages_df(spark, 60, partitions=4)
    seeds = pages.select("url").withColumn("priority", F.lit(0))
    eng = _run_engine(spark, str(tmp_path / "wh"), pages, seeds, rounds=3)
    before = sorted((r.url_hash, r.fetches) for r in eng.seen().collect())
    man = eng.seen_table.manifest()
    tbl = man["file_meta"][man["files"][0]]["bucket_table"]
    spark.sql(f"DROP TABLE {tbl}")               # simulate a new session
    eng2 = CrawlEngine(
        spark, str(tmp_path / "wh"), pages, None,
        CrawlConfig(refetch=RefetchConfig(), num_partitions=4,
                    trim_every=2))
    after = sorted((r.url_hash, r.fetches) for r in eng2.seen().collect())
    assert before == after
    # and the next round still runs (gate + trawl against the re-
    # registered base)
    eng2.run_round(seeds, 3, START + timedelta(seconds=10801 * 3))
    assert eng2.articles_table.read().filter(F.col("round") == 3).count() > 0
