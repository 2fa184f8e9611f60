"""End-to-end crawl engine tests: multi-round semantics, ordering vs the
in-memory oracle, resume-from-snapshot, skew/politeness behavior."""

from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from risjbot_spark.corpus import pages_df, robots_rows, seed_urls, url_for
from risjbot_spark.crawl import CrawlConfig, CrawlEngine
from risjbot_spark.frontier.oracle import CrawlOracle
from risjbot_spark.frontier.politeness import build_rules_map, parse_robots
from risjbot_spark.frontier.state import RefetchConfig
from risjbot_spark.schema import ROBOTS_SCHEMA
from risjbot_spark.urlnorm import canonicalize_py

N_PAGES = 160
START = datetime(2017, 4, 1, tzinfo=timezone.utc)


@pytest.fixture(scope="module")
def corpus(spark):
    return pages_df(spark, N_PAGES, partitions=4).cache()


@pytest.fixture()
def engine(spark, corpus, tmp_path):
    robots = spark.createDataFrame(robots_rows(), ROBOTS_SCHEMA)
    cfg = CrawlConfig(
        refetch=RefetchConfig(maxfetches=3, refetchsecs=3600),
        default_budget=7,
        round_seconds=10,       # guardian Crawl-delay:1 → budget 10
        num_partitions=4,
        use_bloom=True,
        bloom_buckets=8,
    )
    return CrawlEngine(spark, str(tmp_path / "wh"), corpus, robots, cfg)


def _oracle(cfg: CrawlConfig):
    from risjbot_spark.corpus import host_lang_for, pathway_for

    rules = {r["host"]: parse_robots(r["robots_txt"]) for r in robots_rows()}
    pages = {canonicalize_py(url_for(i)) for i in range(N_PAGES)}
    fake404 = {
        canonicalize_py(url_for(i)) for i in range(N_PAGES)
        if pathway_for(i, host_lang_for(i)[0]) == "fake404"
    }
    return CrawlOracle(pages, rules, cfg.refetch, cfg.default_budget,
                       cfg.round_seconds, fake404=fake404)


def _seed_rows():
    return seed_urls(N_PAGES)


def test_crawl_matches_oracle(spark, engine):
    """north_rule: same seeds + budget ⇒ same fetch ordering and same
    final seen-set as the reference state machine (in-memory oracle)."""
    seeds = spark.createDataFrame(
        _seed_rows(), "url string, source_kind string, priority int"
    ).select("url", "priority")
    oracle = _oracle(engine.cfg)

    oracle_rows = [
        {"url": s["url"], "priority": s["priority"], "discovered_ts": START}
        for s in _seed_rows()
    ]
    for rnd in range(3):
        ts = START + timedelta(seconds=rnd * engine.cfg.refetch.refetchsecs)
        engine.run_round(seeds, rnd, ts, with_order_audit=True)
        olog = oracle.run_round(
            [dict(r, discovered_ts=ts) for r in oracle_rows], rnd, ts
        )
        got = [
            r["url_canon"]
            for r in engine.articles_table.read()
            .filter(F.col("round") == rnd)
            .orderBy("fetch_seq")
            .select("url_canon")
            .collect()
        ]
        want = [u for (_, u, _) in olog]
        assert got == want, f"round {rnd} ordering diverged"

    # final seen-set identical: url → fetches (engine.seen() is the
    # public merge-on-read view; the raw table holds base + round deltas)
    got_seen = {
        r["url"]: r["fetches"] for r in engine.seen().collect()
    }
    want_seen = {u: nf for u, (nf, _) in oracle.seen.items()}
    assert got_seen == want_seen


def test_refetch_caps_at_maxfetches(spark, engine):
    seeds = spark.createDataFrame(
        _seed_rows(), "url string, source_kind string, priority int"
    ).select("url", "priority")
    engine.run(seeds, rounds=5, start_ts=START)
    mx = engine.seen().agg(F.max("fetches")).first()[0]
    assert mx == engine.cfg.refetch.maxfetches


def test_politeness_budget_enforced(spark, engine):
    seeds = spark.createDataFrame(
        _seed_rows(), "url string, source_kind string, priority int"
    ).select("url", "priority")
    engine.run_round(seeds, 0, START)
    per_host = (
        engine.articles_table.read().groupBy("host").count().collect()
    )
    budgets = dict(engine.budgets)
    for r in per_host:
        budget = budgets.get(
            r["host"][4:] if r["host"].startswith("www.") else r["host"],
            engine.cfg.default_budget,
        )
        assert r["count"] <= budget, f'{r["host"]} over budget'


def test_priority_orders_first(spark, engine):
    """Priority-100 seeds must occupy the earliest fetch_seq slots."""
    seeds = spark.createDataFrame(
        _seed_rows(), "url string, source_kind string, priority int"
    ).select("url", "priority")
    engine.run_round(seeds, 0, START, with_order_audit=True)
    arts = (
        engine.articles_table.read()
        .select("fetch_seq", "priority")
        .orderBy("fetch_seq")
        .collect()
    )
    prios = [r["priority"] for r in arts]
    assert prios == sorted(prios, reverse=True)


def test_robots_disallow_enforced(spark, engine):
    """nytimes disallows /sport/ (corpus robots) — none may be fetched."""
    urls = [url_for(i) for i in range(N_PAGES)]
    sport = [u for u in urls if "nytimes.com/sport/" in u]
    seeds = spark.createDataFrame(
        [(u, 0) for u in urls], "url string, priority int"
    )
    engine.run_round(seeds, 0, START)
    fetched = {
        r["url_canon"] for r in engine.articles_table.read().collect()
    }
    assert not any(u in fetched for u in sport)
    # sanity: the corpus actually exercises the rule
    assert sport


def test_resume_from_snapshot(spark, corpus, tmp_path, engine):
    """Checkpoint/resume: a second engine over the same warehouse resumes
    the seen state and refuses re-fetches inside refetchsecs."""
    seeds = spark.createDataFrame(
        _seed_rows(), "url string, source_kind string, priority int"
    ).select("url", "priority")
    engine.run_round(seeds, 0, START)
    n0 = engine.articles_table.read().count()
    seen_snap = engine.seen_table.current_snapshot_id()
    assert seen_snap is not None

    # new engine over the same warehouse == resume from checkpoint
    eng2 = CrawlEngine(
        spark, engine.seen_table.dir.rsplit("/", 1)[0], corpus,
        spark.createDataFrame(robots_rows(), ROBOTS_SCHEMA), engine.cfg,
    )
    # +60s → every already-fetched URL is inside refetchsecs, so round 1
    # may only fetch URLs round 0 left unfetched (over-budget leftovers):
    # resume proves itself by never re-fetching a seen URL early.
    eng2.run_round(seeds, 1, START + timedelta(seconds=60))
    arts = eng2.articles_table.read()
    r0 = {r["url_canon"] for r in arts.filter("round = 0").collect()}
    r1 = {r["url_canon"] for r in arts.filter("round = 1").collect()}
    assert not (r0 & r1), "resumed engine re-fetched a seen URL too early"
    assert arts.count() >= n0


def test_lineage_recorded(engine, spark):
    seeds = spark.createDataFrame(
        _seed_rows(), "url string, source_kind string, priority int"
    ).select("url", "priority")
    engine.run_round(seeds, 0, START)
    man = engine.articles_table.manifest()
    assert man["lineage"]["round"] == 0
    assert man["lineage"]["extracted"] > 0
    assert man["lineage"]["per_partition_extracted"]  # per-partition counts


def test_link_following_discovers_new_pages(spark, corpus, tmp_path):
    """S6: outlinks of round-0 items become round-1 frontier; the offsite
    link (offsite.invalid) never enters the frontier."""
    cfg = CrawlConfig(
        refetch=RefetchConfig(maxfetches=3, refetchsecs=3600),
        default_budget=1000, num_partitions=4, follow_links=True,
    )
    eng = CrawlEngine(spark, str(tmp_path / "whl"), corpus, None, cfg)
    # seed only a handful of pages; their links point at other corpus pages
    seeds = spark.createDataFrame(
        [(url_for(i), 0) for i in range(0, 40, 4)], "url string, priority int")
    eng.run(seeds, rounds=2, start_ts=START, round_gap_secs=60)
    arts = eng.articles_table.read()
    r0 = {r["url_canon"] for r in arts.filter("round = 0").collect()}
    r1 = {r["url_canon"] for r in arts.filter("round = 1").collect()}
    assert r1, "round 1 fetched nothing — links not followed"
    assert r1 - r0, "round 1 only re-fetched seeds"
    assert not any("offsite.invalid" in u for u in r0 | r1)


def test_salted_layout_round_trip(spark, corpus, tmp_path):
    """salt>0 (HTTP-mode layout) still produces correct results."""
    cfg = CrawlConfig(refetch=RefetchConfig(), default_budget=1000,
                      num_partitions=4, salt=8)
    eng = CrawlEngine(spark, str(tmp_path / "whs"), corpus, None, cfg)
    seeds = spark.createDataFrame(
        [(url_for(i), 0) for i in range(40)], "url string, priority int")
    eng.run_round(seeds, 0, START)
    assert eng.articles_table.read().count() > 0


def test_seen_merge_on_read_deltas_and_compaction(spark, corpus, tmp_path):
    """J2 at scale: normal rounds append an O(round-keys) delta (never a
    table rewrite); the trim round folds base + deltas into one compacted
    snapshot; the resolved view is identical either way."""
    cfg = CrawlConfig(refetch=RefetchConfig(maxfetches=8, refetchsecs=3600),
                      num_partitions=4, use_bloom=False, trim_every=4)
    eng = CrawlEngine(spark, str(tmp_path / "wh"), corpus, None, cfg)
    seeds = corpus.select("url").withColumn("priority", F.lit(0))
    for r in range(4):
        eng.run_round(seeds, r, START + timedelta(seconds=r * 3600))
    snaps = eng.seen_table.snapshots()
    # rounds 0-2 appended deltas; round 3 has not hit trim_every yet
    assert [m["mode"] for m in snaps[:3]] == ["append"] * 3
    # raw rows across base+deltas exceed distinct keys (deltas stack)
    n_keys = eng.seen().count()
    assert eng.seen_table.read().count() > n_keys
    # the resolved view counts every fetch exactly once per round
    fetched_rounds = eng.seen().agg(F.max("fetches")).first()[0]
    assert fetched_rounds == 4
    # round 4 = trim_every → compaction: one snapshot, raw == resolved
    eng.run_round(seeds, 4, START + timedelta(seconds=4 * 3600))
    man = eng.seen_table.manifest()
    assert man["mode"] == "replace" and man["lineage"].get("compacted")
    assert eng.seen_table.read().count() == eng.seen().count()


def test_resume_from_any_snapshot_time_travel(spark, corpus, tmp_path):
    """north_rule: resumable mid-crawl from ANY snapshot. Roll the seen +
    articles tables back to their post-round-0 snapshots, then replay
    round 1 with a fresh engine: the replay must match the original
    round-1 output exactly (determinism), and the stale bloom checkpoint
    (written after round 2) must be detected and rebuilt — a bloom
    missing rolled-back-in keys would re-fetch early; one carrying
    extra keys is only a false positive, but the marker forces a clean
    rebuild either way."""
    cfg = CrawlConfig(refetch=RefetchConfig(maxfetches=8, refetchsecs=3600),
                      num_partitions=4, use_bloom=True, bloom_buckets=8)
    wh = str(tmp_path / "wh")
    eng = CrawlEngine(spark, wh, corpus, None, cfg)
    seeds = corpus.select("url").withColumn("priority", F.lit(0))
    for r in range(3):
        eng.run_round(seeds, r, START + timedelta(seconds=r * 3600))
    orig_r1 = sorted(
        r["url_canon"]
        for r in eng.articles_table.read().filter("round = 1").collect())
    seen_after_r0 = 1   # snapshot ids are sequential per table
    arts_after_r0 = 1

    eng.seen_table.rollback(seen_after_r0)
    eng.articles_table.rollback(arts_after_r0)

    eng2 = CrawlEngine(spark, wh, corpus, None, cfg)
    # stale bloom (post-round-2) was rejected and rebuilt from the
    # rolled-back seen snapshot: every key probes maybe-seen, none extra
    maybe, fresh = eng2.bloom.split(eng2.seen().select("url_hash"), spark)
    assert fresh.count() == 0
    eng2.run_round(seeds, 1, START + timedelta(seconds=3600))
    replay_r1 = sorted(
        r["url_canon"]
        for r in eng2.articles_table.read().filter("round = 1").collect())
    assert replay_r1 == orig_r1, "time-travel replay diverged"


def test_engine_expires_old_seen_snapshots(spark, corpus, tmp_path):
    """Maintenance rides compaction: with a tight retention, rounds past
    trim_every leave only the newest K seen snapshots on disk, and the
    expired deltas' data dirs are gone."""
    import os

    cfg = CrawlConfig(refetch=RefetchConfig(maxfetches=16, refetchsecs=3600),
                      num_partitions=4, use_bloom=False, trim_every=2,
                      expire_keep_last=2)
    eng = CrawlEngine(spark, str(tmp_path / "wh"), corpus, None, cfg)
    seeds = corpus.select("url").withColumn("priority", F.lit(0))
    for r in range(5):
        eng.run_round(seeds, r, START + timedelta(seconds=r * 3600))
    snaps = eng.seen_table.snapshots()
    assert len(snaps) == 2                       # newest K only
    assert snaps[-1]["lineage"].get("compacted")  # round 4 compaction
    # expired delta data dirs actually deleted
    live = {f for m in snaps for f in m["files"]}
    on_disk = {os.path.join(eng.seen_table.dir, d)
               for d in os.listdir(eng.seen_table.dir)
               if d.startswith("snap-") and not d.endswith(".json")}
    assert on_disk == live
    # state still correct after expiry
    assert eng.seen().agg(F.max("fetches")).first()[0] == 5


def test_paced_fetch_partition_order_and_pacing():
    """Per-task fetch pacing (W3): rows fetch in the deterministic crawl
    order; consecutive same-host fetches sleep salt × Crawl-delay (the
    salted layout spreads a host over ≤ salt tasks, so the global rate
    stays ≤ 1/delay). Injected clockless sleep keeps the test exact."""
    import pandas as pd

    from risjbot_spark.crawl import _paced_fetch_partition

    rows = []
    for i in range(6):
        host = "slow.example.com" if i % 2 == 0 else "fast.example.com"
        rows.append({"url_canon": f"https://{host}/{i}", "host": host,
                     "priority": i % 2, "discovered_ts": i, "url_hash": i})
    pdf = pd.DataFrame(rows)
    fetched, sleeps = [], []
    out = _paced_fetch_partition(
        pdf, list(pdf.columns),
        list(pdf.columns) + ["status", "html", "fetchtime_str"],
        delays={"slow.example.com": 0.5}, salt=8, default_delay=0.0,
        fetcher=lambda u: (200, u.encode(), "Sat, 01 Apr 2017 12:00:00 GMT"),
        do_sleep=sleeps.append)
    # order: priority DESC (fast=1 first), then discovered_ts, url_hash
    assert list(out["url_hash"]) == [1, 3, 5, 0, 2, 4]
    # slow host fetched 3× ⇒ 2 pacing sleeps of ~salt×delay; fast host none
    assert len(sleeps) == 2
    assert all(3.0 <= s <= 4.0 for s in sleeps)   # 8 × 0.5, minus elapsed
    assert (out["status"] == 200).all()
    assert bytes(out["html"].iloc[0]) == b"https://fast.example.com/1"


def test_fetch_stage_spark_contract(spark, corpus):
    """fetch_stage end to end on Spark with an injected corpus-backed
    fetcher: every scheduled row comes back with status/html/fetchtime,
    html matching the corpus byte-for-byte."""
    from risjbot_spark.crawl import fetch_stage
    from risjbot_spark.urlnorm import with_canonical

    # the fake web is keyed by CANONICAL url — fetches go out canonical
    # (canonicalize-before-seen-check ordering, urlnorm docstring)
    pages = {canonicalize_py(r["url"]): bytes(r["html"])
             for r in corpus.select("url", "html").collect()}
    sched = (
        with_canonical(corpus.select("url"))
        .withColumn("priority", F.lit(0))
        .withColumn("discovered_ts", F.lit(START).cast("timestamp"))
        .select("url_canon", "url_hash", "host", "priority", "discovered_ts")
    )

    def fake_fetch(url):
        body = pages.get(url)
        return (200, body, "Sat, 01 Apr 2017 12:00:00 GMT") if body \
            else (404, None, "")

    out = fetch_stage(sched, fake_fetch, rules_map=None,
                      num_partitions=4, salt=4).collect()
    assert len(out) == len(pages)
    ok = [r for r in out if r.status == 200]
    assert len(ok) == len(pages)
    for r in ok[:10]:
        assert bytes(r.html) == pages[r.url_canon]
        assert r.fetchtime_str.endswith("GMT")


def test_fetcher_mode_matches_corpus_join_mode(spark, corpus, tmp_path):
    """The two fetch modes are interchangeable: a round fetched via the
    injected paced fetcher produces the same articles and the same seen
    state as the corpus-join round (same seeds, same budgets)."""
    cfg = CrawlConfig(refetch=RefetchConfig(maxfetches=3, refetchsecs=3600),
                      num_partitions=4, use_bloom=False)
    seeds = corpus.select("url").withColumn("priority", F.lit(0))

    eng_join = CrawlEngine(spark, str(tmp_path / "wh_join"), corpus, None, cfg)
    eng_join.run_round(seeds, 0, START)

    web = {canonicalize_py(r["url"]): (bytes(r["html"]), r["warc_ts"])
           for r in corpus.select("url", "html", "warc_ts").collect()}

    def fake_fetch(url):
        hit = web.get(url)
        if hit is None:
            return (404, None, "")
        body, ts = hit
        return (200, body, ts.strftime("%a, %d %b %Y %H:%M:%S GMT"))

    eng_http = CrawlEngine(spark, str(tmp_path / "wh_http"), corpus, None,
                           cfg, fetcher=fake_fetch)
    eng_http.run_round(seeds, 0, START)

    def snap(eng):
        return sorted(
            (r["url_canon"], r["headline"], r["wordcount"], r["status"])
            for r in eng.articles_table.read().collect())

    assert snap(eng_http) == snap(eng_join)
    seen_a = {r["url"]: r["fetches"] for r in eng_join.seen().collect()}
    seen_b = {r["url"]: r["fetches"] for r in eng_http.seen().collect()}
    assert seen_a == seen_b


def test_fetcher_mode_drops_non_2xx(spark, corpus, tmp_path):
    """Non-2xx responses never become items nor seen upserts (the
    reference's HttpError default) — they stay eligible for retry."""
    cfg = CrawlConfig(refetch=RefetchConfig(maxfetches=3, refetchsecs=3600),
                      num_partitions=4, use_bloom=False)
    eng = CrawlEngine(spark, str(tmp_path / "wh"), corpus, None, cfg,
                      fetcher=lambda u: (503, None, ""))
    seeds = corpus.select("url").withColumn("priority", F.lit(0))
    eng.run_round(seeds, 0, START)
    assert eng.articles_table.read().count() == 0
    assert eng.seen().count() == 0


def test_follow_links_with_bare_url_seeds(spark, corpus, tmp_path):
    """run() with follow_links must accept seeds without a priority
    column (run_round defaults it) — the link-following union used to
    crash selecting the missing column on round 1."""
    cfg = CrawlConfig(refetch=RefetchConfig(maxfetches=3, refetchsecs=3600),
                      default_budget=1000, num_partitions=4,
                      follow_links=True)
    eng = CrawlEngine(spark, str(tmp_path / "wh"), corpus, None, cfg)
    eng.run(corpus.select("url"), rounds=2, start_ts=START)  # bare url col
    assert eng.articles_table.read().count() > 0


def test_paced_fetch_delay_hits_www_hosts():
    """Crawl-delay rules keyed by bare host must pace www.-host rows —
    the raw-host lookup silently zeroed the delay."""
    import pandas as pd

    from risjbot_spark.crawl import _paced_fetch_partition
    from risjbot_spark.frontier.politeness import _norm_host

    rows = [{"url_canon": f"https://www.slow.example.com/{i}",
             "host": "www.slow.example.com", "priority": 0,
             "discovered_ts": i, "url_hash": i} for i in range(3)]
    pdf = pd.DataFrame(rows)
    sleeps = []
    _paced_fetch_partition(
        pdf, list(pdf.columns),
        list(pdf.columns) + ["status", "html", "fetchtime_str"],
        delays={_norm_host("slow.example.com"): 1.0}, salt=2,
        default_delay=0.0,
        fetcher=lambda u: (200, b"", "x GMT"), do_sleep=sleeps.append)
    assert len(sleeps) == 2 and all(1.0 <= s <= 2.0 for s in sleeps)


def test_crash_between_commits_recovers_without_duplicates(spark, corpus,
                                                           tmp_path):
    """Roll-forward recovery: a crash after the articles commit but
    before the seen commit must not re-fetch the round's URLs — the new
    engine completes the seen MERGE from the committed articles delta."""
    from risjbot_spark.store.snapshots import SnapshotTable

    cfg = CrawlConfig(refetch=RefetchConfig(maxfetches=3, refetchsecs=3600),
                      num_partitions=4, use_bloom=True, bloom_buckets=8)
    wh = str(tmp_path / "wh")
    eng = CrawlEngine(spark, wh, corpus, None, cfg)
    seeds = corpus.select("url").withColumn("priority", F.lit(0))

    orig = SnapshotTable.commit

    def crash_on_seen(self, df, lineage=None, mode="replace", **kw):
        if self.name == "seen":
            raise RuntimeError("simulated crash between commits")
        return orig(self, df, lineage=lineage, mode=mode, **kw)

    SnapshotTable.commit = crash_on_seen
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            eng.run_round(seeds, 0, START)
    finally:
        SnapshotTable.commit = orig
    assert eng.articles_table.read().count() > 0
    assert eng.seen_table.current_snapshot_id() is None   # crash state

    # resume: recovery completes round 0's seen MERGE; round 1 inside
    # refetchsecs must fetch nothing new
    eng2 = CrawlEngine(spark, wh, corpus, None, cfg)
    man = eng2.seen_table.manifest()
    assert man["lineage"].get("recovered") and man["lineage"]["round"] == 0
    n_before = eng2.articles_table.read().count()
    assert eng2.seen().count() == n_before
    eng2.run_round(seeds, 1, START + timedelta(seconds=60))
    arts = eng2.articles_table.read()
    assert arts.count() == n_before, "recovered engine re-fetched the round"


def test_paced_fetch_first_fetch_lane_stagger():
    """A task's FIRST same-host fetch staggers by (url_hash % salt) ×
    crawl_delay — without it, stage start bursts one request per salt
    lane simultaneously (ADVICE r1: the bound was only amortized)."""
    import pandas as pd

    from risjbot_spark.crawl import _paced_fetch_partition

    rows = [{"url_canon": f"https://slow.example.com/{i}",
             "host": "slow.example.com", "priority": 0,
             "discovered_ts": i, "url_hash": 3} for i in range(2)]
    pdf = pd.DataFrame(rows)
    sleeps = []
    _paced_fetch_partition(
        pdf, list(pdf.columns),
        list(pdf.columns) + ["status", "html", "fetchtime_str"],
        delays={"slow.example.com": 0.5}, salt=8, default_delay=0.0,
        fetcher=lambda u: (200, b"", "x GMT"), do_sleep=sleeps.append)
    # first fetch: lane 3 stagger = 3 × 0.5 = 1.5 (minus task wall-clock
    # already elapsed — the offset is absolute, not additive); second:
    # pacing ≈ 4.0
    assert len(sleeps) == 2
    # generous lower bounds: the offsets subtract real elapsed time, and
    # this VM's co-tenant stalls can eat hundreds of ms (BENCH notes)
    assert 1.0 <= sleeps[0] <= 1.5
    assert 3.0 <= sleeps[1] <= 4.0


def test_recovery_token_not_masked_by_round_ordinal_reset(spark, corpus,
                                                          tmp_path):
    """ADVICE r1 (medium): on a REUSED warehouse, a crash between the
    articles and seen commits of a later invocation whose round ordinal
    restarted at 0 was masked by the ordinal comparison (old s_round >=
    new a_round). The round_ts token must catch it regardless."""
    from risjbot_spark.store.snapshots import SnapshotTable

    cfg = CrawlConfig(refetch=RefetchConfig(maxfetches=5, refetchsecs=3600),
                      num_partitions=4, use_bloom=True, bloom_buckets=8)
    wh = str(tmp_path / "wh")
    seeds = corpus.select("url").withColumn("priority", F.lit(0))
    eng = CrawlEngine(spark, wh, corpus, None, cfg)
    eng.run_round(seeds, 0, START)
    eng.run_round(seeds, 1, START + timedelta(seconds=3600))

    # second invocation restarts numbering at 0 and crashes between commits
    orig = SnapshotTable.commit

    def crash_on_seen(self, df, lineage=None, mode="replace", **kw):
        if self.name == "seen":
            raise RuntimeError("simulated crash between commits")
        return orig(self, df, lineage=lineage, mode=mode, **kw)

    eng2 = CrawlEngine(spark, wh, corpus, None, cfg)
    t2 = START + timedelta(seconds=7200)
    SnapshotTable.commit = crash_on_seen
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            eng2.run_round(seeds, 0, t2)    # ordinal reset to 0
    finally:
        SnapshotTable.commit = orig

    # recovery must trigger on the token mismatch and replay exactly once
    eng3 = CrawlEngine(spark, wh, corpus, None, cfg)
    man = eng3.seen_table.manifest()
    assert man["lineage"].get("recovered")
    assert man["lineage"]["round_ts"] == t2.isoformat()
    # replayed seen state counts every round exactly once: 3 fetches/key
    fetches = {r.fetches for r in eng3.seen().collect()}
    assert fetches == {3}


def test_recovery_refuses_multi_commit_divergence(spark, corpus, tmp_path):
    """A seen/articles gap wider than one commit (e.g. an asymmetric
    rollback) cannot be repaired by replaying the newest delta — engine
    init must refuse instead of silently corrupting fetch counts."""
    cfg = CrawlConfig(refetch=RefetchConfig(maxfetches=5, refetchsecs=3600),
                      num_partitions=4, use_bloom=False)
    wh = str(tmp_path / "wh")
    seeds = corpus.select("url").withColumn("priority", F.lit(0))
    eng = CrawlEngine(spark, wh, corpus, None, cfg)
    for r in range(3):
        eng.run_round(seeds, r, START + timedelta(seconds=3600 * r))
    first_seen = eng.seen_table.snapshots()[0]["id"]
    eng.seen_table.rollback(first_seen)     # seen now 2 rounds behind
    with pytest.raises(RuntimeError, match="more than one commit"):
        CrawlEngine(spark, wh, corpus, None, cfg)


def test_run_resumes_round_numbering(spark, corpus, tmp_path):
    """run() on a reused warehouse continues round numbers and the round
    clock instead of restarting at 0 (ADVICE r1)."""
    cfg = CrawlConfig(refetch=RefetchConfig(maxfetches=5, refetchsecs=3600),
                      num_partitions=4, use_bloom=False)
    wh = str(tmp_path / "wh")
    seeds = corpus.select("url").withColumn("priority", F.lit(0))
    CrawlEngine(spark, wh, corpus, None, cfg).run(seeds, 2, start_ts=START)
    CrawlEngine(spark, wh, corpus, None, cfg).run(seeds, 1, start_ts=START)
    rounds = sorted(
        r["round"] for r in
        CrawlEngine(spark, wh, corpus, None, cfg).articles_table.read()
        .select("round").distinct().collect())
    assert rounds == [0, 1, 2]


def test_engine_refuses_increment_format_seen_table(spark, corpus, tmp_path):
    """REGRESSION: seen deltas switched to resolved rows; an old
    increment-format warehouse must be refused, not silently resolved to
    wrong fetch counts."""
    import json

    cfg = CrawlConfig(refetch=RefetchConfig(), num_partitions=4,
                      use_bloom=False)
    wh = str(tmp_path / "wh")
    eng = CrawlEngine(spark, wh, corpus, None, cfg)
    seeds = corpus.select("url").withColumn("priority", F.lit(0))
    eng.run_round(seeds, 0, START)
    # strip the format marker, simulating a pre-change warehouse
    man_path = eng.seen_table._manifest_path(
        eng.seen_table.current_snapshot_id())
    man = json.load(open(man_path))
    del man["lineage"]["seen_format"]
    json.dump(man, open(man_path, "w"))
    with pytest.raises(RuntimeError, match="format 1"):
        CrawlEngine(spark, wh, corpus, None, cfg)


def test_duplicate_corpus_pages_fetch_once(spark, tmp_path):
    """REGRESSION: N corpus rows for one canonical URL (snapshots over
    time / raw-URL variants) must yield ONE article with a deterministic
    survivor (newest warc_ts), not N duplicates."""
    base = pages_df(spark, 12, partitions=2)
    # duplicate every page with an older snapshot and different html
    older = (base.withColumn("warc_ts",
                             F.col("warc_ts") - F.expr("INTERVAL 10 DAYS"))
             .withColumn("html", F.lit(b"<html><body>old</body></html>")))
    dup_corpus = base.unionByName(older)
    cfg = CrawlConfig(refetch=RefetchConfig(), num_partitions=2,
                      use_bloom=False)
    eng = CrawlEngine(spark, str(tmp_path / "wh"), dup_corpus, None, cfg)
    seeds = base.select("url").withColumn("priority", F.lit(0))
    eng.run_round(seeds, 0, START)
    arts = eng.articles_table.read()
    per_key = arts.groupBy("url_hash").count().agg(F.max("count")).first()[0]
    assert per_key == 1, "duplicate corpus rows produced duplicate articles"
    # the NEWEST snapshot won (old html extracts bodytext 'old')
    assert arts.filter(F.col("bodytext") == "old").count() == 0


def test_engine_requires_utc_session_tz(spark, corpus, tmp_path):
    """REGRESSION: lf_day partitions and window date bounds assume a UTC
    session zone; the engine must refuse a non-UTC session loudly."""
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with pytest.raises(RuntimeError, match="session.timeZone"):
            CrawlEngine(spark, str(tmp_path / "wh"), corpus, None,
                        CrawlConfig())
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_naive_round_ts_coerced_to_utc(spark, corpus, tmp_path):
    """run_round accepts a naive round_ts and treats it as UTC — the
    stored last_fetch must be the exact UTC instant, not an OS-tz shift."""
    cfg = CrawlConfig(refetch=RefetchConfig(), num_partitions=2,
                      use_bloom=False)
    eng = CrawlEngine(spark, str(tmp_path / "wh"), corpus, None, cfg)
    seeds = corpus.select("url").withColumn("priority", F.lit(0)).limit(5)
    eng.run_round(seeds, 0, START.replace(tzinfo=None))   # naive
    # compare SPARK-side against an aware literal: collect() converts
    # timestamps through the driver's OS timezone, so a naive-python
    # equality would itself be TZ-dependent
    seen = eng.seen()
    n = seen.count()
    assert n > 0
    assert seen.filter(F.col("last_fetch") == F.lit(START)).count() == n


def test_trim_every_zero_never_compacts(spark, corpus, tmp_path):
    """REGRESSION: trim_every=0 ('never compact') crashed with
    ZeroDivisionError on round 1."""
    cfg = CrawlConfig(refetch=RefetchConfig(maxfetches=9, refetchsecs=3600),
                      num_partitions=2, use_bloom=False, trim_every=0)
    eng = CrawlEngine(spark, str(tmp_path / "wh"), corpus, None, cfg)
    seeds = corpus.select("url").withColumn("priority", F.lit(0)).limit(6)
    for r in range(5):
        eng.run_round(seeds, r, START + timedelta(seconds=3600 * r))
    # never compacted: every seen commit is an append delta
    assert all(not m["lineage"].get("compacted")
               for m in eng.seen_table.snapshots())


def test_resumed_run_keeps_clock_and_outlinks(spark, corpus, tmp_path):
    """REGRESSION: a CLI rerun passing a fresh wall-clock start_ts
    shifted resumed round timestamps start_round*gap into the future
    (ageing every key past agelimit); and a resumed run's first round
    dropped the previous invocation's outlinks. The warehouse's recorded
    round_ts anchors the clock and last_delta_dir seeds link-following."""
    cfg = CrawlConfig(refetch=RefetchConfig(maxfetches=9, refetchsecs=3600),
                      num_partitions=2, use_bloom=False, follow_links=True,
                      link_deny="offsite")
    wh = str(tmp_path / "wh")
    seeds = corpus.select("url").withColumn("priority", F.lit(0)).limit(5)
    CrawlEngine(spark, wh, corpus, None, cfg).run(seeds, 2, start_ts=START)
    man1 = CrawlEngine(spark, wh, corpus, None, cfg) \
        .articles_table.manifest()["lineage"]["round_ts"]
    # resume with a DIFFERENT (later) start_ts, as a CLI rerun would
    eng2 = CrawlEngine(spark, wh, corpus, None, cfg)
    eng2.run(seeds, 1, start_ts=START + timedelta(days=400))
    man2 = eng2.articles_table.manifest()["lineage"]
    assert man2["round"] == 2
    # clock continued from the warehouse: round 2 = round 1 ts + gap
    got = datetime.fromisoformat(man2["round_ts"])
    want = datetime.fromisoformat(man1) + timedelta(seconds=3600)
    assert got == want
    # and the seen table was NOT wiped by an aged-out trim
    assert eng2.seen().count() > 0
    # resumed round still unioned outlinks: round-2 articles exceed the
    # 5 seeded urls (outlink discoveries fetched)
    r2 = eng2.articles_table.read().filter(F.col("round") == 2).count()
    assert r2 > 0


def test_trim_protects_requested_but_gate_dropped_keys(spark, tmp_path):
    """keysrqd parity (refetchcontrol.py:231-232): the reference
    registers every REQUESTED key before its gate decides, so a seeded
    key whose seen row aged past agelimit — gate-dropped every round —
    still survives the compaction trim. Protecting only post-gate
    scheduled keys would delete the row, reset previousfetches, and
    re-fetch the seed from scratch every agelimit cycle (the reference
    never re-fetches such keys)."""
    pages = pages_df(spark, 12, partitions=2).cache()
    seeds = pages.select("url").withColumn("priority", F.lit(0))
    cfg = CrawlConfig(
        refetch=RefetchConfig(maxfetches=8, refetchsecs=100, agelimit=250),
        trim_every=2, num_partitions=4, use_bloom=False,
    )
    eng = CrawlEngine(spark, str(tmp_path / "wh"), pages, None, cfg)
    eng.run_round(seeds, 0, START)                       # fetches=1
    before = {r["url_hash"]: r["fetches"] for r in eng.seen().collect()}
    assert before and set(before.values()) == {1}
    # both later rounds run far past agelimit: the gate drops every key
    # (age > 250), round 2 compacts+trims — the seeds were REQUESTED, so
    # their rows must survive with history intact
    eng.run_round(seeds, 1, START + timedelta(seconds=1000))
    eng.run_round(seeds, 2, START + timedelta(seconds=1100))
    after = {r["url_hash"]: r["fetches"] for r in eng.seen().collect()}
    assert after == before                   # not trimmed, not re-fetched


def test_bloom_gated_trim_then_rerequest_matches_unfiltered(spark, corpus,
                                                            tmp_path):
    """The bloom never deletes: keys trimmed from the seen table stay in
    the filter. When they are requested again the filter calls them
    maybe-seen, and the authoritative join must still treat them as
    first fetches. Series: set A, then set B x4 (the round-4 trim
    deletes A), then A∪B x2 — identical to an unfiltered engine."""
    a_urls, b_urls = range(0, 30), range(30, 60)

    def seeds(rng):
        return spark.createDataFrame([(url_for(i), 0) for i in rng],
                                     "url string, priority int")

    plan = [seeds(a_urls)] + [seeds(b_urls)] * 4 + [seeds(range(60))] * 2
    runs = {}
    for use_bloom in (True, False):
        # refetchfromdb=False: the trawl would otherwise re-request A
        # every round and keep it alive
        cfg = CrawlConfig(
            refetch=RefetchConfig(maxfetches=8, refetchsecs=3600,
                                  agelimit=4 * 3600, trimdb=True,
                                  refetchfromdb=False),
            default_budget=1000, num_partitions=4, trim_every=4,
            use_bloom=use_bloom)
        eng = CrawlEngine(spark, str(tmp_path / f"wh{use_bloom}"), corpus,
                          None, cfg)
        for rnd, s in enumerate(plan):
            if rnd == 5 and use_bloom:
                # the trimmed A keys are gone from seen but not from
                # the filter: every one probes maybe-seen
                a_keys = eng.articles_table.read().filter("round = 0")
                a_hashes = {r.url_hash for r in a_keys.collect()}
                seen_hashes = {r.url_hash for r in eng.seen().collect()}
                assert a_hashes and not (a_hashes & seen_hashes)
                _, fresh = eng.bloom.split(a_keys.select("url_hash"), spark)
                assert fresh.count() == 0
            eng.run_round(s, rnd, START + timedelta(seconds=3600 * rnd))
        arts = {(r.round, r.url_canon, r.previousfetches)
                for r in eng.articles_table.read().collect()}
        seen = {(r.url_hash, r.fetches, r.last_fetch)
                for r in eng.seen().collect()}
        runs[use_bloom] = (arts, seen)
        if use_bloom:
            assert eng.backend_choices["bloom"]["value"] is True
            # upper bound: each re-requested trimmed key is added again
            assert eng.bloom.n_keys == len(seen) + len(a_hashes)
    assert runs[True] == runs[False]
    arts = runs[True][0]
    first_a = {u for rnd, u, _ in arts if rnd == 0}
    assert {u for rnd, u, pf in arts if rnd == 5 and pf == 0} == first_a


def test_pages_precanonicalized_contract(spark, tmp_path):
    """ADVICE #3: the page_url fast path is gated by an explicit
    contract — True requires the column, False ignores an unrelated
    page_url column instead of silently trusting it as the join key."""
    import pytest as _pytest

    from risjbot_spark.corpus import pages_df

    pages = pages_df(spark, 30, partitions=2)
    with _pytest.raises(ValueError, match="page_url"):
        CrawlEngine(spark, str(tmp_path / "w1"), pages, None,
                    CrawlConfig(refetch=RefetchConfig(),
                                pages_precanonicalized=True))
    # poisoned column: an unrelated page_url must NOT be trusted when
    # the caller says pages_precanonicalized=False
    poisoned = pages.withColumn("page_url", F.lit("https://bogus/x"))
    eng = CrawlEngine(spark, str(tmp_path / "w2"), poisoned, None,
                      CrawlConfig(refetch=RefetchConfig(),
                                  num_partitions=2,
                                  pages_precanonicalized=False))
    seeds = pages.select("url").withColumn("priority", F.lit(0))
    eng.run_round(seeds, 0, START)
    assert eng.articles_table.read().count() == 30    # joined on url
    # default (None) infers: same poisoned table would join on the bogus
    # column and fetch nothing
    eng2 = CrawlEngine(spark, str(tmp_path / "w3"), poisoned, None,
                       CrawlConfig(refetch=RefetchConfig(),
                                   num_partitions=2))
    eng2.run_round(seeds, 0, START)
    assert eng2.articles_table.read().count() == 0


def test_pages_unique_per_url_skips_dedup_identically(spark, corpus,
                                                      tmp_path):
    """pages_unique_per_url=True (the dedup-at-ingest contract) must be
    output-identical to the default engine-side dedup when the corpus
    really is one row per canonical URL — and its fetch plan must not
    contain the html-bearing url_hash exchange."""
    seeds = spark.createDataFrame(
        [(url_for(i), 0) for i in range(0, 80, 2)],
        "url string, priority int")
    outs = {}
    for name, flag in (("dedup", False), ("unique", True)):
        cfg = CrawlConfig(refetch=RefetchConfig(), default_budget=1000,
                          num_partitions=4, pages_unique_per_url=flag)
        eng = CrawlEngine(spark, str(tmp_path / f"wh_{name}"), corpus,
                          None, cfg)
        eng.run(seeds, rounds=2, start_ts=START, round_gap_secs=10800)
        outs[name] = {
            (r["round"], r["url_canon"], r["headline"])
            for r in eng.articles_table.read()
            .select("round", "url_canon", "headline").collect()}
    assert outs["dedup"] == outs["unique"] and outs["unique"]
