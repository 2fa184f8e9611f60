"""Link-graph frontier prioritization (frontier/rank.py).

Fixed-point PageRank: hand-computed values on canonical graphs, exact
partitioning-invariance (the reason the arithmetic is integral), the
reliable-checkpoint variant, edge building from extracted articles,
and the priority merge the politeness scheduler consumes."""

import os

import pytest
from pyspark.sql import functions as F

from risjbot_spark.frontier.rank import (link_graph_ranks, outlink_edges,
                                         prioritize_frontier)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def _ranks_dict(df):
    return {r["node"]: r["rank"] for r in df.collect()}


def test_star_graph_one_iteration(spark):
    # 4 leaves → center. After 1 iter: leaf = base (no inbound) =
    # ((20-17)*1e6) div 20 = 150000; center = 150000 + (17 * 4e6) div 20
    e = _edges(spark, [(f"l{i}", "c") for i in range(4)])
    got = _ranks_dict(link_graph_ranks(e, iterations=1))
    assert got["c"] == 150_000 + (17 * 4_000_000) // 20 == 3_550_000
    assert all(got[f"l{i}"] == 150_000 for i in range(4))


def test_cycle_conserves_mass_exactly(spark):
    # a→b→c→a: every node keeps exactly rank0 forever —
    # 150000 + (17*1e6) div 20 = 1e6. Exact arithmetic means EXACT
    # fixed point, not convergence-to-within-epsilon.
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    for iters in (1, 4):
        got = _ranks_dict(link_graph_ranks(e, iterations=iters))
        assert got == {"a": 1_000_000, "b": 1_000_000, "c": 1_000_000}


def test_out_degree_splits_mass(spark):
    # a → {b, c}: each gets half of a's mass. After 1 iter:
    # b = c = 150000 + (17 * (1e6 div 2)) div 20 = 575000
    e = _edges(spark, [("a", "b"), ("a", "c")])
    got = _ranks_dict(link_graph_ranks(e, iterations=1))
    assert got["b"] == got["c"] == 150_000 + (17 * 500_000) // 20
    assert got["a"] == 150_000  # dangling inbound-less source


def test_partitioning_invariance_bit_exact(spark):
    # the fixed-point claim: same ranks, bit-identical, at any layout.
    # dst depends on id (not just the src residue), so out-degrees vary
    # (1..~30) and ranks genuinely differ across nodes — a pure
    # permutation graph would trivially pass with every rank equal.
    ev = spark.range(0, 3000).select(
        (F.col("id") % 97).cast("string").alias("src"),
        ((F.col("id") * F.col("id") * 31 + 7) % 97).cast("string")
        .alias("dst"),
    ).filter(F.col("src") != F.col("dst")).distinct()
    a = _ranks_dict(link_graph_ranks(ev, iterations=3, num_partitions=2))
    b = _ranks_dict(link_graph_ranks(ev, iterations=3, num_partitions=13))
    assert a == b and len(a) == 97
    assert len(set(a.values())) > 10  # non-degenerate rank spread


def test_reliable_checkpoint_variant(spark, tmp_path):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")])
    local = _ranks_dict(link_graph_ranks(e, iterations=3))
    reli = _ranks_dict(link_graph_ranks(
        e, iterations=3, checkpoint_dir=str(tmp_path / "ckpt")))
    assert local == reli
    assert any((tmp_path / "ckpt").iterdir())  # actually wrote files


def test_outlink_edges_canonicalizes_and_dedups(spark):
    # query stripping is PER-HOST (dailymail registry), matching the
    # reference's split('?')[0] — example.com keeps its query string
    arts = spark.createDataFrame(
        [
            ("https://www.dailymail.co.uk/a",
             ["https://www.dailymail.co.uk/b?ito=feed",
              "https://www.dailymail.co.uk/b",  # dup after canon
              "https://www.dailymail.co.uk/a",  # self-loop
              "https://www.example.com/c#frag"]),
            ("https://www.dailymail.co.uk/b", []),
        ],
        "url_canon string, links array<string>",
    )
    rows = {(r["src"], r["dst"]) for r in outlink_edges(arts).collect()}
    assert rows == {
        ("https://www.dailymail.co.uk/a", "https://www.dailymail.co.uk/b"),
        # fragment stripped for every host
        ("https://www.dailymail.co.uk/a", "https://www.example.com/c"),
    }


def test_prioritize_frontier_merges_ranks(spark):
    e = _edges(spark, [(f"l{i}", "hub") for i in range(4)])
    ranks = link_graph_ranks(e, iterations=1)  # hub=3550000, leaves=150000
    frontier = spark.createDataFrame(
        [("hub", 0), ("l0", 100), ("unranked", 7)],
        "url_canon string, priority int",
    )
    got = {r["url_canon"]: r["priority"]
           for r in prioritize_frontier(frontier, ranks).collect()}
    assert got["hub"] == 355          # 3550000 div 10000 — authority wins
    assert got["l0"] == 100           # explicit spider pin survives
    assert got["unranked"] == 7       # not in graph → untouched


def test_null_priority_treated_as_zero(spark):
    e = _edges(spark, [("a", "b")])
    ranks = link_graph_ranks(e, iterations=1)
    frontier = spark.createDataFrame(
        [("b", None)], "url_canon string, priority int")
    got = prioritize_frontier(frontier, ranks).collect()[0]
    assert got["priority"] == (150_000 + (17 * 1_000_000) // 20) // 10_000


def test_empty_edges_returns_empty(spark):
    e = spark.createDataFrame([], "src string, dst string")
    assert link_graph_ranks(e, iterations=2).count() == 0


# ---------------------------------------------------------------------------
# engine integration (CrawlConfig.link_rank)
# ---------------------------------------------------------------------------

def _lr_engine(spark, corpus, wh, **cfg_kw):
    from risjbot_spark.crawl import CrawlConfig, CrawlEngine
    from risjbot_spark.frontier.state import RefetchConfig

    cfg = CrawlConfig(
        refetch=RefetchConfig(maxfetches=5, refetchsecs=3600),
        default_budget=1000, num_partitions=4, follow_links=True,
        link_rank=True, **cfg_kw)
    return CrawlEngine(spark, wh, corpus, None, cfg)


def _round_priorities(eng, rnd):
    return {r["url_canon"]: r["priority"]
            for r in eng.articles_table.read()
            .filter(F.col("round") == rnd)
            .select("url_canon", "priority").collect()}


def test_engine_link_rank_authority_reaches_frontier(spark, tmp_path):
    """Round 0 commits edges, the refresh writes ranks, and round 1's
    frontier carries authority: every URL in the observed link graph
    schedules with priority >= base (150000 div 10000 = 15)."""
    from datetime import datetime, timezone

    from risjbot_spark.corpus import pages_df, url_for

    corpus = pages_df(spark, 120, partitions=4)
    eng = _lr_engine(spark, corpus, str(tmp_path / "wh"))
    seeds = spark.createDataFrame(
        [(url_for(i), 0) for i in range(0, 40, 4)],
        "url string, priority int")
    eng.run(seeds, rounds=2,
            start_ts=datetime(2017, 4, 1, tzinfo=timezone.utc),
            round_gap_secs=60)
    assert eng.link_edges.current_snapshot_id() is not None
    assert eng.link_ranks.current_snapshot_id() is not None
    p0 = _round_priorities(eng, 0)
    p1 = _round_priorities(eng, 1)
    assert p0 and all(v == 0 for v in p0.values())  # no ranks yet
    ranked = {u for u, v in p1.items() if v >= 15}
    assert ranked, "no round-1 article carried link-graph authority"


def test_engine_link_rank_deterministic_across_runs(spark, tmp_path):
    """Fixed-point arithmetic end-to-end: two independent runs assign
    identical (url, priority) in every round."""
    from datetime import datetime, timezone

    from risjbot_spark.corpus import pages_df, url_for

    corpus = pages_df(spark, 120, partitions=4)
    seeds = spark.createDataFrame(
        [(url_for(i), 0) for i in range(0, 40, 4)],
        "url string, priority int")
    outs = []
    for wh in ("whA", "whB"):
        eng = _lr_engine(spark, corpus, str(tmp_path / wh))
        eng.run(seeds, rounds=2,
                start_ts=datetime(2017, 4, 1, tzinfo=timezone.utc),
                round_gap_secs=60)
        outs.append((_round_priorities(eng, 0), _round_priorities(eng, 1)))
    assert outs[0] == outs[1]


def test_engine_link_rank_explicit_pin_survives(spark, tmp_path):
    """A spider's hand-assigned priority 100 ('fetch me now') is never
    lowered by authority — greatest() semantics."""
    from datetime import datetime, timezone

    from risjbot_spark.corpus import pages_df, url_for
    from risjbot_spark.urlnorm import canonicalize_py

    corpus = pages_df(spark, 120, partitions=4)
    eng = _lr_engine(spark, corpus, str(tmp_path / "whp"))
    pinned = url_for(0)
    seeds = spark.createDataFrame(
        [(pinned, 100)] + [(url_for(i), 0) for i in range(4, 40, 4)],
        "url string, priority int")
    # round gap == refetchsecs so the round-0 fetch is refetch-eligible
    # in round 1 — the pinned URL MUST appear in round 1 or the pin
    # assertion is vacuous (a `if key in p1` guard here let a
    # pin-lowering regression pass silently)
    eng.run(seeds, rounds=2,
            start_ts=datetime(2017, 4, 1, tzinfo=timezone.utc),
            round_gap_secs=3600)
    p1 = _round_priorities(eng, 1)
    key = canonicalize_py(pinned)
    assert key in p1, "pinned URL missing from round 1 — test is vacuous"
    assert p1[key] >= 100


def test_engine_link_rank_cadence_skips_refresh(spark, tmp_path):
    """link_rank_every=3 with 2 rounds: edges accumulate but no rank
    snapshot is written, and rounds schedule without authority."""
    from datetime import datetime, timezone

    from risjbot_spark.corpus import pages_df, url_for

    corpus = pages_df(spark, 80, partitions=4)
    eng = _lr_engine(spark, corpus, str(tmp_path / "whc"),
                     link_rank_every=3)
    seeds = spark.createDataFrame(
        [(url_for(i), 0) for i in range(0, 24, 4)],
        "url string, priority int")
    eng.run(seeds, rounds=2,
            start_ts=datetime(2017, 4, 1, tzinfo=timezone.utc),
            round_gap_secs=60)
    assert eng.link_edges.current_snapshot_id() is not None
    assert eng.link_ranks.current_snapshot_id() is None
    assert eng._load_link_ranks() is None
    p1 = _round_priorities(eng, 1)
    assert p1 and all(v == 0 for v in p1.values())


# ---------------------------------------------------------------------------
# review-pass regressions
# ---------------------------------------------------------------------------

def test_prioritize_clamps_mega_hub_to_int32(spark):
    """A hub whose rank exceeds 2^31×unit must clamp, not throw
    CAST_OVERFLOW under Spark 4's default ANSI mode (and not wrap
    negative without it)."""
    ranks = spark.createDataFrame(
        [("hub", 2**31 * 10_000 + 123), ("leaf", 150_000)],
        "node string, rank long")
    frontier = spark.createDataFrame(
        [("hub", 0), ("leaf", 0)], "url_canon string, priority int")
    got = {r["url_canon"]: r["priority"]
           for r in prioritize_frontier(frontier, ranks).collect()}
    assert got["hub"] == 2**31 - 1
    assert got["leaf"] == 15


def test_prioritize_keeps_negative_priority_outside_graph(spark):
    """A deliberately deprioritized URL (negative pin) absent from the
    link graph keeps its negative priority — the merge must not
    coalesce it up to 0."""
    e = _edges(spark, [("a", "b")])
    ranks = link_graph_ranks(e, iterations=1)
    frontier = spark.createDataFrame(
        [("buried", -10), ("b", -10)], "url_canon string, priority int")
    got = {r["url_canon"]: r["priority"]
           for r in prioritize_frontier(frontier, ranks).collect()}
    assert got["buried"] == -10           # not in graph → untouched
    assert got["b"] >= 15                 # in graph → authority wins


def test_zero_iterations_rejected(spark):
    e = _edges(spark, [("a", "b")])
    with pytest.raises(ValueError, match="iterations"):
        link_graph_ranks(e, iterations=0)


def test_engine_compacts_edge_log_on_refresh(spark, tmp_path):
    """Refetch rounds re-append identical edges; the refresh must fold
    the log back to the distinct graph so it stays O(distinct edges),
    and expiry must leave each link table one live data dir."""
    from datetime import datetime, timezone

    from risjbot_spark.corpus import pages_df, url_for

    corpus = pages_df(spark, 80, partitions=4)
    eng = _lr_engine(spark, corpus, str(tmp_path / "whcomp"))
    seeds = spark.createDataFrame(
        [(url_for(i), 0) for i in range(0, 24, 4)],
        "url string, priority int")
    # gap == refetchsecs → every round refetches everything and would
    # re-append the full edge set each time without compaction
    eng.run(seeds, rounds=3,
            start_ts=datetime(2017, 4, 1, tzinfo=timezone.utc),
            round_gap_secs=3600)
    log = eng.link_edges.read()
    assert log.count() == log.distinct().count(), \
        "edge log carries duplicate rows after a compacting refresh"
    for table in (eng.link_edges, eng.link_ranks):
        snaps = table.snapshots()
        assert len(snaps) == 1 and len(snaps[0]["files"]) == 1, \
            f"{table.name}: {len(snaps)} live snapshots after the refresh"
        assert sorted(d for d in os.listdir(table.dir)
                      if d.startswith("snap-") and "manifest" not in d) \
            == [os.path.basename(snaps[0]["files"][0])]


def test_failed_refresh_keeps_previous_ranks(spark, tmp_path, monkeypatch):
    """A refresh whose rank write fails must leave the previous ranks
    readable and the edge log whole: the snapshot commit writes a new
    data dir and swaps CURRENT only after the write succeeds."""
    from datetime import datetime, timezone

    import risjbot_spark.frontier.rank as rank
    from risjbot_spark.corpus import pages_df, url_for

    corpus = pages_df(spark, 60, partitions=4)
    eng = _lr_engine(spark, corpus, str(tmp_path / "whfail"))
    seeds = spark.createDataFrame(
        [(url_for(i), 0) for i in range(0, 24, 4)],
        "url string, priority int")
    start = datetime(2017, 4, 1, tzinfo=timezone.utc)
    eng.run_round(seeds, 0, start)
    before = _ranks_dict(eng._load_link_ranks())
    edges_before = set(eng.link_edges.read().distinct().collect())
    assert before and edges_before

    good = rank.link_graph_ranks

    def failing(edges, **kw):
        return good(edges, **kw).withColumn(
            "rank", F.raise_error(F.lit("rank write failed")).cast("long"))

    monkeypatch.setattr(rank, "link_graph_ranks", failing)
    with pytest.raises(Exception, match="rank write failed"):
        eng.run_round(seeds, 1, start.replace(hour=1))
    ranks = eng._load_link_ranks()
    assert ranks is not None, "a failed refresh dropped the ranks"
    assert _ranks_dict(ranks) == before
    assert set(eng.link_edges.read().distinct().collect()) == edges_before
