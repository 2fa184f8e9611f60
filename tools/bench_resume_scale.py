"""Kill-and-resume receipt at 10^6 pages: the north_rule's "resumable
from checkpoint" clause, evidenced with a REAL SIGKILL instead of the
unit suite's injected commit fault (tests/test_crawl.py::
test_resume_from_snapshot and the crash-between-commits recovery test
prove the semantics at toy scale; this tool proves them at the
scale-path configuration and records the receipt).

Protocol (two child processes, one kill):

  phase 1  child crawls the 1M-page bucketed corpus under a per-host
           budget that splits the frontier into ~4 politeness rounds
           (guardian, at 45% of pages, is the tail), printing one JSON
           line per completed round;
  kill     after the "round 1 done" line the parent sleeps half of
           round 1's wall time and SIGKILLs the child's whole process
           group — Spark JVM included — landing mid-round-2, between
           nothing, the articles commit, or the seen MERGE;
  phase 2  a FRESH process over the same warehouse constructs the
           engine (snapshot recovery runs at init: an articles commit
           whose seen MERGE died is completed from the committed
           delta), then `run()` resumes round numbering + the round
           clock and crawls until the frontier drains.

The receipt's invariant is exactly-once-per-URL across the kill:
refetchsecs is set far beyond the run's clock span, so EVERY url must
appear in the final articles table exactly once — a lost commit
re-fetches (rolled back rounds are invisible), a double commit or a
bloom/seen divergence duplicates, and either shows up as a count
mismatch. Writes BENCH/resume_kill_1m.json.

    python tools/bench_resume_scale.py            # parent (orchestrates)
    SPARK_GRAFT_RK_PAGES=200000 python tools/bench_resume_scale.py  # smaller
"""

from __future__ import annotations

import json
import os
import resource
import signal
import subprocess
import sys
import tempfile
import time
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_PAGES = int(os.environ.get("SPARK_GRAFT_RK_PAGES", "1000000"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BUCKETS = int(os.environ.get("SPARK_GRAFT_RK_BUCKETS", "64"))
# per-host per-round cap: 12% of pages = the #2 host's exact share, so
# round 0 fetches every host's first slice (~67% of pages) and the 45%
# host alone drains over rounds 1-3 — a skew-shaped multi-round frontier
BUDGET = int(os.environ.get("SPARK_GRAFT_RK_BUDGET",
                            str(max(1, (N_PAGES * 12) // 100))))
GAP_SECS = 3600          # round clock advance (resume re-anchors on it)
# the artifact name carries the corpus size: the docstring's smaller
# example must never clobber the committed 1M receipt
OUT = os.path.join(REPO, "BENCH",
                   "resume_kill_1m.json" if N_PAGES == 1_000_000
                   else f"resume_kill_{N_PAGES}.json")


def _rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def _session():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("risjbot-resume-kill")
        .config("spark.sql.shuffle.partitions", str(BUCKETS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "6g"))
        .config("spark.sql.warehouse.dir",
                os.path.join(tempfile.gettempdir(), "risjbot_sp_warehouse"))
        .getOrCreate()
    )


def _engine(spark, wh):
    """Scale-path configuration, bench_scale_path.py's shape: bucketed
    pages (SMJ fetch), bucketed seen base, and the engine's default seen
    pre-filter (the driver bloom below its key budget) — so the kill
    also exercises the bloom checkpoint's seen-snapshot marker, not just
    the snapshot tables'."""
    from risjbot_spark.bucketing import (read_bucketed_pages,
                                         register_bucketed_pages,
                                         write_bucketed_pages)
    from risjbot_spark.corpus import pages_df
    from risjbot_spark.crawl import CrawlConfig, CrawlEngine
    from risjbot_spark.frontier.state import RefetchConfig
    from pyspark.sql import functions as F

    # SAME table name as tools/bench_scale_path.py (identical ingest
    # contract), so a corpus one tool built the other reuses instead of
    # duplicating a 1M-page bucketed table in the shared warehouse; the
    # register-or-rebuild dance below mirrors that file's (the
    # canonical copy, with the LOCATION_ALREADY_EXISTS rationale)
    table = f"sp_pages_{N_PAGES}_{BUCKETS}"
    loc = os.path.join(
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"),
        table.lower())
    if not spark.catalog.tableExists(table) and os.path.exists(
            os.path.join(loc, "_SUCCESS")):
        # phase 2 (and reruns): the in-memory catalog forgot the bucket
        # spec but the files survived — re-declare, don't rebuild
        register_bucketed_pages(spark, table, loc, buckets=BUCKETS)
    if not spark.catalog.tableExists(table) \
            or spark.table(table).count() != N_PAGES:
        if spark.catalog.tableExists(table):
            spark.sql(f"DROP TABLE {table}")
        if os.path.exists(loc):
            import shutil
            shutil.rmtree(loc)
        corpus_parts = max(16, min(256, N_PAGES // 250))
        write_bucketed_pages(pages_df(spark, N_PAGES,
                                      partitions=corpus_parts),
                             table, buckets=BUCKETS)
    pages = read_bucketed_pages(spark, table)
    seeds = spark.table(table).select("url").withColumn(
        "priority", F.lit(0))
    eng = CrawlEngine(
        spark, wh, pages, robots=None,
        cfg=CrawlConfig(
            # refetchsecs >> the run's whole clock span (≤ ~10 rounds
            # × 1h) → exactly-once per URL is the invariant; agelimit
            # likewise out of reach so nothing ages out of seen
            refetch=RefetchConfig(maxfetches=8, refetchsecs=10**6,
                                  agelimit=10**9),
            default_budget=BUDGET,
            num_partitions=BUCKETS,
            use_bloom=True,
            broadcast_frontier=False,
            pages_unique_per_url=True,
        ),
    )
    return eng, seeds


def child_phase1(wh: str) -> None:
    spark = _session()
    spark.sparkContext.setLogLevel("ERROR")
    eng, seeds = _engine(spark, wh)
    start = datetime(2017, 4, 1, tzinfo=timezone.utc)
    # one engine.run() per round so each completed round emits a line
    # the parent can key its kill timing off (run() itself resumes the
    # numbering, so per-round calls compose exactly like one call)
    for _ in range(12):
        t0 = time.monotonic()
        eng.run(seeds, 1, start_ts=start, round_gap_secs=GAP_SECS)
        print(json.dumps({
            "event": "round_done",
            "round": eng.articles_table.manifest()["lineage"]["round"],
            "secs": round(time.monotonic() - t0, 3),
            "articles": eng.articles_table.read().count(),
        }), flush=True)


def child_phase2(wh: str) -> None:
    spark = _session()
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.monotonic()
    eng, seeds = _engine(spark, wh)
    recover_secs = round(time.monotonic() - t0, 3)
    seen_man = eng.seen_table.manifest() or {}
    art_man = eng.articles_table.manifest() or {}
    report: dict = {
        "recover_engine_init_secs": recover_secs,
        "seen_recovered_flag": bool(
            seen_man.get("lineage", {}).get("recovered")),
        "resume_from_round": art_man.get("lineage", {}).get("round"),
        "articles_at_resume": eng.articles_table.read().count(),
        "seen_at_resume": eng.seen().count(),
        "rounds": [],
    }
    start = datetime(2017, 4, 1, tzinfo=timezone.utc)
    prev = report["articles_at_resume"]
    flat = 0
    for _ in range(10):
        t0 = time.monotonic()
        eng.run(seeds, 1, start_ts=start, round_gap_secs=GAP_SECS)
        n = eng.articles_table.read().count()
        report["rounds"].append({
            "round": eng.articles_table.manifest()["lineage"]["round"],
            "secs": round(time.monotonic() - t0, 3),
            "articles_total": n,
        })
        # drained when the table stops growing two rounds running (one
        # flat round alone could be a budget shape, not the drain)
        flat = flat + 1 if n == prev else 0
        prev = n
        if n >= N_PAGES or flat >= 2:
            break
    arts = eng.articles_table.read()
    from pyspark.sql import functions as F
    report["final_articles"] = arts.count()
    report["distinct_urls"] = arts.select("url_canon").distinct().count()
    report["duplicate_urls"] = (
        arts.groupBy("url_canon").count().filter(F.col("count") > 1)
        .count())
    # close the accounting: URLs the drained crawl never committed must
    # be EXACTLY the corpus's fake-404 pages — the reference's fake404
    # middleware raises before the item path, so they re-try every round
    # and never commit (crawl.py items filter). Anything else missing
    # would be a URL the kill lost.
    from risjbot_spark.schema import HTTP_DATE_FMT
    from risjbot_spark.udfs import extract_article_udf
    missing = (eng.pages.join(
        arts.select(F.col("url_canon").alias("page_url")),
        "page_url", "left_anti"))
    # ONE extraction pass over the missing set: both numbers fall out
    # of a single groupBy, so the pandas UDF doesn't run twice
    by_status = {r["status"]: r["count"] for r in missing.withColumn(
        "article", extract_article_udf(
            F.col("html"), F.col("page_url"),
            F.date_format("warc_ts", HTTP_DATE_FMT),
            F.lit(None).cast("string"))).select("article.status")
        .groupBy("status").count().collect()}
    report["missing_urls"] = sum(by_status.values())
    report["missing_non_fake404"] = sum(
        n for s, n in by_status.items() if s != "fake404")
    # the other side of set equality: no fake-404 page may have been
    # COMMITTED (a recovery path that replayed a round past the items
    # filter would show up here, not in the missing set)
    report["committed_fake404"] = arts.filter(
        F.col("status") == "fake404").count()
    report["driver_rss_mb"] = round(_rss_mb(), 1)
    print("PHASE2 " + json.dumps(report), flush=True)


def _run_leg(frac: float, env: dict) -> dict:
    """One kill-and-resume campaign: phase1 → SIGKILL at `frac` of
    round 1's wall time into round 2 → phase2 drain + audit."""
    wh = tempfile.mkdtemp(prefix="risjbot_rk_wh_")
    leg: dict = {"kill_frac_of_round": frac, "phase1_rounds": []}
    p = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--child1", wh],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        start_new_session=True, cwd=REPO, env=env)
    def _kill_group() -> None:
        try:
            os.killpg(os.getpgid(p.pid), signal.SIGKILL)
        except ProcessLookupError:
            pass            # child (and so its group) already gone

    kill_after_round = 1
    killed_at = None
    try:
        for line in p.stdout:
            line = line.strip()
            if not line.startswith("{"):
                continue
            try:
                ev = json.loads(line)
            except ValueError:
                continue    # line truncated by the kill mid-print
            if ev.get("event") != "round_done":
                continue
            leg["phase1_rounds"].append(ev)
            if ev["round"] == kill_after_round:
                delay = ev["secs"] * frac
                time.sleep(delay)
                _kill_group()
                killed_at = round(delay, 3)
                break
    finally:
        if p.poll() is None:
            _kill_group()
        # drain lines the child printed before the SIGKILL landed: a
        # long sleep can overshoot into round 3+, and dropping the
        # buffered round_done events would misdocument WHICH commit
        # boundary the kill exercised (phase2's resume_from_round is
        # the authoritative cross-check)
        for line in p.stdout:
            line = line.strip()
            if not line.startswith("{"):
                continue
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            if ev.get("event") == "round_done":
                leg["phase1_rounds"].append(ev)
        p.wait()
    leg["kill_delay_after_round1_commit_secs"] = killed_at
    leg["rounds_committed_before_kill"] = (
        max((ev["round"] for ev in leg["phase1_rounds"]), default=None))
    if killed_at is None:
        leg["error"] = "phase1 never reached the kill point"
        leg["warehouse_kept"] = wh
        return leg

    # phase 2 in its own session too: on timeout the group kill takes
    # the Spark JVM down with the Python child instead of orphaning it
    p2 = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--child2", wh],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        start_new_session=True, cwd=REPO, env=env)
    try:
        out2, err2 = p2.communicate(timeout=3600)
    except subprocess.TimeoutExpired:
        try:
            os.killpg(os.getpgid(p2.pid), signal.SIGKILL)
        except ProcessLookupError:
            pass
        p2.wait()
        leg["error"] = "phase2 timed out after 3600s"
        leg["warehouse_kept"] = wh
        return leg
    if p2.returncode != 0:
        leg["error"] = err2[-2000:]
        leg["warehouse_kept"] = wh
        return leg
    for line in out2.splitlines():
        if line.startswith("PHASE2 "):
            leg["phase2"] = json.loads(line[len("PHASE2 "):])
    ph2 = leg.get("phase2", {})
    # exactly-once over the EXTRACTABLE corpus, both directions of the
    # set equality: no duplicates, every uncommitted URL verified
    # fake-404, no fake-404 committed, and the two sets partition the
    # corpus exactly
    leg["invariant_exactly_once"] = (
        ph2.get("duplicate_urls") == 0
        and ph2.get("final_articles") == ph2.get("distinct_urls")
        and ph2.get("missing_non_fake404") == 0
        and ph2.get("committed_fake404") == 0
        and ph2.get("final_articles", 0) + ph2.get("missing_urls", 0)
        == N_PAGES)
    if leg["invariant_exactly_once"]:
        import shutil
        shutil.rmtree(wh, ignore_errors=True)
    else:
        # a FAILED run's warehouse is the forensic evidence (duplicated
        # commits, snapshot manifests) — never delete it
        leg["warehouse_kept"] = wh
    return leg


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--child1":
        child_phase1(sys.argv[2])
        return 0
    if len(sys.argv) > 1 and sys.argv[1] == "--child2":
        child_phase2(sys.argv[2])
        return 0

    env = {**os.environ}
    fracs = [float(x) for x in os.environ.get(
        "SPARK_GRAFT_RK_KILL_FRACS", "0.5,0.95").split(",")]
    out: dict = {
        "ts": datetime.now(timezone.utc).isoformat(timespec="seconds"),
        "n_pages": N_PAGES, "cpus": CPUS, "buckets": BUCKETS,
        "budget_per_host_round": BUDGET,
        "protocol": ("per leg: phase1 crawls rounds under a 12%-of-pages "
                     "per-host budget; parent SIGKILLs the process GROUP "
                     "(JVM included) at kill_frac × round-1-secs into "
                     "round 2; phase2 resumes the same warehouse cold "
                     "and drains the frontier; invariant: every "
                     "extractable url exactly once, missing == fake404 "
                     "set exactly"),
        "runs": [_run_leg(f, env) for f in fracs],
    }
    out["invariant_exactly_once_all"] = all(
        leg.get("invariant_exactly_once") for leg in out["runs"])
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    return 0 if out["invariant_exactly_once_all"] else 2


if __name__ == "__main__":
    sys.exit(main())
