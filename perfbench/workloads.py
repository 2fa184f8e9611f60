"""The benchmark workloads and their output checks.

Load model: batch, closed loop — each round or action starts when the
previous one returns; one driver process runs Spark `local[4]`, no
client threads. A workload first reuses (or builds) its seeded inputs,
untimed; then sets up `ctx.setups` times (a fresh Spark session on the
running JVM plus the engine or reader; the first only warms the JVM,
and `setup_s` is the median CPU seconds of the others); then runs its
timed steps on the last set-up; then checks every output outside the
timed region.

Each workload returns a `Result`: the end-to-end metrics under the
names BENCHMARK.json declares (the same for every workload), the
workload's own metric names printed for readers, the per-step split of
the work, and the state the traced run's layer replay needs.

How the per-workload names read:

  metric          crawl_churn                    journey
  setup_s         CPU seconds of one set-up:     CPU seconds of one set-up:
                  session + CrawlEngine          session + WARC reader
  cpu_s_per_item  CPU seconds of the series      CPU seconds of the pass
                  per URL fetched                per page
  items_per_s     URLs fetched / series wall     pages / pass wall
                  (printed, not bounded: wall time follows the host's
                  CPU steal; so does setup_wall_s)
"""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

from pyspark.sql import Observation
from pyspark.sql import functions as F

from . import inputs

START = datetime(2017, 4, 1, tzinfo=timezone.utc)
SIZES = {"crawl_churn": 400, "journey": 100}
# set-ups per untimed-trace run, the first of them discarded: a churn
# set-up builds a CrawlEngine (~2.5 s warm on a 4-core host), a journey
# set-up a WARC reader (~0.5 s)
SETUPS = {"crawl_churn": 4, "journey": 9}
# wall of one timed step on a 4-core host; a run makes
# max(1, round(seconds / this)) steps, the same number on every run of
# one workload and budget
NOMINAL_STEP_S = {"crawl_churn": 25, "journey": 40}
# the churn series: round 1 starts from an empty warehouse (the bloom
# pre-filter routes every row past the seen join); round 2 gates against
# the merge-on-read seen table, re-fetches round 1's URLs and runs trim
# + compaction (trim_every=2)
CHURN_ROUNDS = range(1, 3)
CHURN_SPACING = 3600
JOURNEY_SHARDS = 16
# the journey's curate chain (near_dedup geometry per the 4x6 finding
# in dedup.minhash_dedup's docstring). Boilerplate strip and the quality
# gate are left out of the timed chain: upstream of near-dedup each is
# re-evaluated on every connected-components iteration (the quality gate
# takes curate() from 15 s to 40 s, 105 Spark jobs, at 210 docs), which
# prices a pass out of the run budget; the traced run measures both
# alone.
CURATE_OPTS = dict(near_dedup={"num_bands": 4, "rows_per_band": 6},
                   span_dedup={}, span_dedup_after_near_dedup=True,
                   decontam={})


@dataclass
class Result:
    metrics: dict = field(default_factory=dict)     # BENCHMARK.json names
    named: list = field(default_factory=list)       # (name, value, unit)
    steps: list = field(default_factory=list)       # per step split
    attempted: int = 0
    failed: int = 0
    checks: dict = field(default_factory=dict)      # name -> (ok, detail)
    replay: dict = field(default_factory=dict)      # state for layers.py

    def check(self, name: str, ok: bool, detail) -> None:
        """Record an output check; a failed one counts as a failed op."""
        self.checks[name] = (bool(ok), detail)
        self.attempted += 1
        if not ok:
            self.failed += 1


class Ctx:
    """Per-run context: the session factory, the run's work directory,
    the tracer, the timing budget and the number of set-ups."""

    def __init__(self, base, workload, seed, seconds, tracer, session,
                 setups):
        self.base = base
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.session = session
        self.setups = setups
        self.work = self.work_dir(base, workload)
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self._n = 0
        self._t0 = time.monotonic()
        self.timeline: list = []    # (phase, seconds since the Ctx began)
        self.setup_walls: list = []
        self.setup_cpus: list = []

    def mark(self, phase: str) -> None:
        self.timeline.append((phase, time.monotonic() - self._t0))

    @staticmethod
    def work_dir(base: str, workload: str) -> str:
        """This process's scratch directory for one workload."""
        return os.path.join(base, "work", f"{workload}-{os.getpid()}")

    @property
    def steps(self) -> int:
        return max(1, round(self.seconds / NOMINAL_STEP_S[self.workload]))

    def fresh_dir(self, kind: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{kind}{self._n}")

    def setup(self, build):
        """setups x (fresh session + build()) → (spark, last built),
        recording each set-up's wall and CPU seconds. The session
        restart reuses the running JVM."""
        built = None
        for _ in range(self.setups):
            self.session.stop()
            t0, cpu0 = time.monotonic(), tree_cpu_s()
            spark = self.session.start()
            built = build(spark)
            self.setup_cpus.append(tree_cpu_s() - cpu0)
            self.setup_walls.append(time.monotonic() - t0)
        self.mark("setup")
        return spark, built

    def setup_s(self, samples: list) -> float:
        """Median over the set-ups but the first, which pays the JVM's
        warm-up (5-15 s)."""
        return statistics.median(samples[1:] or samples)


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    descendant — the Spark JVM and its Python workers — including
    descendants that have exited and been reaped. Unlike wall time it
    does not count time the host's hypervisor gives to other guests."""
    tck = os.sysconf("SC_CLK_TCK")
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:   # exited while listing
            continue
        # fields[1] is ppid; [11:15] utime, stime, cutime, cstime
        stats[int(pid)] = (int(fields[1]),
                           sum(int(x) for x in fields[11:15]))
    children: dict = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return total / tck


def _finish(ctx: Ctx, res: Result, rate: float) -> None:
    walls = [s["wall_s"] for s in res.steps]
    items = sum(s["articles"] for s in res.steps)
    # the Python driver's peak RSS; the JVM's heap follows its -Xmx and
    # its GC timing, so its RSS is printed but not bounded
    rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    setup_s = ctx.setup_s(ctx.setup_cpus)
    res.metrics.update({
        "setup_s": (setup_s, "s"),
        "cpu_s_per_item": (sum(s["cpu_s"] for s in res.steps) / items, "s"),
        "driver_rss_mb": (rss, "MB"),
    })
    res.named += [("setup_s", setup_s, "s"),
                  ("setup_wall_s", ctx.setup_s(ctx.setup_walls), "s"),
                  ("items_per_s", rate, "items/s"),
                  ("driver_rss_mb", rss, "MB"),
                  ("jvm_rss_mb", ctx.session.jvm_peak_rss_mb(), "MB"),
                  ("pass_wall_s", sum(walls), "s"),
                  ("step_walls_s", walls, "s")]


def workload_inputs(session, base: str, workload: str, seed: int):
    """The workload's seeded inputs → (path, meta), built and cached on
    first use: the churn corpus with pyarrow, the journey segment with
    Spark (the session is started if it is not running)."""
    size = SIZES[workload]
    if workload == "journey":
        return inputs.journey_segment(session.spark or session.start(),
                                      base, seed, size)
    return inputs.crawl_corpus(base, workload, seed, size)


def percentile_with_tail(samples: list[float], min_tail: int = 10):
    """Highest of p50/p90/p99 with at least `min_tail` samples beyond
    it → (label, value), or None when even the median lacks the tail."""
    s = sorted(samples)
    best = None
    for p in (50, 90, 99):
        k = int(len(s) * p / 100)
        if len(s) - k - 1 >= min_tail:
            best = (f"p{p}", s[k])
    return best


# ---------------------------------------------------------------- crawl

def _crawl_engine(spark, ctx, pages_path, robots, cfg):
    from risjbot_spark.crawl import CrawlEngine

    return CrawlEngine(spark, ctx.fresh_dir("wh"),
                       spark.read.parquet(pages_path), robots, cfg)


def _round(ctx, res, eng, seeds, r, ts, label):
    perf: dict = {}
    res.attempted += 1
    cpu0 = tree_cpu_s()
    with ctx.tracer.span(f"{label}.round{r}", "pass.crawl") as sp:
        lineage = eng.run_round(seeds, r, ts, perf=perf)
    n = sum(lineage.get("per_partition_extracted", {}).values())
    step = {"label": label, "round": r, "wall_s": sp["wall_s"],
            "cpu_s": tree_cpu_s() - cpu0, "articles": n, "phases": perf}
    res.steps.append(step)
    return step


def corpus_truth(spark, pages_path):
    """url_canon → the generated page text, the byte-exact extraction
    target of every committed article."""
    from risjbot_spark.urlnorm import with_canonical

    return with_canonical(spark.read.parquet(pages_path).select(
        "url", "text")).select("url_canon", "text")


def check_bodytext(res, label, arts, truth) -> None:
    """Every committed article's bodytext is byte-identical to the
    generated corpus text for its URL (BASELINE's per-row invariant)."""
    bad = (arts.select("url_canon", "bodytext")
           .join(truth, "url_canon", "left")
           .filter(~F.col("bodytext").eqNullSafe(F.col("text"))).count())
    res.check(f"{label}.bodytext_identical", bad == 0,
              {"mismatched_rows": bad})


def churn_seeds(meta: dict) -> list[dict]:
    from risjbot_spark.corpus import url_for

    out = []
    for i in range(*meta["ids"]):
        pri = (100 if i % 50 == 0 else 10 if i % 17 == 0
               else 5 if i % 13 == 0 else 0)
        out.append({"url": url_for(i), "priority": pri})
    return out


def churn_oracle(meta: dict, cfg, seeds: list[dict]):
    """frontier.oracle.CrawlOracle replay of the whole series →
    (per-round fetched URL sets, final seen url → fetches)."""
    from risjbot_spark.corpus import robots_rows, url_for
    from risjbot_spark.frontier.oracle import CrawlOracle
    from risjbot_spark.frontier.politeness import parse_robots
    from risjbot_spark.urlnorm import canonicalize_py

    ids = range(*meta["ids"])
    rules = {r["host"]: parse_robots(r["robots_txt"]) for r in robots_rows()}
    fake = {canonicalize_py(url_for(i)) for i in inputs.fake404_ids(ids)}
    orc = CrawlOracle({canonicalize_py(url_for(i)) for i in ids}, rules,
                      cfg.refetch, cfg.default_budget, cfg.round_seconds,
                      fake404=fake)
    requested = {canonicalize_py(s["url"]) for s in seeds}
    rounds = {}
    for r in CHURN_ROUNDS:
        ts = START + timedelta(seconds=r * CHURN_SPACING)
        log = orc.run_round([dict(s, discovered_ts=ts) for s in seeds], r, ts)
        rounds[r] = {u for (_, u, _) in log}
        if r % cfg.trim_every == 0:
            orc.trim(requested, ts)
    return rounds, {u: nf for u, (nf, _) in orc.seen.items()}


def churn_config():
    from risjbot_spark.crawl import CrawlConfig
    from risjbot_spark.frontier.state import RefetchConfig

    # Crawl-delay 1 on the hot host gives it round_seconds fetches per
    # round; every other host gets default_budget. Refetch re-enters a
    # URL one round after its fetch; trim+compaction every 2nd round.
    return CrawlConfig(
        refetch=RefetchConfig(maxfetches=3, refetchsecs=CHURN_SPACING),
        default_budget=15, round_seconds=60, num_partitions=4,
        trim_every=2)


def crawl_churn(ctx: Ctx) -> Result:
    """Fixed series of small budget-capped rounds with robots rules:
    per-round fixed costs (planning, the merge-on-read seen gate,
    politeness, snapshot commits, compaction, bloom save) dominate."""
    from risjbot_spark.corpus import robots_rows
    from risjbot_spark.schema import ROBOTS_SCHEMA

    res = Result()
    pages_path, meta = workload_inputs(ctx.session, ctx.base, ctx.workload,
                                       ctx.seed)
    ctx.mark("inputs")
    cfg = churn_config()
    seed_rows = churn_seeds(meta)

    def build(s):
        robots = s.createDataFrame(robots_rows(), ROBOTS_SCHEMA)
        return _crawl_engine(s, ctx, pages_path, robots, cfg)

    spark, eng = ctx.setup(build)
    seeds = spark.createDataFrame(seed_rows, "url string, priority int")
    engines, series = [], []
    for k in range(ctx.steps):
        e = eng if k == 0 else build(spark)
        engines.append(e)
        t0 = time.monotonic()
        for r in CHURN_ROUNDS:
            _round(ctx, res, e, seeds, r,
                   START + timedelta(seconds=r * CHURN_SPACING),
                   f"series{k + 1}")
        series.append(time.monotonic() - t0)
    walls = [s["wall_s"] for s in res.steps]
    fetched = sum(s["articles"] for s in res.steps)
    _finish(ctx, res, fetched / sum(series))
    tail = percentile_with_tail(walls)
    res.named += [
        ("churn_series_s", statistics.median(series), "s"),
        ("churn_round_s_p50", statistics.median(walls), "s"),
        ("churn_round_s_p90",
         tail[1] if tail and tail[0] != "p50" else None,
         f"s (n={len(walls)} rounds; highest percentile with >=10 "
         f"beyond: {tail[0] if tail else 'none'}; prove.py pools runs)")]
    res.replay.update(engine=engines[-1], pages_path=pages_path, meta=meta,
                      next_ts=START + timedelta(
                          seconds=(CHURN_ROUNDS[-1] + 1) * CHURN_SPACING))
    ctx.mark("steps")

    # ---- output checks (untimed): engine vs the in-memory oracle, and
    # every article byte-identical to the corpus
    want_rounds, want_seen = churn_oracle(meta, cfg, seed_rows)
    truth = corpus_truth(spark, pages_path)
    for k, e in enumerate(engines, start=1):
        arts = e.articles_table.read()
        check_bodytext(res, f"series{k}", arts, truth)
        got_rounds = {r: set() for r in CHURN_ROUNDS}
        for row in arts.select("round", "url_canon").collect():
            got_rounds.setdefault(row["round"], set()).add(row["url_canon"])
        got_seen = {r["url"]: r["fetches"]
                    for r in e.seen().select("url", "fetches").collect()}
        check_churn(res, f"series{k}", got_rounds, want_rounds,
                    got_seen, want_seen)
    ctx.mark("checks")
    return res


def check_churn(res, label, got_rounds, want_rounds, got_seen, want_seen):
    """Per-round fetched URL sets and the final seen set (url →
    fetches) equal the oracle's."""
    diff = sorted(set(want_rounds) | set(got_rounds))
    diff = [r for r in diff if got_rounds.get(r) != want_rounds.get(r)]
    res.check(f"{label}.fetched_sets_match_oracle", not diff,
              {"rounds_differing": diff,
               "fetched_per_round": {r: len(g) for r, g in
                                     got_rounds.items()}})
    missing = sorted(set(want_seen) - set(got_seen))
    wrong = sorted(u for u in got_seen if got_seen[u] != want_seen.get(u))
    res.check(f"{label}.seen_matches_oracle", got_seen == want_seen,
              {"seen_rows": len(got_seen), "missing": missing[:5],
               "n_missing": len(missing), "wrong": wrong[:5],
               "n_wrong": len(wrong)})


# -------------------------------------------------------------- journey

def journey_reader(spark, seg):
    from risjbot_spark.sources.warc import read_warc, records_to_pages

    return records_to_pages(read_warc(spark, seg, split_by_cdx=True))


def extract_articles(pages):
    from risjbot_spark.schema import HTTP_DATE_FMT
    from risjbot_spark.udfs import extract_article_udf

    return (pages
            .withColumn("article", extract_article_udf(
                F.col("html"), F.col("url"),
                F.date_format("warc_ts", HTTP_DATE_FMT),
                F.lit(None).cast("string")))
            .select("warc_ts", "article.*")
            .filter((F.col("status") != "fake404")
                    & F.col("bodytext").isNotNull()))


def eval_df(spark, texts):
    """The decontamination evaluation set, with the id column
    textquality.decontaminate expects."""
    return spark.createDataFrame(
        [(f"eval-{k}", t) for k, t in enumerate(texts)],
        "url string, bodytext string")


def journey(ctx: Ctx) -> Result:
    """WARC segment → read (CDX splits) → extract → curate → shards."""
    from risjbot_spark.pipeline import curate
    from risjbot_spark.shards import write_training_shards

    res = Result()
    seg, meta = workload_inputs(ctx.session, ctx.base, ctx.workload,
                                ctx.seed)
    ctx.mark("inputs")
    n_in = meta["inputs"]
    spark, reader = ctx.setup(
        lambda s: journey_reader(s, seg))
    ev = eval_df(spark, meta["eval_texts"])
    outputs = []
    span = ctx.tracer.span
    for k in range(ctx.steps):
        a_dir, s_dir = ctx.fresh_dir("articles"), ctx.fresh_dir("shards")
        res.attempted += 1
        cpu0 = tree_cpu_s()
        with span(f"pass{k + 1}", "pass") as sp:
            with span("read_extract", "pass.read_extract") as sx:
                extract_articles(reader).write.parquet(a_dir)
            articles = spark.read.parquet(a_dir).select("url", "bodytext")
            with span("curate", "pass.curate") as sc:
                cur = curate(articles, "url", "bodytext", decontam_eval=ev,
                             observe=False, **CURATE_OPTS)
            # the curated row count rides the shard write's own job
            curated = Observation()
            with span("write_shards", "pass.write_shards") as ss:
                manifest = write_training_shards(
                    cur.docs.observe(curated, F.count(F.lit(1)).alias("n")),
                    s_dir, n_shards=JOURNEY_SHARDS, id_col="url")
        res.steps.append({
            "label": f"pass{k + 1}", "wall_s": sp["wall_s"],
            "cpu_s": tree_cpu_s() - cpu0, "articles": n_in,
            "phases": {"read_extract": sx["wall_s"],
                       "curate_call": sc["wall_s"],
                       "shard_write": ss["wall_s"]}})
        outputs.append((a_dir, s_dir, manifest, curated.get["n"]))
    ext = statistics.median(s["phases"]["read_extract"] for s in res.steps)
    cs = statistics.median(s["phases"]["curate_call"]
                           + s["phases"]["shard_write"] for s in res.steps)
    p50 = statistics.median(s["wall_s"] for s in res.steps)
    _finish(ctx, res, n_in / p50)
    res.named += [("journey_pages_per_s", n_in / p50, "pages/s"),
                  ("journey_extract_s", ext, "s"),
                  ("journey_curate_shard_s", cs, "s")]
    res.replay.update(seg=seg, meta=meta, articles_dir=outputs[-1][0],
                      shards_dir=outputs[-1][1], manifest=outputs[-1][2],
                      curated_rows=outputs[-1][3])
    ctx.mark("steps")

    # ---- output checks (untimed)
    for k, (a_dir, s_dir, manifest, n_cur) in enumerate(outputs, start=1):
        check_journey(res, f"pass{k}", spark.read.parquet(a_dir),
                      spark.read.parquet(s_dir), manifest, n_cur, meta)
    ctx.mark("checks")
    return res


def check_journey(res, label, arts, shards, manifest, n_curated, meta):
    """The manifest's row total equals the curated row count (counted
    as curate()'s output entered the shard writer); no id twice (within
    or across shards); every planted twin pair whose two pages reach
    near-dedup (the first stage) with non-empty text leaves exactly one
    survivor, and no planted evaluation-set leak survives
    decontamination. Pairs emptied by extraction are reported, not
    failed."""
    n_manifest = sum(manifest["rows"].values())
    res.check(f"{label}.manifest_rows", n_manifest == n_curated,
              {"curated": n_curated, "manifest": n_manifest})
    dup = (shards.groupBy("url")
           .agg(F.count("*").alias("n"),
                F.countDistinct("shard").alias("k"))
           .filter("n > 1 OR k > 1").count())
    res.check(f"{label}.ids_unique", dup == 0, {"duplicated_ids": dup})

    twins = meta["twins"]
    members = [u for pair in twins for u in pair]
    reached = {r["url"] for r in
               arts.filter(F.col("url").isin(members)
                           & (F.length(F.trim("bodytext")) > 0))
               .select("url").collect()}
    kept = {r["url"] for r in shards.filter(
        F.col("url").isin(members + meta["leaks"])).select("url").collect()}
    pairs = [p for p in twins if p[0] in reached and p[1] in reached]
    bad = [p for p in pairs if len(kept & set(p)) != 1]
    res.check(f"{label}.twins_one_survivor", bool(pairs) and not bad,
              {"pairs": len(twins), "reached_near_dedup": len(pairs),
               "emptied_before": len(twins) - len(pairs),
               "violations": bad[:3]})
    leaked = sorted(kept & set(meta["leaks"]))
    res.check(f"{label}.leaks_dropped", not leaked, {"survived": leaked})


WORKLOADS = {"crawl_churn": crawl_churn, "journey": journey}
