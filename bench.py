"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line
{"metric", "value", "unit", "queries", "sf", ...extras}.

Headline metric: end-to-end crawl-round throughput (URLs fetched +
extracted per second) over the synthetic Common-Crawl-style corpus —
BASELINE.json's target metric. Extra keys carry urls/sec and corpus size
so the scaling harness (tools/bench_scaling.py) can compute N→4N
efficiency into BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import statistics as st
import sys
import time
from datetime import datetime, timezone

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# corpus rows ∝ sf: sf0.1 → 24k pages (≈0.9 GB of HTML end-to-end)
_SF_GUESS = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1] or "0.1")
N_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", str(int(240_000 * _SF_GUESS))))


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _host_delivery_probe(procs: int, quantum: int = 10_000_000) -> float:
    """ops/s of a pure-python busy fleet at `procs` processes — the
    box's CPU delivery at bench time, recorded INTO the bench output so
    cross-round comparisons can normalize for co-tenant noise (identical
    code has measured 2-3× apart purely by load window on this shared
    VM; see BENCH/BASELINE.md methodology). ~2 s, runs before Spark
    starts. SPARK_GRAFT_BENCH_PROBE=0 skips it."""
    import multiprocessing as mp

    with mp.Pool(procs) as p:
        t0 = time.monotonic()
        p.map(_burn_quantum, [quantum] * procs)
        dt = time.monotonic() - t0
    return round(procs * quantum / dt)


def _burn_quantum(n: int) -> int:
    x = 0
    for i in range(n):
        x += i
    return x


def mor_step_summary(series: list[float], trim_every: int) -> dict:
    """Rounds after the first compaction that do not compact: the slope
    of their wall (s/round; ~0 ⇔ no creep) and `compaction_step`, their
    median over the warm pre-compaction rounds 1..trim_every-1."""
    post = [(r, s) for r, s in enumerate(series)
            if r > trim_every and r % trim_every]
    head = series[1:trim_every]
    return {"post_compaction_slope_s_per_round": (
                round(st.linear_regression(*zip(*post)).slope, 4)
                if len(post) >= 2 else None),
            "compaction_step": (
                round(st.median(s for _, s in post) / st.median(head), 3)
                if post and head else None)}


def main() -> None:
    host_mops, probe_procs = None, min(2 * CPUS, 32)
    if os.environ.get("SPARK_GRAFT_BENCH_PROBE", "1") != "0":
        try:
            host_mops = _host_delivery_probe(probe_procs)
        except Exception:
            # auxiliary diagnostic only — a locked-down container where
            # multiprocessing can't start (no /dev/shm, no semaphores)
            # must not abort the headline bench
            host_mops = None

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("risjbot-bench")
        .config("spark.sql.shuffle.partitions", str(max(CPUS, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "6g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import tempfile

    from risjbot_spark.corpus import pages_df
    from risjbot_spark.crawl import CrawlConfig, CrawlEngine
    from risjbot_spark.frontier.state import RefetchConfig
    from risjbot_spark.queries import QUERIES

    timings: dict[str, float] = {}

    # ---- corpus materialization (NOT timed: input data, not engine work)
    # corpus partition count derives from SIZE, never from CPUS: the
    # parquet layout is shared between scaling runs (same cache path), and
    # a scan with exactly-CPUS splits runs as ONE wave of tasks — a single
    # straggler then idles every other core (measured: 4→16 threads scaled
    # at 0.54 with 16 files vs 0.94 raw-CPU). ~250 pages/split gives every
    # parallelism level 4+ waves to balance over.
    corpus_parts = max(16, min(128, N_PAGES // 250))
    pages_path = os.path.join(
        tempfile.gettempdir(), f"risjbot_bench_pages_{N_PAGES}")
    if not os.path.exists(os.path.join(pages_path, "_SUCCESS")):
        pages_df(spark, N_PAGES, partitions=corpus_parts) \
            .write.mode("overwrite").parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    seeds = pages.select("url").withColumn("priority", F.lit(0))

    # ---- headline: one full crawl round (fetch+extract end to end).
    # maxfetches sized from the round count: the default (8) would make
    # rounds 8+ fetch NOTHING and the near-empty round's time would
    # silently inflate crawl_urls_per_sec_warm
    n_rounds = int(os.environ.get("SPARK_GRAFT_BENCH_ROUNDS", "3"))
    wh = tempfile.mkdtemp(prefix="risjbot_bench_wh_")
    eng = CrawlEngine(
        spark, wh, pages, robots=None,
        cfg=CrawlConfig(refetch=RefetchConfig(maxfetches=max(8, n_rounds + 1)),
                        num_partitions=max(CPUS, 8)),
    )
    start = datetime(2017, 4, 1, tzinfo=timezone.utc)
    t0 = time.monotonic()
    eng.run_round(seeds, 0, start)
    crawl_secs = time.monotonic() - t0
    n_articles = eng.articles_table.read().count()
    timings["crawl_round"] = round(crawl_secs, 3)

    # warm rounds: every URL is refetch-eligible again (ts += refetchsecs),
    # so each round re-fetches+re-extracts the full corpus — steady-state
    # throughput without JVM/python-worker cold start, for scaling runs
    warm_best = None
    for r in range(1, n_rounds):
        from datetime import timedelta
        t0 = time.monotonic()
        eng.run_round(seeds, r, start + timedelta(
            seconds=r * eng.cfg.refetch.refetchsecs))
        dt = time.monotonic() - t0
        timings[f"crawl_round_{r}"] = round(dt, 3)
        warm_best = dt if warm_best is None else min(warm_best, dt)

    # ---- merge-on-read sustained-rounds series (VERDICT r1 #9): a long
    # round loop on a reduced corpus, per-round wall time + the
    # seen-commit phase; compaction every trim_every=4 folds deltas back,
    # and mor_step_summary reports the post-compaction step and slope.
    mor_rounds = int(os.environ.get("SPARK_GRAFT_BENCH_MOR_ROUNDS", "32"))
    # driver-Python RSS per round shows whether the seen pre-filter
    # grows driver memory as the series accumulates keys
    mor_series: list[float] = []
    mor_commit: list[float] = []
    mor_rss: list[int] = []

    def _driver_rss_mb() -> int:
        with open("/proc/self/status") as f:
            for line in f:
                if line.startswith("VmRSS"):
                    return int(line.split()[1]) // 1024
        return -1

    if mor_rounds > 0:
        from datetime import timedelta

        mor_pages_n = max(600, N_PAGES // 20)
        mor_pages = pages.limit(mor_pages_n).cache()
        mor_pages.count()
        mor_seeds = mor_pages.select("url").withColumn("priority", F.lit(0))
        mor_eng = CrawlEngine(
            spark, tempfile.mkdtemp(prefix="risjbot_bench_mor_"),
            mor_pages, robots=None,
            cfg=CrawlConfig(
                refetch=RefetchConfig(maxfetches=mor_rounds + 1,
                                      refetchsecs=3600),
                num_partitions=max(CPUS, 8)),
        )
        for r in range(mor_rounds):
            perf: dict = {}
            t0 = time.monotonic()
            mor_eng.run_round(mor_seeds, r,
                              start + timedelta(seconds=r * 3600),
                              perf=perf)
            mor_series.append(round(time.monotonic() - t0, 3))
            mor_commit.append(perf.get("seen_merge_commit", 0.0))
            mor_rss.append(_driver_rss_mb())
        mor_pages.unpersist()
        timings["mor_rounds_total"] = round(sum(mor_series), 3)

    # ---- relational / training-data operator suite on the sf tables
    # (skippable for scaling legs, which only need the crawl series:
    # SPARK_GRAFT_BENCH_SUITE=0)
    run_suite = os.environ.get("SPARK_GRAFT_BENCH_SUITE", "1") != "0"
    bench_queries = [] if not run_suite else [
        "politeness_window", "sessionize",
        "link_rank",
        "exact_dedup", "minhash_signature", "lsh_dup_pairs",
        "ngram_jaccard_pairs", "dedup_clusters", "incremental_dedup",
        "simhash_dup_pairs", "embedding_near_dup",
        "ann_cosine_topk", "ivf_kmeans_search", "ivf_batch_search",
        "ivf_store_search",
        "lang_id",
        "doc_fingerprint",
        "quality_score", "token_count",
        "repetition_signals", "decontaminate",
        "quality_gate_docs", "mix_report", "mix_sample_docs",
        "boilerplate_strip_docs", "pii_scrub_docs",
        "dup_span_strip", "pack_sequences", "holdout_split",
        "curate_docs", "warc_roundtrip", "cluster_split",
        "corpus_stats", "quality_classifier", "dsir_scores",
    ]
    for name in bench_queries:
        t0 = time.monotonic()
        _noop(QUERIES[name](spark, SF_DIR))
        timings[name] = round(time.monotonic() - t0, 3)

    recall = {}
    if run_suite:
        # ANN recall@10 vs the exact brute-force baseline: how many of
        # the true top-10 the nprobe=3 IVF search over the Lloyd k-means
        # index returns
        truth = {r.vec_id
                 for r in QUERIES["ann_cosine_topk"](spark, SF_DIR).collect()}
        got = {r.vec_id for r in
               QUERIES["ivf_kmeans_search"](spark, SF_DIR).collect()}
        recall["ivf_kmeans_search_recall_at_10"] = round(
            len(truth & got) / max(len(truth), 1), 2)

    if run_suite:
        # multimodal feature-extraction throughput (binary → 64-d features)
        from risjbot_spark.multimodal import extract_features, synthetic_media
        media = synthetic_media(spark, int(N_PAGES // 2),
                                partitions=max(CPUS, 8))
        t0 = time.monotonic()
        _noop(extract_features(media))
        timings["multimodal_features"] = round(time.monotonic() - t0, 3)

        # JSONL compat sink over one round of articles
        from risjbot_spark.sinks import to_jsonl_compat
        t0 = time.monotonic()
        _noop(to_jsonl_compat(eng.articles_table.read()))
        timings["jsonl_sink"] = round(time.monotonic() - t0, 3)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "total_bench_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _SF_GUESS,
        "cpus": CPUS,
        "corpus_pages": N_PAGES,
        "crawl_articles": n_articles,
        "crawl_urls_per_sec": round(n_articles / crawl_secs, 1) if crawl_secs else None,
        "crawl_urls_per_sec_warm": (
            round(n_articles / warm_best, 1) if warm_best else None),
        # in-situ CPU-delivery marker (busy-loop ops/s at probe_procs
        # processes, measured just before Spark started): normalizes
        # CROSS-ROUND comparisons at the SAME cpus setting on this
        # co-tenant-noisy box. NOT comparable across different CPUS —
        # per-proc delivery is sublinear in proc count (see
        # BENCH/BASELINE.md); scaling legs use bench_scaling.py's own
        # two-point ceiling instead.
        "host_cpu_delivery_ops_per_sec": host_mops,
        "host_cpu_delivery_probe_procs": probe_procs,
    }
    if recall:
        out["ann_recall"] = recall
    if mor_series:
        warm = mor_series[1:]
        out["mor_rounds"] = mor_series
        out["mor_seen_commit_secs"] = mor_commit
        out["mor_driver_rss_mb"] = mor_rss
        out["mor_summary"] = {
            "rounds": len(mor_series),
            "pages_per_round": mor_pages_n,
            "cold": mor_series[0],
            "warm_median": round(st.median(warm), 3) if warm else None,
            "warm_best": round(min(warm), 3) if warm else None,
            "warm_last4_median": round(st.median(mor_series[-4:]), 3),
            **mor_step_summary(mor_series, mor_eng.cfg.trim_every),
        }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    sys.exit(main())
