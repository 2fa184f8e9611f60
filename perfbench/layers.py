"""Per-layer numbers for the traced run.

`replay()` calls each layer the workload exercises alone, on the traced
run's own inputs, materialized with a `noop` write (row counts ride an
Observation on that write) or, where a later replay reuses the result, a
persist. Each replay runs in a span whose Spark job group is the layer's
module name, so the event log splits task time and shuffle bytes by
layer.

  crawl_churn  crawl (the pass's own `run_round(perf=...)` phases),
               urlnorm, frontier.state, frontier.bloom,
               frontier.politeness and store.snapshots, against the
               engine state the series left
  journey      sources.warc, udfs, textquality, dedup, pipeline and
               shards, on the pass's segment, pages and articles

A layer the workload never calls reads 0 on that workload: no time
spent in it and no rows through it (BENCHMARK.json lists every name for
every traced run).

`per_layer()` turns the replay, the traced pass's split and the
event-log job-group totals into the per-layer metrics."""

from __future__ import annotations

import glob
import os
import statistics

from pyspark.sql import Observation
from pyspark.sql import functions as F

from .trace import merged
from .workloads import CURATE_OPTS, JOURNEY_SHARDS, eval_df, \
    journey_reader

HOT_HOST = "www.theguardian.com"
# every per-layer metric key, by layer module (= its Spark job group).
# The crawl keys are run_round's perf phases, which it rounds to 10 ms;
# bloom_save stays at that floor at these sizes, so it is not reported.
KEYS = {
    "crawl": ("plan_build_s", "extract_and_commit_s", "seen_merge_commit_s",
              "bloom_update_s"),
    "urlnorm": ("canonical_s", "rows"),
    "frontier.state": ("trawl_s", "trawl_rows", "seen_gate_s",
                       "seen_gate_rows_in", "seen_gate_rows_out",
                       "seen_deltas_resolved"),
    "frontier.bloom": ("split_s", "fresh_ratio"),
    "frontier.politeness": ("schedule_s", "rows_in", "rows_out",
                            "hot_host_share"),
    "store.snapshots": ("commit_s", "files_written", "bytes_written",
                        "live_snapshots", "live_data_files"),
    "sources.warc": ("read_s", "records", "split_tasks"),
    "textquality": ("boilerplate_s", "docs_emptied", "quality_s",
                    "quality_keep_ratio", "decontam_s", "decontam_dropped"),
    "dedup": ("signature_s", "candidate_pairs", "max_band_bucket",
              "verified_pairs", "verify_yield", "components_s",
              "span_strip_s"),
    "shards": ("write_s", "rows", "max_over_mean_rows"),
    "udfs": ("extract_s", "pages_per_cpu_s", "fake404_ratio"),
    "pipeline": ("curate_call_s", "recompute_factor"),
}
CRAWL_PHASES = dict(zip(
    ("plan_build", "extract_and_commit_articles", "seen_merge_commit",
     "bloom_update"), KEYS["crawl"]))
SPARK_KEYS = ("jobs", "tasks", "task_time_s", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes")
# Spark totals per layer job group; spill stays 0 per layer at these
# sizes, so only the pass total reports it
SPARK_LAYER_KEYS = ("jobs", "task_time_s", "shuffle_write_bytes",
                    "shuffle_read_bytes")


def unit(key: str) -> str:
    return ("pages/s" if key.endswith("_per_cpu_s") else
            "s" if key.endswith("_s") else
            "ratio" if key.endswith(("ratio", "yield", "share", "factor"))
            or "_over_" in key else
            "bytes" if "bytes" in key else "count")


def _noop(df, **aggs) -> dict:
    """Materialize df with a noop write; return its row count `n` plus
    any extra aggregates, all riding one Observation."""
    obs = Observation()
    exprs = [F.count(F.lit(1)).alias("n")] + [
        e.alias(k) for k, e in aggs.items()]
    df.observe(obs, *exprs).write.format("noop").mode("overwrite").save()
    return {k: (v or 0) for k, v in obs.get.items()}


def _persist_count(df):
    df = df.persist()
    return df, df.count()


def _files(paths) -> tuple[int, int]:
    """(parquet files, bytes) under the given files or directories."""
    found = []
    for p in paths:
        found += ([p] if os.path.isfile(p) else glob.glob(
            os.path.join(p, "**", "*.parquet"), recursive=True))
    return len(found), sum(os.path.getsize(p) for p in found)


def replay(spark, ctx, res, tracer) -> dict:
    """Replay the workload's layers → {layer: {key: value}}."""
    def span(name, layer):
        return tracer.span(f"replay.{name}", layer)

    if ctx.workload == "journey":
        return _replay_journey(spark, ctx, res.replay, span)
    return _replay_crawl(spark, ctx, res.replay, span)


def _replay_crawl(spark, ctx, rp, span) -> dict:
    from risjbot_spark.frontier.politeness import politeness_schedule
    from risjbot_spark.frontier.state import seen_filter, \
        trawl_candidates_pruned
    from risjbot_spark.store.snapshots import SnapshotTable
    from risjbot_spark.urlnorm import with_canonical

    out: dict = {}
    eng, next_ts = rp["engine"], rp["next_ts"]
    pages = spark.read.parquet(rp["pages_path"])

    with span("canonical", "urlnorm") as sp:
        r = _noop(with_canonical(pages.select("url")))
    out["urlnorm"] = {"canonical_s": sp["wall_s"], "rows": r["n"]}

    # ---- store.snapshots: one append commit of the series' articles
    # into a fresh table; live state from the engine's seen table
    arts = eng.articles_table.read().persist()
    arts.count()
    table = SnapshotTable(spark, ctx.fresh_dir("store"), "articles")
    with span("commit", "store.snapshots") as sp:
        table.commit(arts, mode="append")
    arts.unpersist()
    nf, nb = _files(table.manifest()["files"])
    live = eng.seen_table.manifest() or {"files": []}
    out["store.snapshots"] = {
        "commit_s": sp["wall_s"], "files_written": nf, "bytes_written": nb,
        "live_snapshots": len(eng.seen_table.snapshots()),
        "live_data_files": _files(live["files"])[0]}

    # ---- frontier.state: trawl and seen gate of the next round
    cfg = eng.cfg
    fr, n_fr = _persist_count(with_canonical(
        pages.select("url", F.lit(0).alias("priority"),
                     F.lit(next_ts).cast("timestamp")
                     .alias("discovered_ts"))))
    with span("trawl", "frontier.state") as sp:
        r = _noop(trawl_candidates_pruned(spark, eng.seen_table,
                                          cfg.refetch, next_ts))
    state = {"trawl_s": sp["wall_s"], "trawl_rows": r["n"]}
    with span("seen_gate", "frontier.state") as sp:
        gated, n_gated = _persist_count(
            seen_filter(fr, eng.seen(), cfg.refetch, next_ts))
    meta = live.get("file_meta", {})
    deltas = [d for d in live["files"]
              if not meta.get(d, {}).get("bucket_table")]
    out["frontier.state"] = {
        **state, "seen_gate_s": sp["wall_s"], "seen_gate_rows_in": n_fr,
        "seen_gate_rows_out": n_gated,
        "seen_deltas_resolved": (spark.read.parquet(*deltas).count()
                                 if deltas else 0)}

    # ---- frontier.bloom: the pre-filter split of the same frontier
    with span("bloom_split", "frontier.bloom") as sp:
        maybe, fresh = eng.bloom.split(fr, spark)
        _noop(maybe)
        n_fresh = _noop(fresh)["n"]
    out["frontier.bloom"] = {"split_s": sp["wall_s"],
                             "fresh_ratio": n_fresh / max(n_fr, 1)}

    # ---- frontier.politeness: budget window over the gated frontier
    with span("politeness", "frontier.politeness") as sp:
        r = _noop(politeness_schedule(gated, eng.budgets,
                                      cfg.default_budget, spark),
                  hot=F.sum((F.col("host") == HOT_HOST).cast("long")))
    out["frontier.politeness"] = {
        "schedule_s": sp["wall_s"], "rows_in": n_gated, "rows_out": r["n"],
        "hot_host_share": r["hot"] / max(r["n"], 1)}
    gated.unpersist()
    fr.unpersist()
    return out


def _replay_journey(spark, ctx, rp, span) -> dict:
    from risjbot_spark import dedup as D
    from risjbot_spark import textquality as TQ
    from risjbot_spark.pipeline import curate
    from risjbot_spark.schema import HTTP_DATE_FMT
    from risjbot_spark.shards import write_training_shards
    from risjbot_spark.sources.warc import read_warc
    from risjbot_spark.udfs import extract_article_udf

    out: dict = {}
    # ---- inputs (untimed): the segment's pages P and the pass's
    # extracted articles A
    pages_path = ctx.fresh_dir("pages")
    journey_reader(spark, rp["seg"]).write.parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    A, n_a = _persist_count(spark.read.parquet(rp["articles_dir"])
                            .select("url", "bodytext"))
    ev = eval_df(spark, rp["meta"]["eval_texts"])

    # ---- sources.warc: CDX-split read of the segment
    with span("read_warc", "sources.warc") as sp:
        rec = read_warc(spark, rp["seg"], split_by_cdx=True)
        r = _noop(rec)
    out["sources.warc"] = {"read_s": sp["wall_s"], "records": r["n"],
                           "split_tasks": rec.rdd.getNumPartitions()}

    # ---- udfs: the extraction UDF over every page
    with span("extract", "udfs") as sp:
        r = _noop(pages.select(extract_article_udf(
            F.col("html"), F.col("url"),
            F.date_format("warc_ts", HTTP_DATE_FMT),
            F.lit(None).cast("string")).alias("a")).select("a.status"),
            fake404=F.sum((F.col("status") == "fake404").cast("long")))
    out["udfs"] = {"extract_s": sp["wall_s"], "rows": r["n"],
                   "fake404_ratio": r["fake404"] / max(r["n"], 1)}

    # ---- textquality: boilerplate strip and quality gate on A
    # (decontamination is staged below)
    empty = F.sum((F.length(F.trim("bodytext")) == 0).cast("long"))
    n_empty_in = A.agg(empty.alias("e")).first()["e"] or 0
    with span("boilerplate", "textquality") as sp:
        r = _noop(TQ.strip_boilerplate(A, "bodytext"), e=empty)
    tq = {"boilerplate_s": sp["wall_s"],
          "docs_emptied": r["e"] - n_empty_in}
    with span("quality", "textquality") as sp:
        r = _noop(TQ.quality_filter(A, "bodytext"))
    tq.update(quality_s=sp["wall_s"], quality_keep_ratio=r["n"] / max(n_a, 1))

    # ---- the pass's curate chain composed on A: curate() then the
    # shard write
    with span("curate_call", "pipeline") as sp:
        cur = curate(A, "url", "bodytext", decontam_eval=ev,
                     observe=False, **CURATE_OPTS)
    curate_s = sp["wall_s"]
    with span("write_shards", "shards") as sp:
        man = write_training_shards(cur.docs, ctx.fresh_dir("shards"),
                                    n_shards=JOURNEY_SHARDS, id_col="url")
    shard_s = sp["wall_s"]
    rows = list(man["rows"].values())
    out["shards"] = {"write_s": shard_s, "rows": sum(rows),
                     "max_over_mean_rows": (max(rows) / statistics.mean(rows)
                                            if rows else 0.0)}

    # ---- the same chain staged: each block alone on a persisted input,
    # in curate()'s order (near-dedup blocks, span strip over the
    # survivors, decontamination, shard write)
    nd = CURATE_OPTS["near_dedup"]
    bands = [f"band{b + 1}" for b in range(nd["num_bands"])]
    pinned = []

    def stage(name, layer, df):
        with span(name, layer) as st:
            df, n = _persist_count(df)
        pinned.append(df)
        return df, n, st["wall_s"]

    arrays, _, t_arr = stage("shingles", "dedup", D.doc_shingle_arrays(
        A, "url", "bodytext", ngram=3))
    sig, _, t_sig = stage("signature", "dedup", D.minhash_bands_expr(
        arrays, "url", **nd))
    cands, n_c, t_c = stage("candidates", "dedup",
                            D.banded_candidate_pairs(sig, "url", bands))
    biggest = max(sig.groupBy(b).count().agg(F.max("count")).first()[0] or 0
                  for b in bands)
    verified, n_v, t_v = stage("verify", "dedup", D.jaccard_verify(
        cands, None, "url", arrays=arrays))
    survivors, _, t_cc = stage("components", "dedup",
                               D.cluster_and_survivors(A, "url",
                                                       verified)[1])
    spans, n_sp, t_sp = stage("span_strip", "dedup",
                              D.strip_duplicate_spans(survivors, "url",
                                                      "bodytext"))
    clean, n_clean, t_dc = stage("decontam", "textquality", spans.join(
        TQ.decontaminate(spans, ev, "url", "bodytext")
        .filter(F.col("hit_frac") > 0).select("url"), "url", "left_anti"))
    with span("stage_shards", "shards") as st:
        write_training_shards(clean, ctx.fresh_dir("shards"),
                              n_shards=JOURNEY_SHARDS, id_col="url")
    for df in pinned:
        df.unpersist()
    A.unpersist()
    out["dedup"] = {"signature_s": t_arr + t_sig, "candidate_pairs": n_c,
                    "max_band_bucket": biggest, "verified_pairs": n_v,
                    "verify_yield": n_v / max(n_c, 1),
                    "components_s": t_cc, "span_strip_s": t_sp}
    out["textquality"] = {**tq, "decontam_s": t_dc,
                          "decontam_dropped": n_sp - n_clean}
    staged = [t_arr, t_sig, t_c, t_v, t_cc, t_sp, t_dc, st["wall_s"]]
    out["pipeline"] = {"curate_call_s": curate_s,
                       "recompute_factor": (curate_s + shard_s)
                       / sum(staged),
                       "composed_s": curate_s + shard_s, "staged_s": staged}
    out["inputs"] = {"pages": pages.count(), "articles": n_a}
    return out


def split(res) -> tuple[float, float]:
    """(pass wall, sum of the calls that block it): the crawl rounds'
    perf phases, or the journey's read+extract, curate and shard write."""
    wall = sum(s["wall_s"] for s in res.steps)
    return wall, sum(sum(s["phases"].values()) for s in res.steps)


def per_layer(res, lay, groups) -> dict:
    """Per-layer metrics → {name: (value, unit)}; every name on every
    workload, 0 for a layer the workload does not call."""
    lay = dict(lay)
    rounds = [s["phases"] for s in res.steps if "round" in s]
    if rounds:
        lay["crawl"] = {name: sum(p.get(key, 0.0) for p in rounds)
                        for key, name in CRAWL_PHASES.items()}
    x = lay.get("udfs")
    if x:
        task_s = groups.get("udfs", {}).get("task_time_s", 0.0)
        x["pages_per_cpu_s"] = x["rows"] / task_s if task_s else 0.0
    m: dict = {}
    for layer, keys in KEYS.items():
        got = lay.get(layer, {})
        for k in keys:
            m[f"{layer}.{k}"] = (got.get(k, 0), unit(k))

    wall, blocking = split(res)
    m["pass.wall_s"] = (wall, "s")
    m["pass.split_coverage"] = (blocking / wall if wall else 0.0, "ratio")
    # Spark task metrics: the traced pass, then each layer's job group
    # (a crawl workload's rounds count toward `crawl`)
    tot = merged(groups, [g for g in groups if g.startswith("pass")])
    for k in SPARK_KEYS:
        m[f"spark.pass.{k}"] = (tot[k], unit(k))
    for layer in KEYS:
        g = merged(groups, [layer] + (["pass.crawl"] if layer == "crawl"
                                      else []))
        for k in SPARK_LAYER_KEYS:
            m[f"spark.{layer}.{k}"] = (g[k], unit(k))
    return m
