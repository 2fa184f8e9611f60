"""CLI — the engine's `scrapy crawl` analogue.

The reference is driven as `scrapy crawl <spider>` with settings.py
(/root/reference/RISJbot/README.md:26-60); here:

    python -m risjbot_spark crawl --pages pages.parquet \
        --seeds seeds.txt --warehouse ./wh --rounds 3 [--robots robots.parquet]
        [--jsonl out_dir] [--follow-links] [--budget N] [--refetchsecs S]

    python -m risjbot_spark extract --pages pages.parquet --out articles.parquet

`crawl` runs the round loop over a Common-Crawl-style pages table
(url, warc_ts, html, ...) and commits seen/articles snapshots into the
warehouse; `extract` is the one-shot extraction of a pages table with no
frontier state (the NewsSpecifiedSpider shape,
/root/reference/RISJbot/spiders/newsspecifiedspider.py:14-42).
"""

from __future__ import annotations

import argparse
import sys

from .schema import HTTP_DATE_FMT


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="risjbot_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("crawl", help="round-based crawl over a pages table")
    c.add_argument("--pages", required=True,
                   help="pages parquet path, or table:<name> for a "
                        "catalog table (e.g. one written by "
                        "bucketing.write_bucketed_pages — the fetch join "
                        "then shuffles the frontier side only)")
    c.add_argument("--seeds", required=True,
                   help="seed URL file (newline-delimited) or .csv with a url column")
    c.add_argument("--warehouse", required=True, help="snapshot warehouse dir")
    c.add_argument("--rounds", type=int, default=1)
    c.add_argument("--robots", default=None, help="robots parquet (host, robots_txt)")
    c.add_argument("--jsonl", default=None, help="also export articles as JSONL here")
    c.add_argument("--follow-links", action="store_true")
    c.add_argument("--budget", type=int, default=1_000_000,
                   help="default per-host per-round fetch budget")
    c.add_argument("--refetchsecs", type=int, default=10_800)
    c.add_argument("--maxfetches", type=int, default=8)
    c.add_argument("--partitions", type=int, default=None,
                   help="shuffle/round partition count; default: the "
                        "session's spark.sql.shuffle.partitions (so "
                        "spark-submit --conf wins), else 32")
    c.add_argument("--no-broadcast-frontier", action="store_true",
                   default=None,
                   help="force a shuffle-join fetch instead of "
                        "broadcasting the frontier (pair with a bucketed "
                        "pages table); default: auto by frontier rows")
    c.add_argument("--link-rank", action="store_true",
                   help="prioritize the frontier by link-graph authority: "
                        "fixed-point PageRank over committed outlinks, "
                        "merged into priority (explicit pins still win)")
    c.add_argument("--link-rank-every", type=int, default=1,
                   help="rank-refresh cadence in rounds (with --link-rank)")
    c.add_argument("--link-rank-iters", type=int, default=3,
                   help="PageRank iterations per refresh (with --link-rank)")
    c.add_argument("--comments-host", default="",
                   help="chase viafoura comment threads for pages on "
                        "this host (e.g. liverpoolecho.co.uk) via the "
                        "stdlib HTTP adapter")
    c.add_argument("--comments-site", default="www.liverpoolecho.co.uk",
                   help="viafoura bootstrap site name")
    c.add_argument("--comments-delay", type=float, default=0.0,
                   help="seconds between consecutive comment-API chases "
                        "per task")
    c.add_argument("--comments-parallelism", type=int, default=4,
                   help="max concurrent comment-API tasks (the Scrapy "
                        "download-slot analogue; 0 = unbounded)")
    c.add_argument("--comments-limit", type=int, default=100,
                   help="comments per API page (cursor pagination size)")

    e = sub.add_parser("extract", help="one-shot extraction, no frontier state")
    e.add_argument("--pages", required=True)
    e.add_argument("--out", required=True, help="articles parquet output path")

    cu = sub.add_parser(
        "curate",
        help="training-data curation pipeline over a documents table")
    cu.add_argument("--input", required=True, dest="inp",
                    help="documents parquet path")
    cu.add_argument("--id-col", default="doc_id")
    cu.add_argument("--text-col", default="text")
    cu.add_argument("--out", required=True,
                    help="curated corpus parquet output path")
    cu.add_argument("--opts", default=None,
                    help="JSON file of per-stage kwargs for "
                         "pipeline.curate — keys: boilerplate, pii, "
                         "span_dedup, quality, classifier, dsir, "
                         "near_dedup, decontam, mix, split (each a "
                         "kwargs object; omit a key to skip the stage; "
                         "classifier carries its weights as a JSON "
                         "list)")
    cu.add_argument("--eval", default=None, dest="eval_path",
                    help="eval-set parquet for decontamination (must "
                         "have the same text column)")
    cu.add_argument("--dsir-target", default=None, dest="dsir_target",
                    help="target-corpus parquet for the dsir stage "
                         "(must have the same text column)")
    cu.add_argument("--report", default=None,
                    help="write per-stage surviving-row counts as JSON")
    cu.add_argument("--shards", type=int, default=0,
                    help="also write N training shards under "
                         "<out>_shards")

    st = sub.add_parser(
        "stats",
        help="corpus datasheet (textquality.corpus_stats): doc/NULL "
             "counts, token totals, mean + exact p50/p90/max tokens")
    st.add_argument("--input", required=True, dest="inp",
                    help="documents parquet path")
    st.add_argument("--text-col", default="text")
    st.add_argument("--group", default=None,
                    help="comma-separated group columns (e.g. "
                         "source,lang); one corpus-wide row if omitted")
    st.add_argument("--out", default=None,
                    help="also write the table as JSON here")

    cx = sub.add_parser(
        "cdx",
        help="two-level CDX cluster index: `build` globally sorts an "
             "archive's sidecars into cdx shards + cluster.idx (one "
             "Spark range exchange); `lookup` resolves a URL with two "
             "seeks and ZERO Spark jobs")
    cx.add_argument("action", choices=["build", "lookup"])
    cx.add_argument("--index", required=True,
                    help="cluster index directory (build output / "
                         "lookup input)")
    cx.add_argument("--archive", default=None,
                    help="WARC segment dir with .cdx sidecars "
                         "(build; lookup --fetch reads records there)")
    cx.add_argument("--shards", type=int, default=64)
    cx.add_argument("--block", type=int, default=3000)
    cx.add_argument("--compress", action="store_true",
                    help="block-aligned gzip shard members (CC's "
                         "gzipped cc-index shape); lookups still two "
                         "seeks, decompressing one member")
    cx.add_argument("--url", default=None, help="lookup target")
    cx.add_argument("--newest", action="store_true",
                    help="newest capture only")
    cx.add_argument("--fetch", action="store_true",
                    help="also fetch the matched record(s) and print "
                         "type/status/payload size (needs --archive)")
    return p


def _session(partitions: int | None = None):
    """Build the session WITHOUT clobbering operator config: builder
    .config() silently overrides `spark-submit --conf`, so the defaults
    are applied AFTER getOrCreate() — all three keys are runtime-settable
    SQL confs — and only when the key isn't in the SparkContext conf
    (where spark-submit --conf / spark-defaults.conf land; a plain
    Python-side SparkConf() does NOT see --conf values pre-context).
    An explicit --partitions flag still wins for shuffle partitions;
    session timeZone must end up UTC either way — CrawlEngine raises
    otherwise."""
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("risjbot_spark").getOrCreate()
    ext = spark.sparkContext.getConf()
    if partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    elif not ext.contains("spark.sql.shuffle.partitions"):
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    if not ext.contains("spark.sql.session.timeZone"):
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    if not ext.contains("spark.sql.adaptive.enabled"):
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark


def main(argv=None, spark=None) -> int:
    args = build_parser().parse_args(argv)
    own_session = spark is None

    if args.cmd == "extract":
        spark = spark or _session()
        from pyspark.sql import functions as F

        from .udfs import extract_article_udf

        pages = spark.read.parquet(args.pages)
        out = pages.withColumn(
            "article",
            extract_article_udf(
                F.col("html"), F.col("url"),
                F.date_format("warc_ts", HTTP_DATE_FMT),
                F.lit(None).cast("string")),
        ).select(F.col("url").alias("fetch_url"), "warc_ts", "article.*")
        out.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(f"extracted {n} articles -> {args.out}")
        if own_session:
            spark.stop()
        return 0

    if args.cmd == "curate":
        spark = spark or _session()
        import json as _json

        from .pipeline import curate

        _STAGES = ("boilerplate", "pii", "span_dedup", "quality",
                   "classifier", "dsir", "near_dedup", "decontam",
                   "mix", "split")
        opts = {}
        if args.opts:
            with open(args.opts) as f:
                opts = _json.load(f)
            unknown = sorted(set(opts) - set(_STAGES))
            if unknown:
                raise SystemExit(
                    f"unknown curate stage(s) in --opts: {unknown}; "
                    f"expected keys from {list(_STAGES)}")
        if "decontam" in opts and not args.eval_path:
            raise SystemExit("--opts has a decontam stage but no "
                             "--eval parquet was given")
        if "dsir" in opts:
            if not args.dsir_target:
                raise SystemExit("--opts has a dsir stage but no "
                                 "--dsir-target parquet was given")
            opts["dsir"] = {**opts["dsir"],
                            "target": spark.read.parquet(
                                args.dsir_target)}
        elif args.dsir_target:
            raise SystemExit("--dsir-target was given but --opts has "
                             "no dsir stage — the target would be "
                             "silently ignored")
        ev = (spark.read.parquet(args.eval_path)
              if args.eval_path else None)
        res = curate(spark.read.parquet(args.inp), args.id_col,
                     args.text_col, decontam_eval=ev, **opts)
        res.docs.write.mode("overwrite").parquet(args.out)
        rep = res.report(run=False)   # the write above materialized it
        print(f"curated -> {args.out}: "
              + " ".join(f"{k}={v}" for k, v in rep.items()))
        if args.report:
            with open(args.report, "w") as f:
                _json.dump({"stages": res.stages, "rows": rep}, f,
                           indent=2)
        if args.shards:
            from .shards import write_training_shards
            man = write_training_shards(
                spark.read.parquet(args.out), args.out + "_shards",
                n_shards=args.shards, id_col=args.id_col,
                mode="overwrite")   # --out overwrites; shards match
            print(f"shards -> {man['path']} "
                  f"({sum(man.get('rows', {}).values())} rows)")
        if own_session:
            spark.stop()
        return 0

    if args.cmd == "stats":
        spark = spark or _session()
        import json as _json

        from .textquality import corpus_stats

        groups = args.group.split(",") if args.group else None
        rows = [r.asDict() for r in
                corpus_stats(spark.read.parquet(args.inp),
                             args.text_col, groups).collect()]
        # deterministic output order for the group rows
        if groups:
            rows.sort(key=lambda r: tuple(str(r[g]) for g in groups))
        for r in rows:
            print(" ".join(f"{k}={v}" for k, v in r.items()))
        if args.out:
            with open(args.out, "w") as f:
                _json.dump(rows, f, indent=2, default=str)
        if own_session:
            spark.stop()
        return 0

    if args.cmd == "cdx":
        import os as _os

        from .sources import warc as _warc

        if args.action == "build":
            if not args.archive:
                raise SystemExit("cdx build needs --archive")
            spark = spark or _session()
            man = _warc.write_cdx_cluster(
                spark, args.archive, args.index,
                shards=args.shards, block=args.block,
                compress=args.compress).collect()
            print(f"cluster index -> {args.index}: "
                  f"{len(man)} shards, "
                  f"{sum(r['n_lines'] for r in man)} records")
            if own_session:
                spark.stop()
            return 0
        # lookup: pure driver code — deliberately NO SparkSession, the
        # point of the two-level index is point reads without a job
        if not args.url:
            raise SystemExit("cdx lookup needs --url")
        if args.fetch and not args.archive:
            # validate BEFORE the lookup: a no-capture URL would
            # otherwise mask the usage error behind "no captures"
            raise SystemExit("cdx lookup --fetch needs --archive")
        hits = _warc.cdx_cluster_lookup(args.index, args.url,
                                        newest_only=args.newest)
        for h in hits:
            line = (f"{h['cdx_ts']} {h['file']} "
                    f"{h['offset']}+{h['length']}")
            if args.fetch:
                rec = _warc.fetch_record(
                    _os.path.join(args.archive, h["file"]),
                    h["offset"], h["length"])
                line += (f" {rec['rec_type']}"
                         f" status={rec['http_status']}"
                         f" payload={len(rec['payload'])}B")
            print(line)
        if not hits:
            print("no captures")
            return 1
        return 0

    # crawl
    spark = spark or _session(args.partitions)
    # resolve the effective partition count for the engine's own
    # repartition/round layout: explicit flag > session conf
    eff_partitions = (args.partitions if args.partitions is not None
                      else int(spark.conf.get("spark.sql.shuffle.partitions")))
    from datetime import datetime, timezone

    from .crawl import CrawlConfig, CrawlEngine
    from .frontier.state import RefetchConfig
    from .sources import seeds_from_csv, seeds_from_textfile

    pages = (spark.table(args.pages[len("table:"):])
             if args.pages.startswith("table:")
             else spark.read.parquet(args.pages))
    robots = (spark.read.parquet(args.robots).select("host", "robots_txt")
              if args.robots else None)
    seeds = (seeds_from_csv(spark, args.seeds) if args.seeds.endswith(".csv")
             else seeds_from_textfile(spark, args.seeds))

    cfg = CrawlConfig(
        refetch=RefetchConfig(maxfetches=args.maxfetches,
                              refetchsecs=args.refetchsecs),
        default_budget=args.budget,
        num_partitions=eff_partitions,
        follow_links=args.follow_links,
        link_rank=args.link_rank,
        link_rank_every=args.link_rank_every,
        link_rank_iterations=args.link_rank_iters,
        broadcast_frontier=(None if args.no_broadcast_frontier is None
                            else not args.no_broadcast_frontier),
        comments_host=args.comments_host,
        comments_site=args.comments_site,
        comments_delay_secs=args.comments_delay,
        comments_parallelism=args.comments_parallelism,
        comments_limit=args.comments_limit,
    )
    comments_api = None
    if args.comments_host:
        from .comments import urllib_api

        comments_api = urllib_api()
    eng = CrawlEngine(spark, args.warehouse, pages, robots, cfg,
                      comments_api=comments_api)
    start = datetime.now(timezone.utc).replace(microsecond=0)
    lineages = eng.run(seeds, rounds=args.rounds, start_ts=start)
    n = eng.articles_table.read().count()
    print(f"crawled {args.rounds} round(s): {n} articles; "
          f"lineage: {lineages}")
    if args.jsonl:
        eng.export_jsonl(args.jsonl)
        print(f"JSONL -> {args.jsonl}")
    if own_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
