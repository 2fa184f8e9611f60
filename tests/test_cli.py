"""CLI (`python -m risjbot_spark`) — the `scrapy crawl` analogue."""

from risjbot_spark.__main__ import main
from risjbot_spark.corpus import pages_df


def test_cli_crawl_and_jsonl(spark, tmp_path):
    pages_path = str(tmp_path / "pages")
    pages_df(spark, 60, partitions=2).write.parquet(pages_path)
    seeds_path = tmp_path / "seeds.txt"
    urls = [r["url"] for r in spark.read.parquet(pages_path)
            .select("url").collect()]
    seeds_path.write_text("\n".join(urls[:40]) + "\n")
    wh = str(tmp_path / "wh")
    jsonl = str(tmp_path / "out_jsonl")
    rc = main([
        "crawl", "--pages", pages_path, "--seeds", str(seeds_path),
        "--warehouse", wh, "--rounds", "1", "--jsonl", jsonl,
        "--partitions", "4",
    ], spark=spark)
    assert rc == 0
    arts = spark.read.parquet(
        *__import__("json").load(open(f"{wh}/articles/snap-1.manifest.json"))["files"])
    assert 0 < arts.count() <= 40
    lines = spark.read.text(jsonl)
    assert lines.count() == arts.count()


def test_cli_extract(spark, tmp_path):
    pages_path = str(tmp_path / "pages")
    pages_df(spark, 30, partitions=2).write.parquet(pages_path)
    out = str(tmp_path / "articles")
    rc = main(["extract", "--pages", pages_path, "--out", out], spark=spark)
    assert rc == 0
    df = spark.read.parquet(out)
    assert df.count() == 30
    assert "headline" in df.columns and "bodytext" in df.columns


def test_cli_scale_flags(spark, tmp_path):
    """--no-broadcast-frontier reaches the config; table:<name> pages
    resolve through the catalog."""
    import risjbot_spark.__main__ as M
    from risjbot_spark.bucketing import write_bucketed_pages
    from risjbot_spark.corpus import pages_df, robots_rows, seed_urls
    from risjbot_spark.schema import ROBOTS_SCHEMA

    loc = tmp_path / "db"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS clidb LOCATION '{loc}'")
    try:
        write_bucketed_pages(pages_df(spark, 20, partitions=2),
                            "clidb.pages", buckets=4)
        robots_path = str(tmp_path / "robots.parquet")
        spark.createDataFrame(robots_rows(), ROBOTS_SCHEMA) \
            .write.parquet(robots_path)
        seeds_path = tmp_path / "seeds.txt"
        seeds_path.write_text("\n".join(
            s["url"] for s in seed_urls(20, every=1)) + "\n")
        rc = M.main([
            "crawl", "--pages", "table:clidb.pages",
            "--seeds", str(seeds_path),
            "--warehouse", str(tmp_path / "wh"),
            "--rounds", "1", "--partitions", "2",
            "--robots", robots_path,
            "--no-broadcast-frontier",
        ], spark=spark)
        assert rc == 0
        arts = spark.read.parquet(
            *__import__("json").load(
                open(tmp_path / "wh" / "articles" / "snap-1.manifest.json")
            )["files"])
        assert arts.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS clidb.pages")
        spark.sql("DROP DATABASE IF EXISTS clidb")


def test_cli_curate(spark, tmp_path):
    import json

    docs = spark.createDataFrame(
        [(i, f"document number {i} with a healthy spread of distinct "
             f"words covering topic {i % 7} and region {i % 5}", "en")
         for i in range(40)]
        + [(100, "spam " * 50, "en")]            # fails the quality gate
        + [(101, None, "en")],                   # NULL text dropped
        "doc_id long, text string, lang string")
    inp = str(tmp_path / "docs")
    docs.write.parquet(inp)
    opts = {"quality": {"max_top_token_frac": 0.5},
            "split": {"val_permille": 100, "test_permille": 100}}
    opts_path = tmp_path / "opts.json"
    opts_path.write_text(json.dumps(opts))
    out = str(tmp_path / "curated")
    report = tmp_path / "report.json"
    rc = main(["curate", "--input", inp, "--out", out,
               "--opts", str(opts_path), "--report", str(report),
               "--shards", "2"], spark=spark)
    assert rc == 0
    got = spark.read.parquet(out)
    assert got.count() == 40                     # spam + NULL dropped
    assert "split" in got.columns
    rep = json.loads(report.read_text())
    assert rep["rows"]["input"] == 42
    assert rep["rows"]["output"] == 40
    sh = spark.read.parquet(out + "_shards")
    assert sh.count() == 40


def test_cli_curate_guards(spark, tmp_path):
    import json

    import pytest

    docs = spark.createDataFrame([(1, "x", "en")],
                                 "doc_id long, text string, lang string")
    inp = str(tmp_path / "d2")
    docs.write.parquet(inp)
    bad = tmp_path / "bad.json"
    bad.write_text(json.dumps({"nonsense": {}}))
    with pytest.raises(SystemExit):
        main(["curate", "--input", inp, "--out", str(tmp_path / "o"),
              "--opts", str(bad)], spark=spark)
    dc = tmp_path / "dc.json"
    dc.write_text(json.dumps({"decontam": {"max_hit_frac": 0.1}}))
    with pytest.raises(SystemExit):
        main(["curate", "--input", inp, "--out", str(tmp_path / "o2"),
              "--opts", str(dc)], spark=spark)


def test_cli_curate_dsir_and_classifier(spark, tmp_path):
    import json

    import pytest

    good = ("research method data analysis result study sample "
            "cohort finding review")
    docs = spark.createDataFrame(
        [(100 + i, f"buy cheap pills casino offer deal now lucky {i}",
          "en") for i in range(8)]
        + [(200 + i, f"{good} {i}", "en") for i in range(3)],
        "doc_id long, text string, lang string")
    inp = str(tmp_path / "docs_ds")
    docs.write.parquet(inp)
    target = spark.createDataFrame(
        [(i, f"{good} extra {i}") for i in range(10)],
        "doc_id long, text string")
    tgt = str(tmp_path / "tgt")
    target.write.parquet(tgt)
    # classifier weights ride the JSON: reward the good vocabulary's
    # buckets so the spam docs gate out BEFORE dsir sees them
    from pyspark.sql import functions as F

    from risjbot_spark.textquality import token_bucket_expr
    dim = 512
    buckets = {r["b"] for r in
               spark.createDataFrame([(t,) for t in good.split()],
                                     "t string")
               .select(token_bucket_expr(F.col("t"), dim).alias("b"))
               .collect()}
    w = [0.5 if b in buckets else -0.5 for b in range(dim)]
    opts = {"classifier": {"weights": w, "min_prob": 0.9},
            "dsir": {"dim": 512, "min_score": 0.0}}
    opts_path = tmp_path / "opts_ds.json"
    opts_path.write_text(json.dumps(opts))
    out = str(tmp_path / "curated_ds")
    rc = main(["curate", "--input", inp, "--out", out,
               "--opts", str(opts_path), "--dsir-target", tgt],
              spark=spark)
    assert rc == 0
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {200, 201, 202}
    # dsir without --dsir-target fails loudly…
    with pytest.raises(SystemExit, match="dsir"):
        main(["curate", "--input", inp, "--out", str(tmp_path / "o2"),
              "--opts", str(opts_path)], spark=spark)
    # …and --dsir-target without a dsir stage is never silently ignored
    plain = tmp_path / "plain.json"
    plain.write_text(json.dumps({"quality": {}}))
    with pytest.raises(SystemExit, match="silently ignored"):
        main(["curate", "--input", inp, "--out", str(tmp_path / "o3"),
              "--opts", str(plain), "--dsir-target", tgt], spark=spark)


def test_cli_stats(spark, tmp_path, capsys):
    import json

    docs = spark.createDataFrame(
        [(1, "one two three", "en"), (2, "vier fünf", "de"),
         (3, None, "de")],
        "doc_id long, text string, lang string")
    inp = str(tmp_path / "sdocs")
    docs.write.parquet(inp)
    out = tmp_path / "stats.json"
    rc = main(["stats", "--input", inp, "--group", "lang",
               "--out", str(out)], spark=spark)
    assert rc == 0
    rows = {r["lang"]: r for r in json.loads(out.read_text())}
    assert rows["en"]["n_docs"] == 1 and rows["en"]["n_tokens"] == 3
    assert rows["de"]["n_docs"] == 2 and rows["de"]["n_null"] == 1
    printed = capsys.readouterr().out
    assert "lang=de" in printed and "n_tokens=3" in printed
    # corpus-wide single row when --group omitted
    rc = main(["stats", "--input", inp], spark=spark)
    assert rc == 0
    assert "n_docs=3" in capsys.readouterr().out


def test_cli_link_rank_flags(spark, tmp_path):
    """--link-rank reaches the config and produces the warehouse rank
    state over a two-round link-following crawl."""
    from risjbot_spark.__main__ import main as cli_main
    from risjbot_spark.store import SnapshotTable

    pages_path = str(tmp_path / "pagesLR")
    pages_df(spark, 60, partitions=2).write.parquet(pages_path)
    urls = [r["url"] for r in spark.read.parquet(pages_path)
            .select("url").collect()]
    seeds_path = tmp_path / "seedsLR.txt"
    seeds_path.write_text("\n".join(urls[:12]) + "\n")
    wh = str(tmp_path / "whLR")
    rc = cli_main([
        "crawl", "--pages", pages_path, "--seeds", str(seeds_path),
        "--warehouse", wh, "--rounds", "2", "--partitions", "4",
        "--follow-links", "--link-rank", "--link-rank-iters", "2",
    ], spark=spark)
    assert rc == 0
    for name in ("link_edges", "link_ranks"):
        assert SnapshotTable(spark, wh, name).current_snapshot_id() \
            is not None, f"no {name} snapshot committed"


def test_cli_cdx_build_and_lookup(spark, tmp_path, capsys):
    from risjbot_spark.sources import warc as W
    from datetime import datetime
    rows = [(f"https://ex{i % 3}.org/p/{i}",
             datetime(2026, 1, 1, 0, 0, i % 60),
             f"<html>{i}</html>".encode()) for i in range(30)]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, payload binary")
    seg = str(tmp_path / "seg")
    W.write_warc(df, seg, n_files=2).collect()
    cidx = str(tmp_path / "cidx")

    rc = main(["cdx", "build", "--archive", seg, "--index", cidx,
               "--shards", "3", "--block", "4"], spark=spark)
    assert rc == 0
    assert "cluster index ->" in capsys.readouterr().out

    # lookup runs WITHOUT a SparkSession (spark=None) — zero jobs
    rc = main(["cdx", "lookup", "--index", cidx,
               "--url", "https://ex1.org/p/4", "--newest",
               "--fetch", "--archive", seg])
    assert rc == 0
    out = capsys.readouterr().out
    assert "status=200" in out and "+"  in out

    rc = main(["cdx", "lookup", "--index", cidx,
               "--url", "https://never.example/x"])
    assert rc == 1
    assert "no captures" in capsys.readouterr().out
