"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py

1. Input shapes: seeds 1-10 give inputs of the same shape — hot-host
   share and fake-404 share within a tolerance of the same values, and
   equal planted twin and leak counts.
2. Every output check passes on a real run's outputs and fails on a
   deliberately corrupted copy of them: one flipped byte of one
   article's bodytext, one dropped seen row (crawl_churn), one curated
   row lost by the shard writer and one id duplicated across two shards
   (journey).
3. The run's report names every end-to-end metric of BENCHMARK.json
   with its unit, and every workload metric name below; the traced
   run's per-layer names and units are the ones BENCHMARK.json lists.

Runs both workloads once in this process on Spark local[4] (about two
minutes on a 4-core host); exits 0 when everything holds."""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from perfbench import inputs, layers, run  # noqa: E402
from perfbench import workloads as W  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

# the workload metric names the report must print, with their units
NAMED = {
    "crawl_churn": {"churn_series_s": "s", "churn_round_s_p50": "s",
                    "churn_round_s_p90": "s"},
    "journey": {"journey_pages_per_s": "pages/s", "journey_extract_s": "s",
                "journey_curate_shard_s": "s"},
}
COMMON = {"setup_s": "s", "setup_wall_s": "s", "items_per_s": "items/s",
          "driver_rss_mb": "MB",
          "ops_failed_ratio": "ratio", "pass_wall_s": "s"}

failures: list[str] = []


def expect(what: str, ok: bool) -> None:
    print(f"{'ok  ' if ok else 'FAIL'} {what}", flush=True)
    if not ok:
        failures.append(what)


def check_shapes() -> None:
    for workload in ("crawl_churn", "journey"):
        size = W.SIZES[workload]
        for seed in range(1, 11):
            ids = range(inputs.id_offset(seed), inputs.id_offset(seed) + size)
            sh = inputs.shape(ids)
            expect(f"{workload} seed {seed} shape {sh}",
                   abs(sh["hot_host_share"] - 0.45) <= 0.1
                   and sh["fake404_share"] <= 0.03)
    expect("journey planted counts are fixed by size",
           W.SIZES["journey"] // inputs.TWIN_EVERY == 5 and inputs.LEAKS == 2)


def check_report(name: str, res, bench: dict) -> None:
    lines = run.report_lines(res, {"before": run.host_context()})
    printed = {}
    for line in lines:
        metric, sep, rest = line.partition(" = ")
        if sep:
            printed[metric] = rest
    for m in bench["end_to_end"]:
        got = res.metrics.get(m["name"])
        expect(f"{name} reports {m['name']} in {m['unit']}",
               got is not None and got[1] == m["unit"] and got[0] > 0)
    for metric, unit in {**NAMED[name], **COMMON}.items():
        rest = printed.get(metric, "")
        expect(f"{name} prints {metric} with unit {unit}",
               rest.split(" ")[1:2] == [unit])
    got = {k: u for k, (_, u) in layers.per_layer(res, {}, {}).items()}
    want = {m["name"]: m["unit"] for m in bench["per_layer"]}
    expect(f"{name} traced names and units are BENCHMARK.json's per_layer",
           got == want)


def corrupt_churn(spark, res) -> None:
    meta, eng = res.replay["meta"], res.replay["engine"]
    arts = eng.articles_table.read()
    truth = W.corpus_truth(spark, res.replay["pages_path"])
    clean = W.Result()
    W.check_bodytext(clean, "clean", arts, truth)
    expect("bodytext check passes on the run's articles",
           clean.checks["clean.bodytext_identical"][0])

    row = arts.orderBy("url_canon").select("url_canon", "bodytext").first()
    flip = "#" if row["bodytext"][0] != "#" else "%"
    bad = arts.withColumn("bodytext", F.when(
        F.col("url_canon") == row["url_canon"],
        F.overlay("bodytext", F.lit(flip), 1, 1)).otherwise(F.col("bodytext")))
    r = W.Result()
    W.check_bodytext(r, "flipped", bad, truth)
    expect("bodytext check fails on one flipped byte",
           not r.checks["flipped.bodytext_identical"][0])

    cfg = W.churn_config()
    want_rounds, want_seen = W.churn_oracle(meta, cfg, W.churn_seeds(meta))
    got_rounds = {rnd: set() for rnd in W.CHURN_ROUNDS}
    for x in arts.select("round", "url_canon").collect():
        got_rounds[x["round"]].add(x["url_canon"])
    seen = eng.seen()
    dropped = seen.orderBy("url").first()["url"]
    for label, df in (("clean", seen),
                      ("dropped", seen.filter(F.col("url") != dropped))):
        r = W.Result()
        W.check_churn(r, label, got_rounds, want_rounds,
                      {x["url"]: x["fetches"] for x in
                       df.select("url", "fetches").collect()}, want_seen)
        ok = r.checks[f"{label}.seen_matches_oracle"][0]
        expect(f"seen check {'passes on the run' if label == 'clean' else 'fails on one dropped row'}",
               ok if label == "clean" else not ok)
        if label == "clean":
            expect("fetched-set check passes on the run",
                   r.checks["clean.fetched_sets_match_oracle"][0])


def corrupt_journey(spark, res) -> None:
    rp = res.replay
    arts = spark.read.parquet(rp["articles_dir"])
    shards = spark.read.parquet(rp["shards_dir"])
    man, n_cur = rp["manifest"], rp["curated_rows"]
    r = W.Result()
    W.check_journey(r, "clean", arts, shards, man, n_cur, rp["meta"])
    expect("journey checks pass on the run",
           all(ok for ok, _ in r.checks.values()))
    one = shards.orderBy("url").limit(1)
    lost = one.first()
    # the writer loses one curated row: its shard's footer count drops
    short = dict(man, rows={**man["rows"],
                            lost["shard"]: man["rows"][lost["shard"]] - 1})
    r = W.Result()
    W.check_journey(r, "lost", arts,
                    shards.filter(F.col("url") != lost["url"]),
                    short, n_cur, rp["meta"])
    expect("manifest_rows fails when the shard writer loses a curated row",
           not r.checks["lost.manifest_rows"][0])
    other = one.withColumn("shard", (F.col("shard") + 1) % W.JOURNEY_SHARDS)
    r = W.Result()
    W.check_journey(r, "dup", arts, shards.unionByName(other),
                    man, n_cur, rp["meta"])
    expect("ids_unique fails on one id duplicated across two shards",
           not r.checks["dup.ids_unique"][0])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    check_shapes()
    os.environ["PYTHONPATH"] = ROOT
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(run.BASE, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run.BASE, "spark-local")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run.BASE, d), exist_ok=True)
    session = run.Session(None)
    try:
        session.start()
        for name in ("crawl_churn", "journey"):
            ctx = W.Ctx(run.BASE, name, 1, 1, Tracer(enabled=False), session,
                        setups=2)
            res = W.WORKLOADS[name](ctx)
            expect(f"{name} run passes its own checks", res.failed == 0)
            check_report(name, res, bench)
            if name == "crawl_churn":
                corrupt_churn(session.spark, res)
            else:
                corrupt_journey(session.spark, res)
    finally:
        session.shutdown()
        for name in ("crawl_churn", "journey"):
            shutil.rmtree(W.Ctx.work_dir(run.BASE, name), ignore_errors=True)
    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
