"""Streaming operators (file source + AvailableNow → memory sink), the
JSONL compat writer, and multimodal plumbing."""

import base64
import gzip
import json
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from risjbot_spark.frontier.xxhash import xxhash64

T0 = datetime(2017, 4, 1, tzinfo=timezone.utc)


def _write_frontier(spark, path, rows):
    spark.createDataFrame(
        rows, "url_hash long, url string, discovered_ts timestamp"
    ).write.mode("overwrite").parquet(path)


def _run_stream(q):
    q.processAllAvailable()
    q.stop()


def test_frontier_stream_dedup(spark, tmp_path):
    from risjbot_spark.streaming import frontier_stream_dedup

    src = str(tmp_path / "frontier")
    rows = [
        (xxhash64("https://h/a"), "https://h/a", T0),
        (xxhash64("https://h/a"), "https://h/a", T0),  # dup
        (xxhash64("https://h/b"), "https://h/b", T0),
    ]
    _write_frontier(spark, src, rows)
    stream = spark.readStream.schema(
        "url_hash long, url string, discovered_ts timestamp").parquet(src)
    q = (frontier_stream_dedup(stream).writeStream
         .format("memory").queryName("dedup_t")
         .trigger(availableNow=True).start())
    _run_stream(q)
    got = {r["url"] for r in spark.sql("select * from dedup_t").collect()}
    assert got == {"https://h/a", "https://h/b"}
    assert spark.sql("select * from dedup_t").count() == 2


def test_stateful_refetch_gate(spark, tmp_path):
    from risjbot_spark.streaming import stateful_refetch_gate

    src = str(tmp_path / "gate")
    h = xxhash64("https://h/x")
    rows = [
        (h, "https://h/x", T0),                                   # first
        (h, "https://h/x", T0.replace(hour=1)),                   # too soon
        (h, "https://h/x", T0.replace(hour=4)),                   # refetch
    ]
    _write_frontier(spark, src, rows)
    stream = spark.readStream.schema(
        "url_hash long, url string, discovered_ts timestamp").parquet(src)
    q = (stateful_refetch_gate(stream, maxfetches=8, refetchsecs=10800)
         .writeStream.format("memory").queryName("gate_t")
         .trigger(availableNow=True).start())
    _run_stream(q)
    got = [(r["decision"], r["previousfetches"])
           for r in spark.sql(
               "select * from gate_t order by previousfetches, decision").collect()]
    assert sorted(got) == sorted([("first", 0), ("skip", 1),
                                  ("refetch", 1)])   # and nothing else


def test_fetch_rate_metrics(spark, tmp_path):
    from risjbot_spark.streaming import fetch_rate_metrics

    src = str(tmp_path / "arts")
    spark.createDataFrame(
        [("h1", T0, "ok"), ("h1", T0, "ok"), ("h1", T0, "empty"),
         ("h2", T0.replace(hour=2), "ok")],
        "host string, warc_ts timestamp, status string",
    ).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "host string, warc_ts timestamp, status string").parquet(src)
    # complete mode: append only emits windows the watermark has closed,
    # which never happens in a single availableNow micro-batch
    q = (fetch_rate_metrics(stream).writeStream
         .format("memory").queryName("rates_t").outputMode("complete")
         .trigger(availableNow=True).start())
    _run_stream(q)
    rows = {(r["host"]): (r["fetched"], r["extracted"])
            for r in spark.sql("select * from rates_t").collect()}
    assert rows["h1"] == (3, 2)
    assert rows["h2"] == (1, 1)


# ---------------------------------------------------------------------------
# JSONL compat sink
# ---------------------------------------------------------------------------

def test_jsonl_compat_roundtrip(spark):
    from risjbot_spark.sinks import to_jsonl_compat

    articles = spark.createDataFrame(
        [("https://h/a", "https://h/a", "Src", "Head", "body text", 2,
          ["Jo"], None)],
        "url_canon string, url string, source string, headline string, "
        "bodytext string, wordcount int, bylines array<string>, section string",
    )
    line = to_jsonl_compat(articles).first()["value"]
    d = json.loads(line)
    assert d["headline"] == "Head"
    assert d["bylines"] == ["Jo"]
    assert "section" not in d          # null omitted, Scrapy-exporter style
    assert "url_canon" not in d        # engine column, not a NewsItem field


def test_jsonl_rawpage_gzip_b64(spark):
    from risjbot_spark.sinks import to_jsonl_compat

    html = b"<html><body>raw</body></html>"
    articles = spark.createDataFrame(
        [("https://h/a", "https://h/a", "Head")],
        "url_canon string, url string, headline string")
    pages = spark.createDataFrame([("https://h/a", html)],
                                  "url string, html binary")
    line = to_jsonl_compat(articles, pages, strip_raw_page=False).first()["value"]
    d = json.loads(line)
    assert gzip.decompress(base64.b64decode(d["rawpagegzipb64"])) == html


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

def test_multimodal_decode_stubbed():
    from risjbot_spark.multimodal import decode_audio, decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"png-bytes")
    with pytest.raises(NotImplementedError):
        decode_audio(b"wav-bytes")
    assert decode_image(b"png-bytes", fake=True).shape == (8, 8, 3)
    assert decode_audio(b"wav-bytes", fake=True).shape == (256,)


def test_multimodal_features_and_dedup(spark):
    from risjbot_spark.multimodal import (
        exact_media_dedup,
        extract_features,
        synthetic_media,
    )

    media = synthetic_media(spark, 30, partitions=4)
    feats = extract_features(media).cache()
    rows = feats.collect()
    assert len(rows) == 30
    assert all(len(r["feature"]) == 64 for r in rows)
    assert all(abs(sum(r["feature"]) - 1.0) < 1e-5 for r in rows)
    dups = exact_media_dedup(feats).collect()
    assert len(dups) == 3  # ids 9, 19, 29 duplicate 0, 10, 20
    feats.unpersist()


def test_engine_export_jsonl(spark, tmp_path):
    import json as _json

    from risjbot_spark.corpus import pages_df
    from risjbot_spark.crawl import CrawlConfig, CrawlEngine
    from risjbot_spark.frontier.state import RefetchConfig
    from datetime import datetime, timezone
    from pyspark.sql import functions as F

    pages = pages_df(spark, 30, partitions=2)
    eng = CrawlEngine(spark, str(tmp_path / "wh"), pages, None,
                      CrawlConfig(refetch=RefetchConfig(), num_partitions=2))
    eng.run_round(pages.select("url").withColumn("priority", F.lit(0)), 0,
                  datetime(2017, 4, 1, tzinfo=timezone.utc))
    out = tmp_path / "jsonl"
    eng.export_jsonl(str(out))
    lines = [l for f in out.glob("part-*") for l in f.read_text().splitlines()]
    assert lines
    d = _json.loads(lines[0])
    assert "url" in d and "fetchtime" in d


def test_resize_image_nearest_neighbor_exact():
    import numpy as np

    from risjbot_spark.multimodal import resize_image

    arr = np.arange(8 * 8 * 3, dtype=np.uint8).reshape(8, 8, 3)
    # identity resize returns the same pixels
    assert (resize_image(arr, 8, 8) == arr).all()
    # 2x downsample picks rows/cols 0,2,4,6 (nearest-neighbor index math)
    small = resize_image(arr, 4, 4)
    assert small.shape == (4, 4, 3)
    assert (small == arr[::2, ::2]).all()
    # upsample duplicates pixels, never invents values
    big = resize_image(arr, 16, 16)
    assert big.shape == (16, 16, 3)
    assert set(np.unique(big)) <= set(np.unique(arr))


def test_resize_images_spark_plumbing(spark):
    from risjbot_spark.multimodal import resize_images, synthetic_media

    media = synthetic_media(spark, 30, partitions=2)
    out = resize_images(media, width=4, height=4)
    rows = out.collect()
    n_images = media.filter("kind = 'image'").count()
    assert len(rows) == n_images and n_images > 0
    for r in rows:
        assert r.width == 4 and r.height == 4
        assert len(r.pixels) == 4 * 4 * 3  # HWC uint8 contract
        assert r.meta["layout"] == "hwc-uint8"
        assert r.meta["w"] == "4" and r.meta["h"] == "4"


def test_stream_extract_articles_matches_batch(spark, tmp_path):
    """§2.9 end to end: readStream pages → the SAME extraction UDF →
    streaming sink; output rows equal the batch extraction of the same
    corpus (headline + byte-identical bodytext vs the generator-known
    text)."""
    from risjbot_spark.corpus import pages_df
    from risjbot_spark.streaming import stream_extract_articles

    src = str(tmp_path / "pages")
    pages_df(spark, 40, partitions=2).write.mode("overwrite").parquet(src)
    batch = spark.read.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (stream_extract_articles(stream).writeStream
         .format("memory").queryName("stream_articles")
         .trigger(availableNow=True).start())
    q.processAllAvailable()
    q.stop()
    got = {r["fetch_url"]: (r["headline"], r["bodytext"], r["status"])
           for r in spark.sql("select * from stream_articles").collect()}
    want = {r["url"]: r["text"] for r in batch.select("url", "text").collect()}
    assert len(got) == 40
    for url, (_, bodytext, status) in got.items():
        if status == "ok":
            assert bodytext == want[url], url   # byte identity holds in-stream


def test_stateful_host_budget_gate(spark, tmp_path):
    """Streaming W1/W3: per-host budget per event-time window; over-budget
    rows defer (never drop), a new window resets the counter."""
    from datetime import timedelta

    from risjbot_spark.streaming import stateful_host_budget_gate

    src = str(tmp_path / "budget")
    rows = [
        ("slow.h", f"https://slow.h/{i}", T0 + timedelta(minutes=i))
        for i in range(4)                                 # budget 2 → 2 defer
    ] + [
        ("fast.h", "https://fast.h/0", T0),               # default budget
        ("slow.h", "https://slow.h/next",
         T0 + timedelta(hours=1, minutes=5)),             # next window: allow
    ]
    spark.createDataFrame(
        rows, "host string, url string, discovered_ts timestamp"
    ).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "host string, url string, discovered_ts timestamp").parquet(src)
    q = (stateful_host_budget_gate(stream, budgets={"slow.h": 2},
                                   window_seconds=3600)
         .writeStream.format("memory").queryName("budget_t")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["url"]: r["decision"]
           for r in spark.sql("select * from budget_t").collect()}
    slow_first_window = [got[f"https://slow.h/{i}"] for i in range(4)]
    assert slow_first_window.count("allow") == 2
    assert slow_first_window.count("defer") == 2
    # event-time order: the two earliest rows win the budget
    assert got["https://slow.h/0"] == got["https://slow.h/1"] == "allow"
    assert got["https://fast.h/0"] == "allow"
    assert got["https://slow.h/next"] == "allow"   # fresh window


def test_stateful_host_budget_gate_cross_batch_carry(spark, tmp_path):
    """The window counter must CARRY across micro-batches: a second batch
    in the same event-time window starts from the state counter, not 0
    (the vectorized path's carry term), and a straggler whose window
    precedes the tracked one counts against the current counter without
    resetting it (documented defer-is-safe semantics)."""
    from datetime import timedelta

    from risjbot_spark.streaming import stateful_host_budget_gate

    src = str(tmp_path / "carry")
    out = str(tmp_path / "carry_out")
    ckpt = str(tmp_path / "carry_ckpt")
    schema = "host string, url string, discovered_ts timestamp"

    def feed(rows):
        spark.createDataFrame(rows, schema).write.mode(
            "append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = (stateful_host_budget_gate(stream, budgets={"h.x": 2},
                                       window_seconds=3600)
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    feed([("h.x", "https://h.x/a", T0)])                  # 1 of 2 spent
    feed([
        ("h.x", "https://h.x/b", T0 + timedelta(minutes=1)),   # 2 of 2
        ("h.x", "https://h.x/c", T0 + timedelta(minutes=2)),   # over
        # straggler BEFORE the tracked window: counts, never resets
        ("h.x", "https://h.x/late", T0 - timedelta(hours=2)),
    ])
    got = {r["url"]: r["decision"]
           for r in spark.read.parquet(out).collect()}
    # batch 2 replays in event-time order: late, b, c — the carried
    # counter is 1 of 2, so late takes the last slot (defer-is-safe: it
    # counts against the CURRENT window without resetting it) and both
    # same-window followers defer
    assert got["https://h.x/late"] == "allow"
    assert got["https://h.x/b"] == "defer"
    assert got["https://h.x/c"] == "defer"


def test_stream_checkpoint_resume_exactly_once(spark, tmp_path):
    """§2.9 resumability: a checkpointed extraction stream restarted
    over a grown source processes ONLY the new files — the first batch's
    pages are not re-emitted (exactly-once against the parquet sink)."""
    from risjbot_spark.corpus import pages_df
    from risjbot_spark.streaming import stream_extract_articles

    src = str(tmp_path / "pages_src")
    out = str(tmp_path / "articles_out")
    ckpt = str(tmp_path / "ckpt")
    first = pages_df(spark, 10, partitions=1)
    first.write.mode("overwrite").parquet(src)
    schema = first.schema

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (stream_extract_articles(stream)
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 == 10
    # second batch lands as NEW files in the same source dir
    pages_df(spark, 25, partitions=1).filter(
        ~F.col("url").isin([r.url for r in first.select("url").collect()])
    ).write.mode("append").parquet(src)
    run_once()
    arts = spark.read.parquet(out)
    assert arts.count() == 25            # 10 old (not re-emitted) + 15 new
    # no fetch_url appears twice — the checkpoint prevented reprocessing
    assert arts.groupBy("fetch_url").count() \
        .filter(F.col("count") > 1).count() == 0


def test_stream_exact_text_dedup(spark, tmp_path):
    """Training-data exact dedup in-stream: first doc per normalized
    fingerprint kept within the watermark; NULL-text rows pass through
    (distinct NULL-text docs are not duplicates — batch-library
    contract)."""
    from risjbot_spark.streaming import stream_exact_text_dedup

    src = str(tmp_path / "docs")
    rows = [
        (1, "Same   Text here", T0),
        (2, "same text HERE", T0),          # ws/case dup of 1
        (3, "a different document", T0),
        (4, None, T0),
        (5, None, T0),                      # NULL is never a dup of NULL
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, ts timestamp"
    ).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "doc_id long, text string, ts timestamp").parquet(src)
    q = (stream_exact_text_dedup(stream).writeStream
         .format("memory").queryName("txt_dedup_t")
         .trigger(availableNow=True).start())
    _run_stream(q)
    got = {r["doc_id"] for r in
           spark.sql("select * from txt_dedup_t").collect()}
    # one of {1,2} survives (stream arrival order is nondeterministic
    # across file splits), 3 survives, both NULL docs survive
    assert len(got & {1, 2}) == 1
    assert {3, 4, 5} <= got
    assert len(got) == 4


def test_stream_quality_gate(spark, tmp_path):
    """Continuous-ingest quality + decontamination gate: repetitive
    docs, eval-contaminated docs, and NULL-text docs drop; clean docs
    pass annotated; short docs pass their unjudgeable checks."""
    from risjbot_spark.streaming import stream_quality_gate

    src = str(tmp_path / "qdocs")
    clean = ("the quick brown fox jumps over the lazy dog while many "
             "other animals watch from the tall green trees nearby")
    repetitive = "spam spam spam spam spam spam spam spam"
    contaminated = ("padding before the secret benchmark answer is "
                    "forty two exactly and padding after")
    rows = [
        (1, clean, T0),
        (2, repetitive, T0),       # top_token_frac 1.0 → dropped
        (3, contaminated, T0),     # shares a 5-gram with the eval set
        (4, None, T0),             # NULL text → dropped
        (5, "tiny", T0),           # 1 token → modal frac 1.0 → dropped
        (6, "alpha beta gamma delta", T0),  # clean; too short for the
        # 5-gram contamination check (NULL hit frac) → that check passes
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, ts timestamp"
    ).write.mode("overwrite").parquet(src)
    ev = spark.createDataFrame(
        [(100, "the secret benchmark answer is forty two")],
        "doc_id long, text string")
    stream = spark.readStream.schema(
        "doc_id long, text string, ts timestamp").parquet(src)
    q = (stream_quality_gate(stream, ev).writeStream
         .format("memory").queryName("quality_gate_t")
         .trigger(availableNow=True).start())
    _run_stream(q)
    out = {r["doc_id"]: r for r in
           spark.sql("select * from quality_gate_t").collect()}
    assert set(out) == {1, 6}
    assert out[1]["eval_hit_frac"] == 0.0
    assert out[1]["n_tokens"] == 20
    assert out[6]["eval_hit_frac"] is None       # unjudgeable → passes


def test_incremental_dedup_sink_stream(spark, tmp_path):
    """Streaming twin of the incremental MinHash store: docs arrive as
    file micro-batches (maxFilesPerTrigger=1 forces several), each is
    dedup'd vs everything ever kept via foreachBatch, survivors land in
    per-batch dirs. Then exactly-once: replaying a committed batch
    (same batch_id) reproduces byte-identical kept output and leaves
    the store untouched."""
    import glob

    from risjbot_spark.dedup_store import MinHashStore
    from risjbot_spark.streaming import incremental_dedup_sink

    src = str(tmp_path / "docs_src")
    # file 0: two docs; file 1 (later batch): one dup of doc 1 + one new
    f0 = spark.createDataFrame([
        (1, "the quick brown fox jumps over the lazy dog every day"),
        (2, "completely different text about spark and shuffles here"),
    ], "doc_id long, text string")
    f1 = spark.createDataFrame([
        (10, "the quick brown fox jumps over the lazy dog every day"),
        (11, "a wholly new document with fresh words nobody wrote yet"),
    ], "doc_id long, text string")
    f0.coalesce(1).write.mode("overwrite").parquet(src + "/f0")
    f1.coalesce(1).write.mode("overwrite").parquet(src + "/f1")
    # one flat dir of files so the file source sees them as one table
    flat = str(tmp_path / "flat")
    import os as _os
    import shutil as _sh
    _os.makedirs(flat)
    for i, d in enumerate(("f0", "f1")):
        part = [p for p in glob.glob(f"{src}/{d}/part-*")
                if not p.endswith(".crc")][0]
        _sh.copy(part, f"{flat}/{i:02d}.parquet")

    store = MinHashStore(spark, str(tmp_path / "store"))
    kept_path = str(tmp_path / "kept")
    sink = incremental_dedup_sink(store, "doc_id", "text",
                                  kept_path=kept_path)
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(flat))
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    _run_stream(q)

    kept = spark.read.parquet(kept_path + "/batch=*")
    got = sorted(r["doc_id"] for r in kept.collect())
    # doc 10 is a dup of doc 1 (kept in an earlier micro-batch)
    assert got == [1, 2, 11]
    assert store.n_stored_docs() == 3
    meta_last = store._meta["last_stream_batch_id"]

    # replay the LAST batch verbatim (crash-after-commit scenario):
    # identical kept output, store unchanged, no new snapshots
    delta_sid = store._delta.current_snapshot_id()
    last_file = sorted(glob.glob(flat + "/*.parquet"))[-1]
    sink(spark.read.parquet(last_file), meta_last)
    assert store._delta.current_snapshot_id() == delta_sid
    assert store.n_stored_docs() == 3
    kept2 = sorted(r["doc_id"]
                   for r in spark.read.parquet(kept_path + "/batch=*")
                   .collect())
    assert kept2 == [1, 2, 11]
    store.close()


def test_stream_warc_ingestion(spark, tmp_path):
    """Path-queue WARC ingestion: segments land on disk, their paths
    arrive as a text stream, records parse executor-side."""
    from datetime import datetime

    from risjbot_spark.sources import warc as W
    from risjbot_spark.streaming.ops import stream_pages_from_warc

    seg_dir = tmp_path / "segs"
    seg_dir.mkdir()
    pages = [(f"https://s{i % 2}.org/p/{i}", datetime(2026, 1, 1, 0, 0, i),
              f"<html>warc doc {i}</html>".encode()) for i in range(6)]
    (seg_dir / "seg-0.warc.gz").write_bytes(W.build_warc_bytes(
        [W.build_record(u, t, b) for u, t, b in pages[:3]]))
    (seg_dir / "seg-1.warc.gz").write_bytes(W.build_warc_bytes(
        [W.build_record(u, t, b) for u, t, b in pages[3:]]))

    queue = tmp_path / "queue"
    queue.mkdir()
    (queue / "batch-0.txt").write_text(
        f"{seg_dir}/seg-0.warc.gz\n{seg_dir}/seg-1.warc.gz\n")

    out = stream_pages_from_warc(spark, str(queue))
    q = (out.writeStream.format("memory").queryName("warc_stream")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["url"]: bytes(r["html"])
           for r in spark.sql("select * from warc_stream").collect()}
    assert got == {u: b for u, _, b in pages}


def test_stream_quality_gate_with_classifier(spark, tmp_path):
    """The model-based filter composes into the stream gate: the same
    stateless scorer expression the batch path uses, no state store."""
    from risjbot_spark.streaming import stream_quality_gate
    from risjbot_spark.textquality import token_bucket_expr

    good = ("research analysis shows the method improves results "
            "across every study cohort measured this year")
    bad = ("buy cheap pills now winner bonus offer deal click "
           "casino free prizes await lucky visitors today")
    src = str(tmp_path / "clfdocs")
    spark.createDataFrame(
        [(1, good, T0), (2, bad, T0)],
        "doc_id long, text string, ts timestamp"
    ).write.mode("overwrite").parquet(src)
    ev = spark.createDataFrame([(100, "unrelated eval sentence here")],
                               "doc_id long, text string")
    dim = 512
    good_buckets = {
        r["b"] for r in spark.createDataFrame(
            [(t,) for t in good.split()], "t string")
        .select(token_bucket_expr(F.col("t"), dim).alias("b")).collect()}
    w = [0.5 if b in good_buckets else -0.5 for b in range(dim)]
    stream = spark.readStream.schema(
        "doc_id long, text string, ts timestamp").parquet(src)
    q = (stream_quality_gate(stream, ev,
                             classifier={"weights": w, "min_prob": 0.9})
         .writeStream.format("memory").queryName("clf_gate_t")
         .trigger(availableNow=True).start())
    _run_stream(q)
    out = {r["doc_id"]: r for r in
           spark.sql("select * from clf_gate_t").collect()}
    assert set(out) == {1}
    assert out[1]["q_prob"] >= 0.9


def test_stream_quality_gate_classifier_contract(spark):
    # the stream side parses the SAME classifier dict contract: a typo
    # must raise, never silently gate at the default threshold
    from risjbot_spark.streaming import stream_quality_gate
    ev = spark.createDataFrame([(1, "eval text")],
                               "doc_id long, text string")
    docs = spark.createDataFrame([(1, "a", T0)],
                                 "doc_id long, text string, ts timestamp")
    import pytest
    with pytest.raises(ValueError, match="unknown classifier option"):
        stream_quality_gate(docs, ev,
                            classifier={"weights": [0.1] * 8,
                                        "minprob": 0.9})


def test_stream_dsir_scoring(spark, tmp_path):
    """DSIR scoring composes into a stream unchanged: weights are
    estimated offline (batch histograms), the scorer is the same
    stateless fold the batch path ships."""
    from risjbot_spark.textquality import (dsir_log_ratio_weights,
                                           dsir_scores,
                                           hashed_bucket_counts)

    target = spark.createDataFrame(
        [(i, f"research method data analysis {i}") for i in range(5)],
        "doc_id long, text string")
    raw = spark.createDataFrame(
        [(100, "buy cheap pills now", T0),
         (200, "research method data analysis today", T0)],
        "doc_id long, text string, ts timestamp")
    w = dsir_log_ratio_weights(
        hashed_bucket_counts(target, "text", dim=256),
        hashed_bucket_counts(raw.drop("ts"), "text", dim=256), dim=256)
    src = str(tmp_path / "dsirdocs")
    raw.write.parquet(src)
    stream = spark.readStream.schema(
        "doc_id long, text string, ts timestamp").parquet(src)
    q = (dsir_scores(stream, "text", w).writeStream
         .format("memory").queryName("dsir_t")
         .trigger(availableNow=True).start())
    _run_stream(q)
    got = {r["doc_id"]: r["dsir_score"]
           for r in spark.sql("select * from dsir_t").collect()}
    assert got[200] > 0 > got[100]
