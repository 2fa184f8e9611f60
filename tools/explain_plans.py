"""Physical-plan audit → PLANS.md.

For the plan-shape-critical queries, capture `.explain("formatted")` and
assert the properties that matter at 100 TB:
  * scans are column-pruned (ReadSchema ⊂ table schema) and filters reach
    the parquet scan (PushedFilters),
  * small dims broadcast (BroadcastHashJoin, never a shuffled join on a
    dimension table),
  * the crawl round's extraction UDF appears exactly ONCE (no duplicated
    Python stage), and the pages side of the fetch join never shuffles.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


# run-dependent tokens: Spark's plan, expression and RDD ids (an RDD id
# counts every RDD the session built before, so it moves whenever an
# earlier section's job count does), mkdtemp dir names, and the random
# suffix of snapshot data dirs / bucket tables
_RUN_TOKENS = [
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=N]"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"(/tmp/(?:tmp|plans_[a-z]+_))[a-z0-9_]{8}"), r"\1XXXXXXXX"),
    (re.compile(r"\b(snap[-_](?:[a-z_]+_)?\d+[-_])[0-9a-f]{8}\b"),
     r"\1XXXXXXXX"),
]


def normalize_plan(text: str) -> str:
    """Plan text with run-dependent tokens replaced by placeholders, so
    two runs over unchanged code write the same PLANS.md. Only the
    written sections are normalized; checks assert on the raw text."""
    for pat, repl in _RUN_TOKENS:
        text = pat.sub(repl, text)
    return text


def main() -> None:
    import tempfile
    from datetime import datetime, timezone

    from pyspark.sql import SparkSession, functions as F

    from risjbot_spark.corpus import pages_df
    from risjbot_spark.crawl import CrawlConfig, CrawlEngine
    from risjbot_spark.frontier.state import RefetchConfig
    from risjbot_spark.queries import QUERIES

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    sections = []
    checks = []

    def check(name, cond, msg):
        checks.append((name, bool(cond), msg))

    # --- seen_antijoin
    p = plan_of(QUERIES["seen_antijoin"](spark, SF))
    sections.append(("seen_antijoin (J1 shape)", p))
    check("seen_antijoin", "LeftAnti" in p, "anti join")
    check("seen_antijoin", "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice" in p,
          "orders filter pushed")

    # --- near-dup self-joins: must be EQUI joins on band/bucket keys.
    # A CartesianProduct/BroadcastNestedLoopJoin here means the LSH
    # banding failed to become the join key and the op is O(n²) at scale.
    for qname, extra in [("lsh_dup_pairs", "band"),
                         ("simhash_dup_pairs", "band"),
                         ("embedding_near_dup", "bucket")]:
        p = plan_of(QUERIES[qname](spark, SF))
        sections.append((f"{qname} ({extra}-keyed self-join)", p))
        check(qname, "CartesianProduct" not in p
              and "BroadcastNestedLoopJoin" not in p,
              f"self-join is {extra}-keyed equi join, not O(n²)")
        check(qname, "SortMergeJoin" in p or "BroadcastHashJoin" in p
              or "ShuffledHashJoin" in p, "hash/merge join strategy chosen")

    # --- dedup stage caching (VERDICT r1 #2): the signature pipeline is
    # persisted once per (session, sf) — plan references must hit the
    # InMemoryRelation instead of re-deriving documents→shingles per
    # branch. The Jaccard verify previously evaluated the shingle build
    # up to 3× in one plan.
    from risjbot_spark.queries import (
        _minhash_sig, _shingle_arrays, clear_stage_cache)

    clear_stage_cache()
    # populate the caches bottom-up: built inside one action, the verify
    # join's broadcast side follows whichever input stage AQE sees
    # finish first, and the written plan flipped BuildLeft/BuildRight
    # from run to run
    _shingle_arrays(spark, SF).count()
    _minhash_sig(spark, SF).count()
    QUERIES["ngram_jaccard_pairs"](spark, SF).count()
    p = plan_of(QUERIES["ngram_jaccard_pairs"](spark, SF))
    sections.append(("ngram_jaccard_pairs (cached signature stages)", p))
    check("ngram_jaccard_pairs", "InMemoryTableScan" in p,
          "signature/shingle stages read from cache")
    # NOTE: explain renders the InMemoryRelation's stored BUILD plan
    # inline, so the documents scan text still appears in the output —
    # TableCacheQueryStage is the runtime proof the executed plan reads
    # the cache instead of re-deriving it
    check("ngram_jaccard_pairs", "TableCacheQueryStage" in p,
          "executed plan reads TableCacheQueryStage, not a re-derivation")

    # --- dedup_clusters: the CC loop's output must come from the cached
    # converged label table (built once from the cached verified pairs),
    # and the final projection must not re-derive the corpus — no
    # parquet scan of documents may survive in the EXECUTED plan shape
    # outside InMemoryRelation build-plan rendering
    p = plan_of(QUERIES["dedup_clusters"](spark, SF))
    sections.append(("dedup_clusters (connected components)", p))
    check("dedup_clusters", "InMemoryTableScan" in p,
          "cluster labels read from the cached converged table")
    check("dedup_clusters", "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p,
          "no all-pairs join anywhere in the CC output plan")

    # --- robots scale path: rules join on host, prefix match as JVM
    # higher-order functions — no Python stage in the frontier filter
    from risjbot_spark.frontier.politeness import (
        parse_rules_df, robots_filter_df)
    rb = spark.createDataFrame(
        [("h.example.com", "User-agent: *\nDisallow: /x\n")],
        "host string, robots_txt string")
    fr = spark.createDataFrame(
        [("https://h.example.com/x/1", "h.example.com")],
        "url_canon string, host string")
    p = plan_of(robots_filter_df(fr, parse_rules_df(rb)))
    sections.append(("robots_filter_df (rules-join scale path)", p))
    check("robots_filter_df",
          "ArrowEvalPython" not in p and "BatchEvalPython" not in p,
          "frontier-side prefix match is JVM-only (rules parse is the "
          "only Python, on the small rules side)")

    # --- ann.ivf_search over an ann.kmeans index: the probed centroid
    # table broadcasts; the candidate join is an equi join on the probed
    # cluster ids
    from risjbot_spark import ann
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    km = ann.kmeans(emb, "vec_id", "embedding", k=10, iters=2)
    qv = (emb.filter(F.col("vec_id") == 0)
          .select(ann.as_double_vec("embedding").alias("qv")))
    p = plan_of(ann.ivf_search(emb.filter(F.col("vec_id") != 0),
                               "vec_id", "embedding", km, qv,
                               nprobe=3, k=10))
    sections.append(("ann.ivf_search (probe join)", p))
    check("ivf_search", "BroadcastHashJoin" in p, "probed centroids broadcast")
    check("ivf_search", "CartesianProduct" not in p,
          "no cartesian in candidate selection")

    # --- repetition_signals: pure per-row projection — the only
    # exchange allowed is the presentation orderBy's range partitioning
    p = plan_of(QUERIES["repetition_signals"](spark, SF))
    sections.append(("repetition_signals (quality expressions)", p))
    # formatted mode prints the node ("Exchange") and its arguments
    # ("hashpartitioning(...)") on separate lines — match the argument
    check("repetition_signals", "hashpartitioning(" not in p,
          "zero hash exchanges — stats computed inside the row")
    check("repetition_signals",
          "ArrowEvalPython" not in p and "BatchEvalPython" not in p,
          "all-JVM expressions (no Python eval)")

    # --- decontaminate: eval shingles broadcast; the corpus side
    # exchanges exactly once (the id-keyed agg) because per-doc shingle
    # dedup happens inside the row before the explode
    p = plan_of(QUERIES["decontaminate"](spark, SF))
    sections.append(("decontaminate (eval-broadcast overlap join)", p))
    check("decontaminate", "BroadcastHashJoin" in p,
          "eval shingle set broadcasts into the corpus scan")
    check("decontaminate",
          len(re.findall(r"hashpartitioning\(doc_id", p)) == 1,
          "corpus side hash-exchanges exactly once (id-keyed agg)")

    # --- quality_gate_docs: the APPLIED gate is a pure filter —
    # projection + filter only, zero hash exchanges, no join
    p = plan_of(QUERIES["quality_gate_docs"](spark, SF))
    sections.append(("quality_gate_docs (applied quality gate)", p))
    check("quality_gate_docs", "hashpartitioning(" not in p,
          "zero hash exchanges — gate composes into the scan")
    check("quality_gate_docs",
          "Join" not in p and "ArrowEvalPython" not in p,
          "no join, no Python eval in the gate")

    # --- mix_report: one group-keyed exchange with a partial aggregate
    # before it; the token_share window's SinglePartition exchange sits
    # over the aggregated (groups-sized) relation only
    p = plan_of(QUERIES["mix_report"](spark, SF))
    sections.append(("mix_report (data-mix curation aggregate)", p))
    check("mix_report",
          len(re.findall(r"hashpartitioning\(source", p)) == 1,
          "corpus exchanges exactly once, keyed by the group columns")
    check("mix_report", "partial_count(" in p.lower(),
          "map-side partial aggregation before the exchange")

    # --- mix_sample_docs: corpus counts aggregate ONCE (the thresholds'
    # global-min is a window over the groups-sized relation, not a
    # second counts branch); the apply pass is a broadcast join
    p = plan_of(QUERIES["mix_sample_docs"](spark, SF))
    sections.append(("mix_sample_docs (applied data mix)", p))
    check("mix_sample_docs",
          len(re.findall(r"hashpartitioning\(lang", p)) == 1,
          "corpus counts exchange exactly once (no duplicated branch)")
    check("mix_sample_docs",
          "BroadcastHashJoin" in p and "SortMergeJoin" not in p,
          "apply pass broadcast-joins the thresholds — corpus side "
          "never exchanges")

    # --- boilerplate_strip_docs: one line-keyed exchange to count the
    # boiler set; the removal itself is a broadcast one-row-array
    # expression, so the corpus never hash-exchanges
    p = plan_of(QUERIES["boilerplate_strip_docs"](spark, SF))
    sections.append(("boilerplate_strip_docs (line-level boilerplate "
                     "removal, broadcast strategy)", p))
    check("boilerplate_strip_docs",
          len(re.findall(r"hashpartitioning\(line", p)) == 1,
          "boiler count exchanges exactly once, keyed by the line")
    check("boilerplate_strip_docs",
          "hashpartitioning(doc_id" not in p,
          "corpus side never hash-exchanges — removal is an expression "
          "over the broadcast boiler array")

    # --- pii_scrub_docs: pure per-row regexp expressions
    p = plan_of(QUERIES["pii_scrub_docs"](spark, SF))
    sections.append(("pii_scrub_docs (PII redaction)", p))
    check("pii_scrub_docs", "hashpartitioning(" not in p,
          "zero hash exchanges — scrub composes into the scan")
    check("pii_scrub_docs",
          "Join" not in p and "ArrowEvalPython" not in p,
          "no join, no Python eval in the scrub")

    # --- dup_span_strip: the gram stream feeds ONE map-side-combinable
    # groupBy exchange (hot grams collapse per map partition — the
    # skew-immunity a window-over-hash lacks); the duplicated-gram
    # stats table BROADCASTS back over a recomputed gram stream, so
    # occurrences themselves never cross an exchange; the later
    # doc_id-keyed exchanges operate on FLAGGED rows only
    p = plan_of(QUERIES["dup_span_strip"](spark, SF))
    sections.append(("dup_span_strip (exact duplicated-span removal)", p))
    check("dup_span_strip",
          len(re.findall(r"hashpartitioning\(_gh", p)) == 1,
          "gram stream exchanges exactly once (the combinable groupBy); "
          "the flag join is a broadcast, not a second gram shuffle")
    check("dup_span_strip", "partial_count(" in p.lower()
          or "partial_min" in p.lower() or "partial" in p.lower(),
          "gram stats aggregate map-side (hot-gram skew immunity)")
    check("dup_span_strip", "BroadcastHashJoin" in p,
          "duplicated-gram stats broadcast over the occurrence stream")
    check("dup_span_strip",
          "ArrowEvalPython" not in p and "BatchEvalPython" not in p,
          "all-JVM expressions (no Python eval)")
    check("dup_span_strip", "CartesianProduct" not in p,
          "no cartesian anywhere in the span pipeline")

    # --- pack_sequences: ONE shard-keyed exchange (the per-shard
    # window); no join, no Python, no global sort of the corpus
    p = plan_of(QUERIES["pack_sequences"](spark, SF))
    sections.append(("pack_sequences (concat-and-chunk packing plan)", p))
    check("pack_sequences",
          len(re.findall(r"hashpartitioning\(shard", p)) == 1,
          "exactly one shard-keyed exchange (the packing window)")
    check("pack_sequences",
          "Join" not in p and "ArrowEvalPython" not in p,
          "no join, no Python eval in the packing plan")

    # --- holdout_split: pure projection — zero hash exchanges
    p = plan_of(QUERIES["holdout_split"](spark, SF))
    sections.append(("holdout_split (train/val/test assignment)", p))
    check("holdout_split", "hashpartitioning(" not in p,
          "zero hash exchanges — split composes into the scan")
    check("holdout_split", "Join" not in p, "no join in the split")

    # --- corpus_stats: one group-keyed exchange, partial aggregation
    # for the sums (the exact percentiles evaluate on the reducer —
    # documented as datasheet-cardinality-only)
    p = plan_of(QUERIES["corpus_stats"](spark, SF))
    sections.append(("corpus_stats (datasheet aggregate)", p))
    check("corpus_stats",
          len(re.findall(r"hashpartitioning\(lang", p)) == 1,
          "exactly one group-keyed exchange")
    check("corpus_stats", "partial_count" in p.lower()
          or "partial_sum" in p.lower(),
          "sums aggregate map-side before the exchange")

    # --- quality_classifier: the model-based filter's serve path is a
    # pure projection — the weight vector rides the plan as one array
    # literal, so there is NO exchange and NO join anywhere
    p = plan_of(QUERIES["quality_classifier"](spark, SF))
    sections.append(("quality_classifier (hashed linear scorer)", p))
    check("quality_classifier", "hashpartitioning(" not in p,
          "zero hash exchanges — scoring composes into the scan "
          "(the orderBy's range exchange is bench-only presentation)")
    check("quality_classifier", "Join" not in p,
          "weights are a plan literal, not a join")

    # --- dsir_scores: histogram building collects dim-bounded
    # aggregates at CONSTRUCTION time; the returned scoring plan itself
    # must be a pure projection like the classifier's
    p = plan_of(QUERIES["dsir_scores"](spark, SF))
    sections.append(("dsir_scores (importance-resampling scorer)", p))
    check("dsir_scores", "hashpartitioning(" not in p,
          "zero hash exchanges in the scoring plan")
    check("dsir_scores", "Join" not in p,
          "weights are a plan literal, not a join")

    # --- warc_roundtrip: build+parse are Python format codecs by
    # design (applyInPandas/mapInPandas); the ONLY exchange routes
    # records to their file builder
    p = plan_of(QUERIES["warc_roundtrip"](spark, SF))
    sections.append(("warc_roundtrip (WARC build+parse round trip)", p))
    check("warc_roundtrip",
          len(re.findall(r"hashpartitioning\(", p)) == 1,
          "exactly one exchange (record→file routing); the parse adds "
          "none")
    check("warc_roundtrip", "FlatMapGroupsInPandas" in p
          and "MapInPandas" in p,
          "builder is applyInPandas, parser is mapInPandas (Arrow "
          "batched, never per-row Python)")

    # --- curate_docs: the composed pipeline keeps the per-stage
    # shapes — the quality gate fuses into the scan, and both row-drop
    # joins (survivor anti-join, decontamination anti-join) broadcast
    # their tiny right sides so the corpus never SMJ-exchanges for them
    p = plan_of(QUERIES["curate_docs"](spark, SF))
    sections.append(("curate_docs (end-to-end curation pipeline)", p))
    check("curate_docs", "BroadcastHashJoin" in p,
          "drop-sets broadcast into the corpus scan")
    check("curate_docs", "CartesianProduct" not in p,
          "no cartesian in the composed pipeline")
    check("curate_docs",
          "ArrowEvalPython" not in p and "BatchEvalPython" not in p,
          "curation chain is all-JVM expressions")

    # --- incremental dedup store probe: the compacted bands base is a
    # BUCKETED catalog table (bucketBy(band) + sortBy, the seen-gate
    # device), so a new batch's band probe exchanges ONLY the batch
    # side. The merge hint pins SMJ so the plan exhibits the alignment
    # (a tiny batch would otherwise broadcast — also store-side-free,
    # but then the bucket claim would go unexercised).
    from risjbot_spark.dedup_store import MinHashStore
    _mroot = tempfile.mkdtemp(prefix="plans_mhstore_")
    _mst = MinHashStore(spark, _mroot)
    _mst.index_corpus(
        spark.createDataFrame(
            [(i, f"stored document number {i} has plenty of distinct "
                 "words for shingling") for i in range(50)],
            "doc_id long, text string"),
        "doc_id", "text")
    _mbase, _ = _mst.stored_bands()
    _, _, _msig, _mbands = _mst._sig_parts(
        spark.createDataFrame(
            [(100, "a probe document carrying some words to shingle")],
            "doc_id long, text string"),
        "doc_id", "text")
    p = plan_of(_mbands.hint("merge").join(
        _mbase.select("band", F.col("doc_id").alias("old_id")), "band"))
    sections.append(("incremental_store_probe (new batch × bucketed "
                     "signature base)", p))
    check("incremental_store_probe", "Bucketed: true" in p,
          "bands base scanned with its bucket spec (catalog table)")
    check("incremental_store_probe",
          len(re.findall(r"hashpartitioning\(band", p)) == 1,
          "probe exchanges the BATCH side only — store side in place")
    _mst.close()

    # --- IVF store search: the vector table is hive-partitioned by
    # cluster id and the probe list is a literal IN filter, so the scan
    # PRUNES to the probed clusters' partitions — the other K-nprobe
    # clusters' files are never opened
    from risjbot_spark import ann
    from risjbot_spark.ann_store import IVFStore
    _ivf = IVFStore(spark, tempfile.mkdtemp(prefix="plans_ivfstore_"))
    _emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    _ivf.build(_emb.filter("vec_id % 3 != 0"), "vec_id", "embedding")
    _ivf.add_batch(_emb.filter("vec_id % 3 = 0 AND vec_id != 0"),
                   "vec_id", "embedding")
    _q = (_emb.filter("vec_id = 0")
          .select(ann.as_double_vec("embedding").alias("qv")))
    p = plan_of(_ivf.search(_q, nprobe=3, k=10))
    sections.append(("ivf_store_search (partition-pruned probe scan)",
                     p))
    check("ivf_store_search",
          re.search(r"PartitionFilters: \[[^\]]*cid", p) is not None,
          "probe is a PartitionFilters pruned scan on cid")
    check("ivf_store_search", "hashpartitioning(vec_id" not in p,
          "vectors never shuffle — assignment was the broadcast argmin")
    _ivf.close()

    # --- crawl round: one Python stage, pages never shuffle
    pages_path = "/tmp/risjbot_plans_pages"
    if not os.path.exists(pages_path + "/_SUCCESS"):
        pages_df(spark, 500, partitions=4).write.mode("overwrite").parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    wh = tempfile.mkdtemp()
    eng = CrawlEngine(spark, wh, pages, None,
                      CrawlConfig(refetch=RefetchConfig(), num_partitions=8))
    # build the round plan up to items without committing
    from risjbot_spark.store.snapshots import SnapshotTable
    captured = {}
    orig = SnapshotTable.commit
    def cap(self, df, lineage=None, mode="replace", **kw):
        if self.name == "articles":
            captured["items"] = df
            raise RuntimeError("captured")
        return orig(self, df, lineage=lineage, mode=mode, **kw)
    SnapshotTable.commit = cap
    try:
        eng.run_round(pages.select("url").withColumn("priority", F.lit(0)), 0,
                      datetime(2017, 4, 1, tzinfo=timezone.utc))
    except RuntimeError:
        pass
    finally:
        SnapshotTable.commit = orig
    p = plan_of(captured["items"])
    sections.append(("crawl round (items plan)", p))
    check("crawl_round", 1 <= p.count("extract_article_udf") <= 2,
          "extraction UDF appears once (formatted plan lists node+detail)")
    check("crawl_round", "ArrowEvalPython" in p, "Arrow-batched Python stage")
    check("crawl_round", "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p,
          "frontier broadcast into pages scan")

    # --- bucketed seen base (r3): after compaction the J1 gate reads
    # the base Bucketed: true with NO exchange on its ancestor chain —
    # the only hash exchanges are the frontier and the O(delta) resolve
    from datetime import timedelta

    from risjbot_spark.frontier.state import (
        RefetchConfig as _RC,
        seen_filter,
        seen_parts,
        seen_state,
        trawl_candidates_pruned,
    )
    wh2 = tempfile.mkdtemp()
    eng2 = CrawlEngine(spark, wh2, pages, None,
                       CrawlConfig(refetch=_RC(), num_partitions=8,
                                   trim_every=2))
    seeds2 = pages.select("url").withColumn("priority", F.lit(0))
    start = datetime(2017, 4, 1, tzinfo=timezone.utc)
    for r in range(4):
        eng2.run_round(seeds2, r, start + timedelta(seconds=10801 * r))
    base, deltas = seen_parts(eng2.seen_table)
    gated = seen_filter(
        pages.select(F.col("url").alias("url_canon"))
        .withColumn("url_hash", F.xxhash64("url_canon")),
        base, _RC(), start + timedelta(days=2), newer=seen_state(deltas))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    p = plan_of(gated, "simple")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    sections.append(("seen gate over bucketed base (split J1)", p))
    check("seen_gate_bucketed", "Bucketed: true" in p,
          "compacted base scanned with its bucket spec")
    check("seen_gate_bucketed", p.count("Exchange hashpartitioning") == 2,
          "exchanges = frontier + delta resolve only; base side in place")

    # --- the J3a trawl over the same warehouse: the window's deltas
    # anti-join into the day-pruned base in place — one base scan, and
    # the one hash exchange is the delta resolve (the anti join's key
    # side is the raw delta keys, so it needs no distinct of its own)
    trawl = trawl_candidates_pruned(spark, eng2.seen_table, _RC(),
                                    start + timedelta(seconds=10801 * 4))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    p = plan_of(trawl, "simple")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    sections.append(("trawl over bucketed base (pruned J3a)", p))
    man2 = eng2.seen_table.manifest()
    tbl2 = man2["file_meta"][man2["files"][0]]["bucket_table"]
    base_scans = [ln for ln in p.splitlines() if tbl2 in ln]
    check("trawl_bucketed",
          len(base_scans) == 1
          and re.search(r"PartitionFilters: \[[^\]]*lf_day", base_scans[0])
          and p.count("Exchange hashpartitioning") == 1,
          "base scanned once, day-pruned on lf_day; one exchange, the "
          "delta resolve: the anti join takes the raw delta keys, base "
          "side in place")

    # --- ann.kmeans: every Lloyd iteration broadcasts the K-row
    # centroid table into the assignment join; vectors never shuffle
    # for assignment (only the K-row centroid recompute aggregates);
    # `km` is the index built for the ann.ivf_search checks above
    p = plan_of(km)
    sections.append(("ann.kmeans (Lloyd iterations)", p))
    check("ivf_kmeans", "CartesianProduct" not in p,
          "no cartesian: centroids broadcast into the assignment join")
    check("ivf_kmeans", "BroadcastNestedLoopJoin" in p
          or "BroadcastHashJoin" in p, "centroid side broadcast")
    # assignment is an expression argmin over the broadcast centroid
    # array (ann.assign_nearest): the r3 crossJoin+row_number shape
    # showed an n×K hashpartitioning(vec_id) exchange feeding a Window
    # — the vector side must never hash-shuffle for assignment (the
    # only remaining Window is the K-row seed ranking, which exchanges
    # a SinglePartition of k rows)
    check("ivf_kmeans",
          "hashpartitioning(vec_id" not in p
          and "hashpartitioning(_id" not in p,
          "vectors never shuffle for assignment (expression argmin)")
    ps = plan_of(QUERIES["ivf_kmeans_search"](spark, SF))
    check("ivf_kmeans_search",
          "hashpartitioning(vec_id" not in ps
          and "hashpartitioning(_id" not in ps,
          "search-side assignment shuffle-free too")

    # --- link_rank: each PageRank iteration truncates lineage (the same
    # idiom as dedup_clusters' CC loop) — the final plan reads the
    # checkpointed ranks RDD instead of a 3×-nested join tree, and every
    # join in the final assembly is key-equi, never all-pairs
    p = plan_of(QUERIES["link_rank"](spark, SF))
    sections.append(("link_rank (fixed-point PageRank)", p))
    check("link_rank", "Scan ExistingRDD" in p,
          "per-iteration lineage truncated (ranks read from checkpoint)")
    check("link_rank", "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p,
          "rank joins are key-equi, never all-pairs")

    # --- CDX-split WARC read: split planning shuffles only extent
    # STRUCTS parsed from the tiny .cdx text (groupBy + spread
    # repartition = 2 exchanges); record bytes enter the plan ONLY
    # inside the MapInPandas range reader — no binaryFile scan, no
    # exchange above the parse
    from risjbot_spark.sources import warc as _W
    _wdir = tempfile.mkdtemp(prefix="plans_warc_")
    _wpages = spark.createDataFrame(
        [(f"https://ex{i}.org/a", datetime(2026, 1, 1, tzinfo=timezone.utc),
          b"<html>%d</html>" % i) for i in range(30)],
        "url string, warc_ts timestamp, payload binary")
    _W.write_warc(_wpages, _wdir, n_files=2).collect()
    p = plan_of(_W.read_warc(spark, _wdir, split_by_cdx=True,
                             split_bytes=512))
    sections.append(("warc_cdx_split_read (offset-range tasks)", p))
    check("warc_cdx_split_read",
          len(re.findall(r"Exchange \(\d+\)", p)) == 3
          and "hashpartitioning(file" in p
          and re.search(r"(?i)rangepartitioning\(_rn", p) is not None,
          "exchanges move only extent SPECS (groupBy hash + the "
          "KB-sized single-partition row_number window + the explicit "
          "RANGE spread on _rn — contiguous ±1-balanced split tasks "
          "regardless of AQE, no hash-collision stacking); record "
          "bytes never cross an exchange")
    check("warc_cdx_split_read",
          "MapInPandas" in p and "binaryFile" not in p,
          "ranges read inside the Arrow task off the .cdx index — the "
          "whole-file binaryFile scan is gone")

    # --- CDX cluster index build: the global sort that backs the
    # two-level point-lookup index moves index STRUCTS through exactly
    # one range exchange; no payload bytes, no binaryFile scan
    p = plan_of(_W._cluster_sorted_index(_W.read_cdx(spark, _wdir),
                                         shards=4))
    sections.append(("warc_cdx_cluster_build (global sorted shards)", p))
    check("warc_cdx_cluster_build",
          len(re.findall(r"Exchange \(\d+\)", p)) == 1
          and re.search(r"(?i)rangepartitioning\(urlkey", p) is not None
          and "binaryFile" not in p,
          "ONE range exchange over index structs (urlkey, ts, offset) "
          "builds the globally sorted shards; payload bytes never "
          "enter the plan")

    ok = all(c[1] for c in checks)
    lines = ["# PLANS — physical-plan audit\n",
             f"Generated by tools/explain_plans.py at sf dir `{SF}`.\n",
             "| query | check | pass |", "|---|---|---|"]
    for name, cond, msg in checks:
        lines.append(f"| {name} | {msg} | {'✅' if cond else '❌'} |")
    lines.append("")
    # cap each stored section: explain() renders nested InMemoryRelation
    # BUILD plans recursively, and an iterative query (dedup_clusters)
    # can emit hundreds of thousands of lines — the committed audit only
    # needs the head, the checks assert on the full text above
    max_lines = 400
    for title, plan in sections:
        plan_lines = normalize_plan(plan).strip().splitlines()
        if len(plan_lines) > max_lines:
            plan_lines = plan_lines[:max_lines] + [
                f"... truncated ({max_lines} of {len(plan_lines)} lines; "
                "checks ran against the full plan text)"]
        lines.append(f"\n## {title}\n\n```\n" + "\n".join(plan_lines)
                     + "\n```")
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print("\n".join(f"{'PASS' if c else 'FAIL'} {n}: {m}" for n, c, m in checks))
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
