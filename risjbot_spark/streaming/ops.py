"""Structured Streaming variants of the crawl operators (SURVEY.md §2.9).

The batch round loop is the primary execution mode (the north_rule's
checkpointed-commit model); these streaming twins cover deployments where
frontier discoveries arrive continuously:

  * frontier_stream_dedup — watermarked streaming URL dedup (the seen-set
    gate within the late-data horizon),
  * stateful_refetch_gate — applyInPandasWithState keeping the per-URL
    (fetches, last_fetch) state machine of RefetchControl
    (/root/reference/RISJbot/spmiddlewares/refetchcontrol.py:227-316)
    inside the stream,
  * stateful_host_budget_gate — per-host Crawl-delay budget windows
    (W1/W3's politeness cap) enforced inside the stream,
  * fetch_rate_metrics — event-time tumbling-window crawl telemetry (A1).

All operators are tested with file sources + Trigger.AvailableNow in
tests/test_streaming_sinks.py (no long-running cluster needed).
"""

from __future__ import annotations

from datetime import datetime, timezone

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def frontier_stream_dedup(frontier: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming SO1/J1-lite: drop URL duplicates within the watermark
    horizon. State is bounded by the watermark (late discoveries beyond it
    fall through to the batch seen-table anti-join — correctness never
    depends on this filter, same contract as the bloom pre-filter).

    dropDuplicatesWithinWatermark, NOT dropDuplicates: plain
    dropDuplicates on a key subset that excludes the event-time column
    never evicts its state (every url_hash ever seen is kept forever —
    executor OOM on a long-running stream, and re-discoveries beyond the
    horizon would still be dropped, breaking the bounded-state contract
    this docstring promises)."""
    return (
        frontier.withWatermark("discovered_ts", watermark)
        .dropDuplicatesWithinWatermark(["url_hash"])
    )


_GATE_OUTPUT = T.StructType([
    T.StructField("url_hash", T.LongType()),
    T.StructField("url", T.StringType()),
    T.StructField("previousfetches", T.IntegerType()),
    T.StructField("decision", T.StringType()),  # first|refetch|skip
])
_GATE_STATE = T.StructType([
    T.StructField("fetches", T.IntegerType()),
    T.StructField("last_fetch", T.LongType()),  # epoch seconds
])


def stateful_refetch_gate(
    frontier: DataFrame,
    maxfetches: int = 8,
    refetchsecs: int = 10800,
    agelimit: int | None = None,
) -> DataFrame:
    """Streaming J1+J2: per-url_hash fetch gate with persistent state.

    Emits one row per candidate with the RefetchControl decision
    (first fetch / refetch / skip) and updates (fetches, last_fetch) for
    allowed rows — the arbitrary-stateful-op twin of the batch
    seen_filter + seen_updates pair. Event time = discovered_ts."""
    age_limit = agelimit or maxfetches * refetchsecs

    def gate(key, pdfs, state: GroupState):
        url_hash = key[0]
        if state.exists:
            fetches, last_fetch = state.get
        else:
            fetches, last_fetch = 0, None
        # collect ALL Arrow chunks before sorting: applyInPandasWithState
        # hands a large group over as multiple DataFrames with no
        # cross-chunk ordering, so per-chunk sorts replay events out of
        # event-time order (url_hash tiebreak is moot — one key per
        # group; url breaks residual ties deterministically)
        chunks = [pdf for pdf in pdfs]
        rows = []
        if chunks:
            whole = (pd.concat(chunks, ignore_index=True)
                     if len(chunks) > 1 else chunks[0])
            whole = whole.sort_values(["discovered_ts", "url"])
            # each decision depends on last_fetch as updated by the
            # PREVIOUS allowed row — a true sequential recurrence (the
            # refetchsecs spacing between successive fetches), so the
            # loop is irreducible; plain-int zip iteration instead of
            # iterrows keeps the per-event cost at ~100 ns, not ~10 µs
            # of Series construction (groups here are one url_hash —
            # a handful of re-discoveries per batch, never a hot host)
            tss = (whole["discovered_ts"].astype("int64") // 10**9).tolist()
            for ts, url in zip(tss, whole["url"].tolist()):
                if fetches == 0:
                    decision = "first"
                else:
                    age = ts - last_fetch
                    if fetches >= maxfetches or age < refetchsecs or age > age_limit:
                        decision = "skip"
                    else:
                        decision = "refetch"
                prev = fetches
                if decision != "skip":
                    fetches += 1
                    last_fetch = ts
                rows.append((url_hash, url, prev, decision))
        state.update((fetches, last_fetch if last_fetch is not None else 0))
        yield pd.DataFrame(rows, columns=[f.name for f in _GATE_OUTPUT.fields])

    return (
        frontier.groupBy("url_hash")
        .applyInPandasWithState(
            gate, _GATE_OUTPUT, _GATE_STATE, "append",
            GroupStateTimeout.NoTimeout,
        )
    )


_BUDGET_OUTPUT = T.StructType([
    T.StructField("host", T.StringType()),
    T.StructField("url", T.StringType()),
    T.StructField("discovered_ts", T.TimestampType()),
    T.StructField("decision", T.StringType()),   # allow | defer
])
_BUDGET_STATE = T.StructType([
    T.StructField("window_start", T.LongType()),  # epoch seconds
    T.StructField("allowed", T.IntegerType()),
])


def stateful_host_budget_gate(
    frontier: DataFrame,
    budgets: dict[str, int] | None = None,
    default_budget: int = 1000,
    window_seconds: int = 3600,
) -> DataFrame:
    """Streaming W1/W3: the per-host politeness budget as a stateful
    gate — at most `budget` rows per host per event-time window
    (Crawl-delay → budget, same derivation as host_budgets). The batch
    engine realizes this as a window-rank cut per round; here state is
    one (window_start, allowed) pair per host — O(hosts), not O(rows).
    Rows over budget emit decision='defer' (the batch engine's next
    round picks them up via the seen/trawl path, so the stream stays
    monotone — nothing is silently dropped). Event time =
    discovered_ts; rows replay in event-time order within a batch, url
    as the deterministic tiebreak (the batch order key's analogue).

    Late-arrival semantics — INTENTIONAL: state tracks only the latest
    window per host, so a cross-batch straggler whose event-time window
    already passed counts against the CURRENT window's budget (and may
    defer) even if its own window had budget left. Politeness budgets
    bound the rate of actual fetches, which happen at processing time —
    a late row fetched now spends now's budget, so deferring is the
    safe direction (the gate can only ever be politer than the batch
    twin, never ruder). Tracking per-window counters indefinitely would
    trade unbounded state for permission to burst on stale windows;
    compose an upstream withWatermark + filter if late rows should be
    dropped instead of deferred."""
    budget_map = {k: int(v) for k, v in (budgets or {}).items()}

    def gate(key, pdfs, state: GroupState):
        host = key[0]
        budget = budget_map.get(host, default_budget)
        if state.exists:
            win_start, allowed = state.get
        else:
            win_start, allowed = None, 0
        chunks = [pdf for pdf in pdfs]
        whole = None
        if chunks:
            whole = (pd.concat(chunks, ignore_index=True)
                     if len(chunks) > 1 else chunks[0])
            whole = whole.sort_values(["discovered_ts", "url"],
                                      ignore_index=True)
        if whole is not None and len(whole):
            # VECTORIZED twin of the sequential loop (a host is exactly
            # the hot key this gate exists for — budget-sized batches
            # per group make per-row python the bottleneck). The loop's
            # semantics: a row with win > tracked window resets the
            # counter; win <= tracked counts against it; allow while
            # counter < budget. Equivalently: the effective window is
            # the RUNNING MAX of (state window, row windows) — rows
            # group by that — and within each group the first
            # (budget - carry) rows allow, where carry is the state
            # counter for the group matching the carried-in window and
            # 0 for every later (reset) group.
            ts = whole["discovered_ts"].astype("int64") // 10**9
            win = (ts - ts % window_seconds).to_numpy()
            carry_win = win_start if win_start is not None else np.int64(
                win[0] - window_seconds)          # sentinel: before all
            eff = np.maximum.accumulate(np.maximum(win, carry_win))
            # position within each eff-window run (runs are consecutive:
            # eff is non-decreasing)
            new_run = np.empty(len(eff), dtype=bool)
            new_run[0] = True
            new_run[1:] = eff[1:] != eff[:-1]
            pos = np.arange(len(eff)) - np.maximum.accumulate(
                np.where(new_run, np.arange(len(eff)), 0))
            carry = np.where(eff == carry_win, allowed, 0)
            allow = (pos + carry) < budget
            decisions = np.where(allow, "allow", "defer")
            rows = pd.DataFrame({
                "host": host, "url": whole["url"],
                "discovered_ts": whole["discovered_ts"],
                "decision": decisions,
            })
            # state: counter for the LAST effective window (bounded by
            # budget — the loop stops incrementing once it's reached);
            # eff is a running max, so the final run is eff == eff[-1]
            last_mask = eff == eff[-1]
            win_start = int(eff[-1])
            allowed = int(min(budget,
                              (allowed if eff[-1] == carry_win else 0)
                              + int(last_mask.sum())))
        else:
            rows = pd.DataFrame(
                {f.name: pd.Series(dtype=object)
                 for f in _BUDGET_OUTPUT.fields})
        state.update((win_start if win_start is not None else 0, allowed))
        yield rows

    return (
        frontier.groupBy("host")
        .applyInPandasWithState(
            gate, _BUDGET_OUTPUT, _BUDGET_STATE, "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def stream_exact_text_dedup(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text",
                            ts_col: str = "ts",
                            watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of the training-data exact dedup (dedup.
    exact_dup_groups): keep the FIRST document per normalized-text
    fingerprint within the watermark horizon — the continuous-ingest
    shape of a pre-training pipeline (documents arrive as a stream; the
    batch CC/minhash family runs on the compacted table behind it).

    dropDuplicates on the md5 fingerprint is the streaming-native form:
    state is one tiny (fp, ts) row per distinct doc, bounded by the
    watermark (a duplicate arriving later than the horizon passes — the
    batch dedup over the accumulated table is the authoritative pass,
    same layering as the crawl's bloom-then-join gate). NULL-text rows
    pass through untouched: md5(NULL) is NULL and distinct NULL-text
    docs are not duplicates (same contract as the batch library)."""
    from ..dedup import normalized_text_expr

    fp = F.when(F.col(text_col).isNotNull(),
                F.md5(normalized_text_expr(F.col(text_col))))
    with_fp = (docs.withColumn("_fp", fp)
               .withWatermark(ts_col, watermark))
    deduped = (with_fp.filter(F.col("_fp").isNotNull())
               .dropDuplicates(["_fp"]))
    nulls = with_fp.filter(F.col("_fp").isNull())
    return deduped.unionByName(nulls).drop("_fp")


def stream_quality_gate(docs: DataFrame, eval_docs: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        *, ngram: int = 2, decontam_ngram: int = 5,
                        max_dup_ngram_frac: float = 0.3,
                        max_top_token_frac: float = 0.3,
                        min_distinct_ratio: float = 0.2,
                        max_hit_frac: float = 0.0,
                        classifier: "dict | None" = None) -> DataFrame:
    """Streaming twin of the training-data quality + decontamination
    gate (textquality.repetition_signals / .decontaminate): documents
    arriving as a stream are annotated with the four repetition signals
    and an eval-overlap fraction, and rows failing any threshold are
    dropped — the continuous-ingest filter in front of a pre-training
    corpus sink.

    Everything is per-row and STATELESS, so the gate needs no watermark
    and composes under any output mode: the static eval set (a
    benchmark suite — tiny by construction) is pre-reduced to ONE row
    holding its distinct shingle array and broadcast into the stream
    (the same one-row-array shape the k-means assignment broadcasts);
    contamination is then size(array_intersect(doc_grams, eval_grams))
    computed inside the row — no streaming aggregate, no state store.

    Gate semantics: NULL-text docs and docs with no tokens are dropped
    (nothing to train on); docs too short to judge a signal (NULL
    fraction) pass that check —
    the batch pipeline over the accumulated table stays authoritative,
    the same layering as the crawl's bloom-then-join gate.

    `classifier` adds the model-based filter in-stream (the SAME dict
    contract as pipeline.curate's, parsed by the shared
    textquality.resolve_classifier_opts — unknown keys raise in both
    places, min_prob=None means annotate-only in both): the scorer is a
    stateless per-row fold (textquality.classifier_prob_expr), so it
    gates the stream with no state store and the output gains a
    `q_prob` column."""
    from ..dedup import tokens_expr
    from ..textquality import (classifier_prob_expr, ngrams_expr,
                               quality_passes, repetition_exprs)

    ev = (eval_docs
          .select(F.explode(F.array_distinct(
              ngrams_expr(tokens_expr(F.col(text_col)), decontam_ngram)))
              .alias("s"))
          .agg(F.collect_set("s").alias("_eval_grams")))
    gated = (
        docs.filter(F.col(text_col).isNotNull())
        .withColumn("_toks", tokens_expr(F.col(text_col)))
        .join(F.broadcast(ev), F.lit(True), "inner")
    )
    sig = repetition_exprs(F.col("_toks"), ngram=ngram)
    doc_grams = F.array_distinct(
        ngrams_expr(F.col("_toks"), decontam_ngram))
    hit_frac = F.when(
        F.size(doc_grams) > 0,
        F.round(F.size(F.array_intersect(doc_grams, "_eval_grams"))
                / F.size(doc_grams), 6))
    clf_cols, min_prob, clf_out = [], None, "q_prob"
    if classifier is not None:
        from ..textquality import resolve_classifier_opts
        weights, intercept, min_prob, _keep, clf_out = \
            resolve_classifier_opts(classifier)
        prob = F.round(classifier_prob_expr(
            F.col("_toks"), weights, intercept=intercept), 6)
        clf_cols = [prob.alias(clf_out)]
    annotated = gated.select(
        id_col, text_col,
        *(expr.alias(name) for name, expr in sig.items()),
        hit_frac.alias("eval_hit_frac"), *clf_cols)
    passes = (
        quality_passes({name: F.col(name) for name in sig},
                       max_dup_ngram_frac=max_dup_ngram_frac,
                       max_top_token_frac=max_top_token_frac,
                       min_distinct_ratio=min_distinct_ratio)
        & F.coalesce(F.col("eval_hit_frac") <= max_hit_frac, F.lit(True))
    )
    if min_prob is not None:
        passes = passes & (F.col(clf_out) >= min_prob)
    return annotated.filter(passes)


def stream_extract_articles(pages_stream: DataFrame) -> DataFrame:
    """Continuous-ingest twin of the batch extract stage: the SAME
    vectorized extraction UDF (byte-identity surface included) applied to
    a readStream of pages rows — new WARC drops become article rows as
    they land, no round loop. Pure per-row transformation: no state, no
    watermark; the seen-gate/dedup stages above compose upstream."""
    from ..udfs import extract_article_udf

    fetchtime = F.date_format("warc_ts", "EEE, dd MMM yyyy HH:mm:ss 'GMT'")
    return (
        pages_stream.withColumn(
            "article",
            extract_article_udf(F.col("html"), F.col("url"), fetchtime,
                                F.lit(None).cast("string")),
        )
        # the struct carries its own `url` (canonical-link override,
        # loaders.py:145) — keep the fetched URL under a distinct name
        .select(F.col("url").alias("fetch_url"), "warc_ts", "article.*")
    )


def fetch_rate_metrics(articles: DataFrame, window: str = "1 hour",
                       watermark: str = "2 hours") -> DataFrame:
    """A1 streaming telemetry: per-window per-host fetched/extracted
    counts with event-time watermarking for late arrivals."""
    return (
        articles.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), F.col("host"))
        .agg(F.count("*").alias("fetched"),
             F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("extracted"))
        .select(F.col("w.start").alias("win_start"), "host", "fetched", "extracted")
    )


def incremental_dedup_sink(store, id_col: str, text_col: str, *,
                           kept_path: str,
                           verify: str = "estimate",
                           corpus_df: "DataFrame | None" = None,
                           threshold: "float | None" = None):
    """foreachBatch sink running the incremental MinHash store per
    micro-batch — the continuous-ingest form of cross-batch dedup
    (dedup_store.MinHashStore): each arriving batch is dedup'd against
    everything ever kept, survivors land under
    `kept_path/batch=<micro-batch id>/` and their signatures are
    committed to the store, so later batches see them.

    Exactly-once: the kept output is written per-batch-directory with
    OVERWRITE (idempotent), the store commit records the micro-batch id
    atomically with its table state and skips replays, and add_batch's
    decisions are replay-stable (self-pairs excluded — see the store's
    docstring). A crashed batch therefore reproduces byte-identical
    output and store state when Structured Streaming replays it. Run
    ONE streaming query per store (batch ids are monotonic per query).

    verify defaults to "estimate" (stored-minima agreement): a stream
    has no authoritative old-corpus DataFrame at hand. With
    verify="exact", the corpus the store verifies against is
    corpus_df (the pre-stream curated corpus, if any) UNIONED with
    everything this sink already kept (read back from kept_path) —
    without the kept side, the first new doc matching an
    earlier-micro-batch survivor would trip the store's stale-corpus
    guard and kill the query on every retry. Returns the function to
    pass to `writeStream.foreachBatch(...)`.

    Usage:
        q = (docs_stream.writeStream
             .foreachBatch(incremental_dedup_sink(
                 store, "doc_id", "text", kept_path="/data/kept"))
             .option("checkpointLocation", ckpt).start())
    """
    def run(batch_df: DataFrame, batch_id: int) -> None:
        corpus = corpus_df
        if verify == "exact":
            spark = batch_df.sparkSession
            try:
                kept_so_far = (spark.read
                               .parquet(f"{kept_path}/batch=*")
                               .select(id_col, text_col))
            except Exception:     # first batch: nothing kept yet
                kept_so_far = None
            if kept_so_far is not None:
                base = (corpus.select(id_col, text_col)
                        if corpus is not None else None)
                corpus = (base.unionAll(kept_so_far)
                          if base is not None else kept_so_far)
        out = store.add_batch(batch_df, id_col, text_col,
                              corpus_df=corpus, verify=verify,
                              threshold=threshold,
                              stream_batch_id=int(batch_id))
        (out["kept"].write.mode("overwrite")
         .parquet(f"{kept_path}/batch={int(batch_id)}"))
    return run


def stream_warc_records(spark, queue_dir: str, *,
                        chunk_records: int = 512) -> DataFrame:
    """Streaming WARC ingestion by PATH QUEUE: a micro-batch per batch
    of arriving segment paths.  Spark's file streaming sources don't
    speak binaryFile, so the stream is a text source of newline-
    delimited .warc(.gz) paths (the standard "manifest queue" shape a
    crawler or a Common Crawl fetcher drops as it lands segments);
    each path's bytes are opened and parsed EXECUTOR-side inside
    mapInPandas (sources.warc.parse_warc_bytes — per-record gzip
    resync, bounded-chunk yields), so the driver never touches file
    bytes and a 1 GB segment stays a one-task unit of work exactly as
    in the batch reader.  Downstream compose the other streaming twins
    (stream_extract_articles, stream_quality_gate) unchanged.

    Exactly-once: the text source checkpoints WHICH path-list files
    were consumed; re-delivered paths after a crash re-parse the same
    immutable segments, so sinks that key on (url, warc_ts) — the
    engine's MERGE/foreachBatch sinks — stay idempotent."""
    from ..sources.warc import WARC_RECORD_SCHEMA, record_chunks

    paths = (spark.readStream.format("text").load(queue_dir)
             .select(F.trim("value").alias("path"))
             .filter(F.col("path") != ""))

    def _parse(batches):
        for pdf in batches:
            for p in pdf["path"]:
                with open(p, "rb") as fh:
                    data = fh.read()
                yield from record_chunks(data, file=p,
                                         chunk_records=chunk_records)

    return paths.mapInPandas(_parse, schema=WARC_RECORD_SCHEMA)


def stream_pages_from_warc(spark, queue_dir: str, **kw) -> DataFrame:
    """stream_warc_records shaped to the engine's input table — the
    streaming twin of sources.warc.pages_from_warc, sharing its
    records_to_pages mapping so the two can never drift."""
    from ..sources.warc import records_to_pages

    return records_to_pages(stream_warc_records(spark, queue_dir, **kw))
