"""Text-quality and contamination analysis over arbitrary DataFrames —
the repetition-signal and benchmark-decontamination half of the
training-data library (sibling of `dedup`/`ann`; same contract: caller
DataFrame + column NAMES, bench constants as parameter defaults).

Capabilities a 100 TB training-data pipeline runs on every corpus
(plus their applied forms: `quality_filter`, `mix_report`,
`strip_boilerplate` — line-level boilerplate removal — and `pii_scrub`):

  * repetition_signals — per-document repetitiveness statistics in the
    style of the Gopher quality rules (Rae et al. 2021, public):
    distinct-token ratio, most-frequent-token fraction, duplicate
    n-gram fraction. Pure per-row JVM expressions over the token array:
    ZERO shuffle, pushdown-friendly, cost bounded by document length —
    never an explode+groupBy over O(corpus tokens) rows.
  * decontaminate — flag training documents that share token n-grams
    with an evaluation/benchmark set (the standard n-gram-overlap
    decontamination used for public LLM training sets). The eval side
    is distinct-ed and BROADCAST (benchmarks are tiny next to a crawl);
    the training corpus explodes to distinct (id, ngram) rows and
    aggregates per id — one map-side-combinable shuffle on doc id, and
    the 100 TB side is never hashed across the cluster for the join.
    At production scale the join key would be a 64-bit hash of the
    n-gram rather than the string (same plan shape, ~8 bytes/key);
    the string form here keeps the DuckDB oracle engine-exact, since
    xxhash64 is not portable across engines.

Reference parity: RISJbot has no corpus-level quality/contamination
stage (its per-page QA is the fake-404/no-bodytext checks in
`/root/reference/RISJbot/spiders/base.py`); this module is part of the
LLM-training-data surface the brief adds on top.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import ngrams_expr, tokens_expr

__all__ = [
    "ngrams_expr",
    "repetition_exprs",
    "repetition_signals",
    "quality_filter",
    "mix_report",
    "mix_sample_thresholds",
    "mix_sample",
    "decontaminate",
    "boilerplate_lines",
    "strip_boilerplate",
    "PII_PATTERNS",
    "pii_scrub",
    "corpus_stats",
    "token_bucket_expr",
    "hashed_dot_expr",
    "classifier_prob_expr",
    "resolve_classifier_opts",
    "quality_classifier_score",
    "QualityClassifier",
    "train_quality_classifier",
    "hashed_bucket_counts",
    "dsir_log_ratio_weights",
    "dsir_scores",
    "dsir_select",
]

# internal working-column names, prefixed so they can't shadow a caller
# column under the arbitrary-schema contract (guards below still raise
# on a direct collision rather than silently misbehaving)
_TOKS = "__tq_toks"
_SH = "__tq_s"
_HIT = "__tq_hit"
_BSET = "__tq_boiler"
_THR = "__tq_thr"
_NT = "__tq_nt"


def _as_group_list(group_cols) -> "list[str]":
    return [group_cols] if isinstance(group_cols, str) else list(group_cols)

# Line split for boilerplate removal: regex so \r\n corpora work; the
# reassembled text always uses plain \n (documented normalization).
_LINE_RE = r"\r?\n"


def repetition_signals(df: DataFrame, id_col: str, text_col: str,
                       *, ngram: int = 2,
                       round_dp: int = 6) -> DataFrame:
    """Per-document repetition statistics (Gopher-style quality rules):

      n_tokens             — lowercased str.split() token count
      distinct_token_ratio — |distinct tokens| / n_tokens
      top_token_frac       — occurrences of the modal token / n_tokens
      dup_ngram_frac       — 1 - |distinct n-grams| / |n-grams|

    NULL text yields NULL everywhere; an empty/whitespace-only doc has
    n_tokens = 0 and NULL ratios; a doc shorter than `ngram` tokens has
    NULL dup_ngram_frac (no n-grams to judge).

    All four are per-row expressions over the token array — the modal
    count is the longest equal-run of the SORTED token array (one
    array_sort + one aggregate pass, O(L log L) per row), never the
    per-distinct-token filter scan whose O(distinct × L) degenerates to
    O(L²) on long high-entropy web documents. That beats the explode +
    groupBy(id, token) alternative at corpus scale: no shuffle at all,
    and the scan stays a projection Catalyst can prune around."""
    if id_col in ("n_tokens", "distinct_token_ratio", "top_token_frac",
                  "dup_ngram_frac", _TOKS):
        raise ValueError(f"id_col {id_col!r} collides with an output or "
                         "internal column of repetition_signals")
    toks = tokens_expr(F.col(text_col))
    d = df.select(F.col(id_col), toks.alias(_TOKS))
    sig = repetition_exprs(F.col(_TOKS), ngram=ngram, round_dp=round_dp)
    return d.select(
        id_col, *(expr.alias(name) for name, expr in sig.items()))


def repetition_exprs(toks, *, ngram: int = 2,
                     round_dp: int = 6) -> "dict[str, Column]":
    """The four repetition signals as named Column expressions over a
    token-array column — the composable form `repetition_signals` and
    the streaming quality gate both select from. Keys double as the
    canonical output column names."""
    n = F.size(toks)
    distinct_toks = F.array_distinct(toks)
    # longest run in the sorted array == count of the modal token; the
    # accumulator carries (previous token, current run, best run)
    zero = F.struct(F.lit(None).cast("string").alias("prev"),
                    F.lit(0).alias("run"), F.lit(0).alias("best"))
    def _run_step(acc, w):
        run = (F.when(w.eqNullSafe(acc["prev"]), acc["run"] + 1)
               .otherwise(F.lit(1)))
        return F.struct(w.alias("prev"), run.alias("run"),
                        F.greatest(acc["best"], run).alias("best"))
    top_cnt = F.aggregate(F.array_sort(toks), zero, _run_step,
                          lambda acc: acc["best"])
    grams = ngrams_expr(toks, ngram)
    n_grams = F.size(grams)
    frac = (
        lambda num, den: F.when(den > 0, F.round(num / den, round_dp)))
    return {
        # explicit NULL for NULL text: under spark.sql.legacy.sizeOfNull
        # size(NULL) is -1, which would silently UNDERCOUNT any sum over
        # this column (mix_report's n_tokens) instead of being skipped
        "n_tokens": F.when(F.isnull(toks), F.lit(None).cast("long"))
                     .otherwise(n.cast("long")),
        "distinct_token_ratio": frac(F.size(distinct_toks), n),
        "top_token_frac": frac(top_cnt, n),
        "dup_ngram_frac": frac(n_grams - F.size(F.array_distinct(grams)),
                               n_grams),
    }


def quality_passes(sig: dict, *, max_dup_ngram_frac: float,
                   max_top_token_frac: float,
                   min_distinct_ratio: float) -> Column:
    """The repetition gate's keep predicate over the four signals (a
    dict keyed like `repetition_exprs`, of expressions or columns): a
    document with no tokens fails; a NULL fraction (too short to judge)
    passes that check. Shared by `quality_filter` and the streaming
    gate."""
    return (
        (sig["n_tokens"] > 0)
        & F.coalesce(sig["dup_ngram_frac"] <= max_dup_ngram_frac,
                     F.lit(True))
        & F.coalesce(sig["top_token_frac"] <= max_top_token_frac,
                     F.lit(True))
        & F.coalesce(sig["distinct_token_ratio"] >= min_distinct_ratio,
                     F.lit(True)))


def quality_filter(df: DataFrame, text_col: str,
                   *, ngram: int = 2,
                   max_dup_ngram_frac: float = 0.3,
                   max_top_token_frac: float = 0.3,
                   min_distinct_ratio: float = 0.2,
                   with_signals: bool = False,
                   round_dp: int = 6) -> DataFrame:
    """APPLY the repetition-quality gate: return the rows of `df` that
    pass the Gopher-style thresholds — the kept corpus a training run
    actually reads, the same relationship `dedup.survivor_docs` has to
    the pair-finding ops. All caller columns survive; with
    `with_signals=True` the four signal columns are appended (guarded
    against caller-column collisions).

    Gate semantics match the streaming twin (`stream_quality_gate`):
    NULL-text rows and documents with no tokens (`''`, whitespace) are
    dropped (nothing to train on), and a document too short to judge a
    signal (NULL fraction — e.g. a single token has no n-grams) passes
    that check rather than being silently discarded.

    Plan shape at 100 TB: a pure projection + filter — ZERO exchanges,
    no join, no aggregation. The token array and its sort are computed
    once per row in one codegen'd stage; Catalyst prunes everything
    but `text_col` plus whatever the caller selects downstream, so the
    gate composes into the scan of a parquet corpus."""
    sig_names = ("n_tokens", "distinct_token_ratio", "top_token_frac",
                 "dup_ngram_frac")
    if _TOKS in df.columns:
        raise ValueError(f"input column {_TOKS!r} collides with an "
                         "internal column of quality_filter")
    if with_signals:
        clash = [c for c in sig_names if c in df.columns]
        if clash:
            raise ValueError(
                f"with_signals=True would overwrite caller columns "
                f"{clash}; rename them or pass with_signals=False")
    d = (df.filter(F.col(text_col).isNotNull())
         .withColumn(_TOKS, tokens_expr(F.col(text_col))))
    sig = repetition_exprs(F.col(_TOKS), ngram=ngram, round_dp=round_dp)
    kept = d.filter(quality_passes(
        sig, max_dup_ngram_frac=max_dup_ngram_frac,
        max_top_token_frac=max_top_token_frac,
        min_distinct_ratio=min_distinct_ratio))
    if with_signals:
        kept = kept.select(
            *df.columns, *(sig[n].alias(n) for n in sig_names))
    return kept.drop(_TOKS)


def mix_report(df: DataFrame, group_cols, text_col: str,
               *, ngram: int = 2, round_dp: int = 6) -> DataFrame:
    """Data-mix curation report: per-group document counts, token
    totals, corpus token share, and mean repetition signals — the table
    a training run sets mixture weights from (by source, language,
    domain tier, ...). `group_cols` is a column name or list of names.

    Output: group_cols..., n_docs, n_tokens, token_share,
    mean_distinct_token_ratio, mean_top_token_frac,
    mean_dup_ngram_frac. NULL-text documents count toward n_docs but
    contribute NULL tokens/signals (sum/avg skip them, matching SQL).

    Plan shape at 100 TB: ONE map-side-combinable exchange keyed by the
    group columns — the per-row signal expressions fold into partial
    aggregates inside the scan stage, so the shuffle carries one row
    per (partition, group), not per document. The `token_share` window
    then runs over the AGGREGATED relation only (cardinality = number
    of groups — sources × languages, thousands at web scale, never
    corpus-sized), so the single-partition window a naive plan would
    put on the corpus never appears."""
    from pyspark.sql import Window

    group_cols = _as_group_list(group_cols)
    out_names = ("n_docs", "n_tokens", "token_share",
                 "mean_distinct_token_ratio", "mean_top_token_frac",
                 "mean_dup_ngram_frac")
    clash = [c for c in group_cols
             if c in out_names or c.startswith("__tq_")]
    if clash:
        raise ValueError(f"group column(s) {clash} collide with "
                         "mix_report output/internal columns")
    d = df.select(*group_cols,
                  tokens_expr(F.col(text_col)).alias(_TOKS))
    sig = repetition_exprs(F.col(_TOKS), ngram=ngram, round_dp=round_dp)
    scale = 10 ** round_dp

    # Group means are computed ENTIRELY in integer arithmetic: float
    # avg() is summation-order-dependent (engines and partitionings sum
    # in different orders), and when a mean of round_dp-rounded values
    # lands on an exact decimal half even a deterministic double is
    # rounded differently by different engines (Spark rounds the
    # shortest decimal string HALF_UP, C-family engines round the
    # binary value — 0.1268895 goes to .126890 vs .126889). So: per-row
    # values become exact scaled integers, the sum is an exact integer,
    # and round-half-up(s/c) is (2s+c) div (2c) — associative, exact,
    # and engine-independent; only then does the result become a double
    # (an exact division by the scale).
    def _k(col):
        return F.round(col * scale).cast("long")

    sums = [
        ("mean_distinct_token_ratio", "distinct_token_ratio"),
        ("mean_top_token_frac", "top_token_frac"),
        ("mean_dup_ngram_frac", "dup_ngram_frac"),
    ]
    agg = d.groupBy(*group_cols).agg(
        F.count("*").alias("n_docs"),
        F.sum(sig["n_tokens"]).cast("long").alias("n_tokens"),
        *[x for out, name in sums for x in (
            F.sum(_k(sig[name])).alias(f"__tq_s_{out}"),
            F.count(sig[name]).alias(f"__tq_c_{out}"))])

    # the half-up numerators are widened to DECIMAL(38,0) before the
    # doubling/scaling multiplies: 2*n_tokens*scale wraps a BIGINT
    # silently (non-ANSI Spark) once a group passes ~4.6e12 tokens —
    # well inside the advertised 100 TB scale. The SUMs themselves stay
    # long (they saturate ~36 PB of tokens); only the multiply widens.
    def _mean(out):
        s, c = f"__tq_s_{out}", f"__tq_c_{out}"
        return F.expr(
            f"CASE WHEN {c} > 0 THEN "
            f"CAST((2 * CAST({s} AS DECIMAL(38,0)) + {c}) "
            f"div (2 * CAST({c} AS DECIMAL(38,0))) AS DOUBLE) "
            f"/ {float(scale)} END")

    total = F.sum("n_tokens").over(Window.partitionBy())
    share = F.expr(  # same integer half-up as the means
        f"CASE WHEN __tq_total > 0 THEN "
        f"CAST((2 * CAST(n_tokens AS DECIMAL(38,0)) * {scale} "
        f"+ __tq_total) div (2 * CAST(__tq_total AS DECIMAL(38,0))) "
        f"AS DOUBLE) / {float(scale)} END")
    return (
        agg.withColumn("__tq_total", total)
        .select(*group_cols, "n_docs", "n_tokens",
                share.alias("token_share"),
                *(_mean(out).alias(out) for out, _ in sums)))


def mix_sample_thresholds(df: DataFrame, group_cols,
                          weights: "dict",
                          *, by: str = "docs",
                          text_col: "str | None" = None,
                          resolution: int = 1_000_000) -> DataFrame:
    """The audit table behind `mix_sample`: per group, its current size
    `c` (documents, or tokens with by="tokens"), its target weight `w`,
    and the keep threshold `thr` in [0, resolution] a row's hash bucket
    is compared against. Exposed separately so a curation run can
    record WHY each group was down-sampled to what it was.

    The math is exact integer arithmetic (engine- and
    order-independent, like mix_report's means): downsampling can only
    shrink groups, so the largest achievable curated set keeps
    k_g = w_g * M where M = min over groups of (c_g div w_g) — then
    k_g <= c_g everywhere and the kept sizes sit in exactly the
    requested ratio. thr_g = (resolution * w_g * M) div c_g, widened to
    DECIMAL(38,0) before the multiply (a BIGINT wraps past ~9e12
    group tokens at resolution 1e6).

    Groups absent from `weights` are dropped entirely (weight 0);
    weights must be positive integers. With by="docs" the realized doc
    counts are ~exact in ratio; with by="tokens" the thresholds target
    token mass, realized tokens vary with per-doc length (sampling is
    by document either way).

    Degenerate configs fail LOUDLY at execution time instead of
    curating an empty corpus: a weighted group whose size is smaller
    than its weight (including size 0 — group absent from the corpus,
    or all-NULL/empty texts under by="tokens") makes the exact ratio
    unachievable by pure downsampling (M = min(c div w) = 0 would zero
    every threshold), so the threshold expression raises naming the
    offending group."""
    gcols = _as_group_list(group_cols)
    clash = [g for g in gcols if g in ("c", "w", "m", "thr")]
    if clash:
        raise ValueError(f"group column(s) {clash} collide with "
                         "mix_sample_thresholds output columns")
    if not weights:
        raise ValueError("weights must be a non-empty dict of "
                         "group -> positive integer weight")
    rows = []
    for key, w in weights.items():
        if not isinstance(w, int) or w <= 0:
            raise ValueError(f"weight for {key!r} must be a positive "
                             f"integer, got {w!r}")
        key = (key,) if not isinstance(key, tuple) else key
        if len(key) != len(gcols):
            raise ValueError(f"weights key {key!r} does not match "
                             f"group_cols {gcols}")
        rows.append((*key, w))
    wdf = df.sparkSession.createDataFrame(rows, gcols + ["w"])
    if by == "docs":
        c = F.count("*")
    elif by == "tokens":
        if text_col is None:
            raise ValueError("by='tokens' needs text_col")
        # NULL text must contribute 0 tokens, not size(NULL) = -1
        # (spark.sql.legacy.sizeOfNull default) — the same undercount
        # hazard repetition_exprs guards n_tokens against above
        c = F.sum(F.when(F.col(text_col).isNotNull(),
                         F.size(tokens_expr(F.col(text_col)))))
    else:
        raise ValueError(f"unknown by {by!r}; expected 'docs' or "
                         "'tokens'")
    # wdf-preserving outer join (not inner): a weighted group MISSING
    # from the corpus must surface as c=0 and fail the guard below, not
    # silently vanish from the min. The counts agg (groups-sized) is
    # the broadcast build side so the only corpus-keyed hash exchange
    # stays the aggregation itself.
    counts = (wdf.join(
        F.broadcast(df.groupBy(*gcols).agg(c.cast("long").alias("c"))),
        gcols, "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0))))
    # M as a window over the GROUPS-SIZED counts relation, not a
    # separate counts.agg() branch: a second branch would duplicate the
    # whole corpus-count subtree in the plan (two full corpus
    # aggregations); the single-partition window only ever sees one row
    # per group (mix_report's token_share device)
    from pyspark.sql import Window
    m = F.min(F.expr("c div w")).over(Window.partitionBy())
    # the raise guard rides the same window device as m, carrying ONE
    # offending group's fully-named error message to EVERY row: any row
    # that gets evaluated raises it, so the error is loud and names the
    # offender even when the offending row itself was pruned by a
    # downstream join before projection
    gdesc = F.concat_ws("/", *[F.col(g).cast("string") for g in gcols])
    err = F.concat(
        F.lit("mix_sample_thresholds: group "), gdesc,
        F.lit(" has size c="), F.col("c").cast("string"),
        F.lit(" < weight w="), F.col("w").cast("string"),
        F.lit(" (c div w = 0), so the requested ratio is unachievable"
              " by pure downsampling; lower this group's weight, drop"
              " it from weights, or pin thresholds="))
    offender = F.min(F.when(F.expr("c div w < 1"), err)).over(
        Window.partitionBy())
    thr = (F.when(offender.isNotNull(),
                  F.raise_error(offender).cast("long"))
           .otherwise(F.expr(
               f"CAST((CAST({resolution} AS DECIMAL(38,0))"
               " * w * m) div c AS LONG)")))
    return (counts.withColumn("m", m)
            .select(*gcols, "c", "w", thr.alias("thr")))


def mix_sample(df: DataFrame, group_cols,
               weights: "dict | None" = None,
               *, id_col: "str | None" = None,
               by: str = "docs",
               text_col: "str | None" = None,
               bucket: "Column | None" = None,
               thresholds: "DataFrame | None" = None,
               resolution: int = 1_000_000) -> DataFrame:
    """APPLY a data mix: deterministically down-sample each group so
    the curated corpus' group sizes sit in the ratio of `weights` —
    the step after `mix_report` told you the mix is wrong. Keeps the
    largest corpus achievable by pure downsampling (the binding group
    is kept whole). All caller columns survive.

    Selection is a hash bucket, NOT an RNG: by default
    pmod(xxhash64(id_col), resolution) — reproducible across runs and
    partitionings, so the same call always curates the same corpus
    (the auditability property a 100 TB training mix needs;
    df.sample() draws differ per execution). Pass `bucket` to supply
    your own [0, resolution) expression — e.g. a multiplicative hash
    that is also reproducible across ENGINES for oracle checks.

    Pass `thresholds` to reuse/pin a `mix_sample_thresholds` table
    (e.g. frozen from a reference corpus, or audited before the run) —
    INSTEAD of `weights`, never alongside: a weights dict next to a
    pinned table could silently disagree with it, so passing both (or
    neither) raises.

    Plan shape at 100 TB: one map-side-combinable exchange to count
    the groups (output is groups-sized), two tiny broadcast-joined
    one-row/group-count stages for the thresholds, then the corpus
    pass is scan → broadcast-hash-join → filter: the 100 TB side never
    exchanges."""
    gcols = _as_group_list(group_cols)
    if _THR in df.columns:
        raise ValueError(f"input column {_THR!r} collides with "
                         "mix_sample's internal threshold column")
    if (weights is None) == (thresholds is None):
        raise ValueError("mix_sample takes exactly one of weights= "
                         "(build thresholds from this corpus) or "
                         "thresholds= (a pinned mix_sample_thresholds "
                         "table); got both" if thresholds is not None
                         else "mix_sample takes exactly one of "
                         "weights= or thresholds=; got neither")
    if bucket is None:
        if id_col is None:
            raise ValueError("mix_sample needs id_col (for the default "
                             "hash bucket) or an explicit bucket=")
        bucket = F.pmod(F.xxhash64(F.col(id_col)), F.lit(resolution))
    if thresholds is None:
        thresholds = mix_sample_thresholds(
            df, gcols, weights, by=by, text_col=text_col,
            resolution=resolution)
    thr = thresholds.select(*gcols, F.col("thr").alias(_THR))
    return (df.join(F.broadcast(thr), gcols, "inner")
            .filter(bucket < F.col(_THR))
            .select(*df.columns))


def decontaminate(train: DataFrame, eval_df: DataFrame,
                  id_col: str, text_col: str,
                  *, ngram: int = 5,
                  round_dp: int = 6) -> DataFrame:
    """Benchmark decontamination by token n-gram overlap: for every
    training document that shares at least one `ngram`-token shingle
    with the evaluation set, return

      (id_col, n_hits, n_doc_ngrams, hit_frac)

    where n_hits counts the doc's DISTINCT shingles that appear
    anywhere in the eval set and n_doc_ngrams its distinct-shingle
    total. Callers drop (or audit) rows above a hit_frac threshold.

    Plan shape at 100 TB: the eval side reduces to a distinct shingle
    set and is broadcast (benchmark suites are MBs, crawls are TBs),
    and the training side dedupes each doc's shingles INSIDE the row
    (array_distinct before the explode — all of a doc's shingles live
    in one source row, so no cross-partition distinct is ever needed).
    That leaves scan → explode → broadcast-hash-join → partial-agg with
    exactly ONE exchange on the 100 TB side, keyed by doc id and
    map-side combined. Both sides tokenize identically (lowercased
    str.split(): `dedup.tokens_expr`), so quoting a benchmark question
    verbatim hits regardless of case or whitespace shape."""
    if id_col in ("n_hits", "n_doc_ngrams", "hit_frac", _SH, _HIT):
        raise ValueError(f"id_col {id_col!r} collides with an output or "
                         "internal column of decontaminate")
    ev = F.broadcast(
        eval_df.select(F.explode(
            ngrams_expr(tokens_expr(F.col(text_col)), ngram)).alias(_SH))
        .distinct()
        .withColumn(_HIT, F.lit(1)))
    tr = train.select(
        F.col(id_col),
        F.explode(F.array_distinct(
            ngrams_expr(tokens_expr(F.col(text_col)), ngram))).alias(_SH))
    joined = tr.join(ev, _SH, "left")
    n_hits = F.sum(F.coalesce(_HIT, F.lit(0)))
    return (
        joined.groupBy(id_col)
        .agg(n_hits.cast("long").alias("n_hits"),
             F.count("*").alias("n_doc_ngrams"))
        .filter(F.col("n_hits") > 0)
        .select(id_col, "n_hits", "n_doc_ngrams",
                F.round(F.col("n_hits") / F.col("n_doc_ngrams"),
                        round_dp).alias("hit_frac"))
    )


def _cand_lines(text_col, min_line_chars: int) -> Column:
    """Per-row DISTINCT trimmed candidate lines (length >=
    min_line_chars) — the within-doc dedup that makes a plain count()
    downstream a distinct-document count (decontaminate's trick: all of
    a doc's lines live in one source row, so no cross-partition
    distinct is ever needed)."""
    # NB: the lambda must be single-arg — passing F.trim directly makes
    # transform() bind its (element, index) pair to trim's optional
    # two-parameter form, silently trimming index DIGITS instead of
    # whitespace
    return F.array_distinct(F.filter(
        F.transform(F.split(text_col, _LINE_RE), lambda l: F.trim(l)),
        lambda t: F.length(t) >= min_line_chars))


def boilerplate_lines(df: DataFrame, text_col: str,
                      *, min_docs: int = 2,
                      min_line_chars: int = 10) -> DataFrame:
    """The corpus' boilerplate-line set: trimmed lines of at least
    `min_line_chars` characters that appear in at least `min_docs`
    DISTINCT documents — cookie banners, subscribe prompts, share bars;
    the CCNet/RefinedWeb-style line-level pass that document-level
    dedup never catches because every page differs elsewhere. Returns
    (line, n_docs). Line identity is the trimmed line verbatim (no
    lowercasing — boilerplate is literal); the length floor keeps
    short/structural lines ("", "---", list bullets) out of the set.

    Plan shape at 100 TB: each doc's lines are trimmed, length-filtered
    and distinct-ed INSIDE the row, then exploded and counted with ONE
    map-side-combinable exchange keyed by the line. No distinct-count
    state, no second pass. At production scale join/count on
    xxhash64(line) (~8 bytes/key) — string form here keeps the DuckDB
    oracle engine-exact."""
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.explode(_cand_lines(F.col(text_col),
                                      min_line_chars)).alias("line"))
        .groupBy("line").agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs))


def strip_boilerplate(df: DataFrame, text_col: str,
                      *, min_docs: int = 2,
                      min_line_chars: int = 10,
                      boiler: DataFrame | None = None,
                      out_col: str | None = None) -> DataFrame:
    """APPLY line-level boilerplate removal: every line whose trimmed
    form is in the boilerplate set (computed from `df` itself, or
    passed as `boiler` — e.g. a set frozen from a reference corpus and
    applied to new batches/streams) is dropped, and the surviving lines
    are rejoined with '\\n' (line endings normalize to \\n). All caller
    columns survive; the cleaned text replaces `text_col` unless
    `out_col` names a new column. NULL text stays NULL; a document
    whose every line is boilerplate becomes the empty string.

    The boilerplate set is collected into a single-row array,
    broadcast, and the removal is a pure expression — the corpus side
    never exchanges (the same one-row-broadcast shape as
    `ann.assign_nearest`). Right for boilerplate sets up to ~10^6 lines
    (the broadcast is the array's string bytes)."""
    if out_col is None:
        out_col = text_col
    elif out_col in df.columns:
        raise ValueError(f"out_col {out_col!r} already exists in the "
                         "input; pick a fresh name")
    if _BSET in df.columns:
        raise ValueError(f"input column {_BSET!r} collides with an "
                         "internal column of strip_boilerplate")
    if boiler is None:
        boiler = boilerplate_lines(df, text_col, min_docs=min_docs,
                                   min_line_chars=min_line_chars)
    elif "line" not in boiler.columns:
        raise ValueError("boiler DataFrame must have a 'line' column "
                         "(as produced by boilerplate_lines)")
    text = F.col(text_col)
    bset = boiler.agg(F.collect_list("line").alias(_BSET))
    cleaned = F.when(text.isNull(), F.lit(None)).otherwise(
        F.array_join(
            F.filter(F.split(text, _LINE_RE),
                     lambda l: ~F.array_contains(F.col(_BSET), F.trim(l))),
            "\n"))
    out = (df.crossJoin(F.broadcast(bset))
           .withColumn(out_col, cleaned).drop(_BSET))
    return out.select(*df.columns) if out_col in df.columns else out


# PII patterns, written for ENGINE PORTABILITY (Java regex == RE2):
# character classes + greedy counted quantifiers only — no alternation
# (where Java's leftmost-FIRST and RE2's leftmost-LONGEST diverge), no
# backreferences (RE2 has none), \d/\b ASCII in both. phone is the
# conservative international form (leading +) — a bare-digit-run
# pattern would eat timestamps and IDs at web scale.
PII_PATTERNS: "dict[str, str]" = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"\+\d[\d() .-]{6,}\d",
}


def pii_scrub(df: DataFrame, text_col: str,
              *, kinds=("email", "ipv4", "phone"),
              with_counts: bool = True,
              out_col: str | None = None,
              patterns: "dict[str, str] | None" = None) -> DataFrame:
    """Redact PII from a text column: each `kinds` entry's matches are
    replaced by its `<KIND>` token (e.g. `user@x.com` → `<EMAIL>`), in
    order — so each kind's count reflects what its pass actually saw
    after the earlier kinds were already redacted (an email's host can
    never double-count as a bare domain, an IP inside a URL already
    gone is not re-counted). With `with_counts=True` (default) an
    `n_<kind>` long column is appended per kind. All caller columns
    survive; the scrubbed text replaces `text_col` unless `out_col`
    names a new column. NULL text stays NULL with NULL counts.

    `patterns` overrides/extends PII_PATTERNS (kind -> regex). Keep
    overrides inside the portability envelope documented on
    PII_PATTERNS if oracle parity across engines matters.

    Plan shape at 100 TB: pure per-row expressions — zero exchanges,
    no join, no Python; the whole scrub composes into the corpus scan
    like `quality_filter` does."""
    pats = dict(PII_PATTERNS)
    if patterns:
        pats.update(patterns)
    unknown = [k for k in kinds if k not in pats]
    if unknown:
        raise ValueError(f"unknown PII kind(s) {unknown}; known: "
                         f"{sorted(pats)} (extend via patterns=)")
    if len(set(kinds)) != len(kinds):
        raise ValueError(f"duplicate kinds {list(kinds)} would produce "
                         "duplicate n_<kind> output columns")
    if out_col is None:
        out_col = text_col
    elif out_col in df.columns:
        raise ValueError(f"out_col {out_col!r} already exists in the "
                         "input; pick a fresh name")
    if with_counts:
        clash = [f"n_{k}" for k in kinds if f"n_{k}" in df.columns]
        if clash:
            raise ValueError(
                f"with_counts=True would overwrite caller columns "
                f"{clash}; rename them or pass with_counts=False")
    cur = F.col(text_col)
    counts = []
    for k in kinds:
        pat = F.lit(pats[k])
        if with_counts:
            # size(NULL array) is -1 under spark.sql.legacy.sizeOfNull —
            # guard explicitly so NULL text yields NULL counts under any
            # session config
            counts.append(
                F.when(F.col(text_col).isNull(),
                       F.lit(None).cast("long"))
                .otherwise(F.size(F.regexp_extract_all(cur, pat, 0))
                           .cast("long")).alias(f"n_{k}"))
        # Java replacement strings treat $ and \ specially — quote them
        # so a caller-extended kind name like "usd$" can't throw an
        # Illegal group reference per row at execution time
        repl = f"<{k.upper()}>".replace("\\", "\\\\").replace("$", "\\$")
        cur = F.regexp_replace(cur, pat, repl)
    scrubbed = cur.alias(out_col)
    cols = [scrubbed if c == out_col else F.col(c) for c in df.columns]
    if out_col not in df.columns:
        cols.append(scrubbed)
    return df.select(*cols, *counts)


def corpus_stats(df: DataFrame, text_col: str,
                 group_cols=None, *, round_dp: int = 6) -> DataFrame:
    """Datasheet aggregate — the summary table a dataset card publishes
    per group (or one row when group_cols is None): document and
    NULL-text counts, total tokens, mean and EXACT interpolated p50/p90
    token counts, and the max. Exact percentile, not approx: the
    datasheet is computed once per corpus release and must be
    reproducible across engines (Spark `percentile` and DuckDB
    `quantile_cont` share the linear-interpolation definition;
    approx_percentile differs per run and per engine).

    Plan shape at 100 TB: ONE group-keyed exchange with map-side
    partial aggregation for the sums; the exact percentiles collect
    each group's token-count list on the reducer — fine for datasheet
    cardinalities (groups = sources/languages), not for high-cardinality
    group keys (use approx_percentile there and accept the noise)."""
    groups = _as_group_list(group_cols) if group_cols else []
    if _NT in df.columns:
        raise ValueError(f"input column {_NT!r} collides with an "
                         "internal column of corpus_stats")
    from .dedup import raw_tokens_expr
    n_tok = F.when(
        F.col(text_col).isNull(), F.lit(None).cast("long")
    ).otherwise(
        F.size(raw_tokens_expr(F.col(text_col))).cast("long"))
    d = df.withColumn(_NT, n_tok)
    aggs = [
        F.count("*").alias("n_docs"),
        F.sum(F.col(text_col).isNull().cast("long")).alias("n_null"),
        F.sum(_NT).alias("n_tokens"),
        F.round(F.avg(_NT), round_dp).alias("tokens_mean"),
        F.round(F.expr(f"percentile({_NT}, 0.5)"), round_dp)
         .alias("tokens_p50"),
        F.round(F.expr(f"percentile({_NT}, 0.9)"), round_dp)
         .alias("tokens_p90"),
        F.max(_NT).alias("tokens_max"),
    ]
    if groups:
        return d.groupBy(*groups).agg(*aggs)
    return d.agg(*aggs)


# ---------------------------------------------------------------------------
# Model-based quality filtering (fastText/CCNet-style hashed linear
# classifier): train once on a small labeled set, score the whole corpus
# as a pure-expression projection.  The classic pipeline stage behind
# public LLM corpora (CCNet, GPT-3's WebText-vs-CommonCrawl filter,
# DCLM's fastText filter): a linear model over hashed bag-of-token
# features is cheap enough to run on 100 TB and strong enough to rank
# pages by "looks like quality reference text".
#
# Train/serve hash parity BY CONSTRUCTION: both paths bucket tokens with
# the same md5-prefix hash (token_bucket_expr).  Deliberately NOT
# F.hash / ml.HashingTF — those are two DIFFERENT murmur3 flavors
# (measured: pmod(F.hash(t), d) != HashingTF bucket for the same token),
# neither reproducible in DuckDB, so using either would make the serve
# path unverifiable cross-engine and would silently decouple train from
# serve if the flavors were ever mixed.

def token_bucket_expr(tok, dim: int) -> Column:
    """[0, dim) feature bucket of one token: md5-prefix-60-bit % dim.
    Engine-portable (md5 is identical everywhere); the 15-hex prefix
    fits a signed 64-bit int, so no overflow on any engine."""
    return (F.conv(F.substring(F.md5(tok), 1, 15), 16, 10)
            .cast("long") % dim)


def quality_classifier_score(df: DataFrame, text_col: str,
                             weights, *, intercept: float = 0.0,
                             out_col: str = "q_prob",
                             round_dp: "int | None" = 6) -> DataFrame:
    """sigmoid(intercept + Σ_token weights[bucket(token)]) per document —
    the dot product of the hashed token-COUNT vector with the weight
    vector, folded over the token array.  NULL text scores NULL; an
    empty document scores sigmoid(intercept).

    Plan shape at 100 TB: a pure per-row projection — ZERO exchanges,
    composes into the corpus scan, and the weight vector rides the plan
    as ONE array literal (8·dim bytes; the 2^15 default is 256 KB), so
    nothing is broadcast per-executor beyond the plan itself."""
    if out_col in df.columns:
        raise ValueError(f"out_col {out_col!r} already exists in the "
                         "input; pick a fresh name")
    prob = classifier_prob_expr(tokens_expr(F.col(text_col)), weights,
                                intercept=intercept)
    if round_dp is not None:
        prob = F.round(prob, round_dp)
    return df.withColumn(out_col, prob)


def hashed_dot_expr(grams, weights, *, init: float = 0.0) -> Column:
    """init + Σ_gram weights[bucket(gram)] as a composable Column — the
    one copy of the hashed-feature fold (bucket indexing included) that
    the classifier scorer and the DSIR scorer both build on."""
    w = [float(x) for x in weights]
    dim = len(w)
    if dim < 1:
        raise ValueError("weights must be non-empty")
    wlit = F.lit(w)
    return F.aggregate(
        grams, F.lit(float(init)),
        lambda acc, g: acc + F.element_at(
            wlit, (token_bucket_expr(g, dim) + 1).cast("int")))


def classifier_prob_expr(toks, weights, *,
                         intercept: float = 0.0) -> Column:
    """The scorer as a composable Column over a token-array column —
    what `quality_classifier_score` and the streaming gate both select.
    Stateless per-row fold, so it runs identically over batch and
    readStream inputs."""
    z = hashed_dot_expr(toks, weights, init=intercept)
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def resolve_classifier_opts(classifier: dict):
    """The ONE parser of the classifier-dict contract shared by
    pipeline.curate and streaming.stream_quality_gate (so batch and
    stream can never drift): accepts {"model": QualityClassifier} or
    {"weights": [...], "intercept": b}, plus min_prob (default 0.5;
    None = annotate only, no gating), keep_score, out_col.  Unknown
    keys and a missing model/weights raise — a typo like "minprob"
    must never silently gate at the default threshold.  Returns
    (weights, intercept, min_prob, keep_score, out_col)."""
    cl = dict(classifier)
    model = cl.pop("model", None)
    if model is not None:
        cl.setdefault("weights", model.weights)
        cl.setdefault("intercept", model.intercept)
    if "weights" not in cl:
        raise ValueError("classifier option needs 'weights' or a "
                         "trained 'model'")
    weights = cl.pop("weights")
    intercept = float(cl.pop("intercept", 0.0))
    min_prob = cl.pop("min_prob", 0.5)
    keep_score = bool(cl.pop("keep_score", False))
    out_col = cl.pop("out_col", "q_prob")
    if cl:
        raise ValueError(f"unknown classifier option(s): {sorted(cl)}")
    return weights, intercept, min_prob, keep_score, out_col


@dataclass
class QualityClassifier:
    """Trained hashed-linear quality model: `weights[b]` is the logit
    contribution of feature bucket b, so `score` is a zero-shuffle
    expression over any corpus."""
    weights: "list[float]"
    intercept: float

    @property
    def dim(self) -> int:
        return len(self.weights)

    def score(self, df: DataFrame, text_col: str, **kw) -> DataFrame:
        return quality_classifier_score(df, text_col, self.weights,
                                        intercept=self.intercept, **kw)


def train_quality_classifier(df: DataFrame, text_col: str,
                             label_col: str, *, dim: int = 2 ** 15,
                             max_iter: int = 100,
                             reg_param: float = 0.0,
                             elastic_net_param: float = 0.0
                             ) -> QualityClassifier:
    """Fit the logistic regression on a LABELED document set (label 1 =
    quality / in-domain, 0 = reject) and return weights the expression
    scorer replays exactly: `model.score(corpus, ...)` reproduces
    pyspark.ml's P(label=1) to float precision (parity-tested), because
    both use the same md5-prefix buckets and sigmoid(w·counts + b).

    The training path builds ml SparseVectors with a row UDF — fine
    HERE because labeled sets are small (10^4-10^6 docs, not the
    corpus); the 100 TB serve path never runs Python."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.linalg import SparseVector, VectorUDT
    from pyspark.sql.types import DoubleType

    idx = F.transform(tokens_expr(F.col(text_col)),
                      lambda t: token_bucket_expr(t, dim))

    def _to_vec(ids):
        counts: "dict[int, float]" = {}
        for i in ids:
            counts[i] = counts.get(i, 0.0) + 1.0
        return SparseVector(dim, sorted(counts.items()))

    to_vec = F.udf(_to_vec, VectorUDT())
    train = (df.filter(F.col(text_col).isNotNull())
             .select(to_vec(idx).alias("features"),
                     F.col(label_col).cast(DoubleType()).alias("label")))
    lr = LogisticRegression(maxIter=max_iter, regParam=reg_param,
                            elasticNetParam=elastic_net_param,
                            family="binomial")
    model = lr.fit(train)
    return QualityClassifier(weights=model.coefficients.toArray().tolist(),
                             intercept=float(model.intercept))


# ---------------------------------------------------------------------------
# DSIR-style data selection (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling", public): score every raw
# document by how much more likely its hashed n-gram bag is under a
# TARGET distribution (the high-quality corpus you want more of) than
# under the RAW distribution, then keep the high-importance slice.
# Shares the md5-prefix bucket machinery with the quality classifier,
# and the same scale shape: the two distribution estimates are ONE
# map-side-combinable aggregate each with dim-bounded output, the
# per-document score is a zero-shuffle fold over a plan-literal weight
# array.

def hashed_bucket_counts(df: DataFrame, text_col: str, *,
                         dim: int = 2 ** 15,
                         ngram: int = 1) -> DataFrame:
    """(bucket, cnt) histogram of md5-prefix-hashed token n-grams over a
    corpus — the sufficient statistic for a DSIR distribution estimate.
    Output is ≤ dim rows no matter the corpus size, and the aggregate
    combines map-side, so the 100 TB side costs one scan + one
    dim-bounded exchange."""
    toks = tokens_expr(F.col(text_col))
    grams = toks if ngram == 1 else ngrams_expr(toks, ngram)
    return (df.filter(F.col(text_col).isNotNull())
            .select(F.explode(grams).alias(_SH))
            .select(token_bucket_expr(F.col(_SH), dim).alias("bucket"))
            .groupBy("bucket").agg(F.count("*").alias("cnt")))


def dsir_log_ratio_weights(target_counts: DataFrame,
                           raw_counts: DataFrame, *, dim: int,
                           alpha: float = 1.0) -> "list[float]":
    """Per-bucket importance weights ln p̂_target(b) − ln p̂_raw(b) with
    add-alpha smoothing, from two `hashed_bucket_counts` histograms.
    Collects 2·dim rows to the driver (≤ a few hundred KB at the 2^15
    default) and returns the dim-long weight list the scorer embeds as
    one plan literal."""
    import math

    def _collect(cdf):
        d = {r["bucket"]: r["cnt"] for r in cdf.collect()}
        total = sum(d.values())
        return d, total

    tc, t_total = _collect(target_counts)
    rc, r_total = _collect(raw_counts)
    t_den = t_total + alpha * dim
    r_den = r_total + alpha * dim
    return [math.log((tc.get(b, 0) + alpha) / t_den)
            - math.log((rc.get(b, 0) + alpha) / r_den)
            for b in range(dim)]


def dsir_scores(df: DataFrame, text_col: str, weights, *,
                ngram: int = 1, out_col: str = "dsir_score",
                round_dp: "int | None" = 6) -> DataFrame:
    """Per-document importance score: Σ_gram weights[bucket(gram)] —
    the log likelihood ratio of the document under target vs raw
    (paper-faithful: unnormalized, so longer on-target documents score
    higher). NULL text scores NULL; an empty document scores 0.
    Zero-shuffle projection, same plan shape as the quality
    classifier's serve path."""
    if out_col in df.columns:
        raise ValueError(f"out_col {out_col!r} already exists in the "
                         "input; pick a fresh name")
    toks = tokens_expr(F.col(text_col))
    grams = toks if ngram == 1 else ngrams_expr(toks, ngram)
    s = hashed_dot_expr(grams, weights, init=0.0)
    if round_dp is not None:
        s = F.round(s, round_dp)
    return df.withColumn(out_col, s)


def dsir_select(df: DataFrame, text_col: str, target_df: DataFrame, *,
                dim: int = 2 ** 15, ngram: int = 1, alpha: float = 1.0,
                min_score: "float | None" = None,
                top_frac: "float | None" = None,
                out_col: str = "dsir_score",
                keep_score: bool = False) -> DataFrame:
    """End-to-end DSIR selection: estimate both distributions, score the
    raw corpus, keep documents above `min_score` — or above the
    (1−top_frac) score quantile when `top_frac` is given (the quantile
    comes from approxQuantile, a driver-side estimate: reproducible for
    a fixed input but approximate; pass min_score for an engine-exact,
    re-runnable cut, e.g. one published with a datasheet). NULL-text
    rows never survive (their score is NULL)."""
    if (min_score is None) == (top_frac is None):
        raise ValueError("pass exactly one of min_score / top_frac")
    if top_frac is not None and not 0.0 < top_frac <= 1.0:
        # pure argument validation — raise BEFORE the histogram scans
        raise ValueError("top_frac must be in (0, 1]")
    wts = dsir_log_ratio_weights(
        hashed_bucket_counts(target_df, text_col, dim=dim, ngram=ngram),
        hashed_bucket_counts(df, text_col, dim=dim, ngram=ngram),
        dim=dim, alpha=alpha)
    scored = dsir_scores(df, text_col, wts, ngram=ngram,
                         out_col=out_col, round_dp=None)
    if top_frac is not None:
        qs = scored.approxQuantile(out_col, [1.0 - top_frac], 0.001)
        if not qs:
            # no non-NULL scores (empty or all-NULL-text corpus): the
            # selection is empty, same as min_score mode on that input
            kept = scored.filter(F.lit(False))
            return kept if keep_score else kept.drop(out_col)
        min_score = qs[0]
    kept = scored.filter(F.col(out_col) >= min_score)
    return kept if keep_score else kept.drop(out_col)
