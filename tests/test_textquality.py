"""textquality library API (repetition signals + decontamination) on
arbitrary-schema DataFrames, plus plan-shape guarantees: repetition
signals must be a pure projection (zero exchanges) and decontamination
must broadcast the eval side and shuffle exactly once (on the doc id).
"""

import pytest
from pyspark.sql import functions as F

from risjbot_spark import textquality


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "a b a b c"),                 # 4 bigrams, 3 distinct
        (2, "x x x x"),                   # maximally repetitive
        (3, None),                        # NULL text
        (4, ""),                          # empty
        (5, "solo"),                      # shorter than any bigram
        (6, "  Tabs\tand  SPACES  "),     # ws + case normalization
    ]
    return spark.createDataFrame(rows, "pk long, body string")


def test_repetition_signals_values(corpus):
    out = {r["pk"]: r for r in
           textquality.repetition_signals(corpus, "pk", "body")
           .collect()}
    r1 = out[1]
    assert (r1["n_tokens"], r1["distinct_token_ratio"],
            r1["top_token_frac"], r1["dup_ngram_frac"]) == (5, 0.6, 0.4,
                                                            0.25)
    r2 = out[2]
    assert (r2["n_tokens"], r2["distinct_token_ratio"],
            r2["top_token_frac"], r2["dup_ngram_frac"]) == (4, 0.25, 1.0,
                                                            0.666667)
    # NULL text → NULL everywhere; empty → 0 tokens, NULL ratios;
    # single token → no bigrams to judge
    assert all(out[3][c] is None for c in
               ("n_tokens", "distinct_token_ratio", "top_token_frac",
                "dup_ngram_frac"))
    assert out[4]["n_tokens"] == 0 and out[4]["distinct_token_ratio"] is None
    assert out[5]["dup_ngram_frac"] is None
    assert out[5]["top_token_frac"] == 1.0
    # lowercase + Python-whitespace tokenization
    assert out[6]["n_tokens"] == 3 and out[6]["distinct_token_ratio"] == 1.0


def test_repetition_signals_ngram_param(spark):
    # "a b c a b c" with ngram=3: grams (a b c, b c a, c a b, a b c)
    # → 4 total, 3 distinct → dup frac 0.25
    df = spark.createDataFrame([(1, "a b c a b c")], "pk long, body string")
    row = textquality.repetition_signals(df, "pk", "body", ngram=3).first()
    assert row["dup_ngram_frac"] == 0.25


def test_repetition_signals_is_pure_projection(corpus):
    plan = (textquality.repetition_signals(corpus, "pk", "body")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_ngrams_expr_rejects_bad_n(corpus):
    with pytest.raises(ValueError):
        textquality.ngrams_expr(F.col("x"), 0)


def test_colliding_id_col_raises(spark):
    """Arbitrary-schema contract: a caller id column that matches an
    output or internal name must fail loudly, not mis-resolve."""
    df = spark.createDataFrame([("a", "x y z")],
                               "n_tokens string, body string")
    with pytest.raises(ValueError, match="collides"):
        textquality.repetition_signals(df, "n_tokens", "body")
    df2 = spark.createDataFrame([("a", "x y z")],
                                "hit_frac string, body string")
    with pytest.raises(ValueError, match="collides"):
        textquality.decontaminate(df2, df2, "hit_frac", "body")


def test_modal_count_on_long_high_entropy_doc(spark):
    """The sorted-run modal count must stay cheap on a long
    mostly-distinct document (the old per-distinct-token filter was
    O(L²) here) and still agree with the known mode."""
    words = [f"w{i}" for i in range(20000)] + ["dup"] * 7
    df = spark.createDataFrame([(1, " ".join(words))],
                               "pk long, body string")
    row = textquality.repetition_signals(df, "pk", "body").first()
    assert row["n_tokens"] == 20007
    assert row["top_token_frac"] == round(7 / 20007, 6)


@pytest.fixture(scope="module")
def contaminated(spark):
    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven"),
            (3, "alpha beta gamma delta epsilon UNRELATED tail here"),
            (4, None),
            (5, "tiny doc"),
        ],
        "pk long, body string")
    ev = spark.createDataFrame(
        [(100, "beta gamma delta epsilon zeta"),
         (101, "ALPHA beta GAMMA delta epsilon")],
        "pk long, body string")
    return train, ev


def test_decontaminate_hits(contaminated):
    train, ev = contaminated
    out = {r["pk"]: r for r in
           textquality.decontaminate(train, ev, "pk", "body").collect()}
    # doc 1 has 4 distinct 5-grams; eval holds "beta gamma delta epsilon
    # zeta" and "alpha beta gamma delta epsilon" (case-folded) → 2 hits
    assert out[1]["n_hits"] == 2 and out[1]["n_doc_ngrams"] == 4
    assert out[1]["hit_frac"] == 0.5
    # doc 3 shares only "alpha beta gamma delta epsilon"
    assert out[3]["n_hits"] == 1 and out[3]["n_doc_ngrams"] == 4
    # clean / NULL / too-short docs never appear
    assert set(out) == {1, 3}


def test_decontaminate_plan_broadcasts_eval(contaminated):
    train, ev = contaminated
    plan = (textquality.decontaminate(train, ev, "pk", "body")
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    # per-doc shingle dedup happens inside the row (array_distinct
    # pre-explode), so the TRAINING side hash-exchanges exactly once —
    # the id-keyed aggregate. The eval side's distinct() is the only
    # other hash exchange, and it's on the tiny broadcast input.
    import re
    n_hash_ex = len(re.findall(r"Exchange hashpartitioning\(pk", plan))
    assert n_hash_ex == 1, plan


def test_quality_filter_keeps_and_drops(corpus):
    """The applied gate: NULL text and no-token docs dropped,
    too-short-to-judge passes (NULL fractions), threshold violations
    dropped, all caller columns survive, signals appended on request."""
    kept = textquality.quality_filter(
        corpus, "body", max_top_token_frac=0.5, with_signals=True)
    rows = {r["pk"]: r for r in kept.collect()}
    # 1: ttf 0.4 ≤ 0.5 → keep; 2: ttf 1.0 → drop; 3: NULL text → drop;
    # 4: empty → no tokens → drop; 5: "solo" ttf 1.0 → drop;
    # 6: ttf 1/3 → keep
    assert set(rows) == {1, 6}
    assert kept.columns == ["pk", "body", "n_tokens",
                            "distinct_token_ratio", "top_token_frac",
                            "dup_ngram_frac"]
    r1 = rows[1]
    assert (r1["body"], r1["n_tokens"], r1["dup_ngram_frac"]) == (
        "a b a b c", 5, 0.25)
    # without signals: original schema, same row set
    bare = textquality.quality_filter(corpus, "body",
                                      max_top_token_frac=0.5)
    assert bare.columns == ["pk", "body"]
    assert {r["pk"] for r in bare.collect()} == {1, 6}


def test_zero_token_docs_fail_both_quality_gates(spark):
    """A doc with no tokens has nothing to train on: the batch gate and
    its streaming twin reject it as a fixed rule, even with thresholds
    that pass everything else — its NULL signals must not pass through
    the NULL-passes coalesce, while a one-token doc (NULL n-gram
    fraction) still passes."""
    from risjbot_spark.streaming import stream_quality_gate

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "\t\n "), (4, "solo"), (5, "a b c")],
        "doc_id long, text string")
    lax = dict(max_dup_ngram_frac=1.0, max_top_token_frac=1.0,
               min_distinct_ratio=0.0)
    kept = textquality.quality_filter(docs, "text", **lax)
    assert sorted(r["doc_id"] for r in kept.collect()) == [4, 5]
    ev = spark.createDataFrame([(100, "unrelated eval text here ok")],
                               "doc_id long, text string")
    streamed = stream_quality_gate(docs, ev, **lax)
    assert sorted(r["doc_id"] for r in streamed.collect()) == [4, 5]


def test_quality_filter_zero_exchanges(corpus):
    plan = (textquality.quality_filter(corpus, "body", with_signals=True)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_quality_filter_collision_guards(spark):
    df = spark.createDataFrame([(1.0, "x y")],
                               "n_tokens double, body string")
    with pytest.raises(ValueError, match="overwrite"):
        textquality.quality_filter(df, "body", with_signals=True)
    # ...but without signals the caller's n_tokens column is fine
    assert textquality.quality_filter(df, "body").columns == [
        "n_tokens", "body"]
    df2 = spark.createDataFrame([("z", "x y")],
                                "__tq_toks string, body string")
    with pytest.raises(ValueError, match="collides"):
        textquality.quality_filter(df2, "body")


@pytest.fixture(scope="module")
def mix_corpus(spark):
    rows = [
        ("g1", "en", "a b c"),    # dtr 1.0, ttf 0.333333, dnf 0.0
        ("g1", "en", "a a b"),    # dtr 0.666667, ttf 0.666667, dnf 0.0
        ("g2", "de", "x y"),      # dtr 1.0, ttf 0.5, dnf 0.0
        ("g2", "de", None),       # counts toward n_docs only
    ]
    return spark.createDataFrame(rows, "src string, lg string, body string")


def test_mix_report_values(mix_corpus):
    out = {(r["src"], r["lg"]): r for r in
           textquality.mix_report(mix_corpus, ["src", "lg"], "body")
           .collect()}
    g1, g2 = out[("g1", "en")], out[("g2", "de")]
    assert (g1["n_docs"], g1["n_tokens"]) == (2, 6)
    assert (g2["n_docs"], g2["n_tokens"]) == (2, 2)
    assert g1["token_share"] == 0.75 and g2["token_share"] == 0.25
    # engine-exact HALF-UP mean: (1.0 + 0.666667)/2 = 0.8333335, an
    # exact decimal half — must round UP to 0.833334 on every engine
    # (float avg() would leave this to binary-double luck)
    assert g1["mean_distinct_token_ratio"] == 0.833334
    assert g1["mean_top_token_frac"] == 0.5  # (0.333333+0.666667)/2
    # g2's NULL-text doc is excluded from means (count skips NULLs)
    assert (g2["mean_distinct_token_ratio"],
            g2["mean_top_token_frac"],
            g2["mean_dup_ngram_frac"]) == (1.0, 0.5, 0.0)


def test_mix_report_single_group_col_and_guards(mix_corpus):
    out = textquality.mix_report(mix_corpus, "src", "body")
    assert {(r["src"], r["n_docs"]) for r in out.collect()} == {
        ("g1", 2), ("g2", 2)}
    bad = mix_corpus.withColumnRenamed("src", "n_docs")
    with pytest.raises(ValueError, match="collide"):
        textquality.mix_report(bad, "n_docs", "body")


def test_mix_report_plan_one_corpus_exchange(mix_corpus):
    """One hash exchange keyed by the group columns (map-side combined
    partial aggregate before it); the token_share window's
    SinglePartition exchange runs over the AGGREGATED relation only —
    groups, not documents."""
    plan = (textquality.mix_report(mix_corpus, ["src", "lg"], "body")
            ._jdf.queryExecution().executedPlan().toString())
    import re
    assert len(re.findall(r"Exchange hashpartitioning\(src", plan)) == 1
    assert "partial_count(" in plan.lower()


@pytest.fixture(scope="module")
def line_corpus(spark):
    footer = "Subscribe to our newsletter"
    share = "Share this article now"
    rows = [
        (1, f"story one body text\n{footer}\n{share}"),
        (2, f"story two body text\r\n{footer}\r\nunique tail two"),
        (3, f"story three body text\n  {footer}  \nok"),
        (4, f"{share}\n{footer}"),
        (5, None),
        (6, "short\nok"),
    ]
    return spark.createDataFrame(rows, "pk long, body string")


def test_boilerplate_lines_counts(line_corpus):
    out = {r["line"]: r["n_docs"] for r in
           textquality.boilerplate_lines(line_corpus, "body",
                                         min_docs=2).collect()}
    # footer in docs 1-4 (doc 3 space-padded — trim matches); share in
    # 1 and 4; "ok"/"short" are under the 10-char floor and never count
    assert out == {"Subscribe to our newsletter": 4,
                   "Share this article now": 2}
    strict = textquality.boilerplate_lines(line_corpus, "body",
                                           min_docs=3)
    assert [r["line"] for r in strict.collect()] == [
        "Subscribe to our newsletter"]
    with pytest.raises(ValueError, match="min_docs"):
        textquality.boilerplate_lines(line_corpus, "body", min_docs=1)


EXPECT_MIN3 = {
    1: "story one body text\nShare this article now",
    2: "story two body text\nunique tail two",   # \r\n normalized
    3: "story three body text\nok",
    4: "Share this article now",
    5: None,
    6: "short\nok",
}


def test_strip_boilerplate_broadcast(line_corpus):
    out = {r["pk"]: r["body"] for r in
           textquality.strip_boilerplate(line_corpus, "body",
                                         min_docs=3).collect()}
    assert out == EXPECT_MIN3
    # min_docs=2 also strips the share bar; doc 4 becomes EMPTY (not
    # NULL) — every line was boilerplate
    out2 = {r["pk"]: r["body"] for r in
            textquality.strip_boilerplate(line_corpus, "body",
                                          min_docs=2).collect()}
    assert out2[4] == "" and out2[1] == "story one body text"


def test_strip_boilerplate_frozen_set_and_out_col(spark, line_corpus):
    """A boiler set frozen elsewhere applies to new batches (the
    streaming-ready form), and out_col leaves the source column
    intact."""
    frozen = spark.createDataFrame([("story one body text",)], ["line"])
    out = textquality.strip_boilerplate(line_corpus, "body",
                                        boiler=frozen, out_col="clean")
    assert out.columns == ["pk", "body", "clean"]
    rows = {r["pk"]: r for r in out.collect()}
    assert rows[1]["clean"] == ("Subscribe to our newsletter\n"
                                "Share this article now")
    assert rows[1]["body"].startswith("story one body text")
    # doc 2's footer is NOT in the frozen set — the doc passes through
    # (line endings still normalize to \n)
    assert rows[2]["clean"] == ("story two body text\n"
                                "Subscribe to our newsletter\n"
                                "unique tail two")
    with pytest.raises(ValueError, match="'line' column"):
        textquality.strip_boilerplate(
            line_corpus, "body",
            boiler=frozen.withColumnRenamed("line", "l"))
    with pytest.raises(ValueError, match="already exists"):
        textquality.strip_boilerplate(line_corpus, "body",
                                      out_col="pk")


def test_strip_boilerplate_plan_corpus_never_shuffles(line_corpus):
    """Broadcast strategy: ONE line-keyed exchange (the boiler count),
    no corpus-keyed exchange — the removal composes into the scan."""
    import re
    plan = (textquality.strip_boilerplate(line_corpus, "body")
            ._jdf.queryExecution().executedPlan().toString())
    assert len(re.findall(r"Exchange hashpartitioning\(line", plan)) == 1
    assert "Exchange hashpartitioning(pk" not in plan


def test_pii_scrub_values(spark):
    rows = [
        (1, "mail me at jo.doe+x@ex-ample.co.uk or jo@ex.io today"),
        (2, "server 10.0.255.7 and 8.8.8.8, call +44 20 7946 0958."),
        (3, None),
        (4, "no pii here"),
    ]
    df = spark.createDataFrame(rows, "pk long, body string")
    out = {r["pk"]: r for r in textquality.pii_scrub(df, "body").collect()}
    assert out[1]["body"] == "mail me at <EMAIL> or <EMAIL> today"
    assert (out[1]["n_email"], out[1]["n_ipv4"], out[1]["n_phone"]) == (
        2, 0, 0)
    assert out[2]["body"] == "server <IPV4> and <IPV4>, call <PHONE>."
    assert (out[2]["n_email"], out[2]["n_ipv4"], out[2]["n_phone"]) == (
        0, 2, 1)
    assert out[3]["body"] is None and out[3]["n_email"] is None
    assert out[4]["body"] == "no pii here" and out[4]["n_ipv4"] == 0


def test_pii_scrub_options(spark):
    df = spark.createDataFrame([(1, "ssn 123-45-6789 x")],
                               "pk long, body string")
    out = textquality.pii_scrub(
        df, "body", kinds=("ssn",),
        patterns={"ssn": r"\d{3}-\d{2}-\d{4}"}, out_col="red").first()
    assert out["red"] == "ssn <SSN> x" and out["n_ssn"] == 1
    assert out["body"] == "ssn 123-45-6789 x"
    with pytest.raises(ValueError, match="unknown PII kind"):
        textquality.pii_scrub(df, "body", kinds=("dna",))
    clash = df.withColumnRenamed("pk", "n_email")
    with pytest.raises(ValueError, match="overwrite"):
        textquality.pii_scrub(clash, "body")
    bare = textquality.pii_scrub(clash, "body", with_counts=False)
    assert bare.columns == ["n_email", "body"]


def test_pii_scrub_zero_exchanges(spark):
    df = spark.createDataFrame([(1, "x")], "pk long, body string")
    plan = (textquality.pii_scrub(df, "body")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_pii_scrub_dollar_kind_and_dup_guard(spark):
    """Review fixes: a kind name with Java-replacement specials must
    not throw per row, and duplicate kinds must fail loudly instead of
    emitting two n_<kind> columns."""
    df = spark.createDataFrame([(1, "cost $120 today")],
                               "pk long, body string")
    out = textquality.pii_scrub(
        df, "body", kinds=("usd$",),
        patterns={"usd$": r"\$\d+"}).first()
    assert out["body"] == "cost <USD$> today" and out["n_usd$"] == 1
    with pytest.raises(ValueError, match="duplicate kinds"):
        textquality.pii_scrub(df, "body", kinds=("email", "email"))


def test_mix_report_share_survives_huge_groups(spark):
    """Review fix: token_share's half-up numerator widens to
    DECIMAL(38,0) — 2 * n_tokens * 1e6 wraps a BIGINT once a group
    passes ~4.6e12 tokens. Feed group token counts at 5e12/4e12 via
    pre-tokenized fake docs? No — n_tokens comes from size(), so patch
    scale by checking the expression path with a plain small corpus
    AND asserting the plan carries the decimal cast."""
    rows = [("g1", "a b c"), ("g2", "x y")]
    df = spark.createDataFrame(rows, "src string, body string")
    out = {r["src"]: r["token_share"] for r in
           textquality.mix_report(df, "src", "body").collect()}
    assert out == {"g1": 0.6, "g2": 0.4}
    plan = (textquality.mix_report(df, "src", "body")
            ._jdf.queryExecution().analyzed().toString())
    assert "decimal(38,0)" in plan.lower()


@pytest.fixture(scope="module")
def mix_sample_corpus(spark):
    # 12 en docs (pk 0-11), 6 de (pk 100-105), 3 fr (pk 200-202)
    rows = ([(i, "en", "w " * 4) for i in range(12)]
            + [(100 + i, "de", "w " * 2) for i in range(6)]
            + [(200 + i, "fr", "w") for i in range(3)])
    return spark.createDataFrame(rows, "pk long, lg string, body string")


def test_mix_sample_thresholds_math(mix_sample_corpus):
    """weights en:2, de:2, fr:1 over c = (12, 6, 3): M = min(12//2,
    6//2, 3//1) = 3, so targets k = (6, 6, 3) and thr = 1e6*k/c =
    (500000, 1000000, 1000000) — the binding groups keep everything."""
    t = {r["lg"]: r for r in textquality.mix_sample_thresholds(
            mix_sample_corpus, "lg", {"en": 2, "de": 2, "fr": 1})
         .collect()}
    assert {(k, v["c"], v["w"], v["thr"]) for k, v in t.items()} == {
        ("en", 12, 2, 500_000), ("de", 6, 2, 1_000_000),
        ("fr", 3, 1, 1_000_000)}
    # by tokens: c = (48, 12, 3); M = min(24, 6, 3) = 3 → k = (6, 6, 3)
    tt = {r["lg"]: r["thr"] for r in textquality.mix_sample_thresholds(
            mix_sample_corpus, "lg", {"en": 2, "de": 2, "fr": 1},
            by="tokens", text_col="body").collect()}
    assert tt == {"en": 125_000, "de": 500_000, "fr": 1_000_000}


def test_mix_sample_exact_with_explicit_bucket(mix_sample_corpus):
    """An explicit caller bucket makes the kept set fully predictable:
    pk * 83333 % 1e6 spreads the 12 en docs across the bucket space so
    the 500000 threshold provably splits them."""
    out = textquality.mix_sample(
        mix_sample_corpus, "lg", {"en": 2, "de": 2, "fr": 1},
        bucket=(F.col("pk") * 83333) % 1_000_000)
    kept = sorted(r["pk"] for r in out.collect())
    # en: buckets pk*83333 for pk 0..11 = 0, 83333, ..., 916663;
    # thr 500000 keeps pk 0-6 (6*83333 = 499998 < 500000 — hash
    # sampling is ratio-approximate per group). de/fr thr 1e6: all.
    assert kept == [0, 1, 2, 3, 4, 5, 6,
                    100, 101, 102, 103, 104, 105, 200, 201, 202]
    assert out.columns == ["pk", "lg", "body"]


def test_mix_sample_default_bucket_deterministic(mix_sample_corpus):
    a = sorted(r["pk"] for r in textquality.mix_sample(
        mix_sample_corpus, "lg", {"en": 1, "de": 1, "fr": 1},
        id_col="pk").collect())
    b = sorted(r["pk"] for r in textquality.mix_sample(
        mix_sample_corpus.repartition(7), "lg",
        {"en": 1, "de": 1, "fr": 1}, id_col="pk").collect())
    assert a == b
    # weightless groups are dropped entirely
    only_fr = textquality.mix_sample(mix_sample_corpus, "lg",
                                     {"fr": 1}, id_col="pk")
    assert {r["lg"] for r in only_fr.collect()} == {"fr"}


def test_mix_sample_guards(mix_sample_corpus):
    with pytest.raises(ValueError, match="positive integer"):
        textquality.mix_sample_thresholds(mix_sample_corpus, "lg",
                                          {"en": 0.5})
    with pytest.raises(ValueError, match="does not match"):
        textquality.mix_sample_thresholds(mix_sample_corpus, "lg",
                                          {("en", "x"): 1})
    with pytest.raises(ValueError, match="id_col"):
        textquality.mix_sample(mix_sample_corpus, "lg", {"en": 1})
    with pytest.raises(ValueError, match="needs text_col"):
        textquality.mix_sample_thresholds(mix_sample_corpus, "lg",
                                          {"en": 1}, by="tokens")
    with pytest.raises(ValueError, match="collide"):
        textquality.mix_sample_thresholds(
            mix_sample_corpus.withColumnRenamed("lg", "thr"), "thr",
            {"en": 1})


def test_mix_sample_plan_corpus_broadcast_join(mix_sample_corpus):
    """The corpus-side pass is scan → broadcast join → filter: the only
    corpus-keyed hash exchange is the groups count aggregation."""
    import re
    plan = (textquality.mix_sample(
                mix_sample_corpus, "lg", {"en": 1, "de": 1, "fr": 1},
                id_col="pk")
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"Exchange hashpartitioning\(lg", plan)) == 1


def test_mix_sample_thresholds_null_text_tokens(spark):
    """NULL texts contribute 0 tokens to a group's size c, not
    size(NULL) = -1 (the legacy.sizeOfNull undercount the review
    caught): en has 4 docs of 2 tokens + 2 NULL docs → c = 8, not 6."""
    df = spark.createDataFrame(
        [(i, "en", "a b") for i in range(4)]
        + [(10, "en", None), (11, "en", None)]
        + [(20, "de", "a b c d")],
        "pk long, lg string, body string")
    t = {r["lg"]: r["c"] for r in textquality.mix_sample_thresholds(
            df, "lg", {"en": 2, "de": 1}, by="tokens",
            text_col="body").collect()}
    assert t == {"en": 8, "de": 4}


def test_mix_sample_degenerate_weights_raise(spark, mix_sample_corpus):
    """A weighted group smaller than its weight (M = 0) must fail
    loudly naming the group — never silently curate an empty corpus."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    # fr has 3 docs < weight 100
    with pytest.raises((Py4JJavaError, PySparkException),
                       match="group fr has size c=3 < weight w=100"):
        textquality.mix_sample(mix_sample_corpus, "lg",
                               {"en": 1, "fr": 100},
                               id_col="pk").collect()
    # a weighted group entirely absent from the corpus surfaces as
    # c=0 and raises too (it used to vanish via the inner join and
    # NOT bind the min — inconsistent with the one-doc case)
    with pytest.raises((Py4JJavaError, PySparkException),
                       match="group xx has size c=0 < weight w=1"):
        textquality.mix_sample_thresholds(
            mix_sample_corpus, "lg", {"en": 1, "xx": 1}).collect()


def test_mix_sample_weights_xor_thresholds(mix_sample_corpus):
    thr = textquality.mix_sample_thresholds(
        mix_sample_corpus, "lg", {"en": 2, "de": 2, "fr": 1})
    # pinned thresholds: weights must be omitted
    out = textquality.mix_sample(mix_sample_corpus, "lg",
                                 thresholds=thr, id_col="pk")
    assert out.count() > 0
    with pytest.raises(ValueError, match="got both"):
        textquality.mix_sample(mix_sample_corpus, "lg", {"en": 1},
                               thresholds=thr, id_col="pk")
    with pytest.raises(ValueError, match="got neither"):
        textquality.mix_sample(mix_sample_corpus, "lg", id_col="pk")


def test_mix_sample_caller_thr_column_ok(spark):
    """A caller column named 'thr' must survive mix_sample untouched —
    the internal threshold column is __tq_ prefixed per the module's
    arbitrary-schema contract (review finding)."""
    df = spark.createDataFrame(
        [(i, "en", "x", 0.5) for i in range(4)],
        "pk long, lg string, body string, thr double")
    out = textquality.mix_sample(df, "lg", {"en": 1}, id_col="pk")
    assert out.columns == ["pk", "lg", "body", "thr"]
    assert out.count() == 4


def test_corpus_stats(spark):
    from risjbot_spark.textquality import corpus_stats
    df = spark.createDataFrame(
        [("a", "one two three", "en"), ("b", "four five", "en"),
         ("c", None, "en"), ("d", "uno dos tres cuatro", "es")],
        "pk string, body string, lg string")
    one = corpus_stats(df, "body").collect()[0]
    assert one["n_docs"] == 4 and one["n_null"] == 1
    assert one["n_tokens"] == 9
    assert one["tokens_max"] == 4
    assert one["tokens_p50"] == 3.0          # exact interpolated
    per = {r["lg"]: r for r in
           corpus_stats(df, "body", ["lg"]).collect()}
    assert per["en"]["n_docs"] == 3 and per["en"]["n_null"] == 1
    assert per["en"]["tokens_p50"] == 2.5
    assert per["es"]["n_tokens"] == 4


def test_corpus_stats_internal_name_guarded(spark):
    # caller columns must never be silently clobbered by internals:
    # grouping by a user column named like the old internal works, and
    # the __tq_-prefixed internal raises loudly on direct collision
    from risjbot_spark.textquality import corpus_stats
    df = spark.createDataFrame(
        [("a", "one two", 99), ("b", "three", 99), ("c", "four", 77)],
        "pk string, body string, _nt int")
    per = {r["_nt"]: r["n_docs"]
           for r in corpus_stats(df, "body", ["_nt"]).collect()}
    assert per == {99: 2, 77: 1}        # caller's _nt values, not token counts
    bad = df.withColumnRenamed("_nt", "__tq_nt")
    with pytest.raises(ValueError, match="__tq_nt"):
        corpus_stats(bad, "body")


# ---- hashed linear quality classifier -------------------------------------

def _labeled_quality_corpus(spark, n=120):
    good_vocab = ["research", "analysis", "report", "method", "data",
                  "result", "figure", "study", "review", "evidence"]
    bad_vocab = ["buy", "cheap", "click", "casino", "winner", "free",
                 "pills", "offer", "deal", "bonus"]
    rows = []
    for i in range(n):
        vocab = good_vocab if i % 2 == 0 else bad_vocab
        body = " ".join(vocab[(i + j) % len(vocab)] for j in range(12))
        rows.append((i, body, 1 if i % 2 == 0 else 0))
    return spark.createDataFrame(rows, "pk long, body string, y int")


def test_quality_classifier_train_and_separate(spark):
    df = _labeled_quality_corpus(spark)
    model = textquality.train_quality_classifier(df, "body", "y",
                                                 dim=4096, max_iter=50)
    assert model.dim == 4096
    scored = model.score(df, "body", round_dp=None)
    rows = scored.select("pk", "y", "q_prob").collect()
    acc = sum((r["q_prob"] >= 0.5) == (r["y"] == 1) for r in rows) / len(rows)
    assert acc >= 0.95
    # the two classes actually separate, not a degenerate 0.5 band
    good = [r["q_prob"] for r in rows if r["y"] == 1]
    bad = [r["q_prob"] for r in rows if r["y"] == 0]
    assert min(good) > max(bad)


def test_quality_classifier_expression_matches_ml_probability(spark):
    # the serve path (pure expression) must replay pyspark.ml's
    # P(label=1) exactly — same buckets, same sigmoid(w·counts + b)
    from pyspark.ml.classification import LogisticRegression  # noqa: F401
    df = _labeled_quality_corpus(spark, n=60)
    model = textquality.train_quality_classifier(df, "body", "y",
                                                 dim=512, max_iter=30)
    # recompute ml-side probabilities on the SAME vectors the trainer
    # built: reuse train_quality_classifier's feature construction by
    # scoring a tiny ml pipeline manually
    from pyspark.ml.linalg import SparseVector, VectorUDT
    from pyspark.sql import functions as F
    from risjbot_spark.textquality import token_bucket_expr
    from risjbot_spark.dedup import tokens_expr
    idx = F.transform(tokens_expr(F.col("body")),
                      lambda t: token_bucket_expr(t, 512))

    def _to_vec(ids):
        c = {}
        for i in ids:
            c[i] = c.get(i, 0.0) + 1.0
        return SparseVector(512, sorted(c.items()))

    vecs = df.select("pk", F.udf(_to_vec, VectorUDT())(idx).alias("x")) \
             .collect()
    import math
    w, b = model.weights, model.intercept
    expect = {}
    for r in vecs:
        z = b + sum(w[int(i)] * v for i, v in zip(r["x"].indices,
                                                  r["x"].values))
        expect[r["pk"]] = 1.0 / (1.0 + math.exp(-z))
    got = {r["pk"]: r["q_prob"]
           for r in model.score(df, "body", round_dp=None)
                         .select("pk", "q_prob").collect()}
    for pk, p in expect.items():
        assert abs(got[pk] - p) < 1e-9, pk


def test_quality_classifier_score_null_empty_and_guards(spark):
    import math
    df = spark.createDataFrame(
        [(1, "research data"), (2, None), (3, "   ")],
        "pk long, body string")
    w = [0.25] * 64
    out = {r["pk"]: r["q_prob"]
           for r in textquality.quality_classifier_score(
               df, "body", w, intercept=0.0).collect()}
    assert out[2] is None                      # NULL text -> NULL
    assert out[3] == 0.5                       # empty doc -> sigmoid(b)
    assert abs(out[1] - 1 / (1 + math.exp(-0.5))) < 1e-6
    with pytest.raises(ValueError, match="q_prob"):
        textquality.quality_classifier_score(
            df.withColumn("q_prob", F.lit(1.0)), "body", w)
    with pytest.raises(ValueError, match="non-empty"):
        textquality.quality_classifier_score(df, "body", [])


def test_quality_classifier_score_zero_exchanges(spark):
    # the 100 TB serve path is a pure projection: no Exchange anywhere,
    # and the weight vector is a single plan literal (not a join)
    df = spark.createDataFrame([(1, "a b c")], "pk long, body string")
    plan = (textquality.quality_classifier_score(df, "body", [0.1] * 256)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    assert "Join" not in plan


# ---- DSIR importance resampling --------------------------------------------

def _dsir_corpora(spark):
    target_vocab = "research method data analysis result study".split()
    raw_extra = "buy cheap click casino pills offer".split()
    target = spark.createDataFrame(
        [(i, " ".join(target_vocab[(i + j) % 6] for j in range(10)))
         for i in range(20)], "pk long, body string")
    raw_rows = [(100 + i, " ".join(raw_extra[(i + j) % 6]
                                   for j in range(10)))
                for i in range(20)]
    raw_rows += [(200 + i, " ".join(target_vocab[(i + j) % 6]
                                    for j in range(10)))
                 for i in range(5)]
    raw_rows += [(300, None), (301, "   ")]
    raw = spark.createDataFrame(raw_rows, "pk long, body string")
    return target, raw


def test_dsir_weights_math(spark):
    # two docs, one token each; verify the smoothed log-ratio by hand
    import math
    from risjbot_spark.textquality import (dsir_log_ratio_weights,
                                           hashed_bucket_counts,
                                           token_bucket_expr)
    dim = 16
    tgt = spark.createDataFrame([(1, "aaa")], "pk long, body string")
    raw = spark.createDataFrame([(1, "aaa"), (2, "bbb")],
                                "pk long, body string")
    b_aaa, b_bbb = [
        spark.createDataFrame([(t,) for t in ("aaa", "bbb")], "t string")
        .select(token_bucket_expr(F.col("t"), dim).alias("b"))
        .collect()[i]["b"] for i in (0, 1)]
    w = dsir_log_ratio_weights(
        hashed_bucket_counts(tgt, "body", dim=dim),
        hashed_bucket_counts(raw, "body", dim=dim), dim=dim, alpha=1.0)
    assert len(w) == dim
    # target: aaa count 1, total 1; raw: aaa 1 of 2
    exp_aaa = math.log((1 + 1) / (1 + dim)) - math.log((1 + 1) / (2 + dim))
    exp_bbb = math.log((0 + 1) / (1 + dim)) - math.log((1 + 1) / (2 + dim))
    assert abs(w[b_aaa] - exp_aaa) < 1e-12
    assert abs(w[b_bbb] - exp_bbb) < 1e-12
    # unseen buckets: both smoothed zeros, ratio of the denominators
    other = next(i for i in range(dim) if i not in (b_aaa, b_bbb))
    assert abs(w[other] - (math.log(1 / (1 + dim))
                           - math.log(1 / (2 + dim)))) < 1e-12


def test_dsir_select_keeps_on_target_docs(spark):
    from risjbot_spark.textquality import dsir_select, dsir_scores, \
        dsir_log_ratio_weights, hashed_bucket_counts
    target, raw = _dsir_corpora(spark)
    kept = dsir_select(raw, "body", target, dim=1024, min_score=1e-9,
                       keep_score=True)
    rows = kept.collect()
    assert {r["pk"] for r in rows} == {200 + i for i in range(5)}
    assert all(r["dsir_score"] > 0 for r in rows)
    # an empty doc has likelihood ratio exactly 1 (score 0): the
    # inclusive threshold keeps it at min_score=0.0 — quality gates,
    # not the selector, own empty-doc policy
    at_zero = dsir_select(raw, "body", target, dim=1024, min_score=0.0)
    assert {r["pk"] for r in at_zero.collect()} == (
        {200 + i for i in range(5)} | {301})
    # top_frac path: the cut is an approxQuantile ESTIMATE (documented),
    # so rank rounding may land inside the top group — but everything it
    # keeps must be on-target, and it must keep something
    kept2 = dsir_select(raw, "body", target, dim=1024, top_frac=5 / 47)
    ids2 = {r["pk"] for r in kept2.collect()}
    assert ids2 and ids2 <= {200 + i for i in range(5)}
    assert "dsir_score" not in kept2.columns
    # score semantics: NULL -> NULL, empty -> 0.0
    w = dsir_log_ratio_weights(
        hashed_bucket_counts(target, "body", dim=64),
        hashed_bucket_counts(raw, "body", dim=64), dim=64)
    sc = {r["pk"]: r["dsir_score"]
          for r in dsir_scores(raw, "body", w).collect()}
    assert sc[300] is None and sc[301] == 0.0
    with pytest.raises(ValueError, match="exactly one"):
        dsir_select(raw, "body", target, min_score=0.0, top_frac=0.5)
    with pytest.raises(ValueError, match="exactly one"):
        dsir_select(raw, "body", target)


def test_dsir_scores_zero_exchanges(spark):
    from risjbot_spark.textquality import dsir_scores
    df = spark.createDataFrame([(1, "a b")], "pk long, body string")
    plan = (dsir_scores(df, "body", [0.1] * 128)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "Join" not in plan


def test_dsir_select_validates_before_scanning_and_handles_empty(spark):
    from risjbot_spark.textquality import dsir_select
    target, raw = _dsir_corpora(spark)
    with pytest.raises(ValueError, match="top_frac"):
        dsir_select(raw, "body", target, top_frac=1.5)
    # empty / all-NULL-text corpus: both modes return an EMPTY selection
    empty = spark.createDataFrame([(1, None)], "pk long, body string")
    assert dsir_select(empty, "body", target, min_score=0.0).count() == 0
    assert dsir_select(empty, "body", target, top_frac=0.5).count() == 0
