"""Cross-engine whitespace parity for every tokenize/normalize surface.

Java regex \\s is [ \\t\\n\\x0B\\f\\r] while DuckDB's RE2 \\s is
[ \\t\\n\\f\\r] (no VT), so any surface written as a bare \\s+ split
agrees across engines only while the corpus never contains a VT — and
both engines KEEP boundary empty tokens (F.split uses limit=-1), which
str.split() semantics must drop. All doc-op surfaces now share
schema.PY_WS_RE (Python's full White_Space set) plus an explicit
empty-token filter on both engines; this battery feeds texts with every
divergent character through the REAL queries()/ORACLE_SQL pairs and
asserts identical results, so the gate no longer depends on corpus
cleanliness.
"""

import os

import duckdb
import pandas as pd
import pytest

from risjbot_spark import queries as Q

# every class member the generated corpus never exercises, in positions
# that trigger the known engine hazards: VT (Java-\s-only), boundary
# whitespace (empty split tokens on both engines), leading NBSP, Zs/Zl/Zp
# separators, FS-US, NEL, whitespace-only / empty / NULL text, and one
# >=100-char exotic text so quality_score's real scoring branch (not
# just the nc<100 short-circuit) is compared across engines
BATTERY = [
    "plain words here",
    "a\x0bb c",            # VT mid-token: Java \s splits, RE2 \s doesn't
    "trailing newline\n",  # boundary empty token on both engines
    "\xa0leading nbsp",
    "multi line seps",
    "\x1cx\x1dy\x1ez\x1fw",
    "nel\x85joined",
    "ogham space math narrow nbsp",
    "ideographic　space",
    "   ",                 # whitespace-only
    "",                    # empty
    None,                  # NULL text: metrics must be NULL on BOTH engines
    "tab\tand  runs \r\n of\fspace",
    # >=100 chars, exotic separators throughout, with stopwords so the
    # stop_hits term is nonzero and the real quality branch runs
    ("the\xa0quick brown fox jumps over the lazy dog and runs to "
     "the river\u2028of words in a\u3000long paragraph that keeps "
     "going\x85and going until it is well past the hundred character "
     "mark for the quality scorer\x0bto use its real branch"),
]


@pytest.fixture(scope="module")
def ws_sf(spark, tmp_path_factory):
    """A scratch sf dir whose documents table is the exotic battery."""
    sf = tmp_path_factory.mktemp("ws_sf")
    # plain rows + explicit schema, NOT a pandas frame: pandas renders a
    # None in an int column as float64 NaN, which Spark ingests as a
    # DOUBLE NaN (not NULL) and ANSI cast("long") then overflows
    # ids are multiples of 10 so EVERY battery doc lands in the
    # decontaminate oracle's eval slice (doc_id % 10 = 0) — its parity
    # check below would otherwise compare two vacuously empty frames
    rows = [(i * 10, t, "en", "battery", len(t) if t is not None else None)
            for i, t in enumerate(BATTERY)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long",
    ).coalesce(1).write.parquet(str(sf / "documents.parquet"))
    return str(sf)


def _oracle_con(sf: str) -> duckdb.DuckDBPyConnection:
    # a Spark-written table is a directory of part files; the generated
    # sf dirs ship documents.parquet as one file
    path = f"{sf}/documents.parquet"
    if os.path.isdir(path):
        path += "/*.parquet"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    return con


def _oracle(name: str, sf: str) -> pd.DataFrame:
    return _oracle_con(sf).execute(Q.ORACLE_SQL[name]).df()


def _assert_oracle_parity(spark, sf: str, name: str) -> None:
    got = Q.QUERIES[name](spark, sf).toPandas()
    want = _oracle(name, sf)
    assert list(got.columns) == list(want.columns)
    # sort on every column: pair queries repeat their first column
    got = got.astype(str)
    got = got.sort_values(list(got.columns)).reset_index(drop=True)
    want = want.astype(str)
    want = want.sort_values(list(want.columns)).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


# the near-dedup family: shingle arrays → MinHash/SimHash → band join →
# Jaccard verify → components, and the incremental store built on them
DEDUP_FAMILY = ["minhash_signature", "lsh_dup_pairs", "ngram_jaccard_pairs",
                "dedup_clusters", "incremental_dedup",
                "simhash_fingerprint", "simhash_dup_pairs"]


@pytest.mark.parametrize("name", ["token_count", "quality_score",
                                  "doc_fingerprint", "wordcount",
                                  "repetition_signals", "decontaminate",
                                  "quality_classifier", "dsir_scores",
                                  *DEDUP_FAMILY])
def test_doc_op_parity_on_exotic_whitespace(spark, ws_sf, name):
    _assert_oracle_parity(spark, ws_sf, name)


@pytest.mark.parametrize("name", DEDUP_FAMILY)
def test_dedup_family_oracle_parity(spark, sf_dir, name):
    """The dedup family against its DuckDB oracle on the generated
    corpus, whose planted mutants give every stage real pairs."""
    _assert_oracle_parity(spark, sf_dir, name)


@pytest.mark.parametrize("name", ["corpus_stats", "pack_sequences"])
def test_oracle_integer_columns_are_bigint(spark, ws_sf, name):
    """DuckDB's sum() returns HUGEINT where Spark's returns BIGINT, so
    an un-cast oracle sum hashes differently from the Spark result:
    every integer column an oracle returns must come back BIGINT, and
    the correctness twin's type check must pass against the real Spark
    dtypes (its failing side: tests/test_check_correctness.py)."""
    from tools import check_correctness as twin

    con = _oracle_con(ws_sf)
    rel = con.sql(Q.ORACLE_SQL[name])
    ints = {c: str(t) for c, t in zip(rel.columns, rel.types)
            if str(t).endswith("INT")}
    assert ints and all(t == "BIGINT" for t in ints.values()), ints
    duck = [(c, str(t)) for c, t in zip(rel.columns, rel.types)]
    assert twin.type_mismatches(Q.QUERIES[name](spark, ws_sf).dtypes,
                                duck) == []


def test_token_count_matches_python_split(spark, ws_sf):
    """The Spark-side token count equals len(str.split()) — the unified
    class really is Python semantics, not just engine-consistent."""
    got = {r["doc_id"]: r["n_ws_tokens"]
           for r in Q.QUERIES["token_count"](spark, ws_sf).collect()}
    for i, t in enumerate(BATTERY):
        want = len(t.split()) if t is not None else None
        assert got[i * 10] == want, repr(t)


def test_bpe_estimate_expr_matches_python_standin(spark, ws_sf):
    """The tokenizer seam's JVM-expression fallback equals the Python
    stand-in formula on every exotic-whitespace input — the two
    published estimate surfaces can never drift."""
    from risjbot_spark.tokenization import count_tokens_standin

    got = {r["doc_id"]: r["n_bpe_est"]
           for r in Q.QUERIES["token_count"](spark, ws_sf).collect()}
    for i, t in enumerate(BATTERY):
        want = count_tokens_standin(t) if t is not None else None
        assert got[i * 10] == want, repr(t)


def test_decontaminate_battery_is_not_vacuous(spark, ws_sf):
    """The exotic-ws decontaminate parity above must compare real rows:
    the long exotic text's drop-first-token mutant shares 5-grams with
    its original, so at least one contaminated doc must surface."""
    assert Q.QUERIES["decontaminate"](spark, ws_sf).count() >= 1


def test_shingle_tokens_drop_boundary_empties(spark, ws_sf):
    """tokens_expr() never emits empty tokens, so shingle windows can't
    slide over phantom boundary positions (lives in the dedup library
    since r4; the bench queries route through it)."""
    from pyspark.sql import functions as F

    from risjbot_spark.dedup import tokens_expr

    d = spark.read.parquet(f"{ws_sf}/documents.parquet")
    toks = d.select(tokens_expr(F.col("text")).alias("toks"))
    n_empty = toks.select(
        F.size(F.filter("toks", lambda x: x == "")).alias("n")
    ).agg(F.sum("n")).collect()[0][0]
    assert n_empty == 0
