"""The correctness twin (tools/check_correctness.py) and the registry
it checks. Values are compared through str(), so a DuckDB HUGEINT sum
and a Spark BIGINT sum look equal there; the type classes must catch
the drift on their own. No Spark session needed."""

import duckdb
import pytest

import __spark_entry__ as entry
from risjbot_spark import queries as Q
from tools import check_correctness as twin


def test_registry_shape():
    """Every query on the extended surface has an oracle twin (and no
    twin is orphaned), the driver window is exactly 50, and each
    retired name is still a live query."""
    assert set(entry.queries_extended()) == set(entry.oracle_sql())
    assert len(entry.queries()) == 50
    assert set(Q.RETIRED_FROM_DRIVER) <= set(Q.QUERIES)


class _NoSession:
    """Stands in for SparkSession: reaching for a builder fails the
    test, so a check that should stop first is seen to stop first."""

    @property
    def builder(self):
        raise AssertionError("a SparkSession was started")


@pytest.mark.parametrize("args", [[], ["stub"], ["--extended"]])
def test_query_without_oracle_fails_before_session(monkeypatch, capsys,
                                                   args):
    """A selected query with no ORACLE_SQL twin is a FAIL, not a
    rows-only pass the driver could never hash-check."""
    stub = {"stub": lambda spark, sf: None}
    monkeypatch.setattr(entry, "queries", lambda: stub)
    monkeypatch.setattr(entry, "queries_extended", lambda: stub)
    monkeypatch.setattr(entry, "oracle_sql", lambda: {})
    monkeypatch.setattr(twin, "SparkSession", _NoSession())
    assert twin.main("/nonexistent", args) == 1
    assert "FAIL  no ORACLE_SQL twin for: ['stub']" in capsys.readouterr().out


def test_type_class_separates_integer_widths_and_floats():
    assert twin.type_class("bigint") == twin.type_class("BIGINT")
    assert twin.type_class("int") == twin.type_class("INTEGER")
    assert twin.type_class("HUGEINT") != twin.type_class("bigint")
    # int8-int64 are one class (the driver ignores that width); HUGEINT
    # stays apart
    assert twin.type_class("INTEGER") == twin.type_class("bigint")
    assert twin.type_class("tinyint") == twin.type_class("BIGINT")
    assert twin.type_class("DOUBLE") != twin.type_class("bigint")
    assert twin.type_class("FLOAT") != twin.type_class("double")
    assert twin.type_class("DECIMAL(18,3)") == twin.type_class(
        "decimal(10,2)")
    assert twin.type_class("DOUBLE[]") == twin.type_class("array<double>")
    assert twin.type_class("BIGINT[]") == twin.type_class("array<int>")
    assert twin.type_class("HUGEINT[]") != twin.type_class("array<bigint>")
    assert twin.type_class("VARCHAR") == twin.type_class("string")
    assert twin.type_class("TIMESTAMP") == twin.type_class("timestamp")


def test_type_mismatches_reports_only_differing_shared_columns():
    spark = [("doc_id", "bigint"), ("n", "bigint"), ("x", "double"),
             ("only_spark", "int")]
    duck = [("doc_id", "BIGINT"), ("n", "HUGEINT"), ("x", "DOUBLE")]
    assert twin.type_mismatches(spark, duck) == [("n", "int", "int128")]
    assert twin.type_mismatches(spark[:1], duck[:1]) == []


def test_int32_spark_column_passes_bigint_oracle():
    """politeness_window.rnk / wordcount.wc: Spark int32 against a
    DuckDB BIGINT, values equal — the driver's gate passes them."""
    spark = [("host", "string"), ("rnk", "int"), ("wc", "int")]
    duck = [("host", "VARCHAR"), ("rnk", "BIGINT"), ("wc", "BIGINT")]
    assert twin.type_mismatches(spark, duck) == []


def test_twin_flags_uncast_corpus_stats_sums():
    """The corpus_stats oracle before its BIGINT casts returned HUGEINT
    sums; against Spark's BIGINT columns the twin must fail it, and the
    cast oracle must pass."""
    cast_sql = Q.ORACLE_SQL["corpus_stats"]
    uncast_sql = (
        cast_sql
        .replace("CAST(sum(CASE WHEN is_null THEN 1 ELSE 0 END) AS BIGINT)\n"
                 "                 AS n_null",
                 "sum(CASE WHEN is_null THEN 1 ELSE 0 END) AS n_null")
        .replace("CAST(sum(nt) AS BIGINT) AS n_tokens",
                 "sum(nt) AS n_tokens"))
    assert uncast_sql.count("CAST(sum(") == 0 and uncast_sql != cast_sql
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        "(1, 'a b c', 'en', 'web', 5), (2, NULL, 'en', 'web', NULL)) "
        "AS t(doc_id, text, lang, source, n_chars)")

    def duck_types(sql):
        rel = con.sql(sql)
        return [(c, str(t)) for c, t in zip(rel.columns, rel.types)]

    # the columns Spark's q_corpus_stats returns BIGINT for
    spark = [("n_docs", "bigint"), ("n_null", "bigint"),
             ("n_tokens", "bigint")]
    bad = twin.type_mismatches(spark, duck_types(uncast_sql))
    assert sorted(c for c, _, _ in bad) == ["n_null", "n_tokens"]
    assert twin.type_mismatches(spark, duck_types(cast_sql)) == []
