"""Local pre-flight twin of the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB at sf0.01,
compare column names, column type classes, row count, and
order-insensitive values.

Values are compared through `str()`, which hides type drift (a DuckDB
HUGEINT sum prints like a Spark BIGINT one but hashes differently), so
each column's type class — integer (HUGEINT apart), float width, decimal,
string, bool, binary, and arrays of those — is compared on its own."""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


# Spark dtype / DuckDB type name → class; a name not listed is its own
# class (so e.g. a DuckDB UBIGINT never matches a Spark type). int8-int64
# are one class, as the driver's gate reads them; HUGEINT is not.
_TYPE_CLASSES = {
    "tinyint": "int", "smallint": "int", "int": "int",
    "integer": "int", "bigint": "int", "hugeint": "int128",
    "float": "float32", "double": "float64", "decimal": "decimal",
    "boolean": "bool", "string": "string", "varchar": "string",
    "binary": "binary", "blob": "binary",
}


def type_class(t: str) -> str:
    """Engine-neutral class of a Spark dtype string (`bigint`,
    `array<double>`, `decimal(10,2)`) or a DuckDB type name (`BIGINT`,
    `DOUBLE[]`, `DECIMAL(10,2)`). Struct and map fields are not
    compared."""
    t = t.strip().lower()
    if t.endswith("[]"):
        return f"array<{type_class(t[:-2])}>"
    if t.startswith("array<") and t.endswith(">"):
        return f"array<{type_class(t[len('array<'):-1])}>"
    for nested in ("struct", "map"):
        if t.startswith(nested):
            return nested
    base = t.split("(")[0].strip()
    return _TYPE_CLASSES.get(base, base)


def type_mismatches(spark_dtypes, duck_types):
    """[(column, spark class, duckdb class)] for every column both sides
    return whose type classes differ; both arguments are
    [(column, type string)] lists."""
    duck = {c: type_class(t) for c, t in duck_types}
    return [(c, type_class(t), duck[c]) for c, t in spark_dtypes
            if c in duck and type_class(t) != duck[c]]


def canon_cell(v):
    import decimal

    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        return f"{f + 0.0:.6f}"      # +0.0 folds -0.0 into 0.0
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out)


def main(sf_dir: str, only: list[str]):
    # the driver calls __spark_entry__.queries()/oracle_sql(), which adds
    # the crawl-engine end-to-end queries on top of risjbot_spark.queries
    # — check exactly that surface; --extended widens to the full 53-query
    # surface including the 3 entries retired from the driver's 50-row
    # window
    import __spark_entry__ as entry

    extended = "--extended" in only
    only = [n for n in only if n != "--extended"]
    QUERIES = entry.queries_extended() if extended else entry.queries()
    ORACLE_SQL = entry.oracle_sql()

    # validate the subset BEFORE paying SparkSession startup: a typo'd
    # query name, or a query the driver could not hash-check because it
    # has no oracle twin, fails in milliseconds with no session left
    unknown = [n for n in (only or []) if n not in QUERIES]
    if unknown:
        print(f"FAIL  unknown query name(s): {unknown}")
        return 1
    no_oracle = [n for n in (only or QUERIES) if n not in ORACLE_SQL]
    if no_oracle:
        print(f"FAIL  no ORACLE_SQL twin for: {no_oracle}")
        return 1

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    failures = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        sql = ORACLE_SQL[name]
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            stypes = sdf.dtypes
            srows = sdf.collect()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        try:
            rel = con.sql(sql)
            dcols = rel.columns
            dtypes = [(c, str(t)) for c, t in zip(dcols, rel.types)]
            drows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue
        sc, sv = canon_rows(scols, [tuple(r) for r in srows])
        dc, dv = canon_rows(dcols, drows)
        problems = []
        if sc != dc:
            problems.append(f"columns differ spark={sc} duck={dc}")
        else:
            bad_types = type_mismatches(stypes, dtypes)
            if bad_types:
                problems.append("column types differ (column, spark, "
                                f"duck): {bad_types}")
            if len(sv) != len(dv):
                problems.append(f"rowcount spark={len(sv)} duck={len(dv)}")
            elif sv != dv:
                diff = [(a, b) for a, b in zip(sv, dv) if a != b][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failures += 1
        else:
            print(f"OK    {name}: {len(sv)} rows")
    spark.stop()
    print(f"\n{failures} failures / {len(only or QUERIES)} checked")
    return 1 if failures else 0


if __name__ == "__main__":
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    sys.exit(main(sf, sys.argv[1:]))
