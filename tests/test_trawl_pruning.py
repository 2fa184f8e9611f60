"""Trawl file pruning (J3a at scale): the manifest-stat / day-partition
path must (a) return exactly what the full-table resolve returns and
(b) provably not read files outside the trawl window.

Background (VERDICT r1 #4): per-round trawl resolved the whole seen
table. Sound pruning needs latest-row-wins deltas (resolved fetches, not
+1 increments) — that change is also locked here (idempotent replay).
"""

from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from risjbot_spark.frontier.xxhash import xxhash64
from risjbot_spark.frontier.state import (
    RefetchConfig,
    seen_parts,
    seen_state,
    seen_updates,
    trawl_candidates,
    trawl_candidates_pruned,
)
from risjbot_spark.store import SnapshotTable

T0 = datetime(2017, 4, 10, 12, 0, tzinfo=timezone.utc)
CFG = RefetchConfig(maxfetches=8, refetchsecs=3600, agelimit=86400)
# window: [T0-86400, T0-3600]


def _rows(spark, rows):
    # tz-AWARE datetimes: naive ones convert through the driver's OS
    # timezone (time.mktime), shifting the stored instants on non-UTC
    # machines — the engine always writes from aware round_ts literals
    df = spark.createDataFrame(
        [(xxhash64(u), u, u.split("/")[2], f, t)
         for (u, f, t) in rows],
        "url_hash long, url string, host string, fetches int,"
        " last_fetch timestamp")
    return df


def _mk_table(spark, tmp_path):
    """Base (3 day-partitions) + 4 deltas: in-window, too-fresh, stale,
    and an in-window one committed without last_fetch_range stats (an
    older writer's), which no stat can skip."""
    t = SnapshotTable(spark, str(tmp_path), "seen")
    base = _rows(spark, [
        ("https://h1/old-stale", 2, T0 - timedelta(days=9)),      # too old
        ("https://h1/in-window", 1, T0 - timedelta(hours=5)),     # eligible
        ("https://h1/maxed", 8, T0 - timedelta(hours=5)),         # fetches cap
        ("https://h1/superseded", 1, T0 - timedelta(hours=6)),    # fresh delta
        ("https://h1/fresh-base", 1, T0 - timedelta(minutes=30)), # too young
    ])
    t.commit(base.withColumn("lf_day", F.to_date("last_fetch")),
             mode="replace", partition_by=["lf_day"])
    d_in = T0 - timedelta(hours=4)
    t.commit(_rows(spark, [("https://h2/delta-eligible", 2, d_in)]),
             mode="append",
             stats={"last_fetch_range": [d_in.isoformat()] * 2})
    d_fresh = T0 - timedelta(minutes=10)
    t.commit(_rows(spark, [("https://h1/superseded", 2, d_fresh),
                           ("https://h2/delta-fresh", 1, d_fresh)]),
             mode="append",
             stats={"last_fetch_range": [d_fresh.isoformat()] * 2})
    d_old = T0 - timedelta(days=30)
    t.commit(_rows(spark, [("https://h3/ancient", 1, d_old)]),
             mode="append",
             stats={"last_fetch_range": [d_old.isoformat()] * 2})
    t.commit(_rows(spark, [("https://h3/legacy-eligible", 3,
                            T0 - timedelta(hours=3))]),
             mode="append")
    return t


def test_trawl_pruning_matches_full_resolve(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    full = {
        r.url for r in
        trawl_candidates(seen_state(t.read()), CFG, T0).collect()
    }
    pruned = trawl_candidates_pruned(spark, t, CFG, T0)
    got = {r.url: (r.fetches, r.last_fetch) for r in pruned.collect()}
    assert set(got) == full == {
        "https://h1/in-window", "https://h2/delta-eligible",
        "https://h3/legacy-eligible"}
    # resolved fetches come through intact on the pruned path
    assert got["https://h2/delta-eligible"][0] == 2
    assert got["https://h3/legacy-eligible"][0] == 3


def test_trawl_pruning_skips_out_of_window_files(spark, tmp_path):
    """The stale delta's directory must not appear in the plan at all
    (manifest-range whole-file skip), and the base scan must carry a
    partition filter on lf_day (day-directory pruning)."""
    t = _mk_table(spark, tmp_path)
    man = t.manifest()
    stale_dir = man["files"][3]          # the d_old delta
    base_dir = man["files"][0]
    legacy_dir = man["files"][4]         # no stats: read, never skipped
    # default metadata truncation elides Location paths from plan text
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        plan = trawl_candidates_pruned(spark, t, CFG, T0) \
            ._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert stale_dir.split("/")[-1] not in plan
    assert base_dir.split("/")[-1] in plan
    assert legacy_dir.split("/")[-1] in plan
    assert "PartitionFilters" in plan
    assert "lf_day" in plan


def test_trawl_pruning_empty_and_refetchfromdb_off(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path), "seen")
    assert trawl_candidates_pruned(spark, t, CFG, T0).count() == 0
    t2 = _mk_table(spark, tmp_path / "b")
    off = RefetchConfig(maxfetches=8, refetchsecs=3600, agelimit=86400,
                        refetchfromdb=False)
    assert trawl_candidates_pruned(spark, t2, off, T0).count() == 0


@pytest.mark.parametrize("base", [None, "flat", "bucketed"])
def test_seen_parts_rejects_delta_missing_column(spark, tmp_path, base):
    """The deltas read with the known schema, which would null-fill a
    column a deficient dir (an older / divergent writer) lacks; the
    per-dir footer check must fail loudly instead, whether or not a
    compacted base precedes the deltas."""
    t = SnapshotTable(spark, str(tmp_path), "seen")
    good = _rows(spark, [("https://h1/a", 1, T0 - timedelta(hours=5))])
    if base is None:
        t.commit(good, mode="append")
    else:
        t.commit(good.withColumn("lf_day", F.to_date("last_fetch")),
                 mode="replace", partition_by=["lf_day"],
                 bucket_by="url_hash" if base == "bucketed" else None,
                 n_buckets=1)
    t.commit(_rows(spark, [("https://h2/b", 2, T0 - timedelta(hours=4))])
             .drop("fetches"), mode="append")
    with pytest.raises(RuntimeError, match="fetches"):
        seen_parts(t)


def test_resolved_delta_replay_is_idempotent(spark, tmp_path):
    """Crash recovery may re-append a delta; latest-wins resolution must
    make the replay a no-op (old +1 semantics double-counted)."""
    t = SnapshotTable(spark, str(tmp_path), "seen")
    base = _rows(spark, [("https://h1/a", 2, T0 - timedelta(hours=8))])
    t.commit(base, mode="replace")
    fetched = spark.createDataFrame(
        [(xxhash64("https://h1/a"), "https://h1/a", "h1", 2)],
        "url_hash long, url_canon string, host string, previousfetches int")
    delta = seen_updates(fetched, T0)
    t.commit(delta, mode="append")
    t.commit(delta, mode="append")   # the replay
    got = {r.url: r.fetches for r in seen_state(t.read()).collect()}
    assert got == {"https://h1/a": 3}


def test_trawl_pruning_correct_under_non_utc_driver_tz(tmp_path):
    """REGRESSION: the window cutoffs were naive datetimes, which PySpark
    converts through the driver's OS timezone — on a non-UTC driver the
    pruned trawl shifted its window and diverged from the full resolve.
    Run the parity check in a subprocess with TZ=Asia/Kolkata (+05:30,
    a half-hour zone that catches sign AND rounding errors)."""
    import os
    import subprocess
    import sys

    code = """
import os, sys
root = sys.argv[2]
sys.path[:0] = [root, os.path.join(root, "tests")]
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from test_trawl_pruning import _mk_table, CFG, T0
from risjbot_spark.frontier.xxhash import xxhash64
from risjbot_spark.frontier.state import (
    seen_state, trawl_candidates, trawl_candidates_pruned)
import pathlib
t = _mk_table(spark, pathlib.Path(sys.argv[1]))
full = sorted(r.url for r in
              trawl_candidates(seen_state(t.read()), CFG, T0).collect())
pruned = sorted(r.url for r in
                trawl_candidates_pruned(spark, t, CFG, T0).collect())
assert pruned == full, f"diverged under non-UTC TZ: {pruned} != {full}"
print("TZ-PARITY-OK")
"""
    env = dict(os.environ, TZ="Asia/Kolkata")
    # the package and tests of THIS checkout, not whatever tree an
    # installed path or another checkout would resolve to
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code, str(tmp_path / "tzwh"), root],
        env=env, capture_output=True, text=True, timeout=300)
    assert "TZ-PARITY-OK" in out.stdout, out.stdout + out.stderr
