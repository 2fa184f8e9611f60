"""Seen-set / refetch state machine as DataFrame dataflow.

Reimplements the reference's RefetchControl rules
(/root/reference/RISJbot/spmiddlewares/refetchcontrol.py) on a columnar
`seen` table — the crawl's core join (SURVEY.md §2.3 J1-J3):

  J1 seen_filter      _process_request   (refetchcontrol.py:227-279)
  J2 seen_updates     _process_item      (refetchcontrol.py:281-316)
     + resolve_split
  J3 trawl_candidates_pruned / trim_seen
                      spider_idle        (refetchcontrol.py:132-195)

The seen table is SPLIT: an optional compacted base (one resolved row
per key; url_hash-bucketed, lf_day-partitioned) and per-round resolved
deltas, every delta row newer than every base row. seen_parts is its
one reader and resolve_parts its one resolve: J1 joins the frontier to
each side, J2 appends a delta (or, on compaction, resolve_split folds
one in), and the J3a trawl resolves only the parts its window can touch.

Scale notes (the 100 TB story):
  * J1 is an equi join on url_hash — hash-partitioned both sides; AQE
    converts to broadcast when the frontier round is small. The driver
    bloom pre-filter (frontier.bloom) removes definite-new URLs *before*
    this shuffle while the seen keys fit its driver budget; past it the
    (split, bucketed-base) join gates alone.
  * J2 appends resolved rows (fetches+1, round_ts) — the Iceberg
    `MERGE INTO ... WHEN MATCHED UPDATE fetches+1` as a merge-on-read
    delta; compaction is newer ∪ (base ∖ newer-keys), so the large side
    stays in place instead of re-shuffling through a groupBy.
  * All time arithmetic uses a round timestamp passed as a LITERAL —
    never current_timestamp() inside distributed expressions — so rounds
    are deterministic and resumable (SURVEY.md §7).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import SEEN_SCHEMA

SEEN_COLS = SEEN_SCHEMA.fieldNames()


@dataclass(frozen=True)
class RefetchConfig:
    """Defaults mirror settings.py:130-135 (8 fetches, ≥3h apart)."""
    maxfetches: int = 8
    refetchsecs: int = 10800
    agelimit: int = 0  # 0 → maxfetches * refetchsecs (refetchcontrol.py:56-57)
    refetchfromdb: bool = True
    trimdb: bool = True

    @property
    def age_limit_secs(self) -> int:
        return self.agelimit or (self.maxfetches * self.refetchsecs)


def _age_secs(round_ts: datetime):
    return lambda col: F.lit(round_ts).cast("timestamp").cast("long") - col.cast("long")


def seen_filter(
    frontier: DataFrame, seen: DataFrame | None, cfg: RefetchConfig,
    round_ts: datetime, newer: DataFrame | None = None,
) -> DataFrame:
    """J1 — the skip-before-fetch join. Keeps frontier rows that are
    first fetches, or refetch-eligible; annotates `previousfetches`.

    `seen` holds one resolved row per key (a compacted base, or any
    resolved view); `newer`, when given, holds resolved rows strictly
    newer than `seen`'s wherever keys overlap (the resolved deltas).
    Either may be None. The sides are NOT unioned first: a union node
    discards the base scan's bucket distribution, forcing the join to
    shuffle the whole seen table every round. Two left joins instead —
    frontier × base (exchange on the frontier side only against a
    bucketed base), then × the small newer table (broadcast-eligible) —
    with newer values taking precedence. Output ≡
    seen_filter(frontier, resolve_split(seen, newer)) (parity-locked).

    Predicate order matches _process_request: drop when
    fetches >= maxfetches OR age < refetchsecs OR age > agelimit."""
    age = _age_secs(round_ts)
    j, fs, ls = frontier, [], []
    for i, side in enumerate(s for s in (seen, newer) if s is not None):
        j = j.join(side.select("url_hash", F.col("fetches").alias(f"_f{i}"),
                               F.col("last_fetch").alias(f"_l{i}")),
                   "url_hash", "left_outer")
        fs.insert(0, f"_f{i}")      # newest side first: it supersedes
        ls.insert(0, f"_l{i}")
    # the trailing NULL keeps coalesce well-formed with no side at all;
    # the optimizer drops it (and a one-argument coalesce) from the plan
    fetches = F.coalesce(*fs, F.lit(None).cast("int"))
    last_fetch = F.coalesce(*ls, F.lit(None).cast("timestamp"))
    first_fetch = fetches.isNull()
    refetch_ok = (
        (fetches < cfg.maxfetches)
        & (age(last_fetch) >= cfg.refetchsecs)
        & (age(last_fetch) <= cfg.age_limit_secs)
    )
    return (
        j.filter(first_fetch | refetch_ok)
        .withColumn("previousfetches", F.coalesce(fetches, F.lit(0)).cast("int"))
        .drop(*fs, *ls)
    )


def seen_updates(fetched: DataFrame, round_ts: datetime) -> DataFrame:
    """One round's seen-table delta as RESOLVED rows: (url_hash, url,
    host, previousfetches+1, round_ts) per fetched key — the Iceberg
    MoR equality-upsert analogue, where a key's NEWEST row is its
    complete state. O(round keys) to write, and — because no cross-delta
    sum is needed to resolve — old files can be pruned from reads whose
    predicate bounds last_fetch (the trawl reads seen_parts(since=);
    the manifest's last_fetch_range on each delta, the round timestamp,
    lets it skip a dir whole). `previousfetches` is free at fetch time:
    seen_filter annotates it and the articles delta carries it."""
    return (
        fetched.select(
            "url_hash",
            F.col("url_canon").alias("url"),
            "host",
            (F.col("previousfetches") + 1).cast("int").alias("fetches"),
            F.lit(round_ts).cast("timestamp").alias("last_fetch"),
        )
        .dropDuplicates(["url_hash"])  # one fetch per key per round
    )


def seen_state(rows: DataFrame) -> DataFrame:
    """Resolve (base ∪ deltas) rows into current per-key state — the
    merge-on-read view: LATEST ROW WINS (rows are resolved totals, not
    increments). Associative and idempotent — a compacted base is a
    fixed point, and replaying a delta is a no-op (crash-recovery
    safety). Ties on last_fetch only occur between identical replayed
    rows (round timestamps strictly increase; one fetch per key per
    round), so max_by is deterministic."""
    return (
        rows.groupBy("url_hash")
        .agg(
            F.max_by("url", "last_fetch").alias("url"),
            F.max_by("host", "last_fetch").alias("host"),
            F.max_by("fetches", "last_fetch").cast("int").alias("fetches"),
            F.max("last_fetch").alias("last_fetch"),
        )
        .select("url_hash", "url", "host", "fetches", "last_fetch")
    )


def resolve_split(base: DataFrame, newer: DataFrame,
                  keys: DataFrame | None = None) -> DataFrame:
    """Merge-on-read resolve for the SPLIT representation: `base` already
    holds one resolved row per key (a compacted snapshot), `newer` holds
    one resolved row per key that is strictly newer wherever keys
    overlap (post-compaction deltas: round timestamps strictly increase,
    so a delta row always supersedes the base row for its key). Then
    latest-wins collapses to  newer ∪ (base ∖ newer-keys)  — no O(table)
    groupBy. Against a url_hash-bucketed base the anti join runs with NO
    exchange on the base side (the newer side broadcasts or shuffles
    O(delta)). Output ≡ seen_state(base ∪ newer) row-for-row
    (parity-locked in tests). `keys` may stand in for newer's key set
    with any url_hash rows holding the same keys: a left-anti join
    ignores duplicates, so raw delta keys spare a second resolve."""
    keys = newer.select("url_hash") if keys is None else keys
    return newer.unionByName(base.join(keys, "url_hash", "left_anti"))


def _utc(ts: datetime) -> datetime:
    return (ts.replace(tzinfo=timezone.utc) if ts.tzinfo is None
            else ts.astimezone(timezone.utc))


def _parquet_columns(data_dir: str) -> set:
    """Column names of one parquet footer in data_dir — a driver-side
    metadata read, no Spark job; empty when the dir holds no data file."""
    import pyarrow.parquet as pq

    for fn in sorted(os.listdir(data_dir)):
        if fn.endswith(".parquet"):
            return set(pq.read_schema(os.path.join(data_dir, fn)).names)
    return set()


def seen_parts(seen_table, since: datetime | None = None):
    """(base, deltas) of the current seen snapshot — the one reader of
    the seen table: the J1 gate, compaction and the J3a trawl all start
    here. `base` is the first data dir when it is a compaction output
    (url_hash-bucketed, or lf_day-partitioned as older engines wrote it
    flat): one resolved row per key. `deltas` is the flat round dirs
    after it, or every dir if the table was never compacted. Either is
    None when absent; every delta row is newer than every base row.

    `since` lets the read skip rows whose last_fetch is at or before
    it: base days before since's date by lf_day partition pruning, a
    delta dir whole when its manifest last_fetch_range ends at or
    before `since` (a dir without the range is read)."""
    man = seen_table.manifest() or {}
    files = man.get("files") or []
    meta = man.get("file_meta", {})
    since = None if since is None else _utc(since)
    base = None
    if files and (meta.get(files[0], {}).get("bucket_table")
                  or meta.get(files[0], {}).get("partition_by")):
        base = seen_table.read_dir(files[0], man)
        if since is not None:
            base = base.filter(F.col("lf_day") >= F.lit(since.date()))
        base = base.select(*SEEN_COLS)
        files = files[1:]
    if since is not None:
        files = [d for d in files
                 if "last_fetch_range" not in meta.get(d, {})
                 or _utc(datetime.fromisoformat(
                     meta[d]["last_fetch_range"][1])) > since]
    if not files:
        return base, None
    # ONE multi-path relation with the known schema, not a union per
    # dir: a union chain grows the plan by a node per round, and schema
    # inference costs a Spark job. An explicit schema null-fills a
    # column a deficient dir (older / divergent writer) lacks, so check
    # each dir's footer here to keep the loud failure
    for d in files:
        missing = set(SEEN_COLS) - _parquet_columns(d)
        if missing:
            raise RuntimeError(
                f"seen delta dir {d} lacks column(s) {sorted(missing)}"
                " — written by an incompatible engine version?")
    return base, seen_table.spark.read.schema(SEEN_SCHEMA).parquet(*files)


def resolve_parts(spark, parts) -> DataFrame:
    """Current per-key state from seen_parts() — merge-on-read: the
    deltas resolve among themselves (O(delta) shuffle) and anti-join
    into the base with no exchange on a bucketed base's side."""
    base, deltas = parts
    if deltas is None:
        # limit(0): the optimizer folds an empty table away, where a bare
        # empty createDataFrame plans an RDD scan into every consumer
        return base if base is not None else spark.createDataFrame(
            [], SEEN_SCHEMA).limit(0)
    newer = seen_state(deltas)
    return newer if base is None else resolve_split(
        base, newer, deltas.select("url_hash"))


def trawl_candidates(
    seen: DataFrame, cfg: RefetchConfig, round_ts: datetime
) -> DataFrame:
    """J3a — idle re-trawl: rows with cutoffold < last_fetch <= cutofft
    and fetches < maxfetches get rescheduled (refetchcontrol.py:152-179)."""
    if not cfg.refetchfromdb:
        return seen.limit(0)
    age = _age_secs(round_ts)
    return seen.filter(
        (age(F.col("last_fetch")) >= cfg.refetchsecs)
        & (age(F.col("last_fetch")) < cfg.age_limit_secs)
        & (F.col("fetches") < cfg.maxfetches)
    )


def trawl_candidates_pruned(
    spark, seen_table, cfg: RefetchConfig, round_ts: datetime
) -> DataFrame:
    """J3a with FILE-LEVEL pruning — the min/max pruning SURVEY §4
    promises (reference's sqlite index scan, refetchcontrol.py:113-115,
    becomes Iceberg-style manifest/partition pruning): the trawl over
    seen_parts(since=round_ts - agelimit). Exact because a key's newest
    row decides its state and deltas are newer than the base, so a row
    at or before the window's old edge can be neither a candidate nor
    the row that excludes one. At 10^10 keys with mostly-cold history
    this reads the recent tail of the table instead of all of it.
    Output ≡ trawl_candidates(seen()) row-for-row (parity-tested)."""
    # tz-AWARE: a naive datetime literal goes through the driver's OS
    # timezone (time.mktime) on its way into the plan, so a non-UTC
    # driver would shift the window and diverge from the unpruned path
    rts = _utc(round_ts)
    since = rts - timedelta(seconds=cfg.age_limit_secs)
    return trawl_candidates(
        resolve_parts(spark, seen_parts(seen_table, since=since)), cfg, rts)


def trim_seen(
    seen: DataFrame, requested: DataFrame, cfg: RefetchConfig, round_ts: datetime
) -> DataFrame:
    """J3b — state compaction: delete rows too old to refetch that were
    not requested this run (refetchcontrol.py:180-193; the VACUUM becomes
    snapshot replacement). left_anti = `key not in keysrqd`."""
    if not cfg.trimdb:
        return seen
    age = _age_secs(round_ts)
    stale = F.col("_stale")
    marked = seen.withColumn(
        "_stale", age(F.col("last_fetch")) >= cfg.age_limit_secs
    )
    keep_fresh = marked.filter(~stale)
    stale_requested = (
        marked.filter(stale)
        .join(requested.select("url_hash").distinct(), "url_hash", "left_semi")
    )
    return keep_fresh.unionByName(stale_requested).drop("_stale")
