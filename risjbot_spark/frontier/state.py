"""Seen-set / refetch state machine as DataFrame dataflow.

Reimplements the reference's RefetchControl rules
(/root/reference/RISJbot/spmiddlewares/refetchcontrol.py) on a columnar
`seen` table — the crawl's core join (SURVEY.md §2.3 J1-J3):

  J1 seen_filter      _process_request   (refetchcontrol.py:227-279)
  J2 seen_updates     _process_item      (refetchcontrol.py:281-316)
     + resolve_split
  J3 trawl/trim       spider_idle        (refetchcontrol.py:132-195)

The seen table is SPLIT: an optional url_hash-bucketed compacted base
(one resolved row per key) and per-round resolved deltas, every delta
row newer than every base row. J1 joins the frontier to each side and
J2 appends a delta (or, on compaction, resolve_split folds one in).

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

from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
    predicate bounds last_fetch (the trawl; see
    trawl_candidates_pruned). `previousfetches` is free at fetch time:
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


def resolve_split(base: DataFrame, newer: DataFrame) -> DataFrame:
    """Merge-on-read resolve for the SPLIT representation: `base` already
    holds one resolved row per key (a compacted snapshot), `newer` holds
    one resolved row per key that is strictly newer wherever keys
    overlap (post-compaction deltas: round timestamps strictly increase,
    so a delta row always supersedes the base row for its key). Then
    latest-wins collapses to  newer ∪ (base ∖ newer-keys)  — no O(table)
    groupBy. Against a url_hash-bucketed base the anti join runs with NO
    exchange on the base side (the newer side broadcasts or shuffles
    O(delta)). Output ≡ seen_state(base ∪ newer) row-for-row
    (parity-locked in tests)."""
    return newer.unionByName(
        base.join(newer.select("url_hash"), "url_hash", "left_anti"))


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
):
    """J3a with FILE-LEVEL pruning — the min/max pruning SURVEY §4
    promises (reference's sqlite index scan, refetchcontrol.py:113-115,
    becomes Iceberg-style manifest/partition pruning).

    Sound because delta rows are RESOLVED (seen_updates): a key's newest
    row carries its full state, so the scan only needs files that can
    contain (a) rows inside the trawl window [round_ts-agelimit,
    round_ts-refetchsecs] — candidate sources — and (b) rows newer than
    the window — excluders, keys whose resolved last_fetch is too fresh.
    Files wholly OLDER than the window never matter: every row in them
    is superseded or out-of-window. Per manifest entry:
      * flat delta dirs carry a last_fetch range in the manifest (the
        round timestamp, constant per delta) → whole-file skip;
      * the compacted base is written partitioned by lf_day → Spark
        partition pruning skips day directories inside it.
    At 10^10 keys with mostly-cold history this reads the recent tail of
    the table instead of all of it. Output ≡ trawl_candidates(seen())
    row-for-row (parity-tested)."""
    man = seen_table.manifest()
    age = _age_secs(round_ts)
    if man is None or not man["files"]:
        from ..schema import SEEN_SCHEMA

        return spark.createDataFrame([], SEEN_SCHEMA).limit(0)
    if not cfg.refetchfromdb:
        return seen_table.read().select(
            "url_hash", "url", "host", "fetches", "last_fetch").limit(0)
    # tz-AWARE cutoffs: a naive datetime literal goes through the
    # driver's OS timezone (time.mktime) on its way into the plan, so a
    # non-UTC driver would shift the window and silently diverge from
    # the unpruned path; aware datetimes convert to true UTC instants
    rts = (round_ts if round_ts.tzinfo is not None
           else round_ts.replace(tzinfo=timezone.utc))
    lo = rts - timedelta(seconds=cfg.age_limit_secs)   # exclusive
    hi = rts - timedelta(seconds=cfg.refetchsecs)      # inclusive
    cols = ["url_hash", "url", "host", "fetches", "last_fetch"]
    meta = man.get("file_meta", {})
    window_srcs, newer_srcs = [], []
    for d in man["files"]:
        m = meta.get(d, {})
        pby = m.get("partition_by")
        rng = m.get("last_fetch_range")
        if pby:
            # read_dir: a bucketed base must resolve through the catalog
            # (schema + partition listing live there; the dir may even be
            # file-free when the compacted state was empty)
            df = seen_table.read_dir(d, man)
            day = F.col(pby[0])
            window_srcs.append(
                df.filter(day.between(F.lit(lo.date()), F.lit(hi.date())))
                .select(*cols))
            newer_srcs.append(
                df.filter(day >= F.lit(hi.date())).select(*cols))
        elif rng:
            mn = datetime.fromisoformat(rng[0])
            mx = datetime.fromisoformat(rng[1])
            mn = mn if mn.tzinfo else mn.replace(tzinfo=timezone.utc)
            mx = mx if mx.tzinfo else mx.replace(tzinfo=timezone.utc)
            if mx > lo and mn <= hi:
                window_srcs.append(seen_table.read_dir(d, man).select(*cols))
            if mx > hi:
                newer_srcs.append(seen_table.read_dir(d, man).select(*cols))
        else:  # legacy dir without stats: cannot prune, read for both
            df = seen_table.read_dir(d, man).select(*cols)
            window_srcs.append(df)
            newer_srcs.append(df)

    from functools import reduce

    if not window_srcs:
        from ..schema import SEEN_SCHEMA

        return spark.createDataFrame([], SEEN_SCHEMA).limit(0)
    window = reduce(lambda a, b: a.unionByName(b), window_srcs)
    # latest-wins within the window subset is the key's true state: its
    # globally-newest row is in-window for every surviving candidate
    # (a newer-than-window row would anti-join it away below)
    cand = seen_state(window).filter(
        (age(F.col("last_fetch")) >= cfg.refetchsecs)
        & (age(F.col("last_fetch")) < cfg.age_limit_secs)
        & (F.col("fetches") < cfg.maxfetches)
    )
    if newer_srcs:
        newer = reduce(lambda a, b: a.unionByName(b), newer_srcs)
        fresh_keys = (
            newer.filter(F.col("last_fetch") > F.lit(hi).cast("timestamp"))
            .select("url_hash").distinct()
        )
        cand = cand.join(fresh_keys, "url_hash", "left_anti")
    return cand


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
