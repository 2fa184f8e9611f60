"""The round-based crawl pipeline (SURVEY.md §3 "Spark redesign").

One crawl round = one batch dataflow ending in snapshot commits:

  seeds/trawl → canonicalize (JVM exprs) → robots filter (broadcast rules)
  → bloom pre-filter → seen anti-join (J1) → politeness window (W1/W3)
  → salted-host repartition → fetch (corpus join here; HTTP mapInPandas in
  production) → extract_article pandas UDF (incl. fake404/NLP) → MERGE
  seen (J2) → append articles → lineage → commit = resumable checkpoint.

The reference runs this as an event loop over one process + sqlite
(/root/reference/RISJbot/settings.py middleware order; SURVEY.md §3); here
every arrow is a DataFrame op Catalyst can push down / reorder / broadcast,
and the round loop is the only driver-side control flow.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .frontier.bloom import PartitionedBloom
from .frontier.politeness import (
    fetch_order_key,
    host_budgets,
    host_budgets_df,
    parse_rules_df,
    politeness_schedule,
    robots_filter,
    robots_filter_df,
    rules_from_rows,
    salted_repartition,
)
from .frontier.state import (
    RefetchConfig,
    resolve_parts,
    resolve_split,
    seen_filter,
    seen_parts,
    seen_state,
    seen_updates,
    trawl_candidates_pruned,
    trim_seen,
)
from .schema import HTTP_DATE_FMT
from .store import SnapshotTable
from .udfs import extract_article_udf
from .urlnorm import with_canonical


def _footer_row_counts(data_dir: str) -> dict:
    """Per-write-task row counts from the parquet footers of one commit
    dir — driver-side metadata reads, NO Spark job. File names carry the
    writing task's partition id (part-00007-<uuid>...), so this
    reproduces the old groupBy(spark_partition_id()) per-partition
    lineage exactly for non-empty partitions (empty partitions write no
    data file and were absent from the groupBy output too; the schema
    placeholder file of an all-empty commit has num_rows=0 and is
    skipped)."""
    import pyarrow.parquet as pq

    out: dict[str, int] = {}
    for root, _dirs, files in os.walk(data_dir):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            try:
                pid = int(fn.split("-")[1])
            except (IndexError, ValueError):
                continue
            n = pq.ParquetFile(os.path.join(root, fn)).metadata.num_rows
            if n:
                out[str(pid)] = out.get(str(pid), 0) + n
    return out


def seen_bucket_count(n_keys: int) -> int:
    """Buckets of the compacted seen base, which is always bucketed by
    url_hash (Iceberg bucket(N, col)): the smallest power of two giving
    ≤ 32,768 of n_keys per bucket, capped at 32 (from ~0.5M keys) — a
    fixed 32 made every post-compaction round ~30% slower at 1.2k keys
    (BENCH/seen_layout_step.json)."""
    n = 1
    while n < 32 and n << 15 < n_keys:
        n *= 2
    return n


@dataclass(frozen=True)
class CrawlConfig:
    refetch: RefetchConfig = field(default_factory=RefetchConfig)
    default_budget: int = 1_000_000      # per-host per-round cap (W3)
    round_seconds: int = 3600            # politeness budget horizon
    num_partitions: int = 32
    salt: int = 0                 # >0 → salted-host fetch layout (HTTP mode)
    # Scale backends are chosen from observed scale — frontier rows vs
    # broadcast_frontier_max_rows, robots host count vs
    # robots_scale_hosts, seen keys vs driver_bloom_max_keys — and each
    # choice + its evidence lands in `engine.backend_choices`. A
    # 10^10-frontier run therefore gets the SMJ fetch / DataFrame robots
    # path and no driver bitmaps WITHOUT asking; sandbox scale resolves
    # to the broadcast/dict/driver fast paths. Only broadcast_frontier
    # takes an explicit override: round 0 has no frontier evidence, so
    # a seed list already past the budget needs broadcast_frontier=False.
    broadcast_frontier: bool | None = None   # None → auto per round
    # Seen pre-filter in front of the authoritative seen join (J1): a
    # driver PartitionedBloom, broadcast-probed; a false positive costs
    # one join row, never output. It runs while the seen key count is at
    # most driver_bloom_max_keys — at ~10 bits/key the filter broadcasts
    # n_keys×1.25 B every round, so 20M keys ≈ 25 MB is comfortable.
    # Past that budget (at construction, or when a round's adds cross
    # it) the engine drops the filter and the split seen join gates
    # alone: a filter pays only where it prunes join work.
    use_bloom: bool = True
    driver_bloom_max_keys: int = 20_000_000
    # frontier rows above which the fetch join stops broadcasting the
    # scheduled side (~100 B/row → 1M rows ≈ 100 MB per-round broadcast;
    # beyond that the SMJ on the bucketed pages side wins — the shape
    # scale_path_10m benched).
    broadcast_frontier_max_rows: int = 1_000_000
    # robots host count at which rules/budgets move from a driver dict
    # (broadcast once, no join) into DataFrames joined on host —
    # output-identical (parity-tested); needed when hosts outgrow driver
    # memory (10^6-10^8 hosts — a 10^10-URL frontier). The choice reads
    # at most this many robots rows to the driver, once at construction:
    # the read that decides the backend is the dict path's own input
    robots_scale_hosts: int = 200_000
    bloom_buckets: int = 64
    bloom_bits_per_bucket: int = 1 << 18  # adaptive: grows 4× when full
    trim_every: int = 4                  # J3b cadence (rounds)
    # snapshot retention: expire seen snapshots beyond the newest K after
    # each compaction (SURVEY §4 maintenance action; 0 → keep forever).
    # Generous default so time-travel resume stays available across
    # recent rounds; the checkpoint a rollback targets must still exist.
    expire_keep_last: int = 8
    # S6 link following: discovered outlinks feed the next round's frontier
    follow_links: bool = False
    link_allow: str = ""                 # regex; empty → allow all
    link_deny: str = ""                  # regex; empty → deny none
    # W1+ link-graph prioritization (frontier/rank.py): each committed
    # round appends its outlink edges to the <warehouse>/link_edges
    # snapshot table; every link_rank_every rounds the engine recomputes
    # fixed-point PageRank over the accumulated graph into the
    # <warehouse>/link_ranks snapshot table; subsequent frontiers merge
    # authority into `priority` — greatest(existing, rank div
    # link_rank_unit) — so hand-pinned spider priorities still win while
    # unpinned URLs schedule by global authority. Per-round cost: one
    # O(round-outlinks) append + one rank-keyed left join on the deduped
    # frontier; the rank job itself is edge-list-sized and runs only on
    # the cadence. Both tables commit like seen/articles (new data dir,
    # manifest, atomic CURRENT swap), so a crash or failure mid-refresh
    # keeps the previous ranks and edge log. An older engine's loose
    # part files in those dirs are named by no manifest and never read;
    # ranks are advisory and come back at the next refresh.
    link_rank: bool = False
    link_rank_every: int = 1             # rank-refresh cadence (rounds)
    link_rank_iterations: int = 3
    link_rank_unit: int = 10_000         # rank mass per priority point
    link_rank_checkpoint_dir: str = ""   # reliable ckpt for rank iters
    # S8 comment chase: when set (and a comments_api is injected into
    # the engine), pages on this host get their viafoura threads chased
    # before the articles commit — dropped/failed/ok semantics exactly
    # as the reference spider (comments.py). Bounded API parallelism +
    # optional inter-chase delay stand in for Scrapy's per-domain
    # download slot.
    comments_host: str = ""
    comments_site: str = "www.liverpoolecho.co.uk"
    comments_limit: int = 100
    comments_parallelism: int = 4
    comments_delay_secs: float = 0.0
    # pages-table canonicalization contract. None → infer: a table
    # carrying a `page_url` column is treated as already canonicalized
    # at ingest (bucketing.write_bucketed_pages' contract — re-deriving
    # the key through expressions would discard the bucket spec and
    # force the fetch join to shuffle the pages side). True → REQUIRE
    # page_url (raise if absent). False → always canonicalize `url`,
    # even when an unrelated page_url column happens to exist — set
    # this when your corpus has its own page_url with different
    # semantics.
    pages_precanonicalized: bool | None = None
    # corpus-join dedup contract: the per-round survivor dedup exchanges
    # the html-bearing join output (corpus-sized when a round fetches
    # everything). True declares the pages table holds exactly ONE row
    # per canonical URL (dedup happened at ingest — the production shape
    # for a bucketed CC table), skipping that shuffle; output-identical
    # under the guarantee. False (default) keeps the engine-side dedup.
    pages_unique_per_url: bool = False


class CrawlEngine:
    """Crawl over a Common-Crawl-style pages table.

    `pages` carries the fetchable universe (url, warc_ts, html, ...); the
    fetch stage joins against it — in a live deployment pass `fetcher`
    (a `url -> (status, body, date_header)` callable) and the engine runs
    the paced `fetch_stage` mapInPandas over the same salted layout
    instead; both modes share every other stage and produce the same
    output contract."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        pages: DataFrame | None,
        robots: DataFrame | None,
        cfg: CrawlConfig | None = None,
        fetcher=None,
        comments_api=None,
    ):
        self.spark = spark
        self.cfg = cfg or CrawlConfig()
        self.fetcher = fetcher
        self._round_caches: list = []   # per-round persists, see run_round
        self._round_obs: dict = {}      # per-round lineage Observations
        self._rules_bc = None           # robots dict Broadcast, built once
        # scale-backend auto-selection audit trail: each resolved flag
        # lands here as {"value", "auto", "why"} — tests and operators
        # read it to see WHICH backend ran and on what evidence
        self.backend_choices: dict[str, dict] = {}
        # per-round broadcast evidence: the previous round's frontier
        # row count (ridden off lineage/Observations — no extra job)
        self._last_frontier_rows: int | None = None
        # S8: comment-API chase — injectable `api(method, url) -> dict`
        # (comments.urllib_api for live deployments). Bootstrap runs
        # ONCE per engine, driver-side, like the reference's
        # start_requests gate; a failed bootstrap crawls without
        # comments (liverpoolecho.py:42-47).
        self.comments_api = comments_api
        self._comments_site_uuid = None
        if comments_api is not None and self.cfg.comments_host:
            from .comments import bootstrap_site_uuid

            self._comments_site_uuid = bootstrap_site_uuid(
                comments_api, self.cfg.comments_site)
        if pages is None and fetcher is None:
            raise ValueError("need a pages corpus or a fetcher")
        # the engine's determinism contract (literal round timestamps,
        # lf_day partition values, oracle parity) assumes UTC session
        # time: to_date()/date arithmetic silently use the session zone,
        # so a non-UTC session would shift day partitions and window
        # bounds. Fail loudly rather than compute wrong trawls.
        tz = spark.conf.get("spark.sql.session.timeZone")
        if tz not in ("UTC", "Etc/UTC", "GMT", "+00:00", "Z"):
            raise RuntimeError(
                f"CrawlEngine requires spark.sql.session.timeZone=UTC "
                f"(got {tz!r}): set it on the SparkSession builder")
        self.seen_table = SnapshotTable(spark, warehouse, "seen")
        self.articles_table = SnapshotTable(spark, warehouse, "articles")
        # pages keyed by canonical URL once, up front (column-pruned scan).
        # A table already carrying page_url (bucketing.write_bucketed_pages
        # canonicalized at ingest) is used AS-IS: re-deriving the key
        # through expressions would discard the bucket spec and force the
        # fetch join to shuffle the pages side.
        pre = self.cfg.pages_precanonicalized
        if pages is None:
            self.pages = None
        elif pre is True and "page_url" not in pages.columns:
            raise ValueError(
                "pages_precanonicalized=True but the pages table has no "
                "page_url column — ingest it with "
                "bucketing.write_bucketed_pages (or pass "
                "pages_precanonicalized=False/None)")
        elif pre is not False and "page_url" in pages.columns:
            self.pages = pages.select("page_url", "warc_ts", "html")
        else:
            self.pages = with_canonical(pages).select(
                F.col("url_canon").alias("page_url"), "warc_ts", "html")
        self.rules_df = None
        self.budgets_df = None
        # robots backend by host count, from the one read that also
        # fills the dict: no count job first, no second scan after
        self.rules_map, why = self._read_robots(robots)
        robots_scale = self.rules_map is None
        self.backend_choices["robots_dataframe"] = {
            "value": robots_scale, "auto": True, "why": why}
        if robots_scale:
            # scale path: rules stay distributed — parse once per host
            # (persisted so the parse runs once per engine, not per
            # round), budgets join on host.
            self.rules_map = {}
            self.budgets = {}
            self.rules_df = parse_rules_df(robots).persist()
            self.budgets_df = host_budgets_df(
                self.rules_df, self.cfg.round_seconds)
        else:
            self.budgets = host_budgets(
                self.rules_map, self.cfg.round_seconds, self.cfg.default_budget
            )
        # seen-table format gate: deltas switched from +1 increments to
        # RESOLVED rows (latest-wins). An increment-format warehouse
        # would silently resolve to wrong fetch counts under the new
        # seen_state, so refuse it loudly instead.
        self._check_seen_format()
        # crash recovery BEFORE bloom setup: if a prior run died between
        # the articles commit and the seen commit, roll the round forward
        self._recover_incomplete_round()
        self._bloom_dir = os.path.join(warehouse, "bloom")
        # W1+ link-graph state (config link_rank): the edge log and the
        # latest ranks, snapshot tables beside seen and articles
        if self.cfg.link_rank:
            self.link_edges = SnapshotTable(spark, warehouse, "link_edges")
            self.link_ranks = SnapshotTable(spark, warehouse, "link_ranks")
        self.bloom = None
        if self.cfg.use_bloom:
            self._init_bloom()
        else:
            self.backend_choices["bloom"] = {
                "value": False, "auto": False, "why": "explicit"}
        # link-following resume: the last committed articles delta seeds
        # discovered_frontier() so a resumed run's first round still
        # unions the previous invocation's outlinks
        a_man = self.articles_table.manifest()
        if a_man is not None and a_man["files"]:
            self.last_delta_dir = a_man["files"][-1]

    def _read_robots(self, robots: DataFrame | None):
        """(rules dict, evidence) for the dict robots backend, or
        (None, evidence) when the table reaches robots_scale_hosts rows
        and the DataFrame backend takes it. ONE bounded read: the table
        in a single task, cut at the threshold — one Spark job with one
        task, never a full-table scan, and never more rows on the driver
        than the dict backend itself holds."""
        limit = self.cfg.robots_scale_hosts
        if robots is None:
            return {}, "no robots table"
        rows = (robots.select("host", "robots_txt").coalesce(1).take(limit)
                if limit > 0 else [])
        if len(rows) >= limit:
            return None, f">= {limit} robots hosts vs threshold {limit}"
        return (rules_from_rows(rows),
                f"{len(rows)} robots hosts vs threshold {limit}")

    SEEN_FORMAT = 2   # 1 = increment deltas (sum-resolve); 2 = resolved rows

    def _check_seen_format(self) -> None:
        man = self.seen_table.manifest()
        if man is None:
            return
        fmt = man.get("lineage", {}).get("seen_format", 1)
        if fmt != self.SEEN_FORMAT:
            raise RuntimeError(
                f"seen table at {self.seen_table.dir} was written in "
                f"format {fmt} (increment deltas); this engine writes "
                f"format {self.SEEN_FORMAT} (resolved rows) and cannot "
                f"resolve mixed history — recrawl into a fresh warehouse "
                f"or compact with the old engine version first")

    def _recover_incomplete_round(self) -> None:
        """Roll-forward recovery for the round's two-commit sequence.

        run_round commits articles FIRST (carrying round + round_ts in
        its manifest — the write-ahead record), then seen (carrying the
        SAME round_ts). A crash in between leaves the articles commit's
        round_ts absent from seen: on resume the URLs would count as
        unfetched, get re-fetched, and append a duplicate delta.

        The round_ts TOKEN, not the round ordinal, detects the gap —
        ordinals restart at 0 when a warehouse is reused across
        invocations, which masked a crash in the second invocation's
        round 0 (old s_round=2 >= new a_round=0). The gap must be
        exactly one articles commit (seen's token == the parent articles
        commit's token); a wider or asymmetric divergence cannot be
        repaired by replaying one delta, so it raises instead of
        silently corrupting fetch counts. Replaying the delta is
        idempotent (resolved rows + latest-wins resolution).

        Known limitation: if the crashed round was a COMPACTION round,
        recovery restores the STATE (the delta) but not the round's
        maintenance — trim_seen needs the scheduled-key set, which is
        not persisted. Stale keys the crashed round would have trimmed
        survive until the next compaction round (round numbering resumes
        from the warehouse, so that round arrives on cadence); deletion
        timing is maintenance, not state semantics."""
        a_man = self.articles_table.manifest()
        if a_man is None:
            return
        a_round = a_man.get("lineage", {}).get("round")
        a_ts = a_man.get("lineage", {}).get("round_ts")
        if a_round is None or a_ts is None:
            return
        s_man = self.seen_table.manifest()
        s_ts = (s_man or {}).get("lineage", {}).get("round_ts")
        if s_ts == a_ts:
            return                      # both commits landed
        prev_man = (self.articles_table.manifest(a_man["parent"])
                    if a_man.get("parent") is not None else None)
        prev_ts = (prev_man or {}).get("lineage", {}).get("round_ts")
        if s_ts != prev_ts:
            raise RuntimeError(
                f"seen/articles diverged by more than one commit "
                f"(seen round_ts={s_ts!r}, articles parent "
                f"round_ts={prev_ts!r}); roll both tables back to a "
                f"matching snapshot pair before resuming")
        delta_dir = a_man["files"][-1]
        fetched_keys = self.spark.read.parquet(delta_dir).select(
            "url_hash", "url_canon", "host", "previousfetches")
        self.seen_table.commit(
            seen_updates(fetched_keys, datetime.fromisoformat(a_ts)),
            lineage={"round": a_round, "round_ts": a_ts,
                     "recovered": True, "seen_format": self.SEEN_FORMAT},
            mode="append",
            stats={"last_fetch_range": [a_ts, a_ts]},
        )

    def _init_bloom(self) -> None:
        """Driver bloom while the seen key count fits
        driver_bloom_max_keys, else none (the split seen join gates
        alone). The count is a current checkpoint's n_keys or, without
        one, the seen snapshot's parquet-footer rows (no Spark job).

        A checkpoint is current only when its marker names this seen
        snapshot and the driver filter; otherwise (rollback / time
        travel, a filter dropped mid-run, an older engine's table-backend
        marker) it is rebuilt from the seen snapshot. A bloom MISSING
        seen keys is a correctness bug — false negatives bypass the
        authoritative join and re-fetch early — so staleness in either
        direction forces a rebuild; empty table → empty filter."""
        cur = self.seen_table.current_snapshot_id()
        loaded = PartitionedBloom.load(self._bloom_dir)
        if loaded is not None and self._bloom_marker() == (cur, "driver"):
            if self._bloom_fits(loaded.n_keys,
                                f"checkpoint n_keys={loaded.n_keys}"):
                self.bloom = loaded
            return
        n = self._seen_rows_estimate()
        if not self._bloom_fits(n, f"seen footer rows={n}"):
            return
        # a stale checkpoint's SIZE is still the right size: the filter
        # grew adaptively to fit this table, and rebuilding at the small
        # configured default would produce a saturated (useless) filter
        # that burns a full seen scan per 4x re-growth step
        nb = loaded.n_buckets if loaded else self.cfg.bloom_buckets
        m = loaded.m if loaded else self.cfg.bloom_bits_per_bucket
        self.bloom = PartitionedBloom(nb, m)
        if cur is not None:
            self.bloom.add_df(self.seen().select("url_hash"))

    def _bloom_fits(self, n_keys: int, evidence: str) -> bool:
        """Record the pre-filter choice for n_keys; past the driver
        budget drop the filter AND its marker, so no later engine (say,
        under a larger budget) trusts the checkpoint left beside it —
        it stopped tracking seen when the filter went."""
        budget = self.cfg.driver_bloom_max_keys
        fits = n_keys <= budget
        self.backend_choices["bloom"] = {
            "value": fits, "auto": True,
            "why": f"{evidence} vs driver budget {budget} keys"}
        if not fits:
            self.bloom = None
            try:
                os.remove(os.path.join(self._bloom_dir, "seen_snapshot"))
            except FileNotFoundError:
                pass
        return fits

    def _seen_rows_estimate(self, *extra_dirs: str) -> int:
        """Rows in the current seen snapshot's data dirs (plus
        extra_dirs), from parquet footers — no Spark job. An upper bound
        on its keys: round deltas repeat refetched keys."""
        man = self.seen_table.manifest() or {"files": []}
        return sum(sum(_footer_row_counts(d).values())
                   for d in man["files"] + list(extra_dirs))

    def _resolve_broadcast_frontier(self) -> bool:
        """Per-round broadcast-vs-SMJ choice for the fetch join when
        broadcast_frontier=None. Evidence costs no extra job: the
        previous round's frontier size (the frontier_in counter that rode
        that round's commit); a first round with no evidence broadcasts —
        the frontier is the seed list then, and seed lists that already
        exceed the budget warrant an explicit override."""
        if self.cfg.broadcast_frontier is not None:
            self.backend_choices["broadcast_frontier"] = {
                "value": self.cfg.broadcast_frontier, "auto": False,
                "why": "explicit"}
            return self.cfg.broadcast_frontier
        est = self._last_frontier_rows
        if est is None:
            val, why = True, "no frontier estimate yet (first round)"
        else:
            val = est <= self.cfg.broadcast_frontier_max_rows
            why = (f"frontier ≈ {est} rows vs broadcast budget "
                   f"{self.cfg.broadcast_frontier_max_rows}")
        self.backend_choices["broadcast_frontier"] = {
            "value": val, "auto": True, "why": why}
        return val

    def _bloom_marker(self) -> "tuple[int, str] | None":
        """(seen-snapshot id, filter name) the bloom checkpoint was
        written against; None when absent or unreadable. Only
        (current snapshot id, "driver") vouches for bloom.npz."""
        try:
            with open(os.path.join(self._bloom_dir, "seen_snapshot")) as f:
                sid, name = f.read().split()
            return int(sid), name
        except (FileNotFoundError, ValueError):
            return None

    def _write_bloom_marker(self) -> None:
        # the marker names the filter it validates: an older engine could
        # promote a warehouse to a table-backed filter mid-run, leaving
        # a stale bloom.npz beside a "<sid>\ntable" marker; only a
        # "driver" marker vouches for bloom.npz, so such a warehouse
        # rebuilds instead of reading those rounds' keys definite-new
        path = os.path.join(self._bloom_dir, "seen_snapshot")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(f"{self.seen_table.current_snapshot_id()}\ndriver")
        os.replace(tmp, path)

    # ------------------------------------------------------------------
    def seen(self) -> DataFrame:
        """Current per-key seen state — merge-on-read: the table holds an
        optional compacted base plus per-round update deltas (Iceberg MoR
        pattern), resolved by frontier.state.resolve_parts without
        re-shuffling the whole table through `seen_state`'s groupBy."""
        return resolve_parts(self.spark, seen_parts(self.seen_table))

    def run_round(
        self,
        seeds: DataFrame,          # url, priority, discovered_ts?
        round_no: int,
        round_ts: datetime,
        with_order_audit: bool = False,
        perf: dict | None = None,
    ) -> dict:
        """Execute one crawl round; commits seen+articles snapshots and
        returns the round's lineage dict.

        `perf`, when given, receives each phase's wall seconds by label;
        perfbench/layers.py `CRAWL_PHASES` reads its plan_build,
        extract_and_commit_articles, seen_merge_commit and bloom_update
        labels.

        Unpersist is exception-safe: every DataFrame the round persists
        registers in `_round_caches`, released in the finally — a round
        that throws mid-commit (transient executor loss) must not pin its
        html-bearing cached blocks for the engine's remaining lifetime."""
        self._round_caches: list = []
        self._round_obs = {}
        try:
            return self._run_round(seeds, round_no, round_ts,
                                   with_order_audit, perf)
        finally:
            for df in self._round_caches:
                try:
                    df.unpersist()       # no-op if already released
                except Exception:
                    pass
            self._round_caches = []

    def _run_round(
        self,
        seeds: DataFrame,
        round_no: int,
        round_ts: datetime,
        with_order_audit: bool,
        perf: dict | None,
    ) -> dict:
        import time as _time

        def _mark(label, _last=[_time.monotonic()]):
            now = _time.monotonic()
            if perf is not None:
                perf[label] = round(now - _last[0], 2)
            _last[0] = now

        # coerce round_ts to tz-AWARE UTC once, at entry: a naive
        # datetime literal converts through the driver's OS timezone
        # (time.mktime) on its way into the plan, shifting every age
        # predicate and stored last_fetch on a non-UTC machine
        if round_ts.tzinfo is None:
            round_ts = round_ts.replace(tzinfo=timezone.utc)
        # parts resolved ONCE per round: the J1 gate and the compaction
        # merge read the same (base, deltas) view — no duplicate manifest
        # reads / per-delta plan rebuilding
        parts = seen_parts(self.seen_table)

        fr = self._assemble_frontier(seeds, round_ts)
        # keysrqd parity (refetchcontrol.py:231-232): the reference
        # registers every key the spider REQUESTS — before its own gate,
        # before robots, before download slots — and trim protects that
        # set. Capture the requested keys here (pre-robots, pre-gate):
        # protecting only post-gate `scheduled` keys would let trim
        # delete a stale-but-still-seeded key's row, resetting its fetch
        # history and re-fetching it from scratch every agelimit cycle
        requested_keys = fr.select("url_hash")
        eligible = self._observe(
            self._seen_gate(self._robots_filter(fr), parts, round_ts),
            "after_seen_gate")
        scheduled = self._observe(
            self._politeness(eligible, with_order_audit), "scheduled")
        items = self._extract(self._fetch(scheduled), round_no,
                              with_order_audit)

        # ---- commit articles FIRST, then derive the seen MERGE input from
        # the committed files: extraction runs exactly once per round (the
        # Iceberg pattern — MERGE reads the committed table, no recompute).
        _mark("plan_build")
        lineage = self._commit_articles(items, round_no, round_ts)
        _mark("extract_and_commit_articles")
        # next round's broadcast-frontier evidence, off a counter already
        # paid for (the frontier_in Observation riding the commit)
        self._last_frontier_rows = lineage["frontier_in"]
        self.last_delta_dir = self.articles_table.manifest()["files"][-1]
        fetched_keys = self.spark.read.parquet(self.last_delta_dir).select(
            "url_hash", "url_canon", "host",
            "previousfetches")  # column-pruned delta scan
        self._commit_seen(parts, fetched_keys, requested_keys,
                          lineage, round_no, round_ts)
        _mark("seen_merge_commit")
        if self._update_bloom(fetched_keys, lineage, round_no):
            _mark("bloom_update")
            self.bloom.save(self._bloom_dir)  # checkpointed with the round
            self._write_bloom_marker()        # ties bloom ↔ seen snapshot
            _mark("bloom_save")
        if self.cfg.link_rank:
            self._update_link_graph(round_no)
            _mark("link_rank")
        return lineage

    # ---- the round's layers, in plan order ---------------------------
    def _observe(self, df: DataFrame, name: str, **metrics) -> DataFrame:
        """Attach lineage counters to df as an Observation that rides the
        round's commit action (eager .count()s re-ran the whole frontier
        assembly per counter); each metric lands in the lineage under its
        own name, default one row count named `name`. (Caveat: a lost
        executor recomputing evicted cache blocks would re-fire them —
        lineage counters are metrics, not state, and tolerate that.)"""
        from pyspark.sql import Observation

        metrics = metrics or {name: F.count(F.lit(1))}
        obs = Observation(name)
        self._round_obs[name] = (obs, list(metrics))
        return df.observe(obs, *[c.alias(k) for k, c in metrics.items()])

    def _assemble_frontier(self, seeds: DataFrame,
                           round_ts: datetime) -> DataFrame:
        """Frontier assembly: seeds ∪ trawl (J3a), canonical, deduped to
        one best-ordered row per key, link-rank merged, and cached."""
        cfg = self.cfg
        fr = seeds
        if "priority" not in fr.columns:
            fr = fr.withColumn("priority", F.lit(0))
        if "discovered_ts" not in fr.columns:
            fr = fr.withColumn("discovered_ts", F.lit(round_ts).cast("timestamp"))
        fr = with_canonical(fr.select("url", "priority", "discovered_ts"))

        # pruned trawl: reads only the manifest-stat / day-partition files
        # the window can touch (≡ trawl_candidates(seen()), parity-locked)
        trawl = trawl_candidates_pruned(
            self.spark, self.seen_table, cfg.refetch, round_ts).select(
            F.col("url").alias("url"),
            F.lit(0).alias("priority"),
            F.col("last_fetch").alias("discovered_ts"),
            F.col("url").alias("url_canon"),
            "url_hash",
            "host",
        )
        fr = fr.unionByName(trawl)

        # dedup by key, keeping the best-ordered row (deterministic agg,
        # not dropDuplicates — partition-arrival order must not matter)
        fr = (
            fr.withColumn(
                "_ord",
                F.struct(
                    (-F.col("priority")).alias("np"),
                    F.col("discovered_ts").alias("ts"),
                ),
            )
            .groupBy("url_hash")
            .agg(
                # keep the single best-ordered ROW (priority DESC, ts ASC) —
                # never mix columns from different candidate rows, so engine
                # and oracle agree on the scheduled tuple exactly
                F.min_by("url_canon", "_ord").alias("url_canon"),
                F.min_by("priority", "_ord").alias("priority"),
                F.min_by("discovered_ts", "_ord").alias("discovered_ts"),
                F.min_by("host", "_ord").alias("host"),
            )
        )
        # ---- W1+ link-graph authority merge (frontier/rank.py): ranks
        # computed from PREVIOUS rounds' committed outlinks — this join
        # runs on the deduped frontier (unique keys), after the best-row
        # agg so it costs one rank-keyed left join, never the pre-dedup
        # candidate multiset. Explicit spider pins (priority ≥ rank/unit)
        # survive via greatest(); URLs absent from the graph keep their
        # existing priority.
        if cfg.link_rank:
            _ranks = self._load_link_ranks()
            if _ranks is not None:
                from .frontier.rank import prioritize_frontier

                fr = prioritize_frontier(
                    fr, _ranks, url_col="url_canon",
                    unit=cfg.link_rank_unit)
        # cached because several consumers evaluate it: the bloom split's
        # union-of-filters executes its upstream once per branch, and
        # trim rounds read it again via trim_seen's requested-keys
        # protection — without the cache the whole
        # canonicalize+trawl+dedup assembly re-runs per consumer (worse:
        # requested_keys would re-evaluate AFTER this round's articles
        # commit, so a frontier that reads crawl state could protect a
        # different key set than was actually requested). frontier_in
        # observes INSIDE the cached plan: the cache materializes once
        # (a consumer under the commit action), the CollectMetrics node
        # fires with it, and later cache readers never re-fire it.
        fr = self._observe(fr, "frontier_in").cache()
        self._round_caches.append(fr)
        return fr

    def _robots_filter(self, fr: DataFrame) -> DataFrame:
        """Robots (F11/J5): the broadcast rules dict, or the rules
        DataFrame joined on host past robots_scale_hosts."""
        if self.rules_map:
            if self._rules_bc is None:
                # broadcast ONCE per engine, not per round: re-shipping
                # the full host→rules dict every round is repeated
                # driver/executor work plus a leaked Broadcast per round
                from .frontier.politeness import broadcast_rules

                self._rules_bc = broadcast_rules(self.spark, self.rules_map)
            return robots_filter(fr, self.rules_map, self.spark,
                                 bc=self._rules_bc)
        if self.rules_df is not None:
            return robots_filter_df(fr, self.rules_df)
        return fr

    def _seen_gate(self, fr: DataFrame, parts,
                   round_ts: datetime) -> DataFrame:
        """Seen-set gate: bloom pre-filter + authoritative join (J1).
        Definite-new URLs skip the join shuffle entirely; the filter is
        maintained incrementally across rounds (no per-round rebuild).
        The join runs SPLIT: frontier × bucketed base (no exchange on the
        base side) + the small resolved-delta join, never against the
        union-resolved table."""
        base, deltas = parts
        newer = seen_state(deltas) if deltas is not None else None

        def gate(f):
            return seen_filter(f, base, self.cfg.refetch, round_ts,
                               newer=newer)

        if self.bloom is None:
            return gate(fr)
        maybe, fresh = self.bloom.split(fr, self.spark)
        return gate(maybe).unionByName(
            fresh.withColumn("previousfetches", F.lit(0).cast("int")))

    def _politeness(self, eligible: DataFrame,
                    with_order_audit: bool) -> DataFrame:
        """Politeness (W1/W3) + deterministic order. Live-fetch mode
        rides crawl_delay on the budget join (one budgets_df join per
        round, not two keyed by the same normalized host)."""
        scheduled = politeness_schedule(
            eligible, self.budgets, self.cfg.default_budget, self.spark,
            budgets_df=self.budgets_df,
            keep_crawl_delay=(self.fetcher is not None
                              and self.budgets_df is not None),
        )
        if with_order_audit:
            scheduled = fetch_order_key(scheduled)
        return scheduled

    def _fetch(self, scheduled: DataFrame) -> DataFrame:
        """Fetch stage: paced HTTP fetch when a fetcher is injected, else
        the corpus join; both end in the same columns plus the meta_json
        the extraction UDF reads."""
        if self.fetcher is not None:
            fetched = self._fetch_paced(scheduled)
        else:
            fetched = self._fetch_corpus(scheduled)
        return fetched.withColumn(
            "meta_json",
            F.to_json(
                F.struct(F.col("url_canon").alias("originalurl"),
                         F.col("previousfetches").alias("refetchcontrol_previous"))
            ),
        )

    def _fetch_paced(self, scheduled: DataFrame) -> DataFrame:
        """Paced-fetch mode: salted layout + in-task Crawl-delay pacing;
        non-2xx responses drop here (Scrapy's HttpError default — they
        never reach the spider, so no item and no seen upsert). Scale
        path: the per-row crawl_delay rides the politeness budget join
        (keep_crawl_delay — Crawl-delay hosts only, small) instead of a
        second join or a host→delay dict shipped to every task."""
        cfg = self.cfg
        fetched = (
            fetch_stage(
                scheduled, self.fetcher, rules_map=self.rules_map,
                num_partitions=cfg.num_partitions, salt=cfg.salt or 8,
            )
            .filter((F.col("status") >= 200) & (F.col("status") < 300))
            .drop("status")
        )
        if self.budgets_df is not None:
            fetched = fetched.drop("crawl_delay")
        # RFC-1123 Date header → timestamp; weekday prefix stripped
        # ('EEE' is a format-only symbol — Spark's parser rejects it)
        return fetched.withColumn(
            "warc_ts",
            F.to_timestamp(
                F.substring_index("fetchtime_str", ", ", -1),
                "dd MMM yyyy HH:mm:ss 'GMT'"))

    def _fetch_corpus(self, scheduled: DataFrame) -> DataFrame:
        """Corpus-join mode: the per-round frontier (bounded by
        politeness budgets) broadcasts into the pages scan — pages NEVER
        shuffle (the 100 TB side stays put), and the join output inherits
        the scan's uniform partitioning, so extraction balances on file
        splits, not host skew. Left to itself AQE broadcast the PAGES
        (html!) side here. Past broadcast_frontier_max_rows the frontier
        side shuffles instead (SMJ against the bucketed pages side)."""
        cfg = self.cfg
        bcast = self._resolve_broadcast_frontier()
        sched_side = F.broadcast(scheduled) if bcast else scheduled
        fetched = self.pages.join(
            sched_side, self.pages.page_url == sched_side.url_canon,
            "inner",
        ).drop("page_url")
        # one fetch per key per round: a Common-Crawl-style corpus can
        # hold several rows for one canonical URL (snapshots over time;
        # raw-URL variants collapsing under canonicalization), and the
        # join would emit one article per copy. Keep a deterministic
        # survivor — newest warc_ts, content hash as tiebreak (the
        # reference fetches live: one response per request). The dedup
        # shuffles the JOIN OUTPUT, O(round keys), never the 100 TB pages
        # side — but the rows carry the html payload, so at full-corpus
        # rounds this exchange is corpus-sized. An ingest that already
        # guarantees ONE row per canonical URL (dedup at ingest into the
        # bucketed table — what a production CC pipeline does) can
        # declare it with pages_unique_per_url=True and skip the shuffle
        # entirely; output-identical under the guarantee (parity-tested).
        if not cfg.pages_unique_per_url:
            others = [c for c in fetched.columns
                      if c not in ("url_hash", "_ord")]
            fetched = (
                fetched.withColumn(
                    "_ord", F.struct(F.col("warc_ts"), F.md5("html")))
                .groupBy("url_hash")
                .agg(*[F.max_by(c, "_ord").alias(c) for c in others])
            )
        # corpus-join mode skips the salted shuffle unless asked (salt>0)
        # — it would only move the html payload
        if cfg.salt > 0:
            fetched = salted_repartition(
                fetched, cfg.num_partitions, cfg.salt)
        # HTTP Date header analogue: the page's warc_ts (fetch time)
        return fetched.withColumn(
            "fetchtime_str",
            F.date_format("warc_ts", HTTP_DATE_FMT),
        )

    def _extract(self, fetched: DataFrame, round_no: int,
                 with_order_audit: bool) -> DataFrame:
        """Extraction (one vectorized UDF: fake404/prune/batteries/NLP)
        → the items the articles commit writes, with the four article
        counters, the S8 comment chase, and the first-fetch counter."""
        cfg = self.cfg
        # S8 gate decided up front: the chase needs the bootstrap uuid —
        # a failed bootstrap crawls WITHOUT comment collection
        # (liverpoolecho.py:42-47), it must not stamp every host article
        # with a false 'No comments section' note via chase_one's
        # uuid-missing short-circuit
        chase_active = (self.comments_api is not None
                        and bool(cfg.comments_host)
                        and self._comments_site_uuid is not None)
        if chase_active:
            # the chase adds a second consumer of the fetch stage
            # (extraction + chase), and the eager chase materialization
            # is an extra action on top of the commit. Cache the stage so
            # each URL is fetched (live mode: an HTTP side effect) or
            # joined (corpus mode: the pages join + dedup shuffle)
            # exactly once per round, whichever branch materializes
            # first (MEMORY_AND_DISK — spills, never recomputes)
            fetched = fetched.persist()
            self._round_caches.append(fetched)

        extracted = fetched.withColumn(
            "article",
            extract_article_udf(
                F.col("html"), F.col("url_canon"),
                F.col("fetchtime_str"), F.col("meta_json"),
            ),
        )
        audit_cols = ["fetch_seq"] if with_order_audit else []
        articles = extracted.select(
            "url_canon", "url_hash", "host", "priority", "discovered_ts",
            "warc_ts", *audit_cols, "article.*",
        ).withColumn("round", F.lit(round_no))
        # the four article counters RIDE the commit write as one
        # Observation — the write is the only consumer, so no cache and
        # no extra job. no_bodytext is F9 CheckContent
        # (pipelines/checkcontent.py:6-12): items without bodytext
        # unless the URL is picture/video/gallery
        not404 = F.col("status") != "fake404"
        articles = self._observe(
            articles, "article_counts",
            fetched=F.count(F.lit(1)),
            extracted=F.sum((F.col("status") == "ok").cast("long")),
            fake404_dropped=F.sum((~not404).cast("long")),
            no_bodytext=F.sum(
                (not404 & F.col("bodytext").isNull()
                 & ~F.col("url_canon").rlike("picture|video|gallery"))
                .cast("long")),
        )
        # Items = everything that produced a NewsItem. fake404 responses
        # raise before the item path in the reference, so they neither
        # export nor upsert the seen DB (fake404.py:48-58 +
        # refetchcontrol.py:281-316) — they will be re-tried next round.
        items = articles.filter(not404)
        if chase_active:
            items = self._chase_comments(fetched, items)
        # first fetches among exactly the rows the commit writes (after
        # the fake404 drop and the chase's drops): the bloom update's
        # budget check reads it BEFORE adding any key
        return self._observe(
            items, "first_fetched",
            first_fetched=F.sum(
                (F.col("previousfetches") == 0).cast("long")))

    def _chase_comments(self, fetched: DataFrame,
                        items: DataFrame) -> DataFrame:
        """S8 comment chase (host-gated): runs BEFORE the commit, as the
        reference chases inline before yielding the item — so a
        'dropped' chase (bad contentcontainer payload) removes the
        article from the round exactly like the reference's
        StopIteration. The chase re-derives the host subset from
        `fetched` (it needs the raw html); a single-host subset of the
        round is small, and the API parallelism is bounded
        (comments.chase_comments politeness notes)."""
        from .comments import chase_comments, join_comments

        cfg = self.cfg
        chased = chase_comments(
            fetched.select("url_canon", "host", "html", "warc_ts"),
            self.comments_api, self._comments_site_uuid,
            host_filter=cfg.comments_host,
            limit=cfg.comments_limit,
            max_parallelism=cfg.comments_parallelism,
            delay_secs=cfg.comments_delay_secs,
        )
        # the chase issues live API requests — it must run EXACTLY once
        # per round, so persist+count materializes it here and the
        # commit reads the cached rows instead of re-issuing every
        # container/comments GET
        chased = chased.persist()
        self._round_caches.append(chased)
        chased.count()
        return join_comments(items, chased)

    def _commit_articles(self, items: DataFrame, round_no: int,
                         round_ts: datetime) -> dict:
        """Append the round's items; returns its lineage counters.
        round_ts rides the manifest: the articles commit doubles as the
        round's write-ahead record, and crash recovery (see
        _recover_incomplete_round) replays the seen MERGE from it."""
        lineage: dict = {}

        def resolve(data_dir: str) -> dict:
            lineage.update(self._resolve_lineage(data_dir))
            return lineage

        self.articles_table.commit(
            items, lineage={"round": round_no,
                            "round_ts": round_ts.isoformat()},
            lineage_fn=resolve,
            mode="append",
        )
        return lineage

    def _resolve_lineage(self, data_dir: str) -> dict:
        """The round's counters. Runs inside the articles commit, after
        the data write and before the manifest write: every Observation
        riding the round's plan is resolvable now, and the freshly
        written files' parquet footers give exact per-write-task item
        counts driver-side — so the counters add ZERO Spark jobs per
        round (tests/test_lineage_jobs.py pins the count)."""
        out: dict = {}
        for obs, keys in self._round_obs.values():
            try:
                row = obs.get      # dict of this obs's metric values
            except Exception:
                # AQE's empty-stage propagation can replace an all-empty
                # runtime subtree with an EmptyRelation, eliminating its
                # CollectMetrics node — obs.get then yields an empty row
                # (e.g. a round whose seen gate drops every URL). The
                # write action DID execute the plan, so the faithful
                # count for the vanished node is 0.
                row = {}
            for k in keys:
                out[k] = int(row.get(k) or 0)
        out["per_partition_extracted"] = _footer_row_counts(data_dir)
        return out

    def _commit_seen(self, parts, fetched_keys: DataFrame,
                     requested_keys: DataFrame, lineage: dict,
                     round_no: int, round_ts: datetime) -> None:
        """Seen MERGE (J2), merge-on-read. Normal rounds append only this
        round's delta — the write is O(round keys), never O(table) (at
        10^10 keys a full rewrite per round is the dominant cost; Iceberg
        MoR has the same shape). Trim rounds (J3b) materialize full state
        anyway, so they double as the compaction: one replace-commit
        folds base + deltas back into a single snapshot: this round's
        resolved updates carry round_ts, newer than every stored row, so
        the compacted state is updates ∪ (seen ∖ update-keys) — no
        groupBy over the full table (the bucketed WRITE below clusters it
        once anyway). trim_every=0 → never compact (like
        expire_keep_last=0's keep-forever)."""
        cfg = self.cfg
        rts_iso = round_ts.isoformat()
        if not (cfg.trim_every > 0 and round_no > 0
                and round_no % cfg.trim_every == 0):
            # delta stats: every row's last_fetch IS round_ts, so the
            # manifest range enables whole-delta skips on pruned reads
            self.seen_table.commit(
                seen_updates(fetched_keys, round_ts),
                lineage={"round": round_no, "round_ts": rts_iso,
                         "seen_format": self.SEEN_FORMAT,
                         "counters": lineage},
                mode="append",
                stats={"last_fetch_range": [rts_iso, rts_iso]},
            )
            return
        new_seen = resolve_split(resolve_parts(self.spark, parts),
                                 seen_updates(fetched_keys, round_ts))
        if cfg.refetch.trimdb:
            # protect the PRE-GATE requested keys, as the reference's
            # keysrqd does (refetchcontrol.py:150-193; see _run_round).
            # `requested_keys` reads the cached frontier: no pipeline
            # recompute, and the protected set is exactly what this
            # round requested even if the frontier assembly reads state
            # the round has since committed.
            new_seen = trim_seen(new_seen, requested_keys, cfg.refetch,
                                 round_ts)
        # base partitions by last-fetch day (the pruned trawl skips day
        # directories outside its window — SURVEY §4) and clusters by
        # url_hash so next rounds' gate joins and resolves read it
        # exchange-free; keys ≤ footer rows of the dirs folded + this
        # round's delta (no Spark job)
        est = self._seen_rows_estimate(self.last_delta_dir)
        self.seen_table.commit(
            new_seen.withColumn("lf_day", F.to_date("last_fetch")),
            lineage={"round": round_no, "round_ts": rts_iso,
                     "seen_format": self.SEEN_FORMAT,
                     "counters": lineage, "compacted": True},
            mode="replace",
            partition_by=["lf_day"],
            bucket_by="url_hash",
            n_buckets=seen_bucket_count(est),
        )
        if cfg.expire_keep_last > 0:
            # maintenance rides the compaction commit: pre-compaction
            # delta snapshots age out once K newer ones exist
            self.seen_table.expire_snapshots(cfg.expire_keep_last)

    def _update_bloom(self, fetched_keys: DataFrame, lineage: dict,
                      round_no: int) -> bool:
        """Add this round's FIRST-fetch keys to the driver bloom; True
        when a filter remains to checkpoint. A refetched key is already
        in the filter — the filter ⊇ seen at round start (init rebuilds
        on a stale marker, recovery commits before bloom setup) — so
        adding it again would only inflate n_keys, which drives
        overfull() growth and the driver-budget check."""
        if self.bloom is None:
            return False
        # the budget check runs BEFORE the add, off the first_fetched
        # counter that rode the commit: a brand-new big crawl starts
        # with an empty seen table and can cross the budget inside round
        # 0, and adding first would pull up to 2M keys to the driver (or
        # run a distributed bitmap build) only to drop the filter. An
        # over-count can only drop the filter early, never lose a key.
        n = self.bloom.n_keys + lineage["first_fetched"]
        if not self._bloom_fits(n, f"n_keys={n} after round {round_no}"):
            return False
        # small rounds update on the driver (no extra Spark job)
        self.bloom.add_df(
            fetched_keys.filter(F.col("previousfetches") == 0),
            driver_threshold=2_000_000)
        if self.bloom.overfull():
            # adaptive growth: rebuild 4× larger from the seen snapshot
            # (one scan, amortized over the rounds the quadrupling buys);
            # keeps the per-round broadcast + checkpoint sized to the
            # table, not worst-case
            self.bloom = PartitionedBloom.from_seen(
                self.seen(), self.bloom.n_buckets, self.bloom.m * 4)
        return True

    # ---- W1+ link-graph state (config link_rank) ---------------------
    def _load_link_ranks(self) -> DataFrame | None:
        """Latest committed rank snapshot, or None before the first
        refresh (no authority this round)."""
        if self.link_ranks.current_snapshot_id() is None:
            return None
        return self.link_ranks.read()

    def _update_link_graph(self, round_no: int) -> None:
        """Append the committed round's outlink edges; refresh ranks on
        the cadence. The append is O(this round's outlinks); the rank
        job reads the accumulated edge log distinct()-ed (crash-replayed
        rounds may append duplicate edges — distinct absorbs them) and
        iterates edge-sized shuffles only (frontier/rank.py scale
        notes). Runs after the seen commit: a crash here loses at most
        advisory priority signal, never crawl state."""
        from .frontier.rank import link_graph_ranks, outlink_edges

        delta = self.spark.read.parquet(self.last_delta_dir)
        if "links" not in delta.columns:
            return
        self.link_edges.commit(
            outlink_edges(delta.select("url_canon", "links")),
            mode="append", lineage={"round": round_no})
        if (round_no + 1) % max(1, self.cfg.link_rank_every) != 0:
            return
        # one distinct-graph materialization shared by the rank job and
        # the compaction commit (persist = compute once, spill not
        # recompute)
        edges = self.link_edges.read().distinct().persist()
        try:
            edges.count()
            ranks = link_graph_ranks(
                edges, iterations=self.cfg.link_rank_iterations,
                num_partitions=self.cfg.num_partitions,
                checkpoint_dir=self.cfg.link_rank_checkpoint_dir or None)
            self.link_ranks.commit(ranks, mode="replace")
            # compact the edge log to the distinct graph: refetch rounds
            # re-append the same (src,dst) pairs every cycle, so without
            # this the log — and every refresh's scan+distinct — grows
            # O(rounds × outlinks) on a crawl whose distinct graph is
            # static
            self.link_edges.commit(edges, mode="replace")
            self.link_ranks.expire_snapshots(1)
            self.link_edges.expire_snapshots(1)
        finally:
            edges.unpersist()

    # ------------------------------------------------------------------
    def export_jsonl(self, path: str, strip_raw_page: bool = True) -> None:
        """S9 — RISJbot-compatible JSONLines export of the articles table
        (see risjbot_spark.sinks for the raw-page option)."""
        from .sinks import write_jsonl

        write_jsonl(self.articles_table.read(), path,
                    strip_raw_page=strip_raw_page)

    def export_warc(self, out_dir: str, *, n_files: int = 16,
                    cdx: bool = True,
                    missing_ts: "datetime | None" = datetime(
                        1970, 1, 1, tzinfo=timezone.utc)) -> DataFrame:
        """Interchange export: the crawl's fetched pages as
        Common-Crawl-convention .warc.gz files (+ sorted .cdx sidecars)
        via sources.warc.write_warc. The articles table names what was
        actually fetched; the raw bytes come from the pages table by
        canonical url — the same strip-raw-page inverse as the JSONL
        sink — with the newest capture winning when several raw pages
        share one canonical URL (max_by total order, so repeated
        exports are byte-identical). Returns the manifest DataFrame
        (file, n_records, n_bytes).

        Pages whose warc_ts is NULL (a source WARC with a missing or
        unparseable WARC-Date — the engine itself tolerates them) get
        `missing_ts` (default: the epoch, the archive convention for
        "capture date unknown") so a successful crawl is always
        exportable; pass missing_ts=None to fail loudly instead."""
        from .sources.warc import write_warc

        if self.pages is None:
            raise ValueError("engine has no pages table to export")
        fetched = (self.articles_table.read()
                   .select(F.col("url_canon").alias("_u")).distinct())
        pages = self.pages
        if missing_ts is not None:
            pages = pages.withColumn(
                "warc_ts", F.coalesce("warc_ts", F.lit(missing_ts)))
        ord_ = F.struct(F.col("warc_ts"), F.md5(F.col("html").cast("binary")))
        pg = (pages
              .join(fetched, pages.page_url == F.col("_u"), "inner")
              .groupBy("page_url")
              .agg(F.max_by(
                  F.struct(F.col("warc_ts"),
                           F.col("html").cast("binary").alias("html")),
                  ord_).alias("_w"))
              .select(F.col("page_url").alias("url"),
                      F.col("_w.warc_ts").alias("warc_ts"),
                      F.col("_w.html").alias("payload")))
        return write_warc(pg, out_dir, n_files=n_files, cdx=cdx)

    def discovered_frontier(self) -> DataFrame | None:
        """S6 — outlinks of the last round's items as next-round seeds:
        explode the committed delta's `links`, distinct, allow/deny regex
        (F1, the LinkExtractor allow/deny of
        /root/reference/RISJbot/spiders/base/buzzfeednewscrawlspider.py:
        15-19). Offsite filtering already happened in the extraction UDF."""
        cfg = self.cfg
        if not getattr(self, "last_delta_dir", None):
            return None
        links = (
            self.spark.read.parquet(self.last_delta_dir)
            .select(F.explode("links").alias("url"))
            .distinct()
        )
        if cfg.link_allow:
            links = links.filter(F.col("url").rlike(cfg.link_allow))
        if cfg.link_deny:
            links = links.filter(~F.col("url").rlike(cfg.link_deny))
        return links.withColumn("priority", F.lit(0))

    def run(self, seeds: DataFrame, rounds: int,
            start_ts: datetime | None = None,
            round_gap_secs: int | None = None) -> list[dict]:
        """Multi-round driver loop. Round timestamps advance by
        `round_gap_secs` (default: refetchsecs, so refetches become
        eligible each round) and are passed as literals — determinism."""
        start_ts = start_ts or datetime(2017, 4, 1, tzinfo=timezone.utc)
        gap = round_gap_secs or self.cfg.refetch.refetchsecs
        # normalize the seed shape ONCE: run_round accepts bare-url seeds
        # (it defaults priority/discovered_ts), so the link-following
        # union must too — selecting a missing priority column crashed,
        # and re-selecting url+priority dropped a caller's discovered_ts
        keep = [c for c in ("url", "priority", "discovered_ts")
                if c in seeds.columns]
        seeds = seeds.select(*keep)
        if "priority" not in seeds.columns:
            seeds = seeds.withColumn("priority", F.lit(0))
        # resume round numbering AND the round clock from the warehouse:
        # restarting numbering at 0 would skew lineage (and pre-token,
        # mask crash recovery); deriving resumed timestamps from the
        # caller's start_ts would SHIFT them when a CLI rerun passes a
        # fresh wall-clock start (ts = now + start_round×gap aged every
        # stored key past agelimit — the next compaction then wiped the
        # whole fetch history). The recorded last round_ts anchors the
        # clock instead, so a resumed run continues exactly where an
        # uninterrupted one would be; start_ts only seeds a FRESH
        # warehouse. A resumed first round also keeps link-following
        # (gate on the absolute round, with last_delta_dir seeded from
        # the manifest at init).
        last = self.articles_table.manifest()
        start_round = 0
        base_ts = start_ts
        if last is not None and last.get("lineage", {}).get("round") is not None:
            start_round = last["lineage"]["round"] + 1
            last_ts = last.get("lineage", {}).get("round_ts")
            if last_ts is not None:
                base_ts = (datetime.fromisoformat(last_ts)
                           - timedelta(seconds=(start_round - 1) * gap))
        out = []
        for i in range(rounds):
            r = start_round + i
            ts = base_ts + timedelta(seconds=r * gap)
            round_seeds = seeds
            if self.cfg.follow_links and r > 0:
                disc = self.discovered_frontier()
                if disc is not None:
                    sd = seeds
                    if "discovered_ts" in sd.columns:
                        # outlinks carry no discovery time; stamp with the
                        # round literal so the union stays deterministic
                        disc = disc.withColumn(
                            "discovered_ts", F.lit(ts).cast("timestamp"))
                    round_seeds = sd.unionByName(disc)
            out.append(self.run_round(round_seeds, r, ts))
        return out


def fetch_stage(
    scheduled: DataFrame,
    fetcher,
    rules_map: dict | None = None,
    num_partitions: int = 32,
    salt: int = 8,
    default_delay: float = 0.0,
    sleep_fn=None,
) -> DataFrame:
    """The paced fetch stage (W3 pacing inside the task): `mapInPandas`
    over the salted-host layout, fetching each partition's rows in the
    deterministic crawl order and sleeping Crawl-delay between
    consecutive same-host requests.

    `fetcher(url) -> (status:int, body:bytes, date_header:str)` is
    injected — a live deployment passes an HTTP client; tests pass a
    corpus-backed fake (this sandbox has no network, so the engine's
    corpus join remains the default fetch, same output contract).

    Politeness accounting: the salted layout spreads one host over at
    most `salt` tasks, each sleeping `salt × crawl_delay` between its
    same-host fetches, and a task's FIRST same-host fetch is staggered
    by its salt lane (url_hash % salt) × crawl_delay — so the global
    per-host request rate honors ≤ 1/crawl_delay instantaneously, not
    just amortized (without the stagger, stage start could burst one
    request per lane at once). `sleep_fn` is injectable so pacing is
    unit-testable without wall-clock sleeps."""
    import time as _t

    from pyspark.sql import types as T

    from .frontier.politeness import _norm_host

    do_sleep = sleep_fn or _t.sleep
    # normalize both the rule keys and (below) the row hosts the same way
    # every other robots consumer does — an un-normalized 'www.' mismatch
    # would silently zero the Crawl-delay and break the rate bound
    delays = {
        _norm_host(host): (r.crawl_delay or default_delay)
        for host, r in (rules_map or {}).items()
    }
    out_schema = T.StructType(
        scheduled.schema.fields
        + [T.StructField("status", T.IntegerType()),
           T.StructField("html", T.BinaryType()),
           T.StructField("fetchtime_str", T.StringType())]
    )
    in_cols = [f.name for f in scheduled.schema.fields]
    out_cols = [f.name for f in out_schema.fields]
    laid_out = salted_repartition(scheduled, num_partitions, salt)

    def run(batches):
        for pdf in batches:
            yield _paced_fetch_partition(
                pdf, in_cols, out_cols, delays, salt, default_delay,
                fetcher, do_sleep)

    return laid_out.mapInPandas(run, schema=out_schema)


def _paced_fetch_partition(pdf, in_cols, out_cols, delays, salt,
                           default_delay, fetcher, do_sleep):
    """One task's paced fetch loop (unit-testable without Spark): sort
    into the deterministic crawl order, fetch, sleep salt×Crawl-delay
    between consecutive same-host requests."""
    import time as _t

    import pandas as pd

    from .frontier.politeness import _norm_host

    pdf = pdf.sort_values(
        ["priority", "discovered_ts", "url_hash"],
        ascending=[False, True, True])
    last_fetch_at: dict[str, float] = {}
    task_start = _t.monotonic()
    rows = []
    for rec in pdf.to_dict("records"):
        host = rec["host"]
        # per-row crawl_delay column (scale path) beats the shipped dict
        cd = rec.get("crawl_delay")
        if cd is not None and not pd.isna(cd):
            delay = float(cd) * salt
        else:
            delay = delays.get(_norm_host(host or ""), default_delay) * salt
        if delay > 0 and host in last_fetch_at:
            wait = delay - (_t.monotonic() - last_fetch_at[host])
            if wait > 0:
                do_sleep(wait)
        elif delay > 0:
            # first same-host fetch in this task: separate salt lanes in
            # ABSOLUTE time — lane k's first fetch happens no earlier
            # than task_start + k × crawl_delay. Without it, stage start
            # could burst up to `salt` concurrent same-host requests
            # (one per lane) before the per-lane pacing kicks in; the
            # stagger makes the instantaneous rate honor the
            # 1/crawl_delay bound, not just the amortized one (Scrapy
            # download slots serialize per-domain — this is the
            # distributed analogue). Wall-clock already elapsed in this
            # task counts toward the offset, so a late-reached host
            # doesn't sleep for a burst window that has already passed.
            lane_offset = (rec["url_hash"] % salt) * (delay / salt)
            wait = lane_offset - (_t.monotonic() - task_start)
            if wait > 0:
                do_sleep(wait)
        status, body, date_hdr = fetcher(rec["url_canon"])
        last_fetch_at[host] = _t.monotonic()
        rows.append({**{c: rec[c] for c in in_cols},
                     "status": int(status), "html": body,
                     "fetchtime_str": date_hdr})
    return pd.DataFrame(rows, columns=out_cols)
