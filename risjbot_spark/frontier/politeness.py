"""Politeness: robots.txt obedience + per-host budgets + skew-safe layout.

The reference gets robots obedience and per-domain delays from Scrapy
(ROBOTSTXT_OBEY, settings.py:45; delay knobs at settings.py:88-94) and
priority scheduling from the Twisted scheduler. Here (SURVEY.md §2.5
W1/W3, §2.2 F11):

  * robots rules are parsed ONCE per distinct host (hosts ≪ URLs) and
    broadcast; the frontier filter is a vectorized UDF over (host, path)
    against the broadcast rule dict — no per-row parsing, no shuffle.
  * the priority queue is a window: rank per host by
    (priority DESC, discovered_ts, url_hash) — the deterministic global
    crawl order the north_rule requires — capped by a per-host budget
    derived from Crawl-delay.
  * hot-host skew (one domain = half the frontier) is killed by salted
    repartition before the fetch stage: partition key =
    hash(host, url_hash % salt) bounds any host's fan-in to `salt`
    tasks while keeping per-partition politeness accounting possible.
    AQE balances *bytes*; politeness must balance *hosts* — both run.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


# ---------------------------------------------------------------------------
# robots.txt — tiny deterministic parser (User-agent:* sections only)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class RobotsRules:
    disallow: tuple[str, ...] = ()
    allow: tuple[str, ...] = ()
    crawl_delay: float | None = None
    sitemaps: tuple[str, ...] = ()

    def allowed(self, path: str) -> bool:
        """Longest-prefix-match wins; Allow beats Disallow at equal length
        (Google/RFC 9309 semantics)."""
        best_len, best_allow = -1, True
        for p in self.disallow:
            if p and path.startswith(p) and len(p) > best_len:
                best_len, best_allow = len(p), False
        for p in self.allow:
            if p and path.startswith(p) and len(p) >= best_len:
                best_len, best_allow = len(p), True
        return best_allow


def parse_robots(robots_txt: str) -> RobotsRules:
    """RFC 9309 grouping: consecutive ``User-agent`` lines share ONE rule
    set; the group applies to us if ANY of its agents is ``*``. A
    ``User-agent`` line after rules starts a new group (a naive
    per-line ``applies = (val == '*')`` drops the rules of
    ``User-agent: *\\nUser-agent: SomeBot\\nDisallow: /x`` groups)."""
    disallow: list[str] = []
    allow: list[str] = []
    delay: float | None = None
    sitemaps: list[str] = []
    applies = False        # current group contains '*'
    in_ua_block = False    # last significant line was a User-agent line
    for raw in (robots_txt or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            if not in_ua_block:       # new group starts
                applies = False
                in_ua_block = True
            applies = applies or val == "*"
            continue
        in_ua_block = False
        if key == "sitemap":
            sitemaps.append(val)
        elif applies and key == "disallow" and val:
            disallow.append(val)
        elif applies and key == "allow" and val:
            allow.append(val)
        elif applies and key == "crawl-delay":
            try:
                delay = float(val)
            except ValueError:
                pass
    return RobotsRules(tuple(disallow), tuple(allow), delay, tuple(sitemaps))


def rules_from_rows(rows) -> dict[str, RobotsRules]:
    """(host, robots_txt) rows → the rules dict, parsing each row as it
    arrives (a later row for a host replaces an earlier one)."""
    return {r["host"].lower(): parse_robots(r["robots_txt"]) for r in rows}


def build_rules_map(robots_df: DataFrame) -> dict[str, RobotsRules]:
    """Parse robots per distinct host on the driver (hosts are a small
    dimension; this is the reference's one-robots-fetch-per-host)."""
    return rules_from_rows(robots_df.select("host", "robots_txt").collect())


def broadcast_rules(spark, rules_map: dict[str, RobotsRules]):
    """Broadcast the normalized rules dict ONCE — long-lived callers
    (CrawlEngine) hold the returned Broadcast across rounds instead of
    re-shipping the full dict to every executor each round (and leaving
    a dead Broadcast per round for the ContextCleaner)."""
    return spark.sparkContext.broadcast(
        {_norm_host(h): r for h, r in rules_map.items()}
    )


def robots_filter(frontier: DataFrame, rules_map: dict[str, RobotsRules],
                  spark, bc=None) -> DataFrame:
    """F11/J5 — drop frontier rows a host's robots.txt disallows.

    The rules dict is broadcast once (pass a broadcast_rules() handle to
    reuse it across calls); membership is a vectorized pandas UDF (no
    join, no shuffle). Unknown hosts are allowed (reference behavior:
    no robots.txt → crawl)."""
    from pyspark.sql.functions import pandas_udf

    if bc is None:
        bc = broadcast_rules(spark, rules_map)

    @pandas_udf(T.BooleanType())
    def robots_allowed(host: pd.Series, url: pd.Series) -> pd.Series:
        from urllib.parse import urlparse

        rules = bc.value
        out = []
        for h, u in zip(host, url):
            r = rules.get(_norm_host(h or ""))
            if r is None:
                out.append(True)
                continue
            # urlparse, not string splitting: a hand-rolled split let the
            # query string leak into the matched path (and mis-derived it
            # entirely when the first '/' sat inside the query), diverging
            # from the oracle's urlparse(url).path
            path = urlparse(u).path or "/"
            out.append(r.allowed(path))
        return pd.Series(out)

    return frontier.filter(robots_allowed(F.col("host"), F.col("url_canon")))


def _norm_host(host: str) -> str:
    return host[4:] if host.startswith("www.") else host


# ---------------------------------------------------------------------------
# robots at scale: rules as a TABLE, not a driver dict
# ---------------------------------------------------------------------------
# build_rules_map/robots_filter collect every host's parsed rules into a
# driver dict and broadcast it — exactly right while Crawl-delay hosts
# number in the thousands, an OOM at a 10^10-URL frontier's 10^7-10^8
# hosts. The scale path keeps rules in a DataFrame end to end: parse once
# per distinct host (Arrow-batched pandas, the reference's one-robots-
# fetch-per-host, settings.py:45), then equi-join the frontier on
# normalized host. The join is left UNHINTED on purpose: AQE broadcasts
# it while the rules table is small and falls back to a shuffle join when
# it is not — and the politeness window shuffles by host right after, so
# the shuffle-join case co-partitions with work the plan does anyway.
# Prefix matching runs as JVM higher-order functions over the rule
# arrays (filter/transform/array_max) — no Python in the frontier path.

RULES_SCHEMA = T.StructType([
    T.StructField("host_norm", T.StringType()),
    T.StructField("disallow", T.ArrayType(T.StringType())),
    T.StructField("allow", T.ArrayType(T.StringType())),
    T.StructField("crawl_delay", T.DoubleType()),
    T.StructField("sitemaps", T.ArrayType(T.StringType())),
])


def parse_rules_df(robots_df: DataFrame) -> DataFrame:
    """(host, robots_txt) → parsed-rules table keyed by normalized host.

    One parse per host row, Arrow-batched; conflicting www./apex rows for
    the same normalized host keep an arbitrary one (the dict path's
    last-write-wins analogue). Persist the result once per engine — the
    parse then runs once, not once per round."""
    def parse_batches(batches):
        for pdf in batches:
            rows = [
                (_norm_host((h or "").lower()), list(r.disallow),
                 list(r.allow), r.crawl_delay, list(r.sitemaps))
                for h, r in (
                    (h, parse_robots(txt or ""))
                    for h, txt in zip(pdf["host"], pdf["robots_txt"])
                )
            ]
            yield pd.DataFrame(
                rows, columns=[f.name for f in RULES_SCHEMA.fields])

    return (
        robots_df.select("host", "robots_txt")
        .mapInPandas(parse_batches, RULES_SCHEMA)
        .dropDuplicates(["host_norm"])
    )


def _prefix_match_len(arr, path_col):
    """Length of the longest rule prefix matching `path_col` (null when
    none match) — RFC 9309 longest-match, as a codegen-friendly HOF."""
    return F.array_max(F.transform(
        F.filter(arr, lambda p: path_col.startswith(p)),
        F.length))


def robots_filter_df(frontier: DataFrame, rules_df: DataFrame) -> DataFrame:
    """F11/J5 at scale — robots gate as an equi-join on normalized host.

    Longest-prefix-match with Allow winning ties, identical to
    RobotsRules.allowed (parity-tested row-for-row against the dict
    path): allowed iff no Disallow matches, or the best Allow match is
    at least as long as the best Disallow match. Unknown hosts (left
    join miss) are allowed — reference behavior: no robots.txt → crawl."""
    rules = rules_df.select("host_norm", "disallow", "allow")
    path = F.coalesce(
        F.when(F.parse_url("url_canon", F.lit("PATH")) == "", None)
        .otherwise(F.parse_url("url_canon", F.lit("PATH"))),
        F.lit("/"))
    joined = frontier.join(
        rules, _norm_host_expr(F.col("host")) == F.col("host_norm"), "left")
    dmax = _prefix_match_len(F.col("disallow"), path)
    amax = _prefix_match_len(F.col("allow"), path)
    allowed = (
        F.col("host_norm").isNull()
        | (F.coalesce(amax, F.lit(-1)) >= F.coalesce(dmax, F.lit(-2)))
    )
    # drop ONLY the three columns this join added — naming never-joined
    # rule columns here would silently delete a frontier-owned column of
    # the same name if one ever appeared
    return joined.filter(allowed).drop("host_norm", "disallow", "allow")


def host_budgets_df(rules_df: DataFrame, round_seconds: int) -> DataFrame:
    """Crawl-delay → per-host fetch budget, as a table (W3 scale path)."""
    return (
        rules_df
        # != 0, not > 0: the dict path treats any TRUTHY crawl_delay as a
        # budget (a negative typo yields budget 1 via max(1, ...)); the
        # greatest(1, floor(...)) below reproduces that for negatives
        .filter(F.col("crawl_delay").isNotNull() & (F.col("crawl_delay") != 0))
        .select(
            "host_norm",
            F.greatest(
                F.lit(1),
                F.floor(F.lit(round_seconds) / F.col("crawl_delay")),
            ).cast("int").alias("budget"),
            "crawl_delay",
        )
    )


# ---------------------------------------------------------------------------
# per-host budgets + priority window + salted layout
# ---------------------------------------------------------------------------

def host_budgets(rules_map: dict[str, RobotsRules], round_seconds: int,
                 default_budget: int) -> dict[str, int]:
    """Crawl-delay → max fetches for this host this round (W3)."""
    budgets = {}
    for host, rules in rules_map.items():
        if rules.crawl_delay:
            budgets[_norm_host(host)] = max(1, int(round_seconds / rules.crawl_delay))
    return budgets


def order_cols():
    """The deterministic global crawl-order key (north_rule)."""
    return (F.col("priority").desc(), F.col("discovered_ts").asc(),
            F.col("url_hash").asc())


# salted pre-rank fan-out: a hot host's rows spread over this many
# window partitions before the exact per-host window
PRESPLIT_SALT = 32


def politeness_schedule(
    frontier: DataFrame,
    budgets: dict[str, int],
    default_budget: int,
    spark,
    presplit_threshold: int = 100_000,
    budgets_df: DataFrame | None = None,
    keep_crawl_delay: bool = False,
) -> DataFrame:
    """W1/W3 — per-host window rank by (priority DESC, discovered_ts,
    url_hash); keep rows within the host's budget. The rank IS the
    deterministic crawl order (north_rule: ordering never depends on
    partition arrival). Scales: the window shuffles by host only — no
    global sort; the global order is the lexicographic key
    (priority DESC, discovered_ts, url_hash), materialized on demand.
    Budgets ship as a create_map literal (fine while Crawl-delay hosts
    number in the thousands — robots with delays are rare); past that,
    swap to a broadcast join on host — same plan shape either way.

    The window partitions by RAW host while budgets key by normalized
    (www.-stripped) host — deliberate, reference-faithful asymmetry:
    Scrapy's download slots key by the request's exact hostname, so
    www.example.com and example.com are separate slots there too (each
    getting the robots-derived budget/delay); the in-memory oracle keys
    per-host state the same way, which is what the parity tests lock.

    Hot-host bound: a plain per-host window puts ALL of a host's rows in
    one task — a host owning half a 10^10 frontier is an OOM, not a
    skew. When `default_budget` ≤ `presplit_threshold`, a salted
    pre-rank runs first: rank within (host, url_hash % PRESPLIT_SALT)
    and cut to the budget. A row's salted-partition rank never exceeds
    its true per-host rank (same order key, subset of the rows), so only
    rows already past budget are cut and the result is bit-identical at
    any budget; the exact window then sees ≤ salt×budget rows per host.
    An unbounded default budget (this harness's corpus-join mode) skips
    the extra shuffle.

    Scale path: pass `budgets_df` (host_norm, budget — host_budgets_df)
    instead of the dict and the budget arrives via an equi-join on host
    rather than a plan literal; AQE broadcasts it while small, shuffle-
    joins when not (and the window shuffles by host anyway)."""
    drop_cols = []
    if budgets_df is not None:
        # keep_crawl_delay: the live fetch stage needs the per-host
        # Crawl-delay for in-task pacing — riding it on THIS join spares
        # the engine a second budgets_df join keyed by the same
        # normalized host (the rows carry `crawl_delay` out)
        bd_cols = ["host_norm", "budget"] + (
            ["crawl_delay"] if keep_crawl_delay else [])
        frontier = frontier.join(
            budgets_df.select(*bd_cols),
            _norm_host_expr(F.col("host")) == F.col("host_norm"), "left")
        budget_col = F.coalesce(F.col("budget"), F.lit(default_budget))
        drop_cols = ["host_norm", "budget"]
    else:
        budget_items = [(h, b) for h, b in budgets.items()]
        if budget_items:
            budget_map = F.create_map(
                *[F.lit(x) for pair in budget_items for x in pair]
            )
            budget_col = F.coalesce(
                budget_map[_norm_host_expr(F.col("host"))],
                F.lit(default_budget),
            )
        else:
            budget_col = F.lit(default_budget)

    if default_budget <= presplit_threshold:
        pre = Window.partitionBy(
            "host", F.pmod(F.col("url_hash"), F.lit(PRESPLIT_SALT))
        ).orderBy(*order_cols())
        frontier = (
            frontier.withColumn("_pre_rank", F.row_number().over(pre))
            .filter(F.col("_pre_rank") <= budget_col)
            .drop("_pre_rank")
        )

    w = Window.partitionBy("host").orderBy(*order_cols())
    out = (
        frontier.withColumn("host_rank", F.row_number().over(w))
        .filter(F.col("host_rank") <= budget_col)
    )
    return out.drop(*drop_cols) if drop_cols else out


def _norm_host_expr(host):
    return F.regexp_replace(host, r"^www\.", "")


def salted_repartition(df: DataFrame, num_partitions: int, salt: int = 8) -> DataFrame:
    """Fetch-stage layout: bound any single host to ≤`salt` tasks while
    spreading rows evenly — kills hot-domain skew without a per-row
    shuffle key explosion (north_rule skew handling)."""
    return df.repartition(
        num_partitions,
        F.xxhash64(F.col("host"), F.pmod(F.col("url_hash"), F.lit(salt))),
    )


def fetch_order_key(df: DataFrame) -> DataFrame:
    """Materialize the global deterministic fetch sequence for audit /
    ordering tests. Global window — use at test scale only (the order is
    already fully defined by the key columns at any scale)."""
    w = Window.orderBy(*order_cols())
    return df.withColumn("fetch_seq", F.row_number().over(w))
