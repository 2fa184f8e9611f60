"""Partitioned, incrementally-maintained bloom filter for URL-seen
pre-filtering (the north_rule's partitioned URL-seen set).

At a 10^10-URL frontier, shuffling every candidate URL into the seen-set
join dominates round cost, and most candidates are brand new. Design:

  * one numpy bitmap per url_hash bucket, FIXED size (so bitmaps from
    different rounds OR together);
  * built distributedly (applyInPandas per bucket), merged on the driver
    (the driver already holds the dict to broadcast it);
  * maintained INCREMENTALLY: each round ORs in a delta built from that
    round's first-fetch keys only — never a full seen-table rescan;
  * serialized into the checkpoint warehouse and reloaded on resume;
    a missing/stale file falls back to a rebuild from the seen snapshot;
  * false positives fall through to the authoritative left-outer join —
    the filter can only cost a join row, never correctness
    (SURVEY.md §7, seen filter at 10^10 scale).

Sizing is ADAPTIVE: the filter starts small (default 2^18 bits/bucket ×
64 buckets = 2 MiB, ~1.6 M keys at 10 bits/key) and, when the tracked
key count crosses capacity, the engine rebuilds it 4× larger from the
seen snapshot (one scan, amortized over the rounds that quadrupling
buys). A right-sized filter matters on the round critical path: the
probe broadcasts the bitmaps every round, and a 32 MiB broadcast +
checkpoint for a 200 k-key table cost ~1 s/round of pure Amdahl drag.

The driver bloom has one probe, the broadcast `split`, and is the
engine's only seen pre-filter. At default geometry its bitmaps stay at
or below 32 MiB up to the engine's 20M-key driver budget; beyond that
the engine drops the filter and the split seen join gates alone.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_K = 7  # hash probes per key


def _positions(hashes: np.ndarray, m: int) -> np.ndarray:
    """Double hashing: k bit positions per 64-bit key, vectorized → (k, n)."""
    h = hashes.astype(np.uint64)
    h1 = h & np.uint64(0xFFFFFFFF)
    h2 = (h >> np.uint64(32)) | np.uint64(1)
    ks = np.arange(_K, dtype=np.uint64)[:, None]
    return ((h1[None, :] + ks * h2[None, :]) & np.uint64(m - 1)).astype(np.int64)


class PartitionedBloom:
    def __init__(self, n_buckets: int = 64, bits_per_bucket: int = 1 << 18):
        assert bits_per_bucket & (bits_per_bucket - 1) == 0, "power of two"
        self.n_buckets = n_buckets
        self.m = bits_per_bucket
        self.bitmaps: dict[int, np.ndarray] = {}
        # key-count upper bound: the engine adds first-fetch keys only,
        # but a trimmed key that is re-requested is added again; drives
        # growth
        self.n_keys = 0
        # cached Spark broadcast of the bitmaps: re-broadcasting per
        # split() call accumulated one N-MiB broadcast block per round on
        # the block managers until GC; the cache reuses one broadcast
        # until the bitmaps mutate (unpersist keeps the driver copy, so
        # a stale reference in a lazy plan just re-fetches)
        self._bc = None

    def _broadcast(self, spark):
        if self._bc is None:
            self._bc = spark.sparkContext.broadcast(self.bitmaps)
        return self._bc

    def _invalidate_broadcast(self) -> None:
        if self._bc is not None:
            try:
                self._bc.unpersist()
            except Exception:
                pass
            self._bc = None

    def overfull(self) -> bool:
        """True when inserts exceed ~capacity (10 bits/key target, the
        ~1% false-positive point for k=7) — time to rebuild larger."""
        return self.n_keys * 10 > self.n_buckets * self.m

    # -- build / update ---------------------------------------------------
    def add_local(self, hashes: np.ndarray) -> None:
        """OR in keys already on the driver (vectorized numpy bit-set)."""
        self._invalidate_broadcast()
        m = self.m
        self.n_keys += len(hashes)
        buckets = np.mod(hashes, self.n_buckets)
        for b in np.unique(buckets):
            bits = self.bitmaps.get(int(b))
            if bits is None:
                bits = np.zeros(m // 8, dtype=np.uint8)
                self.bitmaps[int(b)] = bits
            pos = _positions(hashes[buckets == b], m).ravel()
            np.bitwise_or.at(bits, pos >> 3,
                             np.uint8(1) << (pos & 7).astype(np.uint8))

    def add_df(self, keys: DataFrame, driver_threshold: int = 0) -> None:
        """OR in url_hash keys from a DataFrame — distributed bitmap build
        per bucket, tiny (bucket, bitmap) rows back to the driver.

        driver_threshold > 0: when the key count is at or below it, skip
        the Spark job and set bits on the driver (a per-round frontier is
        usually small relative to the seen table; pulling N longs costs
        ~8N bytes vs. a full applyInPandas job)."""
        m = self.m
        nb = self.n_buckets
        if driver_threshold > 0:
            # toArrow, not toPandas: the pickle collect path peaks at
            # ~400 B/row of driver RSS (measured 680 MB for a 2M-long
            # sizing pull); the Arrow batch transfer is ~8 B/row
            arr = (keys.select("url_hash").limit(driver_threshold + 1)
                   .toArrow().column("url_hash").to_numpy())
            if len(arr) <= driver_threshold:
                self.add_local(arr)
                return
            # over threshold → fall through to the distributed build

        def make(pdf: pd.DataFrame) -> pd.DataFrame:
            bits = np.zeros(m // 8, dtype=np.uint8)
            pos = _positions(pdf["url_hash"].to_numpy(), m).ravel()
            np.bitwise_or.at(bits, pos >> 3,
                             np.uint8(1) << (pos & 7).astype(np.uint8))
            return pd.DataFrame({"bucket": [int(pdf["bucket"].iloc[0])],
                                 "bitmap": [bits.tobytes()],
                                 "n": [len(pdf)]})

        rows = (
            keys.select(F.col("url_hash"),
                        F.pmod(F.col("url_hash"), F.lit(nb)).alias("bucket"))
            .groupBy("bucket")
            .applyInPandas(make, schema="bucket int, bitmap binary, n long")
            .collect()
        )
        self._invalidate_broadcast()
        for r in rows:
            delta = np.frombuffer(r["bitmap"], dtype=np.uint8)
            cur = self.bitmaps.get(r["bucket"])
            self.bitmaps[r["bucket"]] = delta.copy() if cur is None else cur | delta
            self.n_keys += r["n"]

    # -- probe --------------------------------------------------------------
    def split(self, frontier: DataFrame, spark) -> tuple[DataFrame, DataFrame]:
        """→ (maybe_seen, definite_new); empty filter ⇒ everything new."""
        if not self.bitmaps:
            return frontier.limit(0), frontier
        nb, m = self.n_buckets, self.m
        bc = self._broadcast(spark)

        @F.pandas_udf(T.BooleanType())
        def maybe_seen(url_hash: pd.Series) -> pd.Series:
            maps = bc.value
            h = url_hash.to_numpy()
            buckets = np.mod(h, nb)  # numpy mod is nonneg → matches F.pmod
            out = np.zeros(len(h), dtype=bool)
            for b in np.unique(buckets):
                bits = maps.get(int(b))
                if bits is None:
                    continue
                idx = np.nonzero(buckets == b)[0]
                pos = _positions(h[idx], m)
                hit = np.ones(len(idx), dtype=bool)
                for kk in range(_K):
                    p = pos[kk]
                    hit &= (bits[p >> 3]
                            & (np.uint8(1) << (p & 7).astype(np.uint8))) != 0
                out[idx] = hit
            return pd.Series(out)

        flagged = frontier.withColumn("_maybe", maybe_seen(F.col("url_hash")))
        return (flagged.filter(F.col("_maybe")).drop("_maybe"),
                flagged.filter(~F.col("_maybe")).drop("_maybe"))

    # -- checkpoint ---------------------------------------------------------
    def save(self, path: str) -> None:
        # uncompressed: zlib over a 32 MiB bitmap cost ~0.4 s of the
        # per-round driver-side critical path (pure Amdahl drag on the
        # scaling-efficiency target) to save a few MiB of checkpoint
        os.makedirs(path, exist_ok=True)
        tmp = os.path.join(path, "bloom.tmp.npz")  # .npz suffix: numpy keeps it
        np.savez(
            tmp,
            meta=np.array([self.n_buckets, self.m, self.n_keys],
                          dtype=np.int64),
            **{f"b{k}": v for k, v in self.bitmaps.items()},
        )
        os.replace(tmp, os.path.join(path, "bloom.npz"))

    @classmethod
    def load(cls, path: str) -> "PartitionedBloom | None":
        f = os.path.join(path, "bloom.npz")
        if not os.path.exists(f):
            return None
        with np.load(f) as z:
            meta = [int(x) for x in z["meta"]]
            nb, m = meta[0], meta[1]
            self = cls(nb, m)
            self.n_keys = meta[2] if len(meta) > 2 else 0
            for k in z.files:
                if k.startswith("b"):
                    self.bitmaps[int(k[1:])] = z[k].copy()
        return self

    @classmethod
    def from_seen(cls, seen: DataFrame, n_buckets: int = 64,
                  bits_per_bucket: int = 1 << 18) -> "PartitionedBloom":
        """Rebuild-on-resume path: one full scan of the seen snapshot."""
        self = cls(n_buckets, bits_per_bucket)
        self.add_df(seen.select("url_hash"))
        return self
