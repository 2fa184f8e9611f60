"""Bloom filter as a bucket-keyed parquet TABLE — the 10^10-key path.

`PartitionedBloom` (bloom.py) keeps every bucket's bitmap in a driver
dict: right at sandbox scale (one broadcast, no per-round Spark job for
small rounds), but at the north_star's 10^10-key frontier the filter is
~12 GiB of bitmap living on — and shipped through — the driver every
round. Here the bitmaps are a first-class *table*:

  * data = parquet rows (bucket int, bitmap binary, n long) at
    `path/v{version}/`, one row per url_hash bucket, `n` = cumulative
    inserts into that bucket;
  * built and OR-merged DISTRIBUTED: a round's delta bitmaps come from
    one applyInPandas over the round's keys, then (current ∪ delta)
    groupBy-OR-merges into the next immutable version — no bitmap bytes
    ever pass through the driver (no collect, no createDataFrame, no
    broadcast);
  * probed partition-aligned: frontier cogrouped with the bitmap table
    on url_hash % n_buckets — each bucket's bitmap ships exactly once to
    the task probing that bucket's rows, read from parquet (the driver
    bloom broadcasts its whole dict instead);
  * the driver holds ONLY (n_buckets, m, n_keys, version, pending
    manifest) — a few ints in `meta.json`, swapped atomically after
    each version write;
  * versions are immutable; the previous version is retained so a crash
    mid-write can never corrupt the current filter (meta swaps last);
  * round updates are LSM-shaped: dense bitmaps cost O(m) per bucket no
    matter how few bits a round sets, and uniform url_hash means any
    round beyond ~n_buckets keys touches every bucket — so a small
    round appends its raw keys as a `pending_*` parquet (O(round)
    bytes) and the probe unions pending membership; one dense fold per
    ~capacity/64 inserted keys amortizes the rewrite.

False positives still fall through to the authoritative seen join —
same correctness contract as PartitionedBloom (probe parity is locked
by tests/test_scale_mechanics.py against split() on identical keys).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .bloom import _K, _positions

_BITMAP_SCHEMA = "bucket int, bitmap binary, n long"


def _parquet_rows(d: str, recursive: bool = False) -> int:
    """Row count of a parquet dir from file footers — driver-side
    metadata only, no Spark job (and so no re-execution of whatever
    plan produced the files). recursive=True descends into partition
    dirs (g=N/...)."""
    import glob

    import pyarrow.parquet as pq

    pat = os.path.join(d, "**", "*.parquet") if recursive \
        else os.path.join(d, "*.parquet")
    return sum(pq.read_metadata(f).num_rows
               for f in glob.glob(pat, recursive=recursive))


def _make_delta(m: int):
    """Per-bucket delta bitmap builder (applyInPandas over a bucket's keys)."""
    def make(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(m // 8, dtype=np.uint8)
        pos = _positions(pdf["url_hash"].to_numpy(), m).ravel()
        np.bitwise_or.at(bits, pos >> 3,
                         np.uint8(1) << (pos & 7).astype(np.uint8))
        return pd.DataFrame({"bucket": [int(pdf["bucket"].iloc[0])],
                             "bitmap": [bits.tobytes()],
                             "n": [len(pdf)]})
    return make


def _or_merge(pdf: pd.DataFrame) -> pd.DataFrame:
    """OR a bucket's bitmap rows (current ∪ delta) into one row."""
    acc = np.frombuffer(pdf["bitmap"].iloc[0], dtype=np.uint8).copy()
    for b in pdf["bitmap"].iloc[1:]:
        acc |= np.frombuffer(b, dtype=np.uint8)
    return pd.DataFrame({"bucket": [int(pdf["bucket"].iloc[0])],
                         "bitmap": [acc.tobytes()],
                         "n": [int(pdf["n"].sum())]})


class DistributedBloomTable:
    """Interface-compatible with PartitionedBloom where the engine needs
    it (split / add_df / overfull / save / from_seen),
    with every bitmap byte staying executor-side."""

    def __init__(self, spark: SparkSession, path: str,
                 n_buckets: int = 64, bits_per_bucket: int = 1 << 18,
                 pending_threshold: int | None = None):
        assert bits_per_bucket & (bits_per_bucket - 1) == 0, "power of two"
        self.spark = spark
        self.path = path
        self.n_buckets = n_buckets
        self.m = bits_per_bucket
        self.n_keys = 0          # key-count upper bound (drives growth)
        self.version = 0         # 0 → empty filter (no data dir yet)
        # LSM pending layer: small rounds append their raw keys
        # (O(delta) bytes) instead of rewriting dense bitmaps; a fold
        # into the dense table happens once pending crosses the
        # threshold (None → derived: ~capacity/64, capped at 2^24 keys
        # so the probe's pending join side stays bounded)
        self.pending_threshold = pending_threshold
        self._pending: list = []   # [[seq, n_keys], ...] in append order
        os.makedirs(path, exist_ok=True)

    # -- catalog ----------------------------------------------------------
    def _meta_path(self) -> str:
        return os.path.join(self.path, "meta.json")

    def _vdir(self, v: int) -> str:
        return os.path.join(self.path, f"v{v}")

    def _pdir(self, seq: int) -> str:
        return os.path.join(self.path, f"pending_{seq}")

    def _write_meta(self) -> None:
        tmp = self._meta_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"n_buckets": self.n_buckets, "m": self.m,
                       "n_keys": self.n_keys, "version": self.version,
                       "pending": self._pending,
                       "pending_threshold": self.pending_threshold}, f)
        os.replace(tmp, self._meta_path())

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "DistributedBloomTable | None":
        mp = os.path.join(path, "meta.json")
        if not os.path.exists(mp):
            return None
        with open(mp) as f:
            meta = json.load(f)
        self = cls(spark, path, meta["n_buckets"], meta["m"],
                   pending_threshold=meta.get("pending_threshold"))
        self.n_keys = meta["n_keys"]
        self.version = meta["version"]
        self._pending = [list(p) for p in meta.get("pending", [])]
        return self

    def bitmaps_df(self) -> DataFrame | None:
        if self.version == 0:
            return None
        return self.spark.read.parquet(self._vdir(self.version))

    def _pending_df(self) -> DataFrame | None:
        if not self._pending:
            return None
        return self.spark.read.parquet(
            *[self._pdir(j) for j, _ in self._pending])

    def _pending_n(self) -> int:
        return sum(n for _, n in self._pending)

    def _fold_threshold(self) -> int:
        if self.pending_threshold is not None:
            return self.pending_threshold
        capacity = self.n_buckets * self.m // 10   # the ~1% FP point
        return max(1, min(capacity // 64, 1 << 24))

    # -- build / update ---------------------------------------------------
    def _nparts(self) -> int:
        # bitmap rows are large (m/8 B) and few (n_buckets): bound the
        # file count so a version is at most 64 file groups
        return max(1, min(self.n_buckets, 64))

    def _delta_df(self, keys: DataFrame) -> DataFrame:
        return (
            keys.select(F.col("url_hash"),
                        F.pmod(F.col("url_hash"), F.lit(self.n_buckets))
                        .alias("bucket"))
            .groupBy("bucket")
            .applyInPandas(_make_delta(self.m), schema=_BITMAP_SCHEMA)
        )

    def _with_group(self, df: DataFrame) -> DataFrame:
        # file-group partition column: versions are laid out as
        # `v{N}/g={bucket % nparts}/...` so an incremental commit can
        # rewrite only the groups a delta touches and hard-link the rest
        return df.withColumn(
            "g", F.pmod(F.col("bucket"), F.lit(self._nparts())).cast("int"))

    def _finalize(self, new_v: int) -> None:
        """Swap meta to `new_v`; n_keys comes from the committed table's
        own per-bucket counts (one column-pruned agg — no bitmap bytes
        on the driver)."""
        total = (self.spark.read.parquet(self._vdir(new_v))
                 .agg(F.sum("n")).first()[0])
        old_gc = self.version - 1          # keep current-1 for crash safety
        self.version = new_v
        self.n_keys = int(total or 0)
        self._write_meta()
        if old_gc > 0:
            shutil.rmtree(self._vdir(old_gc), ignore_errors=True)

    def _commit(self, merged: DataFrame) -> None:
        """Full write of the next immutable version (initial build and
        adaptive-growth rebuilds; round updates take the incremental
        path in add_df)."""
        new_v = self.version + 1
        (self._with_group(merged)
         .repartition(self._nparts(), "bucket")
         .write.mode("overwrite").partitionBy("g")
         .parquet(self._vdir(new_v)))
        if _parquet_rows(self._vdir(new_v), recursive=True) == 0:
            # EMPTY membership (rebuild_from an empty seen table — e.g.
            # a warehouse whose only round fetched nothing): a
            # partitioned write of zero rows leaves no parquet footers
            # at all, which _finalize's read-back cannot infer a schema
            # from. Empty filter state is version 0 (bitmaps_df None →
            # the probe reports every key definite-new, which is exactly
            # right); swap meta first, then GC every stale version dir
            shutil.rmtree(self._vdir(new_v), ignore_errors=True)
            self.version = 0
            self.n_keys = 0
            self._write_meta()
            for name in os.listdir(self.path):
                if name.startswith("v") and name[1:].isdigit():
                    shutil.rmtree(os.path.join(self.path, name),
                                  ignore_errors=True)
            return
        self._finalize(new_v)

    def add_df(self, keys: DataFrame, driver_threshold: int = 0) -> None:
        """OR a key batch into the filter. `driver_threshold` is accepted
        for interface parity and ignored: this backend never stages
        bitmaps on the driver.

        The round-update cost is O(delta), never O(filter) — dense
        bitmaps are O(m) per bucket no matter how few bits a round sets,
        and uniform url_hash means any round beyond ~n_buckets keys
        touches EVERY bucket, so rewriting touched bitmaps is a full
        rewrite in disguise. LSM shape instead: EVERY round first lands
        its raw keys as a pending parquet (O(round) bytes) — the ONLY
        execution of the caller's plan; the row count comes from the
        written footers (a driver-side metadata read), so `keys` is
        never evaluated twice (a count-then-write would re-run the
        upstream, which in the engine is a join off the round's fetched
        table). The probe unions pending membership (split_aligned) so
        pending keys can never read as definite-new. Once pending
        crosses the fold threshold (or the dense table doesn't exist
        yet), ONE dense merge folds current ∪ pending — read back from
        the just-written parquet, not the caller's plan — into the next
        version, amortized O(filter) per ~capacity/64 inserted keys;
        the fold rewrites only the file groups its keys touch and
        hard-links the rest from the previous version."""
        seq = (self._pending[-1][0] + 1) if self._pending else 1
        pdir = self._pdir(seq)
        shutil.rmtree(pdir, ignore_errors=True)       # crash debris
        keys.select("url_hash").write.mode("overwrite").parquet(pdir)
        n_new = _parquet_rows(pdir)
        if n_new == 0:
            shutil.rmtree(pdir, ignore_errors=True)
            return
        saved = (self._pending, self.version, self.n_keys)
        self._pending = self._pending + [[seq, n_new]]
        self.n_keys += n_new
        self._write_meta()
        cur = self.bitmaps_df()
        if (cur is not None and "g" in cur.columns
                and self._pending_n() < self._fold_threshold()):
            return                                    # LSM append done
        # fold: dense-merge current ∪ pending (this layer included).
        # On failure the WHOLE add rolls back — live state, meta, and
        # the layer file — so the filter is exactly as before the call
        # (the committed contract: a failed add_df is a no-op; without
        # the restore the probe would run without pending membership —
        # false negatives bypassing the authoritative seen join — or
        # claim a version the on-disk meta never committed)
        all_keys = self._pending_df()
        old_pending = [self._pdir(j) for j, _ in self._pending]
        self._pending = []        # _finalize's meta swap records empty
        try:
            self._fold(cur, all_keys, old_pending)
        except BaseException:
            # meta swaps FIRST, then the layer dir goes (the module's
            # crash discipline): dying between the two leaves a dangling
            # unreferenced dir (crash debris, harmless) — the reverse
            # order would leave meta referencing a deleted pending dir,
            # bricking every later probe/load on a missing-path read
            self._pending, self.version, self.n_keys = saved
            self._write_meta()
            shutil.rmtree(pdir, ignore_errors=True)
            raise

    def _fold(self, cur, all_keys, old_pending) -> None:
        if cur is None or "g" not in cur.columns:
            # empty filter, or a pre-group-layout version on disk: full
            # write (one-time migration to the partitioned layout)
            delta = self._delta_df(all_keys)
            merged = (delta if cur is None else
                      cur.select("bucket", "bitmap", "n").unionByName(delta)
                      .groupBy("bucket")
                      .applyInPandas(_or_merge, schema=_BITMAP_SCHEMA))
            self._commit(merged)
            for d in old_pending:
                shutil.rmtree(d, ignore_errors=True)
            return
        nb, nparts = self.n_buckets, self._nparts()
        # touched groups straight from the keys (column-pruned scan of
        # url_hash only — cheaper than materializing the delta twice)
        touched = sorted(
            r["g"] for r in all_keys.select(
                F.pmod(F.pmod(F.col("url_hash"), F.lit(nb)), F.lit(nparts))
                .cast("int").alias("g")).distinct().collect())
        new_v = self.version + 1
        new_dir = self._vdir(new_v)
        old_dir = self._vdir(self.version)
        # a crash between the link/append below and _finalize leaves a
        # partial v{N+1}; meta still points at v{N}, so clear the debris
        # rather than appending onto it
        shutil.rmtree(new_dir, ignore_errors=True)
        os.makedirs(new_dir, exist_ok=True)
        for name in os.listdir(old_dir):    # hard-link untouched groups
            if not name.startswith("g="):
                continue
            if int(name.split("=", 1)[1]) in touched:
                continue
            src, dst = os.path.join(old_dir, name), os.path.join(new_dir, name)
            os.makedirs(dst, exist_ok=True)
            for fn in os.listdir(src):
                if fn.startswith(("_", ".")):
                    continue
                try:
                    os.link(os.path.join(src, fn), os.path.join(dst, fn))
                except OSError:
                    shutil.copy2(os.path.join(src, fn), os.path.join(dst, fn))
        merged = (
            cur.filter(F.col("g").isin(touched))      # partition-pruned
            .select("bucket", "bitmap", "n")
            .unionByName(self._delta_df(all_keys))
            .groupBy("bucket")
            .applyInPandas(_or_merge, schema=_BITMAP_SCHEMA))
        (self._with_group(merged)
         .repartition(len(touched), "bucket")
         .write.mode("append").partitionBy("g").parquet(new_dir))
        self._finalize(new_v)
        for d in old_pending:        # folded in — GC after the meta swap
            shutil.rmtree(d, ignore_errors=True)

    def rebuild_from(self, keys: DataFrame, bits_per_bucket: int | None = None,
                     n_buckets: int | None = None) -> None:
        """Adaptive-growth rebuild (PartitionedBloom.from_seen analogue):
        fresh bitmaps at a new size from the seen snapshot, committed as
        the next version — one distributed scan, nothing driver-side.
        Replaces ALL filter state: `keys` must be the full membership
        (the engine passes the seen snapshot, which subsumes any pending
        appends) — pending is cleared by the rebuild."""
        saved = (self.m, self.n_buckets, self._pending,
                 self.version, self.n_keys)
        if bits_per_bucket is not None:
            assert bits_per_bucket & (bits_per_bucket - 1) == 0
            self.m = bits_per_bucket
        if n_buckets is not None:
            self.n_buckets = n_buckets
        old_pending = [self._pdir(j) for j, _ in self._pending]
        self._pending = []           # meta written by _commit's finalize
        try:
            self._commit(self._delta_df(keys))
        except BaseException:
            # a failed rebuild must leave the live object consistent with
            # the on-disk meta (old geometry + pending list + version),
            # else the probe runs the new m/n_buckets — or a version the
            # meta never committed — against the old bitmaps
            (self.m, self.n_buckets, self._pending,
             self.version, self.n_keys) = saved
            raise
        for d in old_pending:
            shutil.rmtree(d, ignore_errors=True)

    def overfull(self) -> bool:
        """True past ~capacity (10 bits/key, the ~1% FP point for k=7)."""
        return self.n_keys * 10 > self.n_buckets * self.m

    # -- probe ------------------------------------------------------------
    def split_aligned(self, frontier: DataFrame, spark=None
                      ) -> tuple[DataFrame, DataFrame]:
        """(maybe_seen, definite_new) via the cogroup probe: frontier
        shuffled by bucket meets the bitmap table read from parquet —
        each bitmap deserializes once, in the task that needs it.
        Pending (unfolded) keys are unioned in by an exact key join —
        without it a pending key would read definite-new, a false
        negative; the join side is bounded by the fold threshold."""
        bm = self.bitmaps_df()
        pend = self._pending_df()
        if bm is None and pend is None:
            return frontier.limit(0), frontier
        if bm is None:
            return (frontier.join(pend, "url_hash", "left_semi"),
                    frontier.join(pend, "url_hash", "left_anti"))
        nb, m = self.n_buckets, self.m
        fr = frontier.withColumn(
            "_b", F.pmod(F.col("url_hash"), F.lit(nb)).cast("int"))
        out_schema = T.StructType(
            fr.schema.fields + [T.StructField("_maybe", T.BooleanType())])

        def probe(key, left, right):
            left = left.copy()
            if len(left) == 0:
                left["_maybe"] = pd.Series([], dtype=bool)
                return left
            if len(right) == 0:
                left["_maybe"] = False
                return left
            bits = np.frombuffer(right["bitmap"].iloc[0], dtype=np.uint8)
            h = left["url_hash"].to_numpy()
            pos = _positions(h, m)
            hit = np.ones(len(h), dtype=bool)
            for kk in range(_K):
                p = pos[kk]
                hit &= (bits[p >> 3]
                        & (np.uint8(1) << (p & 7).astype(np.uint8))) != 0
            left["_maybe"] = hit
            return left

        flagged = (
            fr.groupBy("_b")
            .cogroup(bm.select(F.col("bucket").alias("_b"), "bitmap")
                     .groupBy("_b"))
            .applyInPandas(probe, schema=out_schema)
        )
        maybe = flagged.filter(F.col("_maybe")).drop("_maybe", "_b")
        fresh = flagged.filter(~F.col("_maybe")).drop("_maybe", "_b")
        if pend is not None:
            maybe = maybe.unionByName(
                fresh.join(pend, "url_hash", "left_semi"))
            fresh = fresh.join(pend, "url_hash", "left_anti")
        return maybe, fresh

    # table backend has exactly one probe plan; split() aliases it so the
    # engine can treat both backends uniformly
    def split(self, frontier: DataFrame, spark=None):
        return self.split_aligned(frontier, spark)

    def save(self, path: str | None = None) -> None:
        """No-op: every add_df/rebuild_from commit IS the checkpoint
        (meta.json + the immutable version dir)."""
