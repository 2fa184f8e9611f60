"""Incremental cross-batch near-dup detection: a persisted MinHash
signature store, so each newly-crawled batch dedups against the
ALREADY-CURATED corpus without ever re-pairing the old corpus with
itself.

The batch dedup family (`dedup.py`) answers "which documents in THIS
DataFrame duplicate each other". A continuously-ingesting training
pipeline needs the other question — "which documents in this NEW batch
duplicate anything we already kept" — answered in O(batch), not
O(corpus): at 10^10 stored docs, re-running the batch family over
(corpus ∪ batch) per crawl round is impossible, while probing a
band-keyed signature table is a bounded bucket join.

Design (the engine's proven LSM/seen-set shape, `frontier/state.py` and
the crawl's bucketed seen base + round deltas):

  * `bands_base`  — compacted (band, doc_id) rows, ONE bucketed
    snapshot (`bucketBy(n_buckets, band)` + sortBy, registered as an
    external catalog table by `store/snapshots.py`), so the probe join
    runs with NO exchange on the store side — the batch side (tiny)
    repartitions into the base's bucketing.
  * `bands_delta` — flat appended rows from batches since the last
    compaction; probed separately (a union with the base would discard
    the bucket spec — the seen-gate lesson, `frontier/state.py:152`),
    and folded into the base every `compact_every` batches.
  * `mins`        — per-doc MinHash minima (m0..m{k-1}), appended with
    the same cadence; powers `verify="estimate"` (agreeing-minima
    fraction estimates Jaccard) when the old corpus text is not at
    hand.

Store invariant: the store holds ONLY survivors — every add_batch
commits the signatures of kept docs alone, so later batches never match
against a document that was itself dropped as a duplicate.

Decision policy (deterministic; mirrored by the DuckDB oracle in
queries.py):
  1. a new doc with a verified (jaccard ≥ threshold) pair to ANY stored
     doc is dropped — the curated corpus is authoritative; `dup_of` is
     the min matching stored id;
  2. among the remaining new docs, connected components over the
     verified new-new edges (both endpoints surviving step 1); each
     component keeps its min id, the rest drop with `dup_of` = the
     component's min id. A doc whose only verified edge led to a step-1
     casualty survives: edges are evidence about PAIRS, and its
     retained neighbor is gone.
  3. docs shorter than the shingle size produce no signature and are
     always kept — consistent with the batch family, where they can
     never appear in a candidate pair.

Geometry (ngram/bands/rows/threshold) is store identity: it is pinned
in meta.json at creation, and reopening with conflicting explicit
arguments raises instead of silently mixing incompatible signatures.

Reference parity: no direct RISJbot analogue (the nearest device is
refetchcontrol's per-URL seen state); this module is part of the
LLM-training-pipeline surface the brief adds, composed from the
engine's own snapshot-store machinery.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import dedup
from .store import SnapshotTable
from .store.pinned import PinnedStore

__all__ = ["MinHashStore"]

_GEOMETRY = ("ngram", "num_bands", "rows_per_band", "n_buckets",
             "threshold", "compact_every")
_DEFAULTS = {"ngram": 3, "num_bands": 2, "rows_per_band": 3,
             "n_buckets": 32, "threshold": 0.5, "compact_every": 4}


class MinHashStore(PinnedStore):
    """Persisted MinHash signature store for incremental dedup.

    >>> store = MinHashStore(spark, "/data/minhash_store")
    >>> store.index_corpus(curated_df, "doc_id", "text")   # bootstrap
    >>> out = store.add_batch(new_df, "doc_id", "text",
    ...                       corpus_df=curated_df)
    >>> out["kept"]        # new rows that survived, ready to append
    >>> out["decisions"]   # (doc_id, kept, dup_of) for every new doc

    Id contract: doc ids are caller-managed and must be unique across
    the store's whole lifetime (e.g. a url_hash) — re-indexing a corpus
    or re-adding an already-stored id appends a SECOND signature row
    for that id (the store does not scan itself per batch to police
    this; at 10^10 stored docs that check would cost a full store scan
    per add). Self-pairs (a new doc band-matching its own stored id)
    are EXCLUDED from the evidence: the same id is the same document,
    not a duplicate — which also makes a replayed add_batch reproduce
    identical decisions, the property the streaming sink's exactly-once
    contract rests on (see `stream_batch_id`).
    """

    GEOMETRY = _GEOMETRY
    DEFAULTS = _DEFAULTS

    def __init__(self, spark, root: str, *,
                 ngram: Optional[int] = None,
                 num_bands: Optional[int] = None,
                 rows_per_band: Optional[int] = None,
                 n_buckets: Optional[int] = None,
                 threshold: Optional[float] = None,
                 compact_every: Optional[int] = None,
                 max_cc_iters: int = 12,
                 checkpoint_dir: Optional[str] = None,
                 adopt_tables: bool = False):
        super().__init__(
            spark, root,
            {"ngram": ngram, "num_bands": num_bands,
             "rows_per_band": rows_per_band, "n_buckets": n_buckets,
             "threshold": threshold, "compact_every": compact_every},
            checkpoint_dir=checkpoint_dir, adopt_tables=adopt_tables)
        if "batches_since_compact" not in self._meta:
            self._meta["batches_since_compact"] = 0
            self._save_meta()
        self.k = self.num_bands * self.rows_per_band
        self.max_cc_iters = max_cc_iters
        self._base = SnapshotTable(spark, root, "bands_base")
        self._delta = SnapshotTable(spark, root, "bands_delta")
        self._mins = SnapshotTable(spark, root, "mins")
        # rollback-on-open heal: a crash between the bands and mins
        # commits would otherwise leave band rows whose estimate-verify
        # minima are missing (the candidate join silently loses pairs)
        self._register_tables(self._base, self._delta, self._mins)

    # -- schemas ------------------------------------------------------------

    def _bands_schema(self) -> str:
        return f"band string, doc_id {self._id_type()}"

    def _mins_schema(self) -> str:
        cols = ", ".join(f"m{j} string" for j in range(self.k))
        return f"doc_id {self._id_type()}, {cols}"

    # -- signature pipeline (shared with the batch family) -------------------

    def _sig_parts(self, df: DataFrame, id_col: str, text_col: str):
        """(shingle arrays, mins, sig, bands) for a DataFrame, under
        the store's pinned geometry; doc ids normalized to `doc_id`."""
        d = df.select(F.col(id_col).alias("doc_id"),
                      F.col(text_col).alias("text"))
        arrays = self._cache(
            dedup.doc_shingle_arrays(d, "doc_id", "text", ngram=self.ngram))
        mins = self._cache(dedup.minhash_mins(arrays, "doc_id", k=self.k))
        sig = self._cache(dedup.bands_from_mins(
            mins, "doc_id", num_bands=self.num_bands,
            rows_per_band=self.rows_per_band))
        return arrays, mins, sig, self._unpivot(sig)

    def _unpivot(self, sig: DataFrame) -> DataFrame:
        parts = [sig.select(F.col(f"band{b + 1}").alias("band"), "doc_id")
                 for b in range(self.num_bands)]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        return out

    # -- store contents ------------------------------------------------------

    def stored_bands(self):
        """(base_df, delta_df) — base reads through the catalog with its
        bucket spec intact; kept separate from the deltas because a
        union node would discard it (`frontier/state.py:152`)."""
        sch = self._bands_schema()
        return self._base.read(schema=sch), self._delta.read(schema=sch)

    def n_stored_docs(self) -> int:
        base, delta = self.stored_bands()
        return (base.unionAll(delta)
                .select("doc_id").distinct().count())

    # -- bootstrap ------------------------------------------------------------

    def index_corpus(self, df: DataFrame, id_col: str,
                     text_col: str) -> None:
        """Index an ALREADY-CURATED corpus verbatim (no dedup pass —
        use the batch family first if the corpus may contain dups),
        written straight into the bucketed base so the first probe is
        already bucket-aligned."""
        self._pin_id_type(df, id_col)
        base, delta = self.stored_bands()
        _, mins, _, bands = self._sig_parts(df, id_col, text_col)

        def commit():
            self._base.commit(base.unionAll(delta).unionAll(bands),
                              mode="replace", bucket_by="band",
                              n_buckets=self.n_buckets)
            if self._delta.current_snapshot_id() is not None:
                self._delta.commit(
                    self.spark.createDataFrame(
                        [], self._bands_schema()),
                    mode="replace")
            self._mins.commit(mins, mode="append")
            self._meta["batches_since_compact"] = 0
            self._record_table_state()
        self._consistent_commit(commit)

    # -- the incremental step --------------------------------------------------

    def add_batch(self, df: DataFrame, id_col: str, text_col: str, *,
                  corpus_df: Optional[DataFrame] = None,
                  verify: str = "exact",
                  threshold: Optional[float] = None,
                  commit: bool = True,
                  stream_batch_id: Optional[int] = None) -> dict:
        """Dedup a new batch against the store AND itself, then commit
        the kept docs' signatures.

        verify="exact": new-old candidates are verified by exact n-gram
        Jaccard; `corpus_df` (any DataFrame carrying id_col/text_col
        for the stored docs — the curated corpus itself) is required,
        and only the candidate-matched old docs are shingled (the
        corpus scan is semi-joined down to candidates first: at 100 TB
        the corpus is scanned once with a broadcast semi-join, never
        shuffled).
        verify="estimate": no corpus access — Jaccard is estimated as
        the fraction of the k stored MinHash minima that agree
        (resolution 1/k; with the default k=6 use a coarse threshold).

        Batch ids must be unique: a repeated id yields one signature
        row per input row, all stored under that one id (run
        exact_dup_groups first if ids can repeat).

        stream_batch_id (for foreachBatch sinks): the micro-batch id,
        recorded in meta atomically with the commit's table state. A
        REPLAYED batch (id <= the recorded one — Structured Streaming
        batch ids are monotonic per query; run ONE query per store)
        skips the commit but still computes decisions, and because
        self-pairs are excluded those decisions are identical to the
        original run's — add_batch is replay-idempotent, which is what
        lets the streaming sink claim exactly-once output.

        Returns {"decisions": (doc_id, kept, dup_of) for every distinct
        batch id, "kept": the surviving batch rows, "pairs_new_old",
        "pairs_new_new": the verified evidence}. With commit=True the
        kept signatures are appended (and the store compacted on
        cadence) BEFORE returning."""
        thr = self.threshold if threshold is None else threshold
        if verify not in ("exact", "estimate"):
            raise ValueError(f"unknown verify {verify!r}; expected "
                             "'exact' or 'estimate'")
        if verify == "exact" and corpus_df is None:
            raise ValueError("verify='exact' needs corpus_df (the "
                             "stored docs' text); use verify='estimate'"
                             " to run from stored signatures alone")
        self._pin_id_type(df, id_col)
        # release the PREVIOUS batch's plain caches (finding: a
        # long-lived per-round store otherwise pins ~6 intermediates
        # per batch forever); truncated evidence stays pinned — see
        # _release_batch_intermediates
        self._release_batch_intermediates()
        ids = self._cache(
            df.select(F.col(id_col).alias("doc_id")).distinct())
        arr_new, mins, sig, bands_new = self._sig_parts(
            df, id_col, text_col)

        # new-vs-new: the batch family verbatim
        band_cols = [f"band{b + 1}" for b in range(self.num_bands)]
        cands_nn = dedup.banded_candidate_pairs(sig, "doc_id", band_cols)
        v_nn = self._truncate(dedup.jaccard_verify(
            cands_nn, None, "doc_id", threshold=thr, arrays=arr_new))

        # new-vs-old: band probe against base (bucket-aligned, store
        # side in place) and deltas (flat, small) separately
        base, delta = self.stored_bands()
        n = bands_new.select(F.col("band"),
                             F.col("doc_id").alias("new_id"))
        cands_no = None
        for part in (base, delta):
            o = part.select(F.col("band"),
                            F.col("doc_id").alias("old_id"))
            c = n.join(o, "band").select("new_id", "old_id")
            cands_no = c if cands_no is None else cands_no.unionAll(c)
        # candidates whose stored side is a CURRENT-batch id are
        # excluded: a self-pair is the same document (id contract), and
        # a batch-mate's signature in the store only happens when a
        # crashed run of THIS batch already committed — either way the
        # pair belongs to the new-new path, and excluding it here is
        # what makes a REPLAYED batch reproduce identical decisions
        # (and keeps exact mode's stale-corpus guard from demanding
        # batch docs in corpus_df on replay). cached: in exact mode the
        # probe is referenced twice (the pair list AND the old_ids
        # feeding the corpus semi-join) — uncached the band join +
        # distinct would execute twice per batch
        cands_no = self._cache(
            cands_no.join(ids.select(F.col("doc_id").alias("old_id")),
                          "old_id", "left_anti")
            .distinct())

        if verify == "exact":
            old_ids = cands_no.select(
                F.col("old_id").alias("doc_id")).distinct()
            old_sub = (corpus_df
                       .select(F.col(id_col).alias("doc_id"),
                               F.col(text_col).alias("text"))
                       .join(old_ids, "doc_id", "left_semi"))
            arr_sub = dedup.doc_shingle_arrays(old_sub, "doc_id", "text",
                                               ngram=self.ngram)
            # a candidate stored doc MISSING from corpus_df (stale or
            # filtered corpus, or its text shrank below the shingle
            # size) must fail loudly: jaccard_verify's inner join would
            # silently drop the pair and ADMIT the duplicate
            missing_err = F.concat(
                F.lit("MinHashStore exact verify: candidate stored doc "),
                F.col("doc_id").cast("string"),
                F.lit(" is missing from corpus_df (stale/filtered "
                      "corpus, or text now shorter than the shingle "
                      "size) — pass the corpus the store was built "
                      "from, or use verify='estimate'"))
            arr_old = (old_ids.join(arr_sub, "doc_id", "left")
                       .select("doc_id",
                               F.when(F.col("sh").isNull(),
                                      F.raise_error(missing_err)
                                      .cast("array<string>"))
                               .otherwise(F.col("sh")).alias("sh")))
            v_no = dedup.jaccard_verify(
                cands_no.select(F.col("new_id").alias("id_a"),
                                F.col("old_id").alias("id_b")),
                None, "doc_id", threshold=thr,
                arrays=arr_new, arrays_b=arr_old)
            v_no = v_no.select(F.col("id_a").alias("new_id"),
                               F.col("id_b").alias("old_id"), "jaccard")
        else:
            mins_old = self._mins.read(schema=self._mins_schema())
            mn = mins.select(F.col("doc_id").alias("new_id"),
                             *[F.col(f"m{j}").alias(f"a{j}")
                               for j in range(self.k)])
            mo = mins_old.select(F.col("doc_id").alias("old_id"),
                                 *[F.col(f"m{j}").alias(f"b{j}")
                                   for j in range(self.k)])
            agree = sum(
                F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
                for j in range(self.k))
            v_no = (cands_no.join(mn, "new_id").join(mo, "old_id")
                    .withColumn("jaccard",
                                F.round(agree / F.lit(self.k), 6))
                    .filter(F.col("jaccard") >= thr)
                    .select("new_id", "old_id", "jaccard"))
        v_no = self._truncate(v_no)

        # policy step 1: verified match to the store → dropped
        dup_old = self._cache(
            v_no.groupBy("new_id").agg(F.min("old_id").alias("dup_of"))
            .select(F.col("new_id").alias("doc_id"), "dup_of"))
        # policy step 2: CC over new-new edges whose BOTH endpoints
        # survived step 1; min id per component survives
        rem_nn = (
            v_nn.join(dup_old.select(F.col("doc_id").alias("id_a")),
                      "id_a", "left_anti")
            .join(dup_old.select(F.col("doc_id").alias("id_b")),
                  "id_b", "left_anti"))
        labels = dedup.connected_components(
            rem_nn, "id_a", "id_b", max_iters=self.max_cc_iters,
            checkpoint_dir=self.checkpoint_dir)
        losers = labels.filter(F.col("node") != F.col("lbl")).select(
            F.col("node").alias("doc_id"), F.col("lbl").alias("dup_of"))
        # truncated, not just cached: `dropped` is what the RETURNED
        # decisions/kept tables hang off — a later batch's corpus_df
        # often includes this batch's kept rows, so the lineage exposed
        # to callers must be shallow or plans compound across batches
        dropped = self._truncate(dup_old.unionAll(losers))

        decisions = (ids.join(dropped, "doc_id", "left")
                     .select("doc_id",
                             F.col("dup_of").isNull().alias("kept"),
                             "dup_of"))
        kept_rows = df.join(
            dropped.select(F.col("doc_id").alias(id_col)),
            id_col, "left_anti")

        replay = (stream_batch_id is not None
                  and self._meta.get("last_stream_batch_id") is not None
                  and stream_batch_id
                  <= self._meta["last_stream_batch_id"])
        if commit and not replay:
            keep_key = dropped.select("doc_id")
            bands_kept = self._unpivot(
                sig.join(keep_key, "doc_id", "left_anti"))
            mins_kept = mins.join(keep_key, "doc_id", "left_anti")

            def do_commit():
                self._delta.commit(bands_kept, mode="append")
                self._mins.commit(mins_kept, mode="append")
                self._meta["batches_since_compact"] += 1
                if stream_batch_id is not None:
                    self._meta["last_stream_batch_id"] = stream_batch_id
                self._record_table_state()
            # heal-on-failure: a caller keeping THIS object after a
            # failed commit (a restarted streaming query holding the
            # store in its closure) must not re-append on top of a
            # half-committed batch — __init__'s heal only covers
            # process restarts
            self._consistent_commit(do_commit)
            if self._meta["batches_since_compact"] >= self.compact_every:
                self._compact()

        return {"decisions": decisions, "kept": kept_rows,
                "pairs_new_old": v_no, "pairs_new_new": v_nn}

    # -- compaction -------------------------------------------------------------

    def _compact(self) -> None:
        """Fold the flat deltas into the bucketed base (one rewrite of
        the store, amortized over compact_every batches — the
        seen-table/bloom-table cadence) and truncate the deltas. The
        mins table is rewritten flat at the same cadence to bound its
        file count. Snapshot data dirs are immutable, so read-then-
        replace is safe; failed compactions leave CURRENT untouched."""
        base, delta = self.stored_bands()

        def commit():
            self._base.commit(base.unionAll(delta), mode="replace",
                              bucket_by="band",
                              n_buckets=self.n_buckets)
            self._delta.commit(
                self.spark.createDataFrame([], self._bands_schema()),
                mode="replace")
            self._mins.commit(
                self._mins.read(schema=self._mins_schema()),
                mode="replace")
            self._meta["batches_since_compact"] = 0
            self._record_table_state()
        self._consistent_commit(commit)
