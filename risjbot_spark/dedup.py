"""Near-duplicate detection over arbitrary DataFrames — the reusable
library API for the dedup family (exact, MinHash+LSH, n-gram Jaccard
verify, SimHash, embedding-cosine, connected-components clustering,
survivor selection).

Every function takes a caller-supplied DataFrame plus column NAMES — no
dependence on the synthetic bench tables; the bench queries in
`queries.py` are thin wrappers over these building blocks (with their
own per-(session, sf) stage caching on top). Geometry — shingle width,
MinHash permutations, band layout, SimHash bits, LSH hyperplane count —
is parameterized with the bench constants as defaults; size band
cardinality ∝ log2(n) at corpus scale (see tools/bench_band_cardinality
for the measured blow-up of under-sized bands).

Scale notes (the 100 TB story):
  * Nothing here is ever all-pairs: candidates come from band-keyed
    equi self-joins (MinHash bands, SimHash bands, sign-LSH buckets),
    so the shuffle is on (band, value) buckets — Σ n_b² work, bounded
    by band cardinality — never O(n²).
  * One shingle representation: a per-doc distinct-shingle array
    (`doc_shingle_arrays`, built on the one n-gram construction,
    `ngrams_expr`). MinHash minima, SimHash votes and Jaccard verify
    are per-row array expressions over it, so signing never exchanges;
    only the band self-join and the verify join shuffle.
  * All signature math is JVM expressions (md5/conv/bit ops/HOFs); no
    Python anywhere in the family.
  * Connected components iterates on the EDGE list only (never the
    corpus), min-label propagation + pointer jumping = O(log diameter)
    rounds. The edge list is materialized once up front, so the
    caller's verify plan runs once per call, not once per round; label
    lineage is truncated per round (localCheckpoint by default,
    reliable `spark.checkpoint()` when `checkpoint_dir` is set — the
    cluster-durable variant, since localCheckpoint blocks die with an
    executor).
  * Survivor selection anti-joins the corpus against the (tiny,
    broadcast) non-survivor set — the corpus never shuffles.

Reference parity: RISJbot's own dedup is per-page field dedup
(`/root/reference/RISJbot/pipelines/striprawpage.py` drops, spider-level
URL dedup); this corpus-level family is the LLM-training-data surface
the brief adds on top.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .schema import PY_WS_RE

__all__ = [
    "normalized_text_expr",
    "tokens_expr",
    "ngrams_expr",
    "exact_dup_groups",
    "doc_shingle_arrays",
    "minhash_mins",
    "bands_from_mins",
    "minhash_bands_expr",
    "banded_candidate_pairs",
    "shingle_arrays",
    "jaccard_verify",
    "minhash_dedup",
    "unit_bucketed_vectors",
    "bucketed_near_dup_pairs",
    "simhash_fingerprints",
    "simhash_pairs",
    "simhash_dedup",
    "embedding_near_dup",
    "connected_components",
    "cluster_assignments",
    "survivor_docs",
    "cluster_and_survivors",
    "raw_tokens_expr",
    "duplicate_span_occurrences",
    "strip_duplicate_spans",
    "suggest_lsh_geometry",
]


# ---------------------------------------------------------------------------
# text normalization / tokenization (Python str.split() semantics, JVM-side)
# ---------------------------------------------------------------------------

def normalized_text_expr(text_col) -> Column:
    """Whitespace-collapsed, trimmed, lowercased text — the exact-dedup
    and fingerprint normal form."""
    return F.lower(F.trim(F.regexp_replace(text_col, PY_WS_RE, " ")))


def tokens_expr(text_col) -> Column:
    """len(str.split()) token semantics: PY_WS_RE split + empty-token
    filter (F.split uses limit=-1, so boundary whitespace yields empty
    tokens; the filter keeps token positions identical to Python's
    str.split() and to the DuckDB oracle)."""
    return F.filter(
        F.split(F.lower(F.trim(text_col)), PY_WS_RE),
        lambda x: x != "")


def ngrams_expr(toks, n: int) -> Column:
    """Array of space-joined token n-grams from a token-array column —
    the one n-gram construction every shingle/gram consumer shares.

    Built as arrays_zip of n shifted slices (n array ops per ROW), then
    one codegen'd concat_ws per gram. The obvious alternative is 10-20×
    slower, measured: transform(sequence(...), i -> concat_ws(' ',
    slice(toks, i, n))) does an interpreted per-GRAM slice (O(words²)
    work). Guarded: short docs short-circuit to an empty array (Spark's
    sequence(1, 0) counts DOWN), and NULL tokens stay NULL."""
    if n < 1:
        raise ValueError(f"ngram size must be >= 1, got {n}")
    shift_len = F.size(toks) - (n - 1)
    zipped = F.arrays_zip(
        *[F.slice(toks, i + 1, shift_len) for i in range(n)])
    grams = F.transform(
        zipped,
        lambda t: F.concat_ws(" ", *[t[str(i)] for i in range(n)]))
    return (
        F.when(toks.isNull(), F.lit(None).cast("array<string>"))
        .when(F.size(toks) >= n, grams)
        .otherwise(F.array().cast("array<string>"))
    )


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized text — map-side
    combinable, one shuffle on the (uniform) md5 key. Returns
    (fp, keep_id, n_copies) for groups with >1 member. NULL-text rows
    are excluded up front: md5(NULL) is NULL, and grouping on it would
    report every NULL-text document as an exact duplicate of all the
    others — a survivor pipeline would then delete distinct docs."""
    return (
        df.filter(F.col(text_col).isNotNull())
        .withColumn("fp", F.md5(normalized_text_expr(text_col)))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


# ---------------------------------------------------------------------------
# shingles + MinHash + LSH
# ---------------------------------------------------------------------------

def doc_shingle_arrays(df: DataFrame, id_col: str, text_col: str,
                       *, ngram: int = 3) -> DataFrame:
    """Per-doc distinct-shingle ARRAYS (id, sh) — THE shared dedup
    stage, computed entirely per-row.

    Every signature in the family is a per-document function of the
    distinct shingle set (min-md5 per permutation, simhash votes,
    pairwise Jaccard), so no global `(id, s).distinct()` exchange and no
    `groupBy(id)` collect is ever needed: `array_distinct` over
    `ngrams_expr` yields the per-doc set without a single row leaving
    its partition. At 10^6+ docs an exploded (id, shingle) table
    shuffles the raw shingle-string stream (~tokens × bytes/shingle)
    once per consumer; measured at 1M synthetic news docs it spilled
    past a 75 GB /tmp budget, while this stage's consumers exchange only
    in the band join and the verify join. Docs with no shingles (text
    shorter than `ngram` tokens, or NULL) are dropped. Callers that run
    several family members should persist it (queries.py caches it per
    (session, sf))."""
    return (
        df.select(F.col(id_col), F.array_distinct(ngrams_expr(
            tokens_expr(text_col), ngram)).alias("sh"))
        .filter(F.size("sh") >= 1)
    )


def _perm(j: int):
    # factory, NOT `lambda s, j=j`: a two-parameter lambda is Spark's
    # (element, index) form — the index column would silently shadow
    # the seed
    return lambda s: F.md5(F.concat(F.lit(f"{j}|"), s))


def minhash_mins(arrays: DataFrame, id_col: str, *, k: int) -> DataFrame:
    """Per-doc MinHash minima (id, m0..m{k-1}) from a shingle-ARRAY
    table: `array_min(transform(sh, s -> md5(seed||s)))` per
    permutation — a per-row expression, no exchange. The shared core of
    `minhash_bands_expr` and the incremental store's estimate-verify
    (the fraction of agreeing minima estimates Jaccard without touching
    either document's text).

    Rows with an empty `sh` are dropped: `array_min([])` is NULL and
    `concat_ws` skips NULLs, so every empty row would otherwise get the
    band `md5('')` and all of them would land in one bucket."""
    return arrays.filter(F.size("sh") >= 1).select(
        id_col,
        *[F.array_min(F.transform(F.col("sh"), _perm(j))).alias(f"m{j}")
          for j in range(k)],
    )


def bands_from_mins(mins: DataFrame, id_col: str,
                    *, num_bands: int, rows_per_band: int) -> DataFrame:
    """LSH band columns from a minima table: band_b = md5 of its
    rows_per_band concatenated mins. Band VALUES are md5 strings (2^128
    cardinality), so per-band buckets stay tiny at any corpus size."""
    return mins.select(
        id_col,
        *[F.md5(F.concat_ws("", *[
            f"m{b * rows_per_band + r}" for r in range(rows_per_band)
        ])).alias(f"band{b + 1}") for b in range(num_bands)],
    )


def minhash_bands_expr(arrays: DataFrame, id_col: str,
                       *, num_bands: int = 2,
                       rows_per_band: int = 3) -> DataFrame:
    """MinHash signature table (id, band1..band{num_bands}) from a
    per-doc shingle-ARRAY table: num_bands × rows_per_band permutations
    via md5(seed||shingle) min-hashes (`minhash_mins`), banded by
    `bands_from_mins`. Exchange-free."""
    k = num_bands * rows_per_band
    return bands_from_mins(minhash_mins(arrays, id_col, k=k), id_col,
                           num_bands=num_bands, rows_per_band=rows_per_band)


def banded_candidate_pairs(sig: DataFrame, id_col: str,
                           band_cols: Sequence[str]) -> DataFrame:
    """Unordered candidate pairs sharing ANY band: unpivot the band
    columns, band-keyed equi self-join (never all-pairs), distinct.
    Returns (id_a, id_b) with id_a < id_b."""
    per_band = [
        sig.select(F.col(id_col).alias("_id"), F.col(c).alias("band"))
        for c in band_cols
    ]
    both = per_band[0]
    for p in per_band[1:]:
        both = both.unionAll(p)
    a, b = both.alias("a"), both.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )


def shingle_arrays(shingles: DataFrame, id_col: str) -> DataFrame:
    """Exploded (id, s) shingle rows → per-doc arrays (id, sh): the
    `jaccard_verify(cands, shingles, ...)` form, for callers that hold
    an exploded shingle table. The library's own stage is
    `doc_shingle_arrays`, which never explodes."""
    return shingles.groupBy(id_col).agg(F.collect_list("s").alias("sh"))


def jaccard_verify(cands: DataFrame, shingles: Optional[DataFrame],
                   id_col: str,
                   *, threshold: float = 0.5, round_to: int = 6,
                   arrays: Optional[DataFrame] = None,
                   arrays_b: Optional[DataFrame] = None) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs (id_a, id_b) — the
    verify stage. Joins two per-doc distinct-shingle ARRAYS (one table
    for both sides — pass a persisted `arrays`, normally
    `doc_shingle_arrays`, so it is built once); |∩| via array_intersect.
    Verifies candidates only — the unrestricted shingle self-join is
    the quadratic trap (measured 16.7 s vs 3 s at sf0.1; impossible at
    10^10 docs). Pass EXACTLY ONE of `shingles` / `arrays`.

    `arrays_b`: optional separate arrays table for the id_b side —
    for cross-corpus pairs (e.g. the incremental store's new-vs-old
    verify) where the two sides' shingles come from different
    tables."""
    if (shingles is None) == (arrays is None):
        raise ValueError(
            "jaccard_verify takes exactly one of shingles= or arrays=")
    sh_arr = arrays if arrays is not None else shingle_arrays(
        shingles, id_col)
    sh_arr_b = arrays_b if arrays_b is not None else sh_arr
    a = sh_arr.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sha"))
    b = sh_arr_b.select(F.col(id_col).alias("id_b"),
                        F.col("sh").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb"))
    union = F.size("sha") + F.size("shb") - inter
    return (
        cands.join(a, "id_a").join(b, "id_b")
        .withColumn("jaccard", F.round(inter / union, round_to))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dedup(df: DataFrame, id_col: str, text_col: str,
                  *, ngram: int = 3, num_bands: int = 2,
                  rows_per_band: int = 3,
                  threshold: float = 0.5) -> DataFrame:
    """The full MinHash pipeline: shingle → sign → band-join candidates
    → exact-Jaccard verify. Returns verified near-dup pairs
    (id_a, id_b, jaccard). Convenience composition of the blocks above;
    pipelines that also run simhash/Jaccard should persist
    `doc_shingle_arrays` once and call the blocks directly.

    GEOMETRY AT SCALE: band collision probability is sim^rows_per_band,
    so the LSH knee sits at ~(1/num_bands)^(1/rows_per_band) ≈ 0.79
    for the 2×3 default. Template-heavy web corpora carry huge document
    FAMILIES at ~0.5 similarity, and every band bucket costs |bucket|²
    candidate pairs: measured at 10^6 synthetic news docs, 2×3 put
    8,003 docs in one bucket (Σ|bucket|² ≈ 5.6×10^8 pairs ≈ 70 GB of
    join+distinct shuffle) while 4×6 — same ~0.79 knee, 8× lower
    collision at 0.5 sim per band — ran the same corpus in minutes.
    Raise rows_per_band (and num_bands with it to keep the knee) when
    the corpus shares boilerplate/templates; the knee math, not the
    pair explosion, should pick the operating point."""
    # signatures and verify arrays are per-row expressions, so the only
    # exchanges are the band self-join and the verify join
    arrays = doc_shingle_arrays(df, id_col, text_col, ngram=ngram)
    sig = minhash_bands_expr(arrays, id_col, num_bands=num_bands,
                             rows_per_band=rows_per_band)
    cands = banded_candidate_pairs(
        sig, id_col, [f"band{b + 1}" for b in range(num_bands)])
    return jaccard_verify(cands, None, id_col, threshold=threshold,
                          arrays=arrays)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _bit_set(b: int):
    # factory for the same reason as _perm: a two-parameter lambda is
    # Spark's (element, index) form
    return lambda h: F.shiftright(h, b) % 2 == 1


def simhash_fingerprints(arrays: DataFrame, id_col: str,
                         *, bits: int = 60) -> DataFrame:
    """SimHash fingerprint (id, simhash long) from a per-doc
    distinct-shingle ARRAY table: md5-prefix shingle hash (bits/4 hex
    chars — ≤60 bits parses into a SIGNED 64-bit long identically in
    Spark and DuckDB), per-bit majority vote (Charikar): bit b is set
    iff more than half the doc's shingle hashes have it set. Shingles,
    not single tokens: with a small shared vocabulary the
    unweighted-token vote degenerates toward the corpus-majority
    fingerprint (measured: 13% of all pairs at hamming≤3); shingles are
    doc-specific so unrelated docs separate. Per-row array expressions
    only — no exchange. Rows with an empty `sh` (docs under `ngram`
    tokens) go unfingerprinted (exact dedup covers them)."""
    if bits > 60 or bits % 4:
        raise ValueError("bits must be a multiple of 4, ≤ 60 "
                         "(signed-long portability)")
    hs = arrays.filter(F.size("sh") >= 1).select(
        id_col,
        F.transform("sh", lambda s: F.conv(
            F.substring(F.md5(s), 1, bits // 4), 16, 10).cast("long"))
        .alias("hs"))
    fp = sum(
        F.when(2 * F.size(F.filter("hs", _bit_set(b))) > F.size("hs"),
               F.lit(2 ** b)).otherwise(F.lit(0))
        for b in range(bits)
    )
    return hs.select(id_col, fp.cast("long").alias("simhash"))


def simhash_pairs(fp: DataFrame, id_col: str,
                  *, bits: int = 60, num_bands: int = 4,
                  max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs: banded LSH self-join then exact hamming
    verify via xor + bit_count. Pigeonhole: hamming ≤ num_bands-1 over
    `bits` bits ⇒ ≥ 1 band identical, so with max_hamming ≤ num_bands-1
    the band join loses no qualifying pair. Band cardinality is
    2^(bits/num_bands) — size it ∝ log2(n) to keep per-bucket pair
    blocks bounded (tools/bench_band_cardinality.py measures the
    blow-up of under-sized bands)."""
    if max_hamming > num_bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs ≥ {max_hamming + 1} bands "
            "for the pigeonhole guarantee")
    band_bits = bits // num_bands
    band_vals = 1 << band_bits
    band_arr = F.array(*[
        (F.shiftright(F.col("simhash"), band_bits * i)
         % band_vals).cast("int")
        for i in range(num_bands)
    ])
    bl = fp.select(F.col(id_col).alias("_id"), "simhash",
                   F.posexplode(band_arr).alias("bi", "bv"))
    a, b = bl.alias("a"), bl.alias("b")
    pairs = (
        a.join(b, (F.col("a.bi") == F.col("b.bi"))
               & (F.col("a.bv") == F.col("b.bv"))
               & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("id_a"),
                F.col("b._id").alias("id_b"),
                F.col("a.simhash").alias("ha"),
                F.col("b.simhash").alias("hb"))
        .distinct()
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("long")
    return (
        pairs.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_dedup(df: DataFrame, id_col: str, text_col: str,
                  *, ngram: int = 3, bits: int = 60, num_bands: int = 4,
                  max_hamming: int = 3) -> DataFrame:
    """Full SimHash pipeline: shingle → fingerprint → banded pairs."""
    arrays = doc_shingle_arrays(df, id_col, text_col, ngram=ngram)
    fp = simhash_fingerprints(arrays, id_col, bits=bits)
    return simhash_pairs(fp, id_col, bits=bits, num_bands=num_bands,
                         max_hamming=max_hamming)


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------

def unit_bucketed_vectors(df: DataFrame, id_col: str, vec_col: str,
                          *, bits: int = 16,
                          cast_double: bool = True) -> DataFrame:
    """(_id, bucket, u): sign-LSH bucket + unit-normalized vector per
    row. Exposed separately so callers can persist it: the pair join
    references it for both sides, and normalizing ONCE per vector (not
    per pair) is what keeps the interpreted higher-order fold to 1 per
    candidate pair instead of 3 (measured 9.1 s → ~3 s at sf0.1)."""
    from .ann import sign_lsh_bucket

    e = df.select(
        F.col(id_col).alias("_id"),
        (F.transform(vec_col, lambda x: x.cast("double"))
         if cast_double else F.col(vec_col)).alias("emb"))
    nrm = F.sqrt(F.aggregate("emb", F.lit(0.0), lambda acc, v: acc + v * v))
    return (e.withColumn("nrm", nrm)
            .withColumn("u", F.transform("emb", lambda v: v / F.col("nrm")))
            .withColumn("bucket", sign_lsh_bucket("emb", bits))
            .select("_id", "bucket", "u"))


def bucketed_near_dup_pairs(b: DataFrame, *, threshold: float = 0.99,
                            round_to: int = 6) -> DataFrame:
    """In-bucket pair join over a `unit_bucketed_vectors` table →
    (id_a, id_b, cosine ≥ threshold)."""
    x, y = b.alias("x"), b.alias("y")
    j = x.join(y, (F.col("x.bucket") == F.col("y.bucket"))
               & (F.col("x._id") < F.col("y._id")))
    cos = F.round(F.aggregate(
        F.zip_with(F.col("x.u"), F.col("y.u"), lambda p, q: p * q),
        F.lit(0.0), lambda acc, v: acc + v), round_to)
    return (
        j.select(F.col("x._id").alias("id_a"),
                 F.col("y._id").alias("id_b"),
                 cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_near_dup(df: DataFrame, id_col: str, vec_col: str,
                       *, bits: int = 16, threshold: float = 0.99,
                       round_to: int = 6,
                       cast_double: bool = True) -> DataFrame:
    """Embedding-cosine near-dup: sign-pattern LSH bucket (`bits` fixed
    hyperplanes — size ∝ log2(n)) → in-bucket pair join → cosine ≥
    threshold. The bucket join turns the O(n²) cross join into
    per-bucket blocks — the 10^9-vector scale path. Returns
    (id_a, id_b, cosine). Convenience composition; persist
    `unit_bucketed_vectors` when running repeatedly."""
    b = unit_bucketed_vectors(df, id_col, vec_col, bits=bits,
                              cast_double=cast_double)
    return bucketed_near_dup_pairs(b, threshold=threshold,
                                   round_to=round_to)


# ---------------------------------------------------------------------------
# clustering + survivor selection
# ---------------------------------------------------------------------------

def connected_components(pairs: DataFrame, src: str = "id_a",
                         dst: str = "id_b", *, max_iters: int = 12,
                         checkpoint_dir: Optional[str] = None) -> DataFrame:
    """Connected components over an undirected edge list — the step a
    dedup pipeline needs between pair verification and survivor
    selection (pairs alone can't pick survivors when A~B and B~C but
    A!~C). Returns (node, cluster_id) for every node that appears in an
    edge; cluster_id = min node id of the component.

    Distributed min-label propagation with pointer jumping: each
    iteration (a) lowers every node's label to the min over its
    neighbors' labels, then (b) shortcuts label chains by one hop
    (lbl ← lbl(lbl)), so convergence is O(log(diameter)) rounds — at
    near-dup component sizes that is 1-2 iterations, and each iteration
    is two shuffles on the EDGE list only, never the corpus.

    The edge list and the initial labels are materialized once before
    the first round. `pairs` is typically a lazy verify plan (shingles,
    band self-join, distinct, verify joins); without that, every eager
    action in the loop would re-run it back to the scan. Label lineage
    is then truncated every round (each iteration references its step
    twice, so the logical plan DOUBLES per round; left to accumulate,
    the planner OOMs on tree rendering the moment a downstream query
    composes on top). Default is eager `localCheckpoint` — right for a
    single-node/bench run, but its blocks are executor-memory-resident
    and die with an executor. Pass `checkpoint_dir` on a real cluster:
    edges and labels then checkpoint to reliable storage
    (`spark.checkpoint()`, GraphX-style), so a lost executor
    mid-iteration recomputes from the checkpoint files instead of
    failing the job."""
    spark = pairs.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _truncate(df: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    edges = _truncate(pairs.select(F.col(src).alias("u"),
                                   F.col(dst).alias("v")))
    adj = edges.unionAll(edges.select(F.col("v").alias("u"),
                                      F.col("u").alias("v")))
    lbl = _truncate(adj.select(F.col("u").alias("node")).distinct()
                    .withColumn("lbl", F.col("node")))
    # Block lifecycle: the edge blocks live for this call only; each
    # `lbl = new` drops the ONLY Python ref to the superseded table;
    # CPython refcounting detaches the py4j object immediately and
    # Spark's ContextCleaner then unpersists the checkpointed blocks
    # (same on the failure path when the frame unwinds). Worst-case
    # pinned-until-cleaned is bounded by max_iters × one tiny
    # (node,lbl) table; 12 rounds of pointer-jumping covers diameters
    # past 4000.
    for _ in range(max_iters):
        nb = (adj.join(lbl.withColumnRenamed("node", "v"), "v")
              .groupBy("u").agg(F.min("lbl").alias("nlbl"))
              .withColumnRenamed("u", "node"))
        # `old` carries each node's pre-round label through the round,
        # so convergence is a filter on `new`, not a join against `lbl`
        step = (lbl.join(nb, "node", "left")
                .select("node", F.least(
                    "lbl", F.coalesce("nlbl", "lbl")).alias("lbl"),
                    F.col("lbl").alias("old")))
        parent = step.select(F.col("node").alias("pnode"),
                             F.col("lbl").alias("plbl"))
        new = _truncate(
            step.join(parent, step["lbl"] == parent["pnode"], "left")
            .select("node", F.least(
                "lbl", F.coalesce("plbl", "lbl")).alias("lbl"), "old"))
        changed = new.filter(F.col("lbl") != F.col("old")).count()
        lbl = new.select("node", "lbl")
        if changed == 0:
            return lbl
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds")


def cluster_assignments(labels: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(node, lbl) CC labels → (id_col, cluster_id, is_survivor);
    the survivor is the min-id member of each cluster."""
    return labels.select(
        F.col("node").alias(id_col), F.col("lbl").alias("cluster_id"),
        (F.col("node") == F.col("lbl")).alias("is_survivor"))


def survivor_docs(df: DataFrame, id_col: str,
                  clusters: DataFrame) -> DataFrame:
    """The dedup family APPLIED: the corpus with cluster non-survivors
    removed — the table a training run actually reads. Anti-join on
    the non-survivor set: the corpus side never shuffles wider than the
    join, and the right side is tiny — Catalyst broadcasts it."""
    losers = (clusters.filter(~F.col("is_survivor"))
              .select(F.col(id_col)))
    return df.join(losers, id_col, "left_anti")


def cluster_and_survivors(df: DataFrame, id_col: str, pairs: DataFrame,
                          *, src: str = "id_a", dst: str = "id_b",
                          max_iters: int = 12,
                          checkpoint_dir: Optional[str] = None):
    """Convenience: verified pairs → (clusters, deduped corpus)."""
    labels = connected_components(pairs, src, dst, max_iters=max_iters,
                                  checkpoint_dir=checkpoint_dir)
    clusters = cluster_assignments(labels, id_col)
    return clusters, survivor_docs(df, id_col, clusters)


# ---------------------------------------------------------------------------
# exact duplicated-span removal (Lee et al. 2021, "Deduplicating Training
# Data Makes Language Models Better": remove every repeated >=k-token
# span, keeping the corpus-wide first occurrence)
# ---------------------------------------------------------------------------

def raw_tokens_expr(text_col) -> Column:
    """Original-case tokens, Python str.split() semantics — span removal
    rebuilds documents from surviving tokens, so case must be kept
    (gram MATCHING still lowercases; see duplicate_span_occurrences)."""
    return F.filter(F.split(F.trim(text_col), PY_WS_RE),
                    lambda x: x != "")


def _gram_occurrences(df: DataFrame, id_col: str, text_col: str,
                      k: int) -> DataFrame:
    """(_sid, _p, _gh): every k-gram start position with its md5 gram
    hash (matching lowercased; only docs with >= k tokens have any)."""
    toks = F.transform(raw_tokens_expr(F.col(text_col)), F.lower)
    t = df.select(F.col(id_col).alias("_sid"), toks.alias("_toks"))
    t = t.filter(F.size("_toks") >= k)
    gh = F.transform(ngrams_expr(F.col("_toks"), k), lambda g: F.md5(g))
    return t.select("_sid", F.posexplode(gh).alias("_p", "_gh"))


def duplicate_span_occurrences(df: DataFrame, id_col: str, text_col: str,
                               *, k: int = 8,
                               strategy: str = "broadcast") -> DataFrame:
    """All (id, token-position) starts of k-grams that occur more than
    once corpus-wide AND are not the global first occurrence of their
    gram (first = min (id, pos), so for numeric ids the earliest doc
    wins, matching survivor selection elsewhere in this module).

    Scale shape: the gram stream (one row per token position) feeds a
    groupBy(gram-hash) count+argmin — map-side COMBINABLE, so a
    boilerplate gram repeated 10^9 times collapses to one partial row
    per map partition instead of melting a single reducer (the hot-key
    failure a window-over-hash would have; that was this function's
    first shape). Only grams with count > 1 survive the aggregate — a
    table sized by the corpus' DUPLICATED-gram vocabulary, not the
    corpus. strategy="broadcast" (default) broadcasts it back over a
    recomputed gram stream, so the occurrence stream itself never
    crosses an exchange (the scan runs twice — CPU, not network;
    exactly the trade a 10^13-gram corpus wants). strategy="join"
    shuffle-joins instead — for pathological corpora whose duplicated-
    gram set is itself too big to broadcast. Everything downstream of
    this function operates on FLAGGED rows only. Gram hashing is md5
    over the lowercased token window — JVM expressions throughout,
    same cost class as the MinHash shingle stage."""
    if strategy not in ("broadcast", "join"):
        raise ValueError(f"unknown strategy {strategy!r}; expected "
                         "'broadcast' or 'join'")
    occ = _gram_occurrences(df, id_col, text_col, k)
    stats = (occ.groupBy("_gh")
             .agg(F.count("*").alias("_cnt"),
                  F.min(F.struct("_sid", "_p")).alias("_first"))
             .filter(F.col("_cnt") > 1)
             .select("_gh", "_first"))
    if strategy == "broadcast":
        stats = F.broadcast(stats)
    flagged = _gram_occurrences(df, id_col, text_col, k).join(
        stats, "_gh")
    return (flagged.filter(
                ~((F.col("_sid") == F.col("_first._sid"))
                  & (F.col("_p") == F.col("_first._p"))))
            .select(F.col("_sid").alias(id_col),
                    F.col("_p").alias("pos"),
                    F.col("_gh").alias("gram_hash")))


def strip_duplicate_spans(df: DataFrame, id_col: str, text_col: str,
                          *, k: int = 8, out_col: str | None = None,
                          with_stats: bool = False,
                          strategy: str = "broadcast") -> DataFrame:
    """APPLY span removal: every token covered by a redundant k-gram
    occurrence is dropped and the survivors are rejoined with single
    spaces (positions are token-level, so output whitespace is
    normalized; case and token bytes are preserved). Documents shorter
    than k tokens pass through untouched — below the span threshold,
    exactly Lee et al.'s semantics. All caller columns survive; the
    cleaned text replaces text_col unless out_col names a new column;
    with_stats adds n_tokens / n_dropped_tokens.

    The corpus-side cost after flagging is ONE join against the per-doc
    drop-position arrays — a table with one row per document that
    contains any duplicated span (tiny right side; AQE broadcasts it
    below the threshold, and at 10^10 pages it degrades to a hash join
    keyed on id, never a token-level shuffle of the corpus)."""
    if out_col is None:
        out_col = text_col
    elif out_col in df.columns:
        raise ValueError(f"out_col {out_col!r} already exists in the "
                         "input; pick a fresh name")
    for c in ("_drop", "_sid", "_toks"):
        if c in df.columns:
            raise ValueError(f"input column {c!r} collides with an "
                             "internal column of strip_duplicate_spans")
    flagged = duplicate_span_occurrences(df, id_col, text_col, k=k,
                                         strategy=strategy)
    cover = (flagged
             .select(id_col,
                     F.explode(F.sequence(
                         "pos", F.col("pos") + (k - 1))).alias("_dp"))
             .groupBy(id_col)
             .agg(F.collect_set("_dp").alias("_drop")))
    joined = df.join(cover, id_col, "left")
    toks = raw_tokens_expr(F.col(text_col))
    kept = F.filter(
        toks,
        lambda x, i: ~F.coalesce(
            F.array_contains(F.col("_drop"), i), F.lit(False)))
    # NULL text stays NULL (a transform must not invent content — and
    # downstream NULL-dropping gates like quality_filter must still
    # see the NULL)
    clean = F.when(F.col(text_col).isNull(),
                   F.lit(None).cast("string")) \
             .otherwise(F.concat_ws(" ", kept))
    out = joined
    if with_stats:
        # stats BEFORE the in-place replacement: with out_col ==
        # text_col, computing them afterwards would resolve the token
        # expression against the already-stripped text
        out = (out
               .withColumn("n_tokens",
                           F.when(F.col(text_col).isNull(), F.lit(0))
                           .otherwise(F.size(toks)))
               .withColumn("n_dropped_tokens",
                           F.coalesce(F.size("_drop"), F.lit(0))))
    out = out.withColumn(out_col, clean)
    return out.drop("_drop")


def suggest_lsh_geometry(n_docs: int, *,
                         target_bucket: int = 64) -> "dict[str, int]":
    """The documented bits-∝-log₂(n) sizing rule as a callable: pick
    LSH widths so the EXPECTED bucket occupancy stays near
    `target_bucket` docs, which keeps per-bucket pair work (occupancy²)
    flat as the corpus grows instead of quadratic.

      emb_bits      — sign-hyperplane count for embedding_near_dup /
                      ann.sign_lsh_bucket: ceil(log2(n/target)),
                      clamped to [8, 30] (the long-cast bucket id
                      covers 30 comfortably)
      simhash_band_bits — per-band width for simhash_pairs: the same
                      rule clamped to [8, 15] (4 bands × 15 ≤ the
                      60-bit fingerprint)
      simhash_bits  — 4 × simhash_band_bits (num_bands stays 4: the
                      pigeonhole guarantee for max_hamming ≤ 3)

    MinHash geometry is deliberately NOT here: its (bands, rows) trade
    sits on the Jaccard-threshold S-curve, not on corpus cardinality —
    though rows_per_band ALSO bounds bucket occupancy for sub-knee
    template families (see minhash_dedup's GEOMETRY AT SCALE note: at
    10^6 news docs, rows=3 → an 8,003-doc bucket; rows=6, same knee →
    bounded). Examples: n=10^6, target 64 → emb 14
    bits; n=10^9 → 24 bits; the measured shape behind the rule is
    BENCH/band_cardinality_1e6.json (widening 8→15-bit bands cut pair
    work 124×)."""
    import math

    if n_docs < 1:
        raise ValueError("n_docs must be >= 1")
    if target_bucket < 1:
        raise ValueError("target_bucket must be >= 1")
    raw = math.ceil(math.log2(max(n_docs / target_bucket, 2.0)))
    band = min(max(raw, 8), 15)
    return {
        "emb_bits": min(max(raw, 8), 30),
        "simhash_band_bits": band,
        "simhash_bits": 4 * band,
    }
