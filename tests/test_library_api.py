"""The reusable dedup/ANN library API (risjbot_spark.dedup / .ann) on
arbitrary-schema DataFrames — r3 verdict item #1: a user must be able to
point `minhash_dedup(df, ...)` at their OWN table (different column
names, no sf dir, no synthetic bench tables).

Column names here are deliberately unlike the bench tables (`pk`,
`body`, `vid`, `vec`) so any hidden dependence on doc_id/text/vec_id/
embedding fails loudly.
"""

import math
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from risjbot_spark import ann, dedup


@pytest.fixture(scope="module")
def corpus(spark):
    """9 docs under caller-chosen names: 3 exact-dup groups members,
    2 near-dup pairs (one word changed), singletons."""
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark woods tonight")
    near = ("the quick brown fox jumps over the lazy cat and then "
            "runs far away into the deep dark woods tonight")
    chain = ("the quick brown fox jumps over the lazy cat and then "
             "runs far away into the deep dark woods today")
    rows = [
        (1, base),
        (2, base),                        # exact dup of 1
        (3, near),                        # near dup of 1/2
        (4, chain),                       # near dup of 3 (chain → one CC)
        (5, "completely different text about spark dataframes and "
            "catalyst optimizer physical plans at scale"),
        (6, "short"),
        (7, None),                        # NULL text must not crash
        (8, "  the   QUICK brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark woods tonight  "),  # ws+case
        (9, "third topic entirely unrelated to anything else here with "
            "plenty of words to shingle properly"),
    ]
    return spark.createDataFrame(rows, "pk long, body string")


@pytest.fixture(scope="module")
def vectors(spark):
    """8 vectors, two planted near-dup pairs (sign-preserving nudge)."""
    rows = [
        (10, [1.0, 2.0, 3.0, 4.0]),
        (11, [1.01, 2.01, 3.01, 4.01]),     # near dup of 10
        (12, [-1.0, 2.0, -3.0, 4.0]),
        (13, [-1.01, 2.01, -3.01, 4.01]),   # near dup of 12
        (14, [5.0, -5.0, 5.0, -5.0]),
        (15, [0.1, 0.2, 0.3, 0.5]),
        (16, [-4.0, -3.0, -2.0, -1.0]),
        (17, [2.0, 2.0, 2.0, 2.0]),
    ]
    return spark.createDataFrame(rows, "vid long, vec array<double>")


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def test_exact_dup_groups_arbitrary_schema(corpus):
    groups = dedup.exact_dup_groups(corpus, "pk", "body").collect()
    # 1, 2, 8 normalize to the same text → one group, keep min pk
    assert len(groups) == 1
    assert groups[0]["keep_id"] == 1
    assert groups[0]["n_copies"] == 3


def test_minhash_dedup_finds_planted_near_dups(corpus):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in dedup.minhash_dedup(corpus, "pk", "body").collect()}
    # the near-dup chain must be found; jaccard high but < 1
    assert (1, 3) in pairs or (2, 3) in pairs
    assert (3, 4) in pairs
    for j in pairs.values():
        assert 0.5 <= j <= 1.0
    # unrelated docs never pair
    assert not any(5 in p or 9 in p for p in pairs)


def test_minhash_geometry_parameterized(corpus):
    arrays = dedup.doc_shingle_arrays(corpus, "pk", "body", ngram=2)
    sig = dedup.minhash_bands_expr(arrays, "pk", num_bands=4,
                                   rows_per_band=2)
    assert set(sig.columns) == {"pk", "band1", "band2", "band3", "band4"}
    cands = dedup.banded_candidate_pairs(
        sig, "pk", ["band1", "band2", "band3", "band4"])
    assert set(cands.columns) == {"id_a", "id_b"}
    # more bands → at least as many candidates as the exact group
    ids = {tuple(sorted((r["id_a"], r["id_b"]))) for r in cands.collect()}
    assert (1, 2) in ids


def test_ngram_width_changes_shingles(corpus):
    one = dedup.doc_shingle_arrays(corpus, "pk", "body", ngram=1)
    five = dedup.doc_shingle_arrays(corpus, "pk", "body", ngram=5)
    sh1 = [r["sh"] for r in one.filter(F.col("pk") == 6).collect()]
    n5 = five.filter(F.col("pk") == 6).count()  # < 5 tokens → no row
    assert sh1 == [["short"]] and n5 == 0
    # NULL text has no shingles at any width
    assert one.filter(F.col("pk") == 7).count() == 0


def test_simhash_dedup_arbitrary_schema(corpus):
    pairs = dedup.simhash_dedup(corpus, "pk", "body",
                                bits=48, num_bands=4).collect()
    got = {tuple(sorted((r["id_a"], r["id_b"]))) for r in pairs}
    # exact dups have hamming 0 at any bit width
    assert (1, 2) in got
    for r in pairs:
        assert r["hamming"] <= 3


def test_simhash_pigeonhole_guard():
    with pytest.raises(ValueError, match="pigeonhole"):
        # max_hamming 3 with only 2 bands can miss pairs — must refuse
        dedup.simhash_pairs(None, "pk", num_bands=2, max_hamming=3)


def test_simhash_portability_guard():
    with pytest.raises(ValueError, match="signed-long"):
        dedup.simhash_fingerprints(None, "pk", bits=64)


def test_embedding_near_dup_parameterized_bits(vectors):
    for bits in (2, 4):   # r3 advisory #5: bit width is now a call-site knob
        pairs = {tuple(sorted((r["id_a"], r["id_b"])))
                 for r in dedup.embedding_near_dup(
                     vectors, "vid", "vec", bits=bits,
                     threshold=0.999).collect()}
        assert (10, 11) in pairs
        assert (12, 13) in pairs
        assert (10, 12) not in pairs


def test_connected_components_chain(spark):
    # 1-2-3-4 chain, isolated 7-8 pair, and a 9-hop chain 20..29 listed
    # from its far end: convergence needs several rounds of propagation
    # and pointer jumping, so the per-round change count must be right
    long_chain = [(n + 1, n) for n in range(28, 19, -1)]
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8)] + long_chain,
        "id_a long, id_b long")
    labels = {r["node"]: r["lbl"]
              for r in dedup.connected_components(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7,
                      **{n: 20 for n in range(20, 30)}}
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iters=2).collect()


@pytest.mark.parametrize("reliable", [False, True])
def test_connected_components_evaluates_pairs_once(spark, tmp_path,
                                                   reliable):
    """The edge list is materialized once per call: a counting UDF
    upstream of `pairs` sees every edge row exactly once, however many
    rounds the label loop runs — with localCheckpoint and with a
    reliable checkpoint_dir alike."""
    seen = spark.sparkContext.accumulator(0)

    def _count(x):
        seen.add(1)
        return x

    raw = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (9, 10)]
    pairs = spark.createDataFrame(raw, "id_a long, id_b long").select(
        F.udf(_count, "long")("id_a").alias("id_a"), "id_b")
    ckpt = str(tmp_path / "cc_ckpt") if reliable else None
    labels = {r["node"]: r["lbl"] for r in dedup.connected_components(
        pairs, checkpoint_dir=ckpt).collect()}
    assert labels == {**{n: 1 for n in range(1, 7)}, 9: 9, 10: 9}
    assert seen.value == len(raw)


def test_minhash_bands_expr_skips_empty_shingle_arrays(spark):
    """Empty shingle arrays would all sign to md5('') bands and
    collide in one bucket; they must not sign at all."""
    arrays = spark.createDataFrame(
        [(1, []), (2, []), (3, ["a b c", "b c d"])],
        "pk long, sh array<string>")
    sig = dedup.minhash_bands_expr(arrays, "pk")
    assert [r["pk"] for r in sig.collect()] == [3]
    assert dedup.banded_candidate_pairs(
        sig, "pk", ["band1", "band2"]).count() == 0


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    # r3 verdict item #4: checkpoint_dir switches lineage truncation to
    # reliable spark.checkpoint() — files must actually land on disk
    ckpt = str(tmp_path / "cc_ckpt")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    labels = {r["node"]: r["lbl"]
              for r in dedup.connected_components(
                  pairs, checkpoint_dir=ckpt).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}
    ckpt_files = [os.path.join(dp, f) for dp, _, fs in os.walk(ckpt)
                  for f in fs]
    assert ckpt_files, "reliable checkpoint wrote no files"


def test_null_text_docs_never_group_as_exact_dups(spark):
    d = spark.createDataFrame(
        [(1, None), (2, None), (3, "real text"), (4, "real text")],
        "pk long, body string")
    groups = dedup.exact_dup_groups(d, "pk", "body").collect()
    # the two NULL-text docs are distinct, not duplicates; only the
    # real-text pair groups
    assert len(groups) == 1 and groups[0]["keep_id"] == 3


def test_jaccard_verify_requires_exactly_one_input(spark):
    cands = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="exactly one"):
        dedup.jaccard_verify(cands, None, "pk")


def test_cluster_and_survivors_end_to_end(corpus):
    # minhash near-dup pairs alone connect the 1/2/3/4(/8) component
    # (1,2,8 are exact copies, so they also share every minhash band)
    pairs = dedup.minhash_dedup(corpus, "pk", "body")
    clusters, deduped = dedup.cluster_and_survivors(corpus, "pk", pairs)
    kept = {r["pk"] for r in deduped.collect()}
    # one survivor per near-dup component; docs without edges all kept
    assert 1 in kept          # min id of the 1/2/3/4(/8) component
    assert {5, 6, 7, 9} <= kept
    assert not {2, 3, 4} & kept
    c = {r["pk"]: (r["cluster_id"], r["is_survivor"])
         for r in clusters.collect()}
    assert c[1] == (1, True) and c[4] == (1, False)


# ---------------------------------------------------------------------------
# ann
# ---------------------------------------------------------------------------

def _brute_rank(vectors_rows, q, k):
    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)
    scored = sorted(((round(cos(v, q), 6), -vid) for vid, v in vectors_rows),
                    reverse=True)
    return [-i for _, i in scored[:k]]


def test_brute_topk_matches_python_oracle(vectors):
    rows = [(r["vid"], r["vec"]) for r in vectors.collect()]
    q_vec = dict(rows)[10]
    q = vectors.filter(F.col("vid") == 10).select(F.col("vec").alias("qv"))
    got = [r["vid"] for r in ann.brute_topk(
        vectors.filter("vid != 10"), "vid", "vec", q, k=3).collect()]
    want = _brute_rank([r for r in rows if r[0] != 10], q_vec, 3)
    assert got == want


def test_kmeans_assign_nearest_no_vector_shuffle(spark, vectors):
    cents = ann.kmeans(vectors, "vid", "vec", k=2, iters=2)
    rows = {r["centroid"]: r["cvec"] for r in cents.collect()}
    assert set(rows) == {0, 1}
    assert all(len(v) == 4 for v in rows.values())
    # plan shape: assignment must not hash-shuffle the vector side
    # (r3 verdict item #2 — the crossJoin+row_number window is gone)
    a = ann.assign_nearest(
        vectors.select("vid", ann.as_double_vec("vec").alias("vec")),
        "vec", cents.localCheckpoint(eager=True), out_col="c")
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(vid" not in plan
    assert "Window" not in plan
    # every vector got a valid centroid
    assert a.filter(F.col("c").isNull()).count() == 0


def test_kmeans_deterministic(vectors):
    a = ann.kmeans(vectors, "vid", "vec", k=3, iters=2).collect()
    b = ann.kmeans(vectors, "vid", "vec", k=3, iters=2).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))


def test_ivf_search_recall_vs_brute(vectors):
    q = vectors.filter(F.col("vid") == 10).select(F.col("vec").alias("qv"))
    others = vectors.filter("vid != 10")
    cents = ann.kmeans(others, "vid", "vec", k=2, iters=2)
    brute = [r["vid"] for r in ann.brute_topk(
        others, "vid", "vec", q, k=3).collect()]
    approx = [r["vid"] for r in ann.ivf_search(
        others, "vid", "vec", cents, q, nprobe=2, k=3).collect()]
    # nprobe = k(=all clusters) ⇒ exhaustive ⇒ recall 1.0
    assert approx == brute


def test_knn_label_vote_arbitrary_schema(spark):
    e = spark.createDataFrame(
        [(1, "a", [1.0, 0.0]), (2, "a", [0.9, 0.1]), (3, "b", [0.0, 1.0]),
         (4, "b", [0.1, 0.9]), (5, "a", [1.0, 0.1])],
        "k long, grp string, v array<double>")
    q = spark.createDataFrame([([1.0, 0.05],)], "qv array<double>")
    votes = {r["grp"]: r["votes"] for r in ann.knn_label_vote(
        e, "k", "v", "grp", q, k=3).collect()}
    assert votes == {"a": 3}


def test_sign_lsh_bucket_width(vectors):
    n_buckets = (vectors
                 .select(ann.sign_lsh_bucket("vec", 4).alias("b"))
                 .agg(F.max("b"), F.min("b")).first())
    assert 0 <= n_buckets[1] <= n_buckets[0] < 16


def test_cc_reliable_checkpoint_survives_source_loss(spark, tmp_path):
    """The cluster-durability claim behind checkpoint_dir: the returned
    labels must be backed by RELIABLE checkpoint files (not executor
    memory, not the input's lineage), so a post-loss recompute restarts
    from those files. In local mode we can't kill an executor, so the
    test proves the two observable halves: (a) the label RDD reports
    is_checkpointed with its checkpoint file under our dir, and (b) the
    labels stay collectable AFTER the source parquet behind the edge
    list is deleted — a plan still rooted at the source would re-scan
    and fail."""
    import shutil

    src = str(tmp_path / "pairs_src")
    spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    ).write.parquet(src)
    pairs = spark.read.parquet(src)
    ckpt = str(tmp_path / "cc_ckpt")
    labels = dedup.connected_components(pairs, checkpoint_dir=ckpt)
    # (a) reliable checkpoint files landed under OUR dir (df.rdd wraps a
    # fresh javaToPython RDD, so rdd.is_checkpointed can't be consulted)
    ckpt_files = [f for dp, _, fs in os.walk(ckpt) for f in fs]
    assert ckpt_files, "reliable checkpoint wrote no files"
    shutil.rmtree(src)                      # sever the input lineage
    got = {r["node"]: r["lbl"] for r in labels.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_ivf_search_batch_matches_per_query(vectors):
    """Batch retrieval must return, per query, exactly what the
    single-query ivf_search returns for that query."""
    cents = ann.kmeans(vectors, "vid", "vec", k=2, iters=2)
    qs = vectors.filter(F.col("vid").isin(10, 12)).select(
        F.col("vid").alias("qid"), F.col("vec").alias("qv"))
    corpus = vectors.filter(~F.col("vid").isin(10, 12))
    batch = {}
    for r in ann.ivf_search_batch(corpus, "vid", "vec", cents, qs,
                                  nprobe=1, k=3).collect():
        batch.setdefault(r["qid"], []).append((r["vid"], r["cosine"]))
    for qid in (10, 12):
        q1 = vectors.filter(F.col("vid") == qid).select(
            ann.as_double_vec("vec").alias("qv"))
        single = [(r["vid"], r["cosine"]) for r in ann.ivf_search(
            corpus, "vid", "vec", cents, q1, nprobe=1, k=3).collect()]
        assert batch[qid] == single


def test_assign_nearest_tie_breaks_on_smaller_centroid_id(spark, vectors):
    """Two identical-distance centroids force the (d, id) ordering to
    decide: the smaller centroid id wins, as in the oracle's
    `ORDER BY d ASC, centroid ASC`."""
    e = vectors.select("vid", ann.as_double_vec("vec").alias("vec"))
    cents = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0]), (1, [1.0, 2.0, 3.0, 4.0]),
         (2, [-1.0, 2.0, -3.0, 4.0])],
        "centroid int, cvec array<double>")
    a = {r["vid"]: r["c"] for r in ann.assign_nearest(
        e, "vec", cents, out_col="c").collect()}
    assert a[10] == 0          # tie between 0 and 1 → smaller id


def test_minhash_expr_path_signature_stage_has_no_exchange(corpus):
    """The signature stages themselves must be exchange-free:
    shingling, array_distinct, md5 minima, banding and the SimHash
    per-bit votes all happen per-row."""
    arrays = dedup.doc_shingle_arrays(corpus, "pk", "body")
    for sig in (dedup.minhash_bands_expr(arrays, "pk"),
                dedup.simhash_fingerprints(arrays, "pk")):
        plan = sig._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
