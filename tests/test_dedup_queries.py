"""Semantic tests for the SimHash and embedding-cosine near-dup operators.

The correctness gate (tools/check_correctness.py + the driver) proves the
Spark plan equals the DuckDB oracle; these tests prove the *semantics*:
planted duplicates are recalled, non-duplicates are not flagged wholesale,
and the banded-LSH candidate set loses no qualifying pair.
"""

from __future__ import annotations

from risjbot_spark.queries import (
    q_embedding_near_dup,
    q_simhash_dup_pairs,
    q_simhash_fingerprint,
)


def test_simhash_exact_copies_have_hamming_zero(spark, sf_dir):
    # _docs_with_mutants plants doc_id+200000 as a byte-identical copy of
    # every doc_id % 7 == 0; identical shingle sets => identical simhash.
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in q_simhash_dup_pairs(spark, sf_dir).collect()
    }
    fps = {r.doc_id: r.simhash
           for r in q_simhash_fingerprint(spark, sf_dir).collect()}
    exact_ids = [i for i in fps if i < 100000 and i % 7 == 0
                 and (i + 200000) in fps]
    assert exact_ids, "mutant corpus must contain exact copies"
    for i in exact_ids:
        assert fps[i] == fps[i + 200000]
        assert pairs.get((i, i + 200000)) == 0


def test_simhash_pairs_are_verified_and_canonical(spark, sf_dir):
    rows = q_simhash_dup_pairs(spark, sf_dir).collect()
    assert rows, "planted duplicates must be recalled"
    n_docs = q_simhash_fingerprint(spark, sf_dir).count()
    for r in rows:
        assert r.doc_a < r.doc_b
        assert 0 <= r.hamming <= 3
    # Not a degenerate all-pairs blowup: flagged pairs must stay a small
    # fraction of the O(n^2) universe (the single-token variant failed
    # this at ~13%).
    assert len(rows) < 0.02 * n_docs * (n_docs - 1) / 2


def test_simhash_banding_loses_no_qualifying_pair(spark, sf_dir):
    # Pigeonhole check done exhaustively: every pair of fingerprints with
    # hamming <= 3 must appear in the banded join's verified output.
    fps = q_simhash_fingerprint(spark, sf_dir).collect()
    got = {(r.doc_a, r.doc_b)
           for r in q_simhash_dup_pairs(spark, sf_dir).collect()}
    want = set()
    for i, a in enumerate(fps):
        for b in fps[i + 1:]:
            if bin(a.simhash ^ b.simhash).count("1") <= 3:
                lo, hi = sorted((a.doc_id, b.doc_id))
                want.add((lo, hi))
    assert want == got


def test_embedding_near_dup_recalls_planted_mutants_exactly(spark, sf_dir):
    rows = q_embedding_near_dup(spark, sf_dir).collect()
    got = {(r.vec_a, r.vec_b) for r in rows}
    # every planted mutant (vec_id % 10 == 0 -> vec_id+100000) must pair
    # with its original: the sign-preserving perturbation keeps it in the
    # same LSH bucket and at cosine ~0.9999.
    n_vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    planted = {(v, v + 100000) for v in range(0, n_vecs, 10)}
    assert planted <= got
    for r in rows:
        assert r.cosine >= 0.99
    # and nothing beyond the planted mutants at this threshold on this
    # corpus (max natural pairwise cosine ~0.51)
    assert got == planted


def test_stage_cache_sweep_keeps_unverifiable_entries(spark):
    """The stopped-context sweep in _cached_stage evicts ONLY entries it
    can positively verify as stopped. An entry whose liveness probe
    raises must be kept (evicting it would leak its persisted
    InMemoryRelation and rebuild a duplicate), and a live entry must
    survive and be returned from cache."""
    from risjbot_spark import queries as Q

    Q.clear_stage_cache()
    try:
        builds = []
        live = Q._cached_stage(spark, "sfX", "k1",
                               lambda: (builds.append(1),
                                        spark.range(3))[1])
        assert len(builds) == 1

        class _Raises:
            @property
            def sparkSession(self):
                raise RuntimeError("py4j hiccup")

            def unpersist(self):
                pass

        class _Stopped:
            class sparkSession:                      # noqa: N801
                class sparkContext:                  # noqa: N801
                    _jsc = None

            def unpersist(self):
                pass

        Q._STAGE_CACHE[("appA", "sfX", "hiccup")] = _Raises()
        Q._STAGE_CACHE[("appB", "sfX", "dead")] = _Stopped()
        again = Q._cached_stage(spark, "sfX", "k1", lambda: spark.range(3))
        assert again is live                      # live entry: cache hit
        assert len(builds) == 1                   # not rebuilt
        assert ("appA", "sfX", "hiccup") in Q._STAGE_CACHE   # kept
        assert ("appB", "sfX", "dead") not in Q._STAGE_CACHE  # evicted
    finally:
        Q._STAGE_CACHE.pop(("appA", "sfX", "hiccup"), None)
        Q.clear_stage_cache()


def test_wordcount_unicode_whitespace_three_way_parity(spark):
    """A2 wordcount splits on Python's full Unicode White_Space set.
    Three-way parity on a char-battery covering every class member the
    generated corpus never exercises (NBSP, U+2028/29, FS-US, NEL, Zs):
    Python str.split() == Spark wordcount_expr ((?U)\\s) == the DuckDB
    oracle's spelled-out RE2 class — the gate corpus is clean, so this
    battery is what keeps the three implementations from drifting."""
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from risjbot_spark.udfs import wordcount_expr

    battery = ['a\xa0b', 'a\u2028b', 'a\u2029b', '\x1cx\x1dy\x1ez\x1fw', 'a\u3000b', '\xa0a  b\t', 'x\x85y', 'plain words here', '', 'a\x0bb', 'a\x0cb', '   ', '\u2009\u200a', '\u202fmixed\u205fnarrow math\u1680ogham', 'nbsp\xa0inside\xa0twice', '\u2028\u2029\x85']
    expected = [len(t.split()) for t in battery]

    sdf = spark.createDataFrame(
        pd.DataFrame({"i": range(len(battery)), "text": battery}))
    got_spark = [
        r["wc"] for r in sdf.select(
            "i", wordcount_expr(F.col("text")).alias("wc"))
        .orderBy("i").collect()]
    assert got_spark == expected

    cls = "[\\t\\n\\x0B\\f\\r\\x1C-\\x1F\\x85\\p{Z}]"
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": range(len(battery)),
                                    "text": battery}))
    got_duck = [r[0] for r in con.execute(
        f"""SELECT len(list_filter(string_split_regex(coalesce(text, ''),
                                                      '{cls}+'),
                        x -> x <> '')) AS wc
            FROM t ORDER BY i""").fetchall()]
    assert got_duck == expected


def test_dedup_clusters_are_true_connected_components(spark, sf_dir):
    """Cluster assignment = connected components of the verified-pair
    graph: endpoints of every verified pair share a cluster (incl.
    transitively — A~B and B~C put A,C together even when the A-C pair
    itself was never verified), cluster_id is the component min, and
    is_survivor marks exactly the min member."""
    from risjbot_spark.queries import q_dedup_clusters, q_ngram_jaccard_pairs

    pairs = q_ngram_jaccard_pairs(spark, sf_dir).collect()
    rows = q_dedup_clusters(spark, sf_dir).collect()
    cluster = {r["doc_id"]: r["cluster_id"] for r in rows}
    survivor = {r["doc_id"]: r["is_survivor"] for r in rows}

    # every pair endpoint is assigned, and both ends agree
    for p in pairs:
        assert cluster[p["doc_a"]] == cluster[p["doc_b"]]

    # cluster_id is the min member id; is_survivor <=> doc_id == cluster_id
    members: dict[int, list[int]] = {}
    for d, c in cluster.items():
        members.setdefault(c, []).append(d)
    for c, ms in members.items():
        assert c == min(ms)
    for d in cluster:
        assert survivor[d] == (d == cluster[d])

    # transitivity actually exercised: the corpus plants BOTH a near-dup
    # (+100000) and an exact copy (+200000) of doc_ids divisible by 70,
    # so at least one component must have >= 3 members
    assert any(len(ms) >= 3 for ms in members.values()), \
        "no transitive component — the clustering test lost its teeth"

    # survivors: exactly one per component
    for c, ms in members.items():
        assert sum(1 for d in ms if survivor[d]) == 1

    # the APPLIED table: corpus minus exactly the non-survivors, and
    # composing on top of the clustering must not blow up the planner
    # (the CC loop truncates lineage per round — regression guard for
    # the exponential-plan OOM)
    from risjbot_spark import dedup
    from risjbot_spark.queries import _docs_with_mutants
    docs = _docs_with_mutants(spark, sf_dir)
    kept_ids = {r["doc_id"] for r in dedup.survivor_docs(
        docs, "doc_id", q_dedup_clusters(spark, sf_dir)).collect()}
    all_ids = {r["doc_id"] for r in docs.collect()}
    losers = {d for d, s in survivor.items() if not s}
    assert kept_ids == all_ids - losers


def test_suggest_lsh_geometry(spark):
    """The bits-∝-log₂(n) sizing rule as code: monotone in n, clamped,
    simhash width stays band-representable, and the suggested widths
    actually drive the ops."""
    import pytest
    from risjbot_spark import dedup

    g6 = dedup.suggest_lsh_geometry(10 ** 6)
    g9 = dedup.suggest_lsh_geometry(10 ** 9)
    assert g6 == {"emb_bits": 14, "simhash_band_bits": 14,
                  "simhash_bits": 56}
    assert g9["emb_bits"] == 24 and g9["simhash_bits"] == 60
    # monotone + clamps
    prev = 0
    for n in (1, 10 ** 3, 10 ** 6, 10 ** 9, 10 ** 13):
        b = dedup.suggest_lsh_geometry(n)["emb_bits"]
        assert 8 <= b <= 30 and b >= prev
        prev = b
    assert dedup.suggest_lsh_geometry(10 ** 13)["simhash_bits"] == 60
    with pytest.raises(ValueError):
        dedup.suggest_lsh_geometry(0)
    # the suggestion plugs straight into the ops (vectors must have
    # >= emb_bits dims — sign_lsh_bucket reads the first `bits` dims)
    base = [1.0] + [0.0] * 15
    nd = [1.0, 0.001] + [0.0] * 14
    far = [-1.0, 0.2] + [0.0] * 14
    df = spark.createDataFrame(
        [(1, base), (2, nd), (3, far)], "pk long, v array<double>")
    g = dedup.suggest_lsh_geometry(3)
    pairs = dedup.embedding_near_dup(df, "pk", "v",
                                     bits=g["emb_bits"],
                                     threshold=0.99)
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {(1, 2)}
