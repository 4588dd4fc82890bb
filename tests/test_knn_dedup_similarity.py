"""M5: kNN (cell-ring == brute force on adversarial layouts), dedup family
semantics on synthetic duplicates, ANN recall."""

import pytest
from pyspark.sql import functions as F

from pygridmap_spark.operators import dedup as DD
from pygridmap_spark.operators import knn as KNN
from pygridmap_spark.operators import similarity as SIM


# ---------------------------------------------------------------------------
# kNN
# ---------------------------------------------------------------------------


def _knn_sets(df):
    return {
        (r["query_id"], r["rank"]): (r["point_id"], round(r["dist"], 9))
        for r in df.collect()
    }


def test_knn_cellring_equals_bruteforce_uniform(spark):
    pts = spark.range(400).select(
        F.col("id").alias("point_id"),
        ((F.col("id") % 20) * 10.0).alias("x"),
        ((F.col("id") / 20).cast("int") * 10.0).alias("y"),
    )
    qs = spark.createDataFrame(
        [(0, 5.0, 5.0), (1, 199.0, 0.0), (2, 95.0, 95.0)], "query_id long, x double, y double"
    )
    bf = _knn_sets(KNN.knn_bruteforce(pts, qs, 4))
    cr = _knn_sets(KNN.knn_cellring(pts, qs, 4, cell=10.0))
    assert bf == cr


def test_knn_cellring_equals_bruteforce_clustered(spark):
    """Adversarial: dense cluster + far outlier queries (forces multi-round
    radius doubling and the per-query final-radius guarantee)."""
    import random

    rng = random.Random(7)
    rows = [(i, rng.gauss(0, 1.0), rng.gauss(0, 1.0)) for i in range(300)]
    rows += [(1000 + i, 500.0 + rng.random(), 500.0 + rng.random()) for i in range(5)]
    pts = spark.createDataFrame(rows, "point_id long, x double, y double")
    qs = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 500.5, 500.5), (2, 250.0, 250.0)],
        "query_id long, x double, y double",
    )
    bf = _knn_sets(KNN.knn_bruteforce(pts, qs, 6))
    cr = _knn_sets(KNN.knn_cellring(pts, qs, 6, cell=2.0))
    assert bf == cr


def test_knn_k_larger_than_points(spark):
    pts = spark.createDataFrame([(0, 0.0, 0.0), (1, 1.0, 1.0)], "point_id long, x double, y double")
    qs = spark.createDataFrame([(0, 0.5, 0.5)], "query_id long, x double, y double")
    out = KNN.knn_cellring(pts, qs, 5, cell=1.0).collect()
    assert len(out) == 2  # all available points, ranked


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


@pytest.fixture()
def docs_with_dups(spark):
    base = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (1, "The quick brown fox jumps over the lazy dog near the river bank today!"),  # norm-dup of 0
        (2, "a completely different document about spark joins and shuffle partitions"),
        (3, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near-dup of 0
        (4, "totally unrelated text mentioning gridmap tiling and overlay operators"),
        (5, "a completely different document about spark joins and shuffle partitions"),  # exact dup of 2
    ]
    return spark.createDataFrame(base, "doc_id long, text string")


def test_exact_duplicates_groups(spark, docs_with_dups):
    out = DD.exact_duplicates(docs_with_dups).collect()
    groups = {r["doc_id"]: r["canonical_id"] for r in out}
    assert groups == {0: 0, 1: 0, 2: 2, 5: 2}


def test_dedup_exact_keeps_min_id(spark, docs_with_dups):
    kept = sorted(r["doc_id"] for r in DD.dedup_exact(docs_with_dups).collect())
    assert kept == [0, 2, 3, 4]


def test_minhash_lsh_finds_near_dups(spark, docs_with_dups):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in DD.minhash_lsh_pairs(
            docs_with_dups, num_hashes=64, bands=32, jaccard_threshold=0.5
        ).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == pytest.approx(1.0)  # norm-identical
    assert (2, 5) in pairs and pairs[(2, 5)] == pytest.approx(1.0)
    assert (0, 3) in pairs and pairs[(0, 3)] > 0.6  # one word changed
    assert (2, 4) not in pairs


def test_minhash_jaccard_estimate_tracks_exact(spark):
    """Signature agreement rate approximates exact Jaccard (MinHash
    property) for a controlled pair."""
    a = "w" + " w".join(str(i) for i in range(40))
    b = "w" + " w".join(str(i) for i in range(20, 60))
    df = spark.createDataFrame([(0, a), (1, b)], "doc_id long, text string")
    sigs = {r["doc_id"]: r["signature"] for r in DD.minhash_signatures(df, num_hashes=128).collect()}
    agree = sum(x == y for x, y in zip(sigs[0], sigs[1])) / 128
    sh = {r["doc_id"]: set(r["shingles"]) for r in DD.minhash_signatures(df, num_hashes=8).collect()}
    exact = len(sh[0] & sh[1]) / len(sh[0] | sh[1])
    assert agree == pytest.approx(exact, abs=0.15)


def test_minhash_signatures_rejects_nonpositive_num_hashes(spark):
    """num_hashes=0 used to return a frame with no signature column."""
    df = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    for k in (0, -1):
        with pytest.raises(ValueError, match="num_hashes"):
            DD.minhash_signatures(df, num_hashes=k)


def test_simhash_near_duplicates(spark, docs_with_dups):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in DD.simhash_near_duplicates(docs_with_dups, max_hamming=10).collect()
    }
    assert (2, 5) in pairs and pairs[(2, 5)] == 0  # identical token stream
    assert (0, 3) in pairs  # one token differs -> small hamming
    assert (2, 4) not in pairs


def test_ngram_jaccard_pairs(spark, docs_with_dups):
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in DD.ngram_jaccard_pairs(docs_with_dups, jaccard_threshold=0.5).collect()
    }
    assert (2, 5) in pairs


# ---------------------------------------------------------------------------
# similarity / ANN
# ---------------------------------------------------------------------------


@pytest.fixture()
def vectors_df(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    base = rng.standard_normal((50, 16)).astype("float32")
    rows = [(i, base[i].tolist(), 0) for i in range(50)]
    # 51 = near-copy of 0
    rows.append((51, (base[0] + 0.01 * rng.standard_normal(16).astype("float32")).tolist(), 0))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_bruteforce_topk_self_is_rank1(spark, vectors_df):
    qs = vectors_df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = SIM.cosine_topk_bruteforce(vectors_df, qs, k=3).collect()
    rank1 = {r["query_id"]: r["vec_id"] for r in out if r["rank"] == 1}
    assert rank1 == {0: 0, 1: 1, 2: 2}
    near = [r for r in out if r["query_id"] == 0 and r["rank"] == 2]
    assert near[0]["vec_id"] == 51


def test_lsh_topk_recall_against_bruteforce(spark, vectors_df):
    qs = vectors_df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf = SIM.cosine_topk_bruteforce(vectors_df, qs, k=3).collect()
    lsh = SIM.cosine_topk_lsh(vectors_df, qs, k=3, planes=8, multiprobe_bits=1).collect()
    bf_pairs = {(r["query_id"], r["vec_id"]) for r in bf}
    lsh_pairs = {(r["query_id"], r["vec_id"]) for r in lsh}
    recall = len(bf_pairs & lsh_pairs) / len(bf_pairs)
    assert recall >= 0.5  # small-sample LSH; exact rank-1 self must survive
    assert all((q, q) in lsh_pairs for q in range(5))


def test_embedding_near_duplicates_lsh(spark, vectors_df):
    out = DD.embedding_near_duplicates(vectors_df, threshold=0.95, planes=8).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (0, 51) in pairs


def test_bruteforce_np_matches_hof(spark, vectors_df):
    """The Arrow/numpy matmul kernel returns the exact same top-k (ids,
    ranks, cosines to 1e-9) as the HOF-expression baseline."""
    qs = vectors_df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    hof = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["cosine"], 9))
        for r in SIM.cosine_topk_bruteforce(vectors_df, qs, k=4).collect()
    }
    npk = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["cosine"], 9))
        for r in SIM.cosine_topk_bruteforce_np(vectors_df, qs, k=4).collect()
    }
    assert hof == npk


def test_bruteforce_np_zero_norm_and_empty_queries(spark, vectors_df):
    zq = spark.createDataFrame([(99, [0.0] * 16)], "query_id long, embedding array<float>")
    out = SIM.cosine_topk_bruteforce_np(vectors_df, zq, k=2).collect()
    assert len(out) == 2 and all(r["cosine"] == 0.0 for r in out)
    empty = zq.filter(F.col("query_id") < 0)
    assert SIM.cosine_topk_bruteforce_np(vectors_df, empty, k=2).count() == 0


def test_minhash_simhash_string_ids(spark, docs_with_dups):
    """Round-1 hardcoded `{id_col} long` in the mapInPandas schemas; string
    doc ids must work (the overlay operators already derive key types)."""
    docs = docs_with_dups.select(
        F.concat(F.lit("doc-"), F.col("doc_id")).alias("doc_id"), "text"
    )
    pairs = DD.minhash_lsh_pairs(docs, jaccard_threshold=0.6).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs}  # non-empty, string ids
    sh = DD.simhash(docs).collect()
    assert all(isinstance(r["doc_id"], str) for r in sh)


def test_ivf_topk_recall_and_exact_when_probing_all(spark, vectors_df):
    qs = vectors_df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf = {(r["query_id"], r["vec_id"]) for r in SIM.cosine_topk_bruteforce_np(vectors_df, qs, k=3).collect()}
    ivf = {(r["query_id"], r["vec_id"]) for r in SIM.cosine_topk_ivf(vectors_df, qs, k=3, nlist=8, nprobe=3).collect()}
    assert len(bf & ivf) / len(bf) >= 0.5
    # the query's own list is always its top probe: rank-1 self survives
    assert all((q, q) in ivf for q in range(5))
    # probing every list == exact
    full = {(r["query_id"], r["vec_id"]) for r in SIM.cosine_topk_ivf(vectors_df, qs, k=3, nlist=8, nprobe=8).collect()}
    assert full == bf


def test_ivf_centroids_deterministic_and_unit(spark, vectors_df):
    import numpy as np

    c1 = SIM.train_ivf_centroids(vectors_df, nlist=8)
    c2 = SIM.train_ivf_centroids(vectors_df, nlist=8)
    assert np.allclose(c1, c2)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)
    lists = SIM.with_ivf_list(vectors_df, c1)
    assert lists.filter(F.col("ivf_list").isNull()).count() == 0
    assert lists.select("ivf_list").distinct().count() <= 8


def test_minhash_lsh_max_bucket_cap(spark, docs_with_dups):
    """max_bucket drops over-wide LSH buckets (boilerplate guard) without
    losing pairs that share other, narrower bands. (Round 6: the cap is a
    lazy co-partitioned semi-join — no driver action, no log line — so
    this pins the SEMANTICS: over-cap-only pairs gone, the rest intact.)"""
    import inspect

    # the guard must be ON by default — library callers at scale won't know
    # the knob exists (the job-level default was already 100k; round 3
    # aligned the library)
    assert inspect.signature(DD.minhash_lsh_pairs).parameters["max_bucket"].default == 100_000
    assert inspect.signature(DD.simhash_near_duplicates).parameters["max_bucket"].default == 100_000
    # identical boilerplate x 30 docs -> every band bucket has width 30
    boiler = [(100 + i, "lorem ipsum dolor sit amet " * 4) for i in range(30)]
    docs = docs_with_dups.unionByName(
        spark.createDataFrame(boiler, "doc_id long, text string")
    )
    uncapped = DD.minhash_lsh_pairs(docs, jaccard_threshold=0.6, max_bucket=None)
    capped = DD.minhash_lsh_pairs(docs, jaccard_threshold=0.6, max_bucket=10)
    unc = {(r["doc_a"], r["doc_b"]) for r in uncapped.collect()}
    cap = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    boiler_pairs = {(a, b) for a, b in unc if a >= 100 and b >= 100}
    assert len(boiler_pairs) == 30 * 29 // 2  # uncapped: full quadratic blowup
    assert not any(a >= 100 and b >= 100 for a, b in cap)  # capped: dropped
    assert cap == unc - boiler_pairs  # non-boilerplate pairs all survive


def test_quantized_topk_with_rerank_matches_exact(spark, vectors_df):
    qs = vectors_df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cq = SIM.quantize_embeddings(vectors_df)
    assert cq.filter(F.col("q_codes").isNull()).count() == 0
    exact = {(r["query_id"], r["rank"]): r["vec_id"]
             for r in SIM.cosine_topk_bruteforce_np(vectors_df, qs, k=3).collect()}
    rr = {(r["query_id"], r["rank"]): r["vec_id"]
          for r in SIM.cosine_topk_quantized(
              cq, qs, k=3, rerank=10, rerank_corpus=vectors_df).collect()}
    assert rr == exact  # rerank restores full precision
    # quantized-only pass: high top-k agreement (int8 cosine error ~1e-2)
    qo = {(r["query_id"], r["vec_id"])
          for r in SIM.cosine_topk_quantized(cq, qs, k=3).collect()}
    eo = {(q, v) for (q, _), v in exact.items()}
    assert len(qo & eo) / len(eo) >= 0.8
    # reconstruction error bound
    row = cq.select("embedding", "q_codes", "q_scale").first()
    import numpy as np
    v = np.asarray(row["embedding"], dtype=np.float64)
    rec = np.asarray(row["q_codes"], dtype=np.float64) * row["q_scale"]
    assert np.abs(v - rec).max() <= row["q_scale"] / 2 + 1e-9


def test_knn_auto_cell_matches_bruteforce(spark):
    pts = spark.range(400).select(
        F.col("id").alias("point_id"),
        ((F.col("id") % 20) * 10.0).alias("x"),
        ((F.col("id") / 20).cast("int") * 10.0).alias("y"),
    )
    qs = spark.createDataFrame(
        [(0, 5.0, 5.0), (1, 199.0, 0.0)], "query_id long, x double, y double"
    )
    bf = {(r["query_id"], r["rank"]): r["point_id"] for r in KNN.knn_bruteforce(pts, qs, 4).collect()}
    auto = {(r["query_id"], r["rank"]): r["point_id"] for r in KNN.knn_cellring(pts, qs, 4).collect()}
    assert bf == auto
    import pytest as _pt
    with _pt.raises(ValueError, match="empty"):
        KNN.estimate_knn_cell(pts.filter("point_id < 0"), 4)


def test_ivf_written_index_partition_pruning(spark, vectors_df, tmp_path):
    """write_ivf_index + cosine_topk_ivf_indexed: the probed lists reach
    the scan as PartitionFilters (unprobed lists never listed), and the
    result is identical to the on-the-fly IVF search with the same
    centroids."""
    cents = SIM.train_ivf_centroids(vectors_df, nlist=8)
    path = str(tmp_path / "ivf_index")
    SIM.write_ivf_index(vectors_df, cents, path)
    qs = vectors_df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = SIM.cosine_topk_ivf_indexed(spark, path, qs, cents, k=3, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ivf_list" in plan
    # the pruning predicate is real: fewer partition dirs scanned than exist
    import re as _re

    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "ivf_list" in m.group(1), plan[:2000]
    # parity with the on-the-fly search (same centroids, same nprobe)
    fly = SIM.cosine_topk_ivf(vectors_df, qs, k=3, nprobe=2, centroids=cents)
    a = {tuple(r) for r in out.collect()}
    b = {tuple(r) for r in fly.collect()}
    assert a == b and len(a) > 0


class TestShingleContainment:
    def test_quote_inclusion(self, spark):
        from pygridmap_spark.operators import dedup as DD

        # B fully contains A's text; C is unrelated; D shares half of A
        base = "alpha beta gamma delta epsilon zeta eta theta"
        docs = [
            (1, base),
            (2, "intro words here " + base + " closing remark tail"),
            (3, "totally different content with no common phrasing at all"),
            (4, "alpha beta gamma delta other words follow now"),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        out = {
            (r.doc_a, r.doc_b): r
            for r in DD.shingle_containment_pairs(
                df, containment_threshold=0.3
            ).collect()
        }
        r12 = out[(1, 2)]
        assert r12.containment_a == 1.0  # A fully inside B
        assert r12.size_a == 6 and r12.overlap == 6
        assert r12.containment_b < 1.0
        r14 = out[(1, 4)]
        assert r14.overlap == 2  # 'alpha beta gamma', 'beta gamma delta'
        assert not any(3 in p for p in out)

    def test_null_text_has_no_shingles(self, spark):
        from pygridmap_spark.operators import dedup as DD

        # NULL text used to tokenize as the word 'none'
        df = spark.createDataFrame(
            [(1, "none"), (2, None), (3, "")], "doc_id long, text string"
        )
        got = [r.doc_id for r in DD.shingle_hash_sets(df, shingle_n=1).collect()]
        assert got == [1]
        assert DD.shingle_containment_pairs(df, shingle_n=1, containment_threshold=0.1).count() == 0

    def test_freq_cap_drops_boilerplate(self, spark):
        from pygridmap_spark.operators import dedup as DD

        # 6 docs share ONLY one boilerplate shingle; capping at 5 kills it
        docs = [(i, f"common boiler plate u{i} v{i} w{i}") for i in range(6)]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        full = DD.shingle_containment_pairs(df, containment_threshold=0.1)
        capped = DD.shingle_containment_pairs(
            df, containment_threshold=0.1, max_shingle_freq=5
        )
        assert full.count() == 15 and capped.count() == 0
