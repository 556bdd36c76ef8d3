"""Unit tests for the round-6 additions: unigram-LM scoring,
temperature mixture weights, SemDeDup semantic dedup, and exact
distributed PCA."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_unigram_logprob_hand_computed(spark):
    from small_etl_spark.llm.textstats import unigram_logprob

    # corpus tokens: a a b  → counts {a:2, b:1}, N=3, V=2
    df = spark.createDataFrame([(1, "a a"), (2, "b"), (3, "")],
                               ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
    p_a = (2 + 1) / (3 + 2)
    p_b = (1 + 1) / (3 + 2)
    assert rows[1]["n_tokens"] == 2
    assert rows[1]["avg_logprob"] == pytest.approx(math.log(p_a))
    assert rows[2]["avg_logprob"] == pytest.approx(math.log(p_b))
    # empty doc survives with zero tokens and NULL score
    assert rows[3]["n_tokens"] == 0
    assert rows[3]["avg_logprob"] is None


def test_unigram_logprob_orders_quality(spark):
    """A doc made of corpus-frequent tokens outscores a doc of hapaxes."""
    from small_etl_spark.llm.textstats import unigram_logprob

    common = "the the the the the"
    rare = "zqx wvu jkl mno pqr"
    df = spark.createDataFrame(
        [(1, common), (2, rare)], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
    assert rows[1]["avg_logprob"] > rows[2]["avg_logprob"]


def test_temperature_weights_sum_and_boost(spark):
    from small_etl_spark.llm.sampling import temperature_weights

    df = spark.createDataFrame(
        [("s1", "en")] * 90 + [("s1", "fr")] * 10,
        ["source", "lang"],
    )
    rows = {
        (r["source"], r["lang"]): r
        for r in temperature_weights(df, ["source", "lang"], alpha=0.3)
        .collect()
    }
    w_en, w_fr = rows[("s1", "en")], rows[("s1", "fr")]
    assert w_en["weight"] + w_fr["weight"] == pytest.approx(1.0, abs=2e-6)
    # α<1 up-weights the low-resource stratum, down-weights the dominant
    assert w_fr["boost"] > 1.0 > w_en["boost"]
    expect_en = 90**0.3 / (90**0.3 + 10**0.3)
    assert w_en["weight"] == pytest.approx(expect_en, abs=1e-6)


def test_temperature_alpha_one_is_natural(spark):
    from small_etl_spark.llm.sampling import temperature_weights

    df = spark.createDataFrame(
        [("s1", "en")] * 30 + [("s1", "fr")] * 10, ["source", "lang"]
    )
    rows = {
        r["lang"]: r
        for r in temperature_weights(df, ["source", "lang"], alpha=1.0)
        .collect()
    }
    assert rows["en"]["weight"] == pytest.approx(0.75, abs=1e-6)
    assert rows["en"]["boost"] == pytest.approx(1.0, abs=1e-6)


def test_semantic_dedup_keeps_one_per_component(spark):
    from small_etl_spark.llm.dedup import semantic_dedup_keep

    # vectors 1,2 identical (cosine 1.0); 3 orthogonal-ish
    rows = [
        (1, [1.0] + [0.0] * 63),
        (2, [1.0] + [0.0] * 63),
        (3, [0.0, 1.0] + [0.0] * 62),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["vec_id"]: r for r in semantic_dedup_keep(emb).collect()}
    assert out[1]["component"] == out[2]["component"] == 1
    assert out[1]["keep"] and not out[2]["keep"]
    assert out[3]["keep"] and out[3]["component"] == 3


def test_pca_project_matches_numpy(spark):
    """Distributed sufficient-statistics PCA == numpy full-data PCA."""
    from small_etl_spark.llm.similarity import pca_project
    from small_etl_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    got = {
        r["vec_id"]: (r["pc1"], r["pc2"])
        for r in pca_project(emb, k=2).collect()
    }
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r[0] for r in rows])
    m = np.array([list(r[1]) for r in rows], dtype=np.float64)
    mean = m.mean(axis=0)
    cov = (m - mean).T @ (m - mean) / m.shape[0]
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:2]
    comps = []
    for j in order:
        e = vecs[:, j]
        piv = int(np.argmax(np.abs(e)))
        comps.append(-e if e[piv] < 0 else e)
    ref = (m - mean) @ np.stack(comps, axis=1)
    for i, vid in enumerate(ids):
        assert got[int(vid)][0] == pytest.approx(ref[i, 0], abs=1e-8)
        assert got[int(vid)][1] == pytest.approx(ref[i, 1], abs=1e-8)


def test_pca_variance_invariants(spark):
    from small_etl_spark.llm.similarity import embedding_moments, pca_project
    from small_etl_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    _, _, cov = embedding_moments(emb)
    total = float(np.trace(cov))
    proj = pca_project(emb, k=2).toPandas()
    v1, v2 = proj["pc1"].var(ddof=0), proj["pc2"].var(ddof=0)
    assert v1 >= v2 > 0
    assert v1 + v2 <= total + 1e-9
    assert abs(proj["pc1"].mean()) < 1e-9
    assert abs(np.cov(proj["pc1"], proj["pc2"], ddof=0)[0, 1]) < 1e-9


def test_stream_dedup_batch_twin(spark):
    """Batch fallback of stream_dedup is exact first-wins distinct."""
    from small_etl_spark.streaming.windows import stream_dedup

    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b")], ["event_id", "x"]
    )
    out = stream_dedup(df, keys=["event_id"]).collect()
    assert sorted((r["event_id"], r["x"]) for r in out) == [(1, "a"), (2, "b")]


def test_bpe_encode_counts_hand_computed(spark):
    """Corpus 'ab ab abc': merge1 = (a,b) → words ab→1 piece,
    abc→2 pieces."""
    from small_etl_spark.llm.bpe import bpe_encode_counts

    df = spark.createDataFrame(
        [(1, "ab ab"), (2, "abc"), (3, "")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in bpe_encode_counts(df, iters=1).collect()}
    assert rows[1]["n_words"] == 2 and rows[1]["n_pieces"] == 2
    assert rows[2]["n_words"] == 1 and rows[2]["n_pieces"] == 2
    assert rows[3]["n_words"] == 0 and rows[3]["n_pieces"] == 0


def test_ewma_hand_computed(spark):
    from small_etl_spark.operators.timeseries import ewma
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 7, "click", 1.0),
        (2, t0 + dt.timedelta(seconds=1), 7, "click", 3.0),
        (3, t0 + dt.timedelta(seconds=2), 7, "click", 5.0),
    ]
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    )
    out = {r["event_id"]: r["ewma"] for r in ewma(ev, alpha=0.5).collect()}
    assert out[1] == pytest.approx(1.0)
    # weights (0.5, 1) → (0.5*1 + 1*3) / 1.5
    assert out[2] == pytest.approx((0.5 * 1 + 3) / 1.5)
    # weights (0.25, 0.5, 1) → (0.25 + 1.5 + 5) / 1.75
    assert out[3] == pytest.approx((0.25 * 1 + 0.5 * 3 + 5) / 1.75)


def test_adamic_adar_hand_computed(spark):
    """Path graph 1-2, 2-3: pair (1,3) shares neighbor 2 (deg 2) →
    score 1/ln 2; adjacent pairs excluded."""
    from small_etl_spark.operators.graph import adamic_adar

    edges = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    out = adamic_adar(edges).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["node_a"], r["node_b"]) == (1, 3)
    assert r["score"] == pytest.approx(1.0 / math.log(2.0), abs=1e-6)


def test_token_entropy_hand_computed(spark):
    from small_etl_spark.llm.textstats import token_entropy

    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d"), (3, "")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in token_entropy(df).collect()}
    # all-same tokens → 0 bits; 4 distinct uniform → 2 bits
    assert rows[1]["entropy_bits"] == pytest.approx(0.0, abs=1e-9)
    assert rows[2]["entropy_bits"] == pytest.approx(2.0, abs=1e-9)
    assert rows[3]["n_tokens"] == 0 and rows[3]["entropy_bits"] is None


def test_cross_lang_dups_fires_on_shared_content(spark):
    from small_etl_spark.queries import REGISTRY  # noqa: F401
    from small_etl_spark.llm.textstats import fingerprint

    docs = spark.createDataFrame(
        [
            (1, "Same   Text here", "en"),
            (2, "same text HERE", "fr"),  # normalizes identically
            (3, "unique content", "en"),
        ],
        ["doc_id", "text", "lang"],
    )
    f = docs.select("doc_id", "lang", fingerprint("text").alias("fp"))
    multi = (
        f.groupBy("fp")
        .agg(
            F.countDistinct("lang").alias("n_langs"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .filter(F.col("n_langs") > 1)
    )
    out = f.join(multi, "fp").collect()
    assert sorted(r["doc_id"] for r in out) == [1, 2]
    assert all(r["n_langs"] == 2 and r["n_docs"] == 2 for r in out)


def test_quantile_normalize_maps_ref_onto_itself(spark):
    from small_etl_spark.operators.features import quantile_normalize

    df = spark.createDataFrame(
        [(1, "en", 10), (2, "en", 20), (3, "en", 30),
         (4, "fr", 100), (5, "fr", 300)],
        ["doc_id", "lang", "n_chars"],
    )
    out = {
        r["doc_id"]: r["mapped"]
        for r in quantile_normalize(
            df, "lang", "n_chars", "doc_id", "en"
        ).collect()
    }
    # reference group is the identity mapping
    assert out[1] == 10 and out[2] == 20 and out[3] == 30
    # fr min (rank 0) → en min; fr max (rank 1) → en max
    assert out[4] == 10 and out[5] == 30


def test_quantile_normalize_midrank_floors_to_lower_ref(spark):
    from small_etl_spark.operators.features import quantile_normalize

    df = spark.createDataFrame(
        [(1, "en", 10), (2, "en", 20), (3, "en", 30),
         (4, "fr", 1), (5, "fr", 2), (6, "fr", 3), (7, "fr", 4)],
        ["doc_id", "lang", "n_chars"],
    )
    out = {
        r["doc_id"]: r["mapped"]
        for r in quantile_normalize(
            df, "lang", "n_chars", "doc_id", "en"
        ).collect()
    }
    # fr ranks 0, 1/3, 2/3, 1 → greatest en rank ≤: 0, 0, .5, 1
    assert [out[i] for i in (4, 5, 6, 7)] == [10, 10, 20, 30]


def test_minhash_merge_is_exact_identity(spark):
    """Elementwise min over ANY partitioning of the shingle set equals
    the direct signature (not just parity halves)."""
    from small_etl_spark.llm.dedup import minhash_signature, word_shingles

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        ["doc_id", "text"],
    )
    sig = df.select(
        minhash_signature(
            word_shingles("text", 3), num_hashes=8
        ).alias("s")
    ).collect()
    both = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        ["doc_id", "text"],
    ).select(
        minhash_signature(
            word_shingles("text", 3), num_hashes=8
        ).alias("s")
    ).collect()
    merged = [min(a, b) for a, b in zip(sig[0]["s"], sig[1]["s"])]
    # NOTE: union-of-docs shingles ⊂ concatenated-text shingles (the
    # concat adds boundary-crossing shingles), so compare merged vs
    # the union's own direct signature instead:
    union_sh = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        ["doc_id", "text"],
    ).select(F.explode(word_shingles("text", 3)).alias("sh"))
    direct = union_sh.agg(
        *[
            F.min(
                F.md5(F.concat(F.lit(f"{i}:"), F.col("sh")).cast("binary"))
            ).alias(f"m{i}")
            for i in range(8)
        ]
    ).collect()[0]
    assert merged == [direct[f"m{i}"] for i in range(8)]


def test_whitening_matches_numpy_mahalanobis(spark):
    """Per-vector Mahalanobis² equals numpy's (v-μ)ᵀ Σ⁻¹ (v-μ)."""
    from small_etl_spark.llm.similarity import whiten_embeddings
    from small_etl_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    got = {
        r["vec_id"]: r["msq"] for r in whiten_embeddings(emb).collect()
    }
    rows = emb.select("vec_id", "embedding").collect()
    ids = [r[0] for r in rows]
    m = np.array([list(r[1]) for r in rows], dtype=np.float64)
    mean = m.mean(axis=0)
    cov = (m - mean).T @ (m - mean) / m.shape[0]
    inv = np.linalg.inv(cov)
    c = m - mean
    ref = np.einsum("ij,jk,ik->i", c, inv, c)
    for i, vid in enumerate(ids):
        assert got[int(vid)] == pytest.approx(ref[i], rel=1e-6)
    # empirical-Mahalanobis identity: the mean distance² is exactly d
    assert np.mean(list(got.values())) == pytest.approx(64.0, abs=1e-6)
