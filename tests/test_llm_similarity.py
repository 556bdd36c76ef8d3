"""Near-dup detection + similarity search (llm.dedup / llm.similarity).

Planted-duplicate fixtures pin detection behavior; recall of the
approximate paths (MinHash-LSH, SimHash, IVF) is measured against the
exact baselines on real testdata.
"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import Row, functions as F

from small_etl_spark.llm.dedup import (
    embedding_near_dup_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash64,
    simhash_pairs,
    word_shingles,
)
from small_etl_spark.llm.similarity import (
    brute_force_topk,
    cosine_sim,
    ivf_assign,
    ivf_topk,
)

SF_DIR = "/root/testdata/sf0.001"

DOCS = [
    # pair 1-2: near-identical (one word changed in 20 tokens → j=15/21)
    (1, "the quick brown fox jumps over the lazy dog in the morning sun while birds sing softly in the trees", "a"),
    (2, "the quick brown fox jumps over the lazy cat in the morning sun while birds sing softly in the trees", "a"),
    # 3: unrelated
    (3, "completely different content about databases and query engines", "a"),
    # 4-5: exact copies
    (4, "spark structured streaming handles late data with watermarks", "b"),
    (5, "spark structured streaming handles late data with watermarks", "b"),
    # 6: short doc
    (6, "hi", "b"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text", "source"])


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("x",)], ["text"])
    rows = df.select(word_shingles("text", 3).alias("sh")).collect()
    assert rows[0].sh == ["a b c", "b c d"]
    assert rows[1].sh == ["x"]  # short doc → whole-text shingle


def test_minhash_lsh_finds_planted_pairs(docs_df):
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs_df, jaccard_threshold=0.6).collect()
    }
    assert (1, 2) in pairs
    assert (4, 5) in pairs
    assert all(3 not in p and 6 not in p for p in pairs)


def test_ngram_jaccard_exact_values(docs_df):
    rows = ngram_jaccard_pairs(docs_df, group_col="source").collect()
    by_pair = {(r.id_a, r.id_b): r.jaccard for r in rows}
    assert by_pair[(4, 5)] == 1.0
    # 1 vs 2: 20 tokens → 18 trigrams each, 15 shared (3 contain dog/cat)
    assert math.isclose(by_pair[(1, 2)], 15 / 21, rel_tol=1e-9)
    assert by_pair[(1, 3)] == 0.0


def test_winnowing_detects_partial_overlap(spark):
    """The winnowing selling point: a paragraph copied into an
    otherwise-unrelated document still shares fingerprints (whole-doc
    MinHash would dilute the signal below threshold)."""
    from small_etl_spark.llm.dedup import winnowing_pairs

    stolen = (
        "the experimental results demonstrate that distributed query "
        "engines achieve near linear scaling on analytical workloads "
        "when partition pruning and predicate pushdown are effective"
    )
    docs = spark.createDataFrame(
        [
            (1, f"introduction to cooking pasta at home . {stolen} . "
                "finally season generously and serve immediately with cheese"),
            (2, f"notes on medieval architecture and cathedrals . {stolen} . "
                "flying buttresses distribute lateral loads to the ground"),
            (3, "unrelated text about gardening tomatoes in raised beds "
                "with drip irrigation and weekly fertilizer schedules"),
        ],
        ["doc_id", "text"],
    )
    pairs = {(r.id_a, r.id_b): r.shared_fp
             for r in winnowing_pairs(docs, min_shared=2).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert all(3 not in p for p in pairs)


def test_winnowing_guarantee_and_edges(spark):
    """Schleimer et al. guarantee: identical docs share every
    fingerprint; docs shorter than k tokens still fingerprint."""
    from small_etl_spark.llm.dedup import winnow_fingerprints

    df = spark.createDataFrame(
        [("a b c d e f g h i j",), ("a b c d e f g h i j",), ("hi",), ("",)],
        ["text"],
    )
    rows = df.select(winnow_fingerprints("text", k=5, w=4).alias("f")).collect()
    assert rows[0].f == rows[1].f and len(rows[0].f) >= 1
    assert len(rows[2].f) == 1  # short doc → one whole-text gram
    assert len(rows[3].f) == 1  # empty doc → md5("") fingerprint


def test_ngram_contamination_planted(spark):
    """A training doc embedding a benchmark question verbatim is
    flagged; clean docs are not."""
    from small_etl_spark.llm.dedup import ngram_contamination

    question = (
        "what is the capital of the country directly north of the "
        "alps bordering both france and austria"
    )
    docs = spark.createDataFrame(
        [
            (100, f"trivia collection for kids . {question} . answers below"),
            (101, "a clean document about cooking rice with no benchmark text"),
        ],
        ["doc_id", "text"],
    )
    probes = spark.createDataFrame(
        [(1, question), (2, "name every prime number between ninety and "
                            "one hundred twenty in ascending order")],
        ["probe_id", "text"],
    )
    hits = {(r.doc_id, r.probe_id): r.n_shared
            for r in ngram_contamination(docs, probes, n=8).collect()}
    assert any(k[0] == 100 and k[1] == 1 for k in hits)
    assert all(k[0] != 101 for k in hits)


def test_repetition_stats_detects_loops(spark):
    from small_etl_spark.llm.textstats import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam spam spam"),
            (2, "a varied sentence with mostly unique words appearing once"),
            (3, "line one\nline one\nline one\nline two"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in repetition_stats(docs, gram_n=2).collect()}
    assert rows[1].top_gram_fraction == 1.0  # every 2-gram is "spam spam"
    assert rows[2].top_gram_fraction < 0.3
    assert rows[3].dup_line_fraction == 0.5  # 2 of 4 lines are repeats
    assert rows[2].dup_line_fraction == 0.0


def test_chunk_documents_stride_and_overlap(spark):
    from small_etl_spark.llm.chunking import chunk_documents

    text = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame([(1, text), (2, "short doc"), (3, "")],
                               ["doc_id", "text"])
    rows = chunk_documents(df, chunk_tokens=40, overlap=10).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc1: 100 tokens, step 30 → ceil(90/30)=3 chunks: [0:40],[30:70],[60:100]
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    assert [r.n_tokens for r in c1] == [40, 40, 40]
    assert c1[0].chunk_text.split()[30:] == c1[1].chunk_text.split()[:10]  # overlap
    assert c1[1].chunk_text.split()[-1] == "w69"
    assert c1[2].chunk_text.split()[-1] == "w99"
    # short + empty docs each yield exactly one chunk
    assert len(by_doc[2]) == 1 and by_doc[2][0].n_tokens == 2
    assert len(by_doc[3]) == 1 and by_doc[3][0].n_tokens == 0

    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=10, overlap=10)


def test_redact_pii_planted(spark):
    from small_etl_spark.functions.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "contact john.doe+spam@mail.example.co for info"),
            (2, "server at 192.168.10.250 responded"),
            (3, "call +1 (415) 555-0199 today"),
            (4, "version 2.5 of the 3 little pigs"),  # must NOT redact
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.text for r in redact_pii(df, ["text"]).collect()}
    assert got[1] == "contact <EMAIL> for info"
    assert got[2] == "server at <IP> responded"
    assert got[3] == "call <PHONE> today"
    assert got[4] == "version 2.5 of the 3 little pigs"


def test_quantized_cosine_fidelity(spark):
    """Dequantized int8 vectors preserve cosine similarity to ~1%."""
    from small_etl_spark.llm.similarity import (
        cosine_sim,
        dequantize,
        quantize_embeddings,
    )
    from small_etl_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings").limit(100)
    q = quantize_embeddings(emb)
    errs = q.select(
        F.abs(
            cosine_sim("embedding", dequantize("q_embedding", "q_scale"))
            - cosine_sim("embedding", "embedding")
        ).alias("e")
    ).agg(F.max("e")).collect()[0][0]
    assert errs < 0.02


def test_pack_sequences_invariants(spark):
    from small_etl_spark.llm.chunking import pack_sequences

    df = spark.createDataFrame(
        [(i, 100) for i in range(50)], ["doc_id", "n_tokens"]
    )
    rows = sorted(pack_sequences(df, context_len=512).collect(),
                  key=lambda r: r.doc_id)
    # 100-token docs, ctx 512: doc k starts at 100k → pack floor(100k/512)
    for r in rows:
        assert r.pack_id == (r.doc_id * 100) // 512
        assert r.pack_offset == (r.doc_id * 100) % 512
    assert rows[-1].pack_id == 4900 // 512


def test_pack_sequences_ffd_invariants(spark):
    """FFD packing: every doc assigned exactly once; no multi-doc pack
    exceeds the context; fill is materially better than naive; long
    docs land in singleton packs."""
    import random

    from small_etl_spark.llm.chunking import pack_sequences_ffd

    rng = random.Random(7)
    docs = [(i, rng.randint(50, 900)) for i in range(500)] + [(9999, 5000)]
    df = spark.createDataFrame(docs, ["doc_id", "n_tokens"])
    rows = pack_sequences_ffd(df, context_len=2048, num_shards=4).collect()
    assert sorted(r.doc_id for r in rows) == sorted(d for d, _ in docs)
    packs: dict[int, list] = {}
    for r in rows:
        packs.setdefault(r.pack_id, []).append(r)
    for members in packs.values():
        total = sum(r.n_tokens for r in members)
        assert members[0].pack_tokens == total
        if len(members) > 1:
            assert total <= 2048
    # the oversize doc is alone in its pack
    big = next(r for r in rows if r.doc_id == 9999)
    assert len(packs[big.pack_id]) == 1
    # fill factor: FFD on ~475-token-avg docs should pack well past 80%
    multi = [p for p in packs.values() if sum(r.n_tokens for r in p) <= 2048]
    fill = sum(sum(r.n_tokens for r in p) for p in multi) / (2048 * len(multi))
    assert fill > 0.8


def test_hash_split_is_deterministic_and_partition_stable(spark):
    from small_etl_spark.llm.sampling import hash_split

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s1 = {r.doc_id: r.split for r in hash_split(df, val_fraction=0.1).collect()}
    s2 = {
        r.doc_id: r.split
        for r in hash_split(df.repartition(7), val_fraction=0.1).collect()
    }
    assert s1 == s2  # membership survives repartitioning
    val_frac = sum(v == "val" for v in s1.values()) / len(s1)
    assert 0.07 < val_frac < 0.13  # ~10% ± sampling noise
    # growing the corpus never reassigns existing ids
    s3 = {
        r.doc_id: r.split
        for r in hash_split(
            spark.range(0, 4000).withColumnRenamed("id", "doc_id"),
            val_fraction=0.1,
        ).collect()
    }
    assert all(s3[k] == v for k, v in s1.items())


def test_stratified_hash_sample_fractions(spark):
    from small_etl_spark.llm.sampling import stratified_hash_sample

    from pyspark.sql import functions as F

    df = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en")
        .when(F.col("id") % 3 == 1, "de")
        .otherwise("xx")
        .alias("lang"),
    )
    out = stratified_hash_sample(df, "lang", {"en": 0.5, "de": 0.1}).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, 0)
        by_lang[r.lang] += 1
    assert "xx" not in by_lang  # unlisted strata dropped
    assert 0.4 < by_lang["en"] / 1000 < 0.6
    assert 0.05 < by_lang["de"] / 1000 < 0.16


def test_simhash_near_dups(docs_df):
    sh = {
        r.doc_id: r.h
        for r in docs_df.select("doc_id", simhash64("text").alias("h")).collect()
    }
    assert sh[4] == sh[5]  # identical text → identical simhash
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(docs_df, max_hamming=6).collect()}
    assert pairs[(4, 5)] == 0
    assert (1, 2) in pairs
    assert (1, 3) not in pairs


def test_minhash_recall_on_testdata(spark):
    """LSH pairs must recover ≥90% of true jaccard≥0.8 pairs found by
    exact blocked comparison (documents has planted near-dups)."""
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, group_col="source")
        .filter(F.col("jaccard") >= 0.8)
        .collect()
    }
    assert exact, "testdata should contain planted near-dup pairs"
    lsh = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.8).collect()
    }
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.9, f"recall {recall:.2f} over {len(exact)} true pairs"


def test_embedding_near_dup_planted(spark):
    base = [1.0, 0.5, -0.25] + [0.0] * 61
    near = [1.0, 0.5, -0.2] + [0.0] * 61
    far = ([0.0] * 32) + ([1.0] * 32)
    df = spark.createDataFrame(
        [Row(vec_id=1, embedding=base), Row(vec_id=2, embedding=near),
         Row(vec_id=3, embedding=far)]
    )
    pairs = {(r.id_a, r.id_b) for r in embedding_near_dup_pairs(df, cosine_threshold=0.99).collect()}
    assert pairs == {(1, 2)}


def test_cosine_sim_basics(spark):
    df = spark.createDataFrame(
        [Row(a=[1.0, 0.0], b=[1.0, 0.0]), Row(a=[1.0, 0.0], b=[0.0, 1.0]),
         Row(a=[0.0, 0.0], b=[1.0, 1.0])]
    )
    vals = [r.c for r in df.select(cosine_sim("a", "b").alias("c")).collect()]
    assert vals[0] == pytest.approx(1.0)
    assert vals[1] == pytest.approx(0.0)
    assert vals[2] == 0.0  # zero-norm guard


def test_brute_force_topk(spark):
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    queries = emb.filter(F.col("vec_id") < 3)
    out = brute_force_topk(emb, queries, k=5)
    rows = out.collect()
    assert len(rows) == 15  # 3 queries × 5
    for r in rows:
        assert r.query_id != r.vec_id
    # ranks are 1..5 per query, cosine non-increasing
    by_q = {}
    for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r.cosine)
    for sims in by_q.values():
        assert sims == sorted(sims, reverse=True)


def test_ivf_recall_vs_brute_force(spark):
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(emb, queries, k=10).collect()
    }
    assigned, cents = ivf_assign(emb, num_centroids=32)
    approx = {
        (r.query_id, r.vec_id)
        for r in ivf_topk(assigned, cents, queries, k=10, nprobe=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall@10 {recall:.2f}"


def test_near_dedup_filter(docs_df):
    from small_etl_spark.llm.dedup import near_dedup_filter

    pairs = minhash_lsh_pairs(docs_df, jaccard_threshold=0.6)
    kept = near_dedup_filter(docs_df, pairs)
    ids = {r.doc_id for r in kept.collect()}
    # the larger side of each near-dup pair (2 of 1-2, 5 of 4-5) is gone
    assert ids == {1, 3, 4, 6}


def test_connected_components_transitive_chain(spark):
    from small_etl_spark.llm.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], ["doc_id"])
    # chain 1-2-3, pair 5-6, singletons 4 and 7
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], ["id_a", "id_b"]
    )
    comp = {r.doc_id: r.component for r in connected_components(nodes, pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}


def test_ivf_refine_improves_or_matches_recall(spark):
    from small_etl_spark.llm.similarity import ivf_refine

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(emb, queries, k=10).collect()
    }

    def recall(assigned, cents):
        approx = {
            (r.query_id, r.vec_id)
            for r in ivf_topk(assigned, cents, queries, k=10, nprobe=8).collect()
        }
        return len(exact & approx) / len(exact)

    a0, c0 = ivf_assign(emb, num_centroids=32)
    r0 = recall(a0, c0)
    a1, c1 = ivf_refine(a0)
    r1 = recall(a1, c1)
    # Lloyd step must not collapse recall; typically improves it
    assert r1 >= r0 - 0.05, f"refined {r1:.2f} vs initial {r0:.2f}"


def test_vectorized_topk_matches_expression_topk(spark):
    from small_etl_spark.llm.similarity import brute_force_topk_vectorized

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    queries = emb.filter(F.col("vec_id") < 5)
    a = {
        (r.query_id, r.vec_id, r.rank)
        for r in brute_force_topk(emb, queries, k=10).collect()
    }
    b = {
        (r.query_id, r.vec_id, r.rank)
        for r in brute_force_topk_vectorized(emb, queries, k=10).collect()
    }
    assert a == b


def test_rolling_hash_fingerprint(spark):
    from small_etl_spark.llm.textstats import rolling_hash

    df = spark.createDataFrame(
        [(1, "hello  world"), (2, "Hello World"), (3, "hello worlds"),
         (4, "中文 文本")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.h
           for r in df.select("doc_id", rolling_hash("text").alias("h")).collect()}
    # normalization: case + whitespace collapse -> same key
    assert got[1] == got[2]
    assert got[1] != got[3]
    # matches the reference fold computed in plain Python
    expect = 0
    for ch in "hello world":
        expect = (expect * 131 + ord(ch)) % ((1 << 31) - 1)
    assert got[1] == expect
    # non-ASCII codepoints hash (not dropped)
    assert got[4] != 0


def test_cross_doc_segment_dedup_strikes_boilerplate(spark):
    from small_etl_spark.llm.dedup import cross_doc_segment_dedup

    banner = "subscribe to our newsletter"  # 4 words = 2 segments at seg_words=2
    docs = spark.createDataFrame(
        [
            (1, f"{banner} unique alpha text one"),
            (2, f"{banner} unique beta text two"),
            (3, f"{banner} unique gamma text three"),
            (4, "totally original content here"),
            (5, banner),  # all-boilerplate doc → dropped entirely
        ],
        "doc_id long, text string",
    )
    out = cross_doc_segment_dedup(docs, seg_words=2, max_docs=2)
    rows = {r["doc_id"]: r for r in out.collect()}
    # the banner appears in 4 docs > max_docs=2 → struck everywhere
    assert 5 not in rows  # nothing survived
    assert rows[1]["clean_text"] == "unique alpha text one"
    assert rows[1]["n_dropped"] == 2 and rows[1]["n_kept"] == 2
    assert rows[4]["clean_text"] == "totally original content here"
    assert rows[4]["n_dropped"] == 0
    # order preserved on reassembly
    assert rows[2]["clean_text"] == "unique beta text two"


def test_cross_doc_segment_dedup_short_tail_segment(spark):
    from small_etl_spark.llm.dedup import cross_doc_segment_dedup

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in
           cross_doc_segment_dedup(docs, seg_words=2, max_docs=1).collect()}
    assert out[1]["clean_text"] == "a b c d e"  # 3 segments incl. short tail
    assert out[1]["n_kept"] == 3
    assert out[2]["clean_text"] == "x"


def test_bm25_hand_computed(spark):
    import math

    from small_etl_spark.llm.textstats import bm25_scores

    docs = spark.createDataFrame(
        [(1, "cat dog cat"), (2, "dog bird"), (3, "fish fish fish fish")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bm25_scores(docs, ["cat", "dog"]).collect()}
    assert set(out) == {1, 2}  # doc 3 matches nothing
    n, avgdl = 3, 3.0  # dl: 3, 2, 4
    k1, b = 1.2, 0.75

    def score(tf, df, dl):
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        return round(idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl)), 6)

    exp1 = round(
        (round(score(2, 1, 3) * 1e6) + round(score(1, 2, 3) * 1e6)) / 1e6, 6
    )
    assert abs(out[1]["score"] - exp1) < 1e-9
    assert out[1]["n_matched"] == 2
    assert out[2]["n_matched"] == 1
    assert abs(out[2]["score"] - score(1, 2, 2)) < 1e-9


def test_pq_roundtrip_and_recall(spark):
    from small_etl_spark.llm.similarity import pq_encode, pq_topk, pq_train
    from small_etl_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    books = pq_train(emb, m=8, num_centroids=8)
    # codebooks: m subspaces, ≤k dense codes each, centroid dim = D/m
    rows = books.collect()
    assert {r["sub_idx"] for r in rows} == set(range(8))
    assert all(0 <= r["code"] < 8 and len(r["__cent__"]) == 8 for r in rows)

    codes = pq_encode(emb, books, m=8)
    per_vec = codes.groupBy("vec_id").count().collect()
    assert len(per_vec) == n and all(r["count"] == 8 for r in per_vec)

    # determinism: retrain + re-encode = identical codes
    codes2 = pq_encode(emb, pq_train(emb, m=8, num_centroids=8), m=8)
    a = sorted(map(tuple, codes.collect()))
    b = sorted(map(tuple, codes2.collect()))
    assert a == b

    # self-recall sanity: querying with corpus members, ADC must rank
    # the query vector itself into its own top-10 for most queries
    # (its own reconstruction distance is minimal by construction)
    q = emb.filter(F.col("vec_id") < 8)
    top = pq_topk(codes, books, q, k=10, m=8)
    self_hits = top.filter(F.col("query_id") == F.col("vec_id")).count()
    assert self_hits >= 6


class TestIvfPersistence:
    def _emb(self, spark, n=60, d=8):
        import random

        rnd = random.Random(7)
        rows = [
            (i, [rnd.uniform(-1, 1) for _ in range(d)]) for i in range(n)
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def test_persisted_search_identical_and_pruned(self, spark, tmp_path):
        from small_etl_spark.llm.similarity import (
            ivf_assign,
            ivf_save,
            ivf_topk,
            ivf_topk_persisted,
        )

        emb = self._emb(spark)
        assigned, cents = ivf_assign(emb, num_centroids=8)
        path = str(tmp_path / "ivf")
        ivf_save(assigned, cents, path)

        q = emb.filter("vec_id < 4")
        mem = ivf_topk(assigned, cents, q, k=5, nprobe=3)
        per = ivf_topk_persisted(spark, path, q, k=5, nprobe=3)

        a = sorted(map(tuple, mem.collect()))
        b = sorted(map(tuple, per.collect()))
        assert a == b and len(a) > 0

        # the probed-cell IN list must reach the parquet scan as a
        # partition filter: only nprobe-ish of the 8 cell dirs are read
        plan = per._jdf.queryExecution().executedPlan().toString()
        scan = [
            ln
            for ln in plan.splitlines()
            if "PartitionFilters" in ln and "cell" in ln
        ]
        assert scan, plan

    def test_load_restores_cell_type(self, spark, tmp_path):
        from small_etl_spark.llm.similarity import (
            ivf_assign,
            ivf_load,
            ivf_save,
        )

        emb = self._emb(spark, n=20)
        assigned, cents = ivf_assign(emb, num_centroids=4)
        path = str(tmp_path / "ivf2")
        ivf_save(assigned, cents, path)
        a2, c2 = ivf_load(spark, path)
        assert dict(a2.dtypes)["cell"] == "bigint"
        assert a2.count() == assigned.count()


class TestInt8Quantization:
    def test_roundtrip_error_bound_and_zero_vec(self, spark):
        import numpy as np

        from small_etl_spark.llm.similarity import (
            dequantize_embeddings_int8,
            quantize_embeddings_int8,
        )

        rows = [
            (0, [0.5, -1.0, 0.25, 0.125]),
            (1, [0.0, 0.0, 0.0, 0.0]),
            (2, [1e-6, -1e-6, 3e-6, 0.0]),
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        qd = quantize_embeddings_int8(df)
        deq = {
            r["vec_id"]: r["embedding"]
            for r in dequantize_embeddings_int8(qd).collect()
        }
        scales = {r["vec_id"]: r["scale"] for r in qd.collect()}
        for vid, vec in rows:
            err = np.max(
                np.abs(np.array(vec) - np.array(deq[vid]))
            )
            assert err <= scales[vid] / 2 + 1e-15, (vid, err)
        # zero vector: scale 0, codes all 0, exact reconstruction
        assert scales[1] == 0.0 and deq[1] == [0.0] * 4
        codes = {r["vec_id"]: r["codes"] for r in qd.collect()}
        assert codes[1] == [0, 0, 0, 0]
        assert max(abs(c) for c in codes[0]) == 127


def test_ivf_assign_l2_metric_routes_by_distance(spark):
    """metric='l2' must assign by Euclidean distance, not cosine: a
    vector collinear with a far centroid but adjacent to a near one
    separates the two metrics."""
    from pyspark.sql import functions as F

    from small_etl_spark.llm.similarity import _assign_cells_vectorized

    # centroids: c1=(1,0) scaled far (10,0); c2=(0,1)
    cents = spark.createDataFrame(
        [(1, [10.0, 0.0]), (2, [0.0, 1.0])], "cell LONG, __cent__ ARRAY<DOUBLE>"
    )
    # v=(1, 0.9): cosine prefers c1 (collinear-ish); L2 prefers c2
    corpus = spark.createDataFrame(
        [(7, [1.0, 0.9])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    cos = _assign_cells_vectorized(
        corpus, cents, "vec_id", "embedding", metric="cosine"
    ).first()
    l2 = _assign_cells_vectorized(
        corpus, cents, "vec_id", "embedding", metric="l2"
    ).first()
    assert cos.cell == 1 and l2.cell == 2


def test_ivfpq_returns_k_and_deterministic(spark):
    from pyspark.sql import functions as F

    from small_etl_spark.llm.similarity import ivfpq_topk
    from small_etl_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    out1 = ivfpq_topk(emb, q, k=5, num_cells=8, nprobe=4, m=8,
                      pq_centroids=8)
    rows1 = sorted((r.query_id, r.vec_id, r.rank) for r in out1.collect())
    assert len(rows1) == 15  # 3 queries x k=5
    assert all(1 <= r[2] <= 5 for r in rows1)
    out2 = ivfpq_topk(emb, q, k=5, num_cells=8, nprobe=4, m=8,
                      pq_centroids=8)
    rows2 = sorted((r.query_id, r.vec_id, r.rank) for r in out2.collect())
    assert rows1 == rows2


def test_ivfpq_persisted_matches_memory_and_prunes(spark, tmp_path):
    from pyspark.sql import functions as F

    from small_etl_spark.llm.similarity import (
        ivfpq_save,
        ivfpq_topk,
        ivfpq_topk_persisted,
    )
    from small_etl_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "ivfpq")
    ivfpq_save(emb, path, num_cells=8, m=8, pq_centroids=8)
    mem = ivfpq_topk(emb, q, k=5, num_cells=8, nprobe=4, m=8,
                     pq_centroids=8)
    per = ivfpq_topk_persisted(spark, path, q, k=5, nprobe=4)
    a = sorted((r.query_id, r.vec_id, r.rank) for r in mem.collect())
    b = sorted((r.query_id, r.vec_id, r.rank) for r in per.collect())
    assert a == b and len(a) == 15
    # codes scan must carry the partition filter (bytes-read story)
    plan = per._jdf.queryExecution().executedPlan().toString()
    assert any(
        "PartitionFilters" in ln and "cell" in ln
        for ln in plan.splitlines()
    )


# ---------------------------------------------------------------------------
# incremental IVF-PQ maintenance (VERDICT r9 item #4)
# ---------------------------------------------------------------------------

def _split_emb(spark, n_delta=100):
    from small_etl_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.filter(F.col("vec_id") < 500 - n_delta)
    delta = emb.filter(F.col("vec_id") >= 500 - n_delta)
    return emb, base, delta


def test_ivfpq_append_equals_reencode_same_geometry(spark, tmp_path):
    """The delta-equivalence contract: save(base) + append(delta)
    probes row-identically to the same geometry re-encoded over the
    grown corpus in one shot (assignment/encoding depend only on the
    frozen centroids+codebooks)."""
    from small_etl_spark.llm.similarity import (
        ivfpq_append,
        ivfpq_reencode,
        ivfpq_save,
        ivfpq_topk_persisted,
    )

    emb, base, delta = _split_emb(spark)
    q = emb.filter(F.col("vec_id") % 97 == 0)
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    for p in (pa, pb):
        ivfpq_save(base, p, num_cells=8, m=8, pq_centroids=8)
    stats = ivfpq_append(spark, pa, delta)
    assert stats["added"] == 100
    assert stats["base_qe"] > 0 and stats["delta_qe"] > 0
    n = ivfpq_reencode(spark, pb, emb)
    assert n == 500
    got_a = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in ivfpq_topk_persisted(spark, pa, q, k=5, nprobe=4)
        .collect()
    )
    got_b = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in ivfpq_topk_persisted(spark, pb, q, k=5, nprobe=4)
        .collect()
    )
    assert got_a == got_b and len(got_a) > 0
    # appended vectors are actually findable: probing a delta vector
    # with full coverage returns itself among the top hits
    codes = spark.read.parquet(pa + "/codes")
    assert codes.filter(F.col("vec_id") == 450).count() == 8  # m rows
    dq = emb.filter(F.col("vec_id") == 450)
    hits = {
        r.vec_id
        for r in ivfpq_topk_persisted(spark, pa, dq, k=5, nprobe=8)
        .collect()
    }
    # appended vectors compete in the probe (PQ quantization means
    # "self" need not rank top-5, but the delta range is reachable)
    assert any(v >= 400 for v in hits)


def test_ivfpq_append_chunked_equals_single(spark, tmp_path):
    from small_etl_spark.llm.similarity import (
        ivfpq_append,
        ivfpq_save,
        ivfpq_topk_persisted,
    )

    emb, base, delta = _split_emb(spark)
    q = emb.filter(F.col("vec_id") % 101 == 0)
    pa, pb = str(tmp_path / "one"), str(tmp_path / "two")
    for p in (pa, pb):
        ivfpq_save(base, p, num_cells=8, m=8, pq_centroids=8)
    ivfpq_append(spark, pa, delta)
    ivfpq_append(spark, pb, delta.filter(F.col("vec_id") % 2 == 0))
    ivfpq_append(spark, pb, delta.filter(F.col("vec_id") % 2 == 1))
    a = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in ivfpq_topk_persisted(spark, pa, q, k=5, nprobe=4)
        .collect()
    )
    b = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in ivfpq_topk_persisted(spark, pb, q, k=5, nprobe=4)
        .collect()
    )
    assert a == b


def test_ivfpq_drift_trigger_fires_on_distribution_shift(
    spark, tmp_path
):
    """Drift contract: an out-of-distribution delta (scaled vectors)
    quantizes measurably worse than the build corpus — qe_ratio
    blows past the retrain threshold; an in-distribution delta does
    not."""
    from small_etl_spark.llm.similarity import ivfpq_append, ivfpq_save

    emb, base, delta = _split_emb(spark)
    p = str(tmp_path / "idx")
    ivfpq_save(base, p, num_cells=8, m=8, pq_centroids=8)
    ok = ivfpq_append(spark, p, delta)
    assert not ok["retrain_recommended"], ok
    shifted = delta.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x * 25.0 + 40.0
        ).alias("embedding"),
    )
    bad = ivfpq_append(spark, p, shifted)
    assert bad["qe_ratio"] > 1.5 and bad["retrain_recommended"], bad
    # the params file carries the running drift record
    import json

    with open(f"{p}/_params.json") as fh:
        params = json.load(fh)
    assert params["appended"] == 200
    assert params["last_qe_ratio"] == pytest.approx(bad["qe_ratio"])


def test_ivfpq_append_cdc_fed(spark, tmp_path):
    """The production wiring: the corpus lives in a versioned table,
    the index builds from v0, and each append batch is exactly the
    INSERT half of the table's CDC feed — the same incremental-probe
    pattern cdc_lsh_probe uses for the LSH index."""
    from small_etl_spark.llm.similarity import (
        ivfpq_append,
        ivfpq_save,
        ivfpq_topk_persisted,
    )
    from small_etl_spark.sinks import versioned as V

    emb, base, delta = _split_emb(spark)
    tbl = str(tmp_path / "corpus")
    V.commit_snapshot(base, tbl, mode="overwrite")
    p = str(tmp_path / "idx")
    ivfpq_save(V.read_snapshot(spark, tbl), p, num_cells=8, m=8,
               pq_centroids=8)
    v0 = V.latest_version(tbl)
    V.commit_snapshot(delta, tbl, mode="append")
    feed = V.table_changes(
        spark, tbl, from_version=v0
    ).filter(F.col("_change_type") == "insert").drop("_change_type")
    stats = ivfpq_append(spark, p, feed)
    assert stats["added"] == 100
    codes = spark.read.parquet(p + "/codes")
    assert codes.filter(F.col("vec_id") == 470).count() == 8  # m rows
    dq = emb.filter(F.col("vec_id") == 470)
    hits = {
        r.vec_id
        for r in ivfpq_topk_persisted(spark, p, dq, k=5, nprobe=8)
        .collect()
    }
    assert any(v >= 400 for v in hits)


def test_ivfpq_delete_tombstones_and_reencode_compaction(
    spark, tmp_path
):
    """MoR deletes on the persisted index: tombstoned ids vanish from
    probes immediately (anti-join, no file rewrite); reencode with
    the shrunken corpus physically drops them and clears tombstones;
    an update = delete + append under a new id."""
    from small_etl_spark.llm.similarity import (
        ivfpq_append,
        ivfpq_delete,
        ivfpq_reencode,
        ivfpq_save,
        ivfpq_topk_persisted,
    )

    emb, base, _delta = _split_emb(spark)
    q = emb.filter(F.col("vec_id") % 97 == 0)
    p = str(tmp_path / "idx")
    ivfpq_save(base, p, num_cells=8, m=8, pq_centroids=8)
    pre = {
        (r.query_id, r.vec_id)
        for r in ivfpq_topk_persisted(spark, p, q, k=5, nprobe=8)
        .collect()
    }
    victims = sorted({v for _, v in pre})[:3]
    assert ivfpq_delete(spark, p, victims) == 3
    post = {
        (r.query_id, r.vec_id)
        for r in ivfpq_topk_persisted(spark, p, q, k=5, nprobe=8)
        .collect()
    }
    assert not any(v in victims for _, v in post)
    assert len(post) == len(pre)  # k still filled by runners-up
    # physical compaction: reencode the corpus minus the victims
    alive = base.filter(~F.col("vec_id").isin(victims))
    n = ivfpq_reencode(spark, p, alive)
    assert n == alive.count()
    import os

    assert not os.path.isdir(os.path.join(p, "tombstones"))
    codes = spark.read.parquet(p + "/codes")
    assert codes.filter(F.col("vec_id").isin(victims)).count() == 0
    post2 = {
        (r.query_id, r.vec_id)
        for r in ivfpq_topk_persisted(spark, p, q, k=5, nprobe=8)
        .collect()
    }
    assert post2 == post
    # update = delete + append under a new id
    upd = base.filter(F.col("vec_id") == 7).select(
        (F.col("vec_id") + 9000).alias("vec_id"), "embedding"
    )
    ivfpq_delete(spark, p, [7])
    ivfpq_append(spark, p, upd)
    ids = {
        r.vec_id
        for r in ivfpq_topk_persisted(
            spark, p, emb.filter(F.col("vec_id") == 7), k=50, nprobe=8
        ).collect()
    }
    assert 7 not in ids and 9007 in ids


def test_ivfpq_reencode_never_resurrects_tombstoned_ids(
    spark, tmp_path
):
    """A caller that passes the FULL original corpus (tombstoned ids
    included) to ivfpq_reencode must not silently undo deletes: the
    reencode anti-joins the live tombstone set before encoding
    (ADVICE r10). Deletes survive compaction."""
    from small_etl_spark.llm.similarity import (
        ivfpq_delete,
        ivfpq_reencode,
        ivfpq_save,
        ivfpq_topk_persisted,
    )

    emb, base, _delta = _split_emb(spark)
    p = str(tmp_path / "idx")
    ivfpq_save(base, p, num_cells=8, m=8, pq_centroids=8)
    victims = [r.vec_id for r in base.limit(3).collect()]
    assert ivfpq_delete(spark, p, victims) == 3
    # the careless full-corpus reencode (NOT base minus victims)
    n = ivfpq_reencode(spark, p, base)
    assert n == base.count() - 3, "tombstoned ids were re-encoded"
    codes = spark.read.parquet(p + "/codes")
    assert codes.filter(F.col("vec_id").isin(victims)).count() == 0
    import os

    assert not os.path.isdir(os.path.join(p, "tombstones"))
    q = emb.limit(5)
    hits = {
        r.vec_id
        for r in ivfpq_topk_persisted(spark, p, q, k=50, nprobe=8)
        .collect()
    }
    assert not (hits & set(victims)), "deleted vectors resurrected"


def test_ivfpq_refine_reaches_probe_ceiling(spark, tmp_path):
    """Exact re-rank refinement (ivfpq_refine_topk, VERDICT r10 #5):
    at unchanged nprobe the refined top-k must (a) beat raw ADC
    recall, (b) equal the probed-cells CEILING exactly (every true
    neighbor the probe reaches is recovered — quantization error
    costs nothing once re-ranked), and (c) carry exact L2 distances
    (matching brute force for shared hits)."""
    from small_etl_spark.llm.similarity import (
        brute_force_topk,
        ivfpq_refine_topk,
        ivfpq_save,
        ivfpq_topk_persisted,
    )
    from small_etl_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    p = str(tmp_path / "idx")
    ivfpq_save(emb, p, num_cells=16, m=8, pq_centroids=16)
    bf = brute_force_topk(emb, q, k=10)
    bf_set = {(r.query_id, r.vec_id) for r in bf.collect()}
    adc = {
        (r.query_id, r.vec_id)
        for r in ivfpq_topk_persisted(spark, p, q, k=10, nprobe=4)
        .collect()
    }
    ref_rows = ivfpq_refine_topk(
        spark, p, q, emb, k=10, nprobe=4, refine_factor=50
    ).collect()
    ref = {(r.query_id, r.vec_id) for r in ref_rows}
    ceiling = {
        (r.query_id, r.vec_id)
        for r in ivfpq_topk_persisted(
            spark, p, q, k=emb.count(), nprobe=4
        ).collect()
    }
    r_ref = len(ref & bf_set) / len(bf_set)
    r_adc = len(adc & bf_set) / len(bf_set)
    r_ceil = len(ceiling & bf_set) / len(bf_set)
    assert r_ref > r_adc, (r_ref, r_adc)
    assert r_ref == pytest.approx(r_ceil), "refine must hit the ceiling"
    # exact distances: shared hits carry the brute-force L2 (cosine
    # path differs; compare L2 recomputed driver-side)
    import math

    vecs = {
        r.vec_id: r.embedding
        for r in emb.filter(F.col("vec_id") < 600).collect()
    }
    qv = {r.vec_id: r.embedding for r in q.collect()}
    for r in ref_rows[:20]:
        want = sum(
            (a - b) ** 2 for a, b in zip(qv[r.query_id], vecs[r.vec_id])
        )
        assert math.isclose(r.dist, want, rel_tol=1e-9)


def test_ivfpq_refine_honors_tombstones_and_bounds_io(
    spark, tmp_path
):
    """Refine must not resurrect deleted ids (the ADC stage anti-
    joins tombstones before the re-rank) and must touch the float
    corpus for at most n_queries x C candidate rows."""
    from small_etl_spark.llm.similarity import (
        ivfpq_delete,
        ivfpq_refine_topk,
        ivfpq_save,
        ivfpq_topk_persisted,
    )
    from small_etl_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 4)
    p = str(tmp_path / "idx")
    ivfpq_save(emb, p, num_cells=8, m=8, pq_centroids=8)
    pre = ivfpq_refine_topk(
        spark, p, q, emb, k=5, nprobe=8, refine_factor=10
    ).collect()
    victims = sorted({r.vec_id for r in pre})[:3]
    ivfpq_delete(spark, p, victims)
    post = ivfpq_refine_topk(
        spark, p, q, emb, k=5, nprobe=8, refine_factor=10
    ).collect()
    assert not any(r.vec_id in victims for r in post)
    assert len(post) == len(pre), "k still filled by runners-up"
    # I/O bound: the candidate stage yields <= n_queries * C rows
    n_cand = ivfpq_topk_persisted(
        spark, p, q, k=10 * 5, nprobe=8
    ).count()
    assert n_cand <= 4 * 10 * 5


def test_python_kernel_width_is_bytes_adaptive(spark):
    """Round-12 pin: ensure_parallelism(bytes_per_task=…) sizes the
    repartition by input bytes (few fat batches for tiny inputs, full
    defaultParallelism once bytes/task exceeds the cluster width), and
    the vectorized top-k result is identical at any width."""
    from small_etl_spark.llm.util import (
        PY_KERNEL_BYTES_PER_TASK,
        ensure_parallelism,
    )
    from small_etl_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    narrow = ensure_parallelism(
        emb, bytes_per_task=PY_KERNEL_BYTES_PER_TASK
    )
    wide = ensure_parallelism(emb)
    # sf0.001 embeddings are ~KBs: the python-kernel width must be the
    # 2-task floor while the JVM width is full defaultParallelism
    assert narrow.rdd.getNumPartitions() == 2
    assert wide.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism

    q = emb.filter(F.col("vec_id") < 4)
    a = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in brute_force_topk(emb, q, k=5).collect()
    )
    from small_etl_spark.llm.similarity import brute_force_topk_vectorized

    b = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in brute_force_topk_vectorized(emb, q, k=5).collect()
    )
    assert a == b

def test_keyed_parallelism_reuses_window_exchange(spark):
    """Round-12 pin: ensure_parallelism(key_cols=[k]) on a split-starved
    scan hash-partitions by k, the downstream window REUSES that single
    exchange (no second Exchange, no map-side Sort in the scan stage),
    and the result is identical to the plain window form."""
    from pyspark.sql import Window

    from small_etl_spark.llm.util import ensure_parallelism
    from small_etl_spark.sources.tables import load_table

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_linenumber").asc()
    )
    plain = li.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 2)
    keyed = (
        ensure_parallelism(li, key_cols=["l_orderkey"])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
    )
    plan = keyed._jdf.queryExecution().executedPlan().treeString()
    # exactly one exchange, keyed, and the scan stage below it is sort-free
    assert plan.count("Exchange") == 1
    assert "REPARTITION_BY_COL" in plan
    # the only Sort sits ABOVE the exchange (post-shuffle side): in the
    # tree string parents print first, so Sort must appear before
    # Exchange, and nothing between Exchange and FileScan may sort
    assert plan.index("Sort") < plan.index("Exchange")
    assert "Sort" not in plan.split("Exchange", 1)[1]
    assert plain.exceptAll(keyed).count() == 0
    assert keyed.exceptAll(plain).count() == 0
