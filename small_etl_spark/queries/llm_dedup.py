"""Dedup-at-scale: n-gram Jaccard, winnowing, MinHash-LSH, SimHash, decontamination, chunking/packing, PII, corpus profiling, quality funnels."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from small_etl_spark.queries._registry import register
from small_etl_spark.queries.text_quality import _stopword_sql
from small_etl_spark.llm import textstats
from small_etl_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# North-star dedup-at-scale + similarity search (documents / embeddings)
# --------------------------------------------------------------------------


@register(
    "ngram_jaccard_pairs",
    r"""
    WITH t AS (
      SELECT source AS g, doc_id AS id,
             regexp_extract_all(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
               '[A-Za-z0-9_]+') AS toks
      FROM documents
    ), s AS (
      SELECT g, id,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            for i in range(1, greatest(len(toks)-2, 1)+1)]) AS sh
      FROM t
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
    FROM s a JOIN s b ON a.g = b.g AND a.id < b.id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
    """,
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs, blocked on source
    (llm.dedup.ngram_jaccard_pairs). Integer-ratio doubles are exactly
    rounded in IEEE → bit-identical across engines, so this is the
    oracle-checked twin of the probabilistic MinHash path."""
    from small_etl_spark.llm.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, group_col="source", min_jaccard=0.5)


@register(
    "jaccard_prefix_filter",
    r"""
    WITH t AS (
      SELECT doc_id AS id,
             regexp_extract_all(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
               '[A-Za-z0-9_]+') AS toks
      FROM documents
    ), s AS (
      SELECT id,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            for i in range(1, greatest(len(toks)-2, 1)+1)]) AS sh
      FROM t
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
    FROM s a JOIN s b ON a.id < b.id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
    """,
)
def q_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtering set-similarity self-join
    (llm.dedup.prefix_filter_jaccard_pairs): EXACT corpus-wide Jaccard
    ≥ 0.5 pairs with candidates generated only from rarity-ordered
    shingle prefixes (PPJoin bound) — recall 1.0 by construction, so
    the oracle is the full brute-force all-pairs join with NO blocking
    key. The deterministic scale path where minhash_lsh_dedup is the
    probabilistic one."""
    from small_etl_spark.llm.dedup import prefix_filter_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return prefix_filter_jaccard_pairs(docs, threshold=0.5)


@register(
    "winnow_fingerprint_stats",
    """
    WITH t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[A-Za-z0-9_]+') AS toks
      FROM documents
    ), g AS (
      SELECT doc_id,
             [md5(array_to_string(toks[i:i+4], ' '))
              for i in range(1, greatest(len(toks)-4, 1)+1)] AS hashes
      FROM t
    ), w AS (
      SELECT doc_id,
             list_sort(list_distinct(
               [list_min(hashes[i:i+3])
                for i in range(1, greatest(len(hashes)-3, 1)+1)])) AS fps
      FROM g
    )
    SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp, fps[1] AS fp_min
    FROM w
    """,
)
def q_winnow_fingerprint_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (k=5-gram, w=4 windows) per document —
    the md5-hex fingerprint minima match DuckDB's bit-for-bit, so the
    whole local-fingerprinting pipeline is oracle-exact. Map-only."""
    from small_etl_spark.llm.dedup import _ensure_parallelism, winnow_fingerprints

    docs = _ensure_parallelism(load_table(spark, sf_dir, "documents"))
    fps = winnow_fingerprints("text", k=5, w=4)
    return docs.select(
        "doc_id",
        F.size(fps).cast("bigint").alias("n_fp"),
        F.get(fps, 0).alias("fp_min"),
    )


@register(
    "winnowing_pairs",
    """
    WITH t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[A-Za-z0-9_]+') AS toks
      FROM documents
    ), g AS (
      SELECT doc_id,
             [md5(array_to_string(toks[i:i+4], ' '))
              for i in range(1, greatest(len(toks)-4, 1)+1)] AS hashes
      FROM t
    ), fp AS (
      SELECT doc_id AS id, unnest(list_distinct(
               [list_min(hashes[i:i+3])
                for i in range(1, greatest(len(hashes)-3, 1)+1)])) AS f
      FROM g
    ), rare AS (
      SELECT f FROM fp GROUP BY f HAVING COUNT(*) <= 20
    ), slim AS (
      SELECT fp.id, fp.f FROM fp JOIN rare USING (f)
    )
    SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS shared_fp
    FROM slim a JOIN slim b ON a.f = b.f AND a.id < b.id
    GROUP BY a.id, b.id
    HAVING COUNT(*) >= 2
    """,
)
def q_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-overlap pairs via shared winnowing fingerprints —
    detects copied passages whole-doc MinHash dilutes. Equi-joins on
    fingerprint value only (hot fingerprints dropped at df>20), so no
    all-pairs stage exists at any scale."""
    from small_etl_spark.llm.dedup import winnowing_pairs

    docs = load_table(spark, sf_dir, "documents")
    return winnowing_pairs(docs, k=5, w=4, min_shared=2, max_df=20)


@register(
    "train_val_split",
    """
    SELECT doc_id, lang,
           CASE WHEN substr(md5(concat_ws('|', 'split-v1',
                                          CAST(doc_id AS VARCHAR))), 1, 4)
                     < '1999'
                THEN 'val' ELSE 'train' END AS split
    FROM documents
    """,
)
def q_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% val carve-out via 16-bit md5 bucketing
    (llm.sampling.hash_split): reproducible across engines, partition
    counts, and corpus growth — unlike seeded df.sample. Map-only.
    0.1 × 2^16 = 0x1999."""
    from small_etl_spark.llm.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    return hash_split(docs, val_fraction=0.1).select("doc_id", "lang", "split")


@register(
    "stratified_sample_docs",
    """
    SELECT doc_id, lang
    FROM documents
    WHERE substr(md5(concat_ws('|', 'sample-v1',
                               CAST(doc_id AS VARCHAR))), 1, 4)
          < CASE lang WHEN 'en' THEN '4000'
                      WHEN 'de' THEN 'cccd'
                      WHEN 'zh' THEN '8000'
                      ELSE '0000' END
    """,
)
def q_stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus rebalancing: downsample the
    dominant language (en→25%), keep most of the tail (de→80%,
    zh→50%), drop the rest — a pure pushed-down filter, no shuffle
    (llm.sampling.stratified_hash_sample)."""
    from small_etl_spark.llm.sampling import stratified_hash_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_hash_sample(
        docs, "lang", {"en": 0.25, "de": 0.8, "zh": 0.5}
    ).select("doc_id", "lang")


@register(
    "corpus_clean",
    rf"""
    WITH m AS (
      SELECT doc_id, text,
             regexp_extract_all(text, '[A-Za-z0-9_]+') AS toks,
             length(text) AS n_chars,
             length(regexp_replace(text, '[A-Za-z0-9_\s]', '', 'g')) AS n_sym,
             {{en_hits}} AS en_hits,
             {{es_hits}} AS es_hits,
             {{fr_hits}} AS fr_hits,
             {{de_hits}} AS de_hits
      FROM documents
    ), f AS (
      SELECT doc_id, text,
             (len(toks) BETWEEN 20 AND 100000
              AND CASE WHEN len(toks) > 0 THEN
                    CAST(list_sum(list_transform(toks, t -> length(t)))
                         AS DOUBLE) / len(toks) BETWEEN 3.0 AND 10.0
                  ELSE FALSE END
              AND CASE WHEN n_chars > 0
                       THEN CAST(n_sym AS DOUBLE)/n_chars <= 0.3 ELSE TRUE END
              AND en_hits >= 2) AS gopher_keep,
             (en_hits >= es_hits AND en_hits >= fr_hits
              AND en_hits >= de_hits AND en_hits > 0) AS is_en
      FROM m
    )
    SELECT min(doc_id) AS doc_id,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
           COUNT(*) AS n_copies
    FROM f
    WHERE gopher_keep AND is_en
    GROUP BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
    """.format(
        en_hits=_stopword_sql("en"),
        es_hits=_stopword_sql("es"),
        fr_hits=_stopword_sql("fr"),
        de_hits=_stopword_sql("de"),
    ),
)
def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus cleaning, the composed training-data recipe:
    Gopher quality gates AND English lang-ID AND exact dedup (first
    doc per content fingerprint wins) in ONE plan — the filters fuse
    into the scan's map stage, so the only shuffle is the final
    fingerprint groupBy. Composes textstats.gopher_quality_flags,
    lang_id, and fingerprint unchanged."""
    from small_etl_spark.llm.textstats import (
        fingerprint,
        gopher_quality_flags,
        lang_id,
    )

    docs = load_table(spark, sf_dir, "documents")
    kept = (
        gopher_quality_flags(docs)
        .filter(F.col("gopher_keep") & (lang_id("text") == "en"))
    )
    return (
        kept.groupBy(fingerprint("text").alias("fingerprint"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("doc_id", "fingerprint", "n_copies")
    )


@register(
    "repetition_stats",
    """
    WITH l AS (
      SELECT doc_id,
             list_filter(list_transform(string_split(text, chr(10)),
                                        s -> trim(s)), s -> s <> '') AS lines
      FROM documents
    ), dl AS (
      SELECT doc_id,
             CASE WHEN len(lines) > 0
                  THEN CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
                       / len(lines)
                  ELSE 0.0 END AS dup_line_fraction
      FROM l
    ), t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[A-Za-z0-9_]+') AS toks
      FROM documents
    ), g AS (
      SELECT doc_id, unnest([array_to_string(toks[i:i+1], ' ')
                             for i in range(1, greatest(len(toks)-1, 1)+1)]) AS gram
      FROM t
    ), pg AS (
      SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, gram
    ), tg AS (
      SELECT doc_id, CAST(MAX(cnt) AS DOUBLE)/CAST(SUM(cnt) AS DOUBLE)
               AS top_gram_fraction
      FROM pg GROUP BY doc_id
    )
    SELECT dl.doc_id, dup_line_fraction, top_gram_fraction
    FROM dl JOIN tg USING (doc_id)
    """,
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals (llm.textstats.repetition_stats):
    duplicate-line fraction + top-2-gram share per doc. The tf-shaped
    per-(doc,gram) shuffle is the only exchange."""
    from small_etl_spark.llm.textstats import repetition_stats

    docs = load_table(spark, sf_dir, "documents")
    return repetition_stats(docs, gram_n=2)


@register(
    "decontaminate_docs",
    """
    WITH d AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[A-Za-z0-9_]+') AS toks
      FROM documents
    ), dg AS (
      SELECT doc_id, unnest(list_distinct(
               [array_to_string(toks[i:i+7], ' ')
                for i in range(1, greatest(len(toks)-7, 1)+1)])) AS gram
      FROM d
    ), pg AS (
      SELECT doc_id AS probe_id, gram FROM dg WHERE probe_id < 5
    )
    SELECT dg.doc_id, pg.probe_id, COUNT(*) AS n_shared
    FROM dg JOIN pg USING (gram)
    GROUP BY dg.doc_id, pg.probe_id
    """,
)
def q_decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (llm.dedup.ngram_contamination):
    training docs sharing ≥1 distinct 8-gram with a probe set (first
    5 docs stand in for an eval suite). Equi-join on the gram only —
    the GPT-3-style 13-gram filter shape at any corpus size."""
    from small_etl_spark.llm.dedup import ngram_contamination

    docs = load_table(spark, sf_dir, "documents")
    probes = docs.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("probe_id"), "text"
    )
    return ngram_contamination(docs, probes, n=8, min_overlap=1)


@register(
    "chunk_documents",
    """
    WITH t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[A-Za-z0-9_]+') AS toks
      FROM documents
    ), c AS (
      SELECT doc_id,
             unnest([{'idx': i,
                      'txt': array_to_string(toks[i*56+1 : i*56+64], ' ')}
                     for i in range(0, greatest(CAST(floor(
                         (greatest(len(toks)-8, 1)+55)/56) AS INT), 1))]) AS u
      FROM t
    )
    SELECT doc_id, CAST(u.idx AS INT) AS chunk_idx, u.txt AS chunk_text,
           CAST(len(regexp_extract_all(u.txt, '[A-Za-z0-9_]+')) AS BIGINT)
             AS n_tokens
    FROM c
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking, 64 tokens / 8 overlap
    (llm.chunking.chunk_documents): strided windows + posexplode, one
    map-only pass — the shape a 100 TB pre-training tokenize step
    wants."""
    from small_etl_spark.llm.chunking import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=64, overlap=8)


@register(
    "redact_pii",
    r"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                 '<EMAIL>', 'g'),
               '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
             '\+?\d[\d\s().-]{7,}\d', '<PHONE>', 'g') AS text
    FROM documents
    """,
)
def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (functions.text.redact_pii): emails/IPv4s/phone-shaped
    runs → typed placeholders, chained codegen'd regexp_replace that
    fuses into the scan stage."""
    from small_etl_spark.functions.text import redact_pii

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return redact_pii(docs, ["text"])


@register(
    "quantize_embeddings",
    """
    WITH s AS (
      SELECT vec_id, embedding,
             greatest(list_max(list_transform(embedding,
                      x -> abs(CAST(x AS DOUBLE)))), 1e-12) AS amax
      FROM embeddings
    ), q AS (
      SELECT vec_id, embedding,
             CAST(amax/127.0 AS DOUBLE) AS q_scale,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE)/amax*127) AS INT)) AS qv
      FROM s
    )
    SELECT vec_id, q_scale,
           CAST(list_sum(qv) AS BIGINT) AS q_sum,
           round(list_max(list_transform(range(1, len(qv)+1),
                 i -> abs(CAST(embedding[i] AS DOUBLE) - qv[i]*q_scale))), 6)
             AS max_err
    FROM q
    """,
)
def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar quantization + per-vector reconstruction error
    (llm.similarity.quantize_embeddings): the 4× storage/IO lever for
    vector indexes, oracle-exact through double-forced arithmetic."""
    from small_etl_spark.llm.similarity import quantize_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    qdf = quantize_embeddings(emb)
    err = F.array_max(
        F.zip_with(
            F.col("embedding"),
            F.col("q_embedding"),
            lambda x, q: F.abs(
                x.cast("double") - q.cast("double") * F.col("q_scale")
            ),
        )
    )
    q_sum = F.aggregate(
        F.col("q_embedding"), F.lit(0).cast("bigint"), lambda acc, x: acc + x
    )
    return qdf.select(
        "vec_id",
        "q_scale",
        q_sum.alias("q_sum"),
        F.round(err, 6).alias("max_err"),
    )


@register(
    "pack_sequences",
    """
    WITH n AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '[A-Za-z0-9_]+'))
                  AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id), 0) - n_tokens
               AS before
      FROM n
    )
    SELECT doc_id, n_tokens,
           CAST(floor(CAST(before AS DOUBLE)/2048) AS BIGINT) AS pack_id,
           CAST(before % 2048 AS BIGINT) AS pack_offset
    FROM c
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-cut sequence packing at context 2048
    (llm.chunking.pack_sequences): one window cumsum assigns every doc
    a pack id + offset. At 100 TB partition the window by shard hash
    so no global sort exists."""
    from small_etl_spark.llm.chunking import pack_sequences
    from small_etl_spark.llm.textstats import token_count

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.lower(F.col("text"))).cast("bigint").alias("n_tokens")
    )
    return pack_sequences(docs, context_len=2048)


@register(
    "stream_interval_join",
    """
    SELECT c.user_id,
           CAST(floor(epoch(c.ts)) AS BIGINT) AS l_ts,
           CAST(floor(epoch(v.ts)) AS BIGINT) AS r_ts,
           c.value AS l_value, v.value AS r_value
    FROM events c JOIN events v
      ON c.user_id = v.user_id
     AND c.event_type = 'click' AND v.event_type = 'view'
     AND v.ts >= c.ts - INTERVAL 30 MINUTE AND v.ts <= c.ts
    """,
)
def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL stream-stream interval join under the oracle gate
    (click-attribution shape): both sides are watermarked readStream
    file sources, the join state is watermark-bounded, availableNow
    drains to a memory sink, and the drained table must hash-match
    the plain batch range join DuckDB runs."""
    import shutil
    import tempfile
    import uuid

    from small_etl_spark.streaming.windows import (
        read_events_stream,
        run_to_memory_sink,
        stream_stream_interval_join,
    )

    stream_dir = tempfile.mkdtemp(prefix="events_ssj_")
    shutil.copy(f"{sf_dir}/events.parquet", stream_dir)
    ev = read_events_stream(spark, stream_dir)
    joined = stream_stream_interval_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "view"),
    )
    sink = f"ssj_{uuid.uuid4().hex[:8]}"
    run_to_memory_sink(joined, sink, output_mode="append")
    return spark.table(sink)


@register(
    "upsert_orders",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus,
           o_totalprice, CAST(epoch(o_orderdate) AS BIGINT) AS o_orderdate,
           o_orderpriority
    FROM orders WHERE o_orderkey % 100 <> 0
    UNION ALL
    SELECT o_orderkey, o_custkey, 'P' AS o_orderstatus,
           CAST(CAST(round(o_totalprice*100) AS BIGINT)*2 AS DOUBLE)/100.0
             AS o_totalprice,
           CAST(epoch(o_orderdate) AS BIGINT) AS o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 100 = 0
    """,
)
def q_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-1 merge (operators.joins.upsert): a delta of repriced
    orders replaces matched keys, everything else passes through —
    LeftAnti + unionByName, the broadcast-anti MERGE shape."""
    from small_etl_spark.operators.joins import upsert

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.col("o_orderdate").cast("timestamp").cast("long").alias("o_orderdate"),
        "o_orderpriority",
    )
    updates = o.filter(F.col("o_orderkey") % 100 == 0).withColumns(
        {
            "o_orderstatus": F.lit("P"),
            "o_totalprice": (
                F.round(F.col("o_totalprice") * 100).cast("bigint") * 2
            ).cast("double") / 100.0,
        }
    )
    return upsert(o, updates, "o_orderkey")


@register("pack_sequences_ffd", None)
def q_pack_sequences_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing whole-document packing, sharded FFD via
    applyInPandas (llm.chunking.pack_sequences_ffd). Sequential
    algorithm per shard → rows-only check; invariants (no multi-doc
    pack over context, ≥80% fill, singleton oversize) pinned in
    tests/test_llm_similarity.py."""
    from small_etl_spark.llm.chunking import pack_sequences_ffd
    from small_etl_spark.llm.textstats import token_count

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).cast("bigint").alias("n_tokens")
    )
    return pack_sequences_ffd(docs, context_len=2048, num_shards=8)


@register(
    "pack_sequences_ffd_portable",
    r"""
    WITH RECURSIVE base AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+')) AS BIGINT)
               AS n,
             doc_id % 8 AS shard
      FROM documents
    ), ordered AS (
      SELECT doc_id, n, shard,
             row_number() OVER (PARTITION BY shard
                                ORDER BY n DESC, doc_id) AS rn
      FROM base
    ), steps(shard, i, caps, assigns) AS (
      SELECT shard, CAST(0 AS BIGINT), CAST([] AS BIGINT[]),
             CAST([] AS BIGINT[])
      FROM (SELECT DISTINCT shard FROM ordered)
      UNION ALL
      SELECT s.shard, s.i + 1,
             CASE WHEN fit.fidx IS NULL
                  THEN list_append(s.caps, greatest(2048 - o.n, 0))
                  ELSE [CASE WHEN k = fit.fidx THEN s.caps[k] - o.n
                             ELSE s.caps[k] END
                        for k in range(1, len(s.caps) + 1)] END,
             list_append(s.assigns, COALESCE(fit.fidx, len(s.caps) + 1))
      FROM steps s
      JOIN ordered o ON o.shard = s.shard AND o.rn = s.i + 1,
      LATERAL (SELECT list_filter(range(1, len(s.caps) + 1),
                                  x -> s.caps[x] >= o.n)[1] AS fidx) fit
    ), final AS (
      SELECT s.shard, s.assigns FROM steps s
      JOIN (SELECT shard, max(i) AS mi FROM steps GROUP BY shard) m
        ON m.shard = s.shard AND m.mi = s.i
    ), packed AS (
      SELECT o.doc_id, o.n AS n_tokens,
             o.shard * 4294967296 + (f.assigns[o.rn] - 1) AS pack_id
      FROM ordered o JOIN final f ON f.shard = o.shard
    )
    SELECT doc_id, n_tokens, pack_id,
           CAST(SUM(n_tokens) OVER (PARTITION BY pack_id) AS BIGINT)
             AS pack_tokens
    FROM packed
    """,
)
def q_pack_sequences_ffd_portable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-fit-decreasing packing, the PORTABLE twin: shards by
    doc_id % 8 (instead of the bench path's xxhash64) so the DuckDB
    oracle can replay EVERY sequential FFD decision — a recursive CTE
    steps one document at a time per shard, carrying the open-bin
    capacity list as state and picking the first bin that fits
    (lateral list_filter), exactly mirroring the applyInPandas
    kernel's loop. Every doc's pack assignment and every pack's token
    total is value-checked, closing the 'sequential algorithm → not
    SQL-expressible' gap for this op; ``pack_sequences_ffd`` stays
    the hash-sharded scale path with the bin-count contract."""
    from small_etl_spark.llm.chunking import pack_sequences_ffd
    from small_etl_spark.llm.textstats import token_count

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        F.pmod(F.col("doc_id"), F.lit(8)).alias("shard"),
    )
    return pack_sequences_ffd(
        docs, context_len=2048, num_shards=8, shard_col="shard"
    )


@register(
    "ffd_pack_contract",
    r"""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(regexp_extract_all(text, '[A-Za-z0-9_]+')))
                AS BIGINT) AS total_tokens,
           TRUE AS caps_ok, TRUE AS bins_ok
    FROM documents
    """,
)
def q_ffd_pack_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bin-packing quality contract for the sharded-FFD packer
    (llm.chunking.pack_sequences_ffd, context 2048, 8 shards). The
    pack assignment is a sequential per-shard algorithm (not
    SQL-expressible), so the ORACLE CHECKS THE PACKING CONTRACT with
    exact integer arithmetic: every document packed exactly once
    (n_docs / total_tokens computed for real by the oracle), no
    multi-document pack over capacity (``caps_ok``), and the global
    bin count within the FFD guarantee — ≤ ⌈11/9 · OPT_lb⌉ + 1 slack
    bin per shard, OPT_lb = ⌈Σtokens/2048⌉ (``bins_ok``; measured
    17 bins vs lower bound 14 at sf0.01, 136 vs 133 at sf0.1).
    Hash-sharding is deterministic → stable driver row."""
    from small_etl_spark.llm.chunking import pack_sequences_ffd
    from small_etl_spark.llm.textstats import token_count

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).cast("bigint").alias("n_tokens")
    )
    packs = pack_sequences_ffd(docs, context_len=2048, num_shards=8)
    per_pack = packs.groupBy("pack_id").agg(
        F.sum("n_tokens").alias("__pt__"), F.count(F.lit(1)).alias("__pn__")
    )
    lb = F.expr("(total_tokens + 2047) DIV 2048")
    bound = (F.lit(11) * lb + F.lit(8)) / F.lit(9)
    return per_pack.agg(
        F.sum("__pn__").alias("n_docs"),
        F.sum("__pt__").alias("total_tokens"),
        F.min(
            ((F.col("__pt__") <= 2048) | (F.col("__pn__") == 1)).cast("int")
        ).alias("__capmin__"),
        F.count(F.lit(1)).alias("__bins__"),
    ).select(
        "n_docs",
        "total_tokens",
        (F.col("__capmin__") == 1).alias("caps_ok"),
        (F.col("__bins__") <= bound.cast("bigint") + F.lit(8)).alias("bins_ok"),
    )


@register(
    "kmeans_contract",
    """
    SELECT CAST(8 AS BIGINT) AS n_clusters,
           CAST(count(*) AS BIGINT) AS n_vectors,
           TRUE AS mass_ok
    FROM embeddings
    """,
)
def q_kmeans_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering contract for the Lloyd path
    (llm/similarity.py::kmeans_clusters, k=8, 3 iterations): all 8
    clusters non-empty and every corpus vector assigned to exactly
    one cluster (mass conservation) — the vector total is computed
    for real by the oracle. Seeds and assignment are
    hash-deterministic → stable driver row; per-cluster contents are
    pinned by pytest (rows-only ``kmeans_clusters`` carries them)."""
    from small_etl_spark.llm.similarity import kmeans_clusters

    emb = load_table(spark, sf_dir, "embeddings")
    out = kmeans_clusters(emb, k=8, iters=3).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("size").alias("__mass__"),
    )
    tot = emb.agg(F.count(F.lit(1)).alias("n_vectors"))
    return out.crossJoin(tot).select(
        "n_clusters",
        "n_vectors",
        (F.col("__mass__") == F.col("n_vectors")).alias("mass_ok"),
    )


@register(
    "rolling_hash_fingerprint",
    r"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               [CAST(ascii(c) AS BIGINT)
                for c in regexp_extract_all(
                    trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '.')]),
             (acc, c) -> (acc * 131 + c) % 2147483647
           ) AS rhash
    FROM documents
    """,
)
def q_rolling_hash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin–Karp polynomial rolling hash per document
    (llm.textstats.rolling_hash): exact mod-2^31-1 integer fold, so
    the Spark expression and the DuckDB list_reduce produce the same
    31-bit key — the engine-portable budget fingerprint."""
    from small_etl_spark.llm.textstats import rolling_hash

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", rolling_hash("text").alias("rhash"))


@register(
    "near_dup_components",
    r"""
    WITH RECURSIVE t AS (
      SELECT source AS g, doc_id AS id,
             regexp_extract_all(lower(text), '[A-Za-z0-9_]+') AS toks
      FROM documents
    ), s AS (
      SELECT g, id,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            for i in range(1, greatest(len(toks)-2, 1)+1)]) AS sh
      FROM t
    ), pairs AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM s a JOIN s b ON a.g = b.g AND a.id < b.id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ), reach(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.label FROM edges e JOIN reach r ON e.src = r.node
    )
    SELECT node AS doc_id, min(label) AS component FROM reach GROUP BY node
    """,
)
def q_near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over exact near-dup pairs
    (llm.dedup.connected_components): each doc labeled with its
    component's min doc id — the rigorous canonicalization (transitive
    chains collapse). Oracle: recursive-CTE label propagation."""
    from small_etl_spark.llm.dedup import connected_components, ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, group_col="source", min_jaccard=0.8)
    return connected_components(docs, pairs)


@register(
    "leakage_safe_split",
    r"""
    WITH RECURSIVE t AS (
      SELECT source AS g, doc_id AS id,
             regexp_extract_all(lower(text), '[A-Za-z0-9_]+') AS toks
      FROM documents
    ), s AS (
      SELECT g, id,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            for i in range(1, greatest(len(toks)-2, 1)+1)]) AS sh
      FROM t
    ), pairs AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM s a JOIN s b ON a.g = b.g AND a.id < b.id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ), reach(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.label FROM edges e JOIN reach r ON e.src = r.node
    ), comp AS (
      SELECT node AS doc_id, min(label) AS component FROM reach GROUP BY node
    )
    SELECT doc_id, component,
           CASE WHEN substring(
                  md5('split-v1|' || CAST(component AS VARCHAR)), 1, 4
                ) < '3333' THEN 'val' ELSE 'train' END AS split
    FROM comp
    """,
)
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/val split (llm.sampling.leakage_safe_split):
    whole near-duplicate components move to one side, so no val doc has
    a near-copy in train (the eval-contamination leak a per-doc hash
    split commits on ~2·p·(1-p) of every near-dup pair). Oracle replays
    pair finding, the recursive-CTE component closure, AND the salted
    component-hash side assignment; the no-straddling property is
    additionally pinned in pytest."""
    from small_etl_spark.llm.dedup import ngram_jaccard_pairs
    from small_etl_spark.llm.sampling import leakage_safe_split

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, group_col="source", min_jaccard=0.8)
    return leakage_safe_split(docs, pairs, val_fraction=0.2).select(
        "doc_id", "component", "split"
    )


@register("minhash_lsh_dedup", None, headline=True)
def q_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs (llm.dedup.minhash_lsh_pairs):
    shingle → 32-hash signature → 8 bands → bucket join → exact
    Jaccard verify. xxhash64 has no DuckDB twin → rows-only check;
    recall vs the exact path is pinned in tests/test_llm_similarity.py
    and the full pipeline is oracle-checked via the gated
    ``minhash_lsh_dedup_md5`` portable-hash variant."""
    from small_etl_spark.llm.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, jaccard_threshold=0.8).select(
        "id_a", "id_b", "jaccard"
    )


def _minhash_md5_oracle(
    num_hashes: int = 16, bands: int = 4, threshold: float = 0.8
) -> str:
    """Generate the DuckDB twin of the md5-family MinHash-LSH pipeline.

    Same tokenizer/shingles as the ``ngram_jaccard_pairs`` oracle; hash
    i of shingle x is ``md5('i:' || x)`` with lexicographic minima;
    band bucket = md5 of the comma-joined band slice — all functions
    that are bit-identical across Spark and DuckDB.
    """
    rpb = num_hashes // bands
    minima = ",\n             ".join(
        f"list_min(list_transform(sh, x -> md5('{i}:' || x))) AS m{i}"
        for i in range(num_hashes)
    )
    band_rows = "\n      UNION ALL ".join(
        "SELECT id, {b} AS band, md5({concat}) AS bucket FROM m".format(
            b=b,
            concat=" || ',' || ".join(f"m{i}" for i in range(b * rpb, (b + 1) * rpb)),
        )
        for b in range(bands)
    )
    return rf"""
    WITH t AS (
      SELECT doc_id AS id,
             regexp_extract_all(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
               '[A-Za-z0-9_]+') AS toks
      FROM documents
    ), s AS (
      SELECT id,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            for i in range(1, greatest(len(toks)-2, 1)+1)]) AS sh
      FROM t
    ), m AS (
      SELECT id, sh,
             {minima}
      FROM s
    ), banded AS (
      {band_rows}
    ), cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    )
    SELECT c.id_a, c.id_b,
           CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
             AS jaccard
    FROM cand c
    JOIN s sa ON sa.id = c.id_a
    JOIN s sb ON sb.id = c.id_b
    WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
            / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
            >= {threshold}
    """


@register("minhash_lsh_dedup_md5", _minhash_md5_oracle())
def q_minhash_lsh_dedup_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs with the portable md5 hash family
    (llm.dedup.minhash_lsh_pairs, hash_family="md5"): the full
    shingle → signature → band → bucket-join → verify pipeline is
    replayed exactly in DuckDB, so the probabilistic dedup path itself
    is oracle-checked (not just its recall). The xxhash64 twin
    (``minhash_lsh_dedup``) stays the bench/scale path."""
    from small_etl_spark.llm.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs,
        num_hashes=16,
        bands=4,
        jaccard_threshold=0.8,
        hash_family="md5",
    ).select("id_a", "id_b", "jaccard")


@register("simhash_dedup", None)
def q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dup pairs, Hamming ≤ 3, pigeonhole-chunk
    blocking (llm.dedup.simhash_pairs). Rows-only (xxhash64 has no
    DuckDB twin); the full pipeline is oracle-checked via the
    ``simhash_dedup_md5`` portable-hash variant."""
    from small_etl_spark.llm.dedup import simhash_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, max_hamming=3)


def _simhash_md5_oracle(max_hamming: int = 3) -> str:
    """DuckDB twin of the 16-bit md5-family SimHash pipeline: per-token
    16-bit hash from the first 4 md5 hex chars, per-bit majority vote,
    pigeonhole chunk blocking, bit_count Hamming verify."""
    total_bits, chunks = 16, max_hamming + 1
    bits = total_bits // chunks
    mask = (1 << bits) - 1
    bit_sum = " + ".join(
        f"CASE WHEN 2*list_sum(list_transform(th, h -> (h >> {j}) & 1)) > n "
        f"THEN {1 << j} ELSE 0 END"
        for j in range(total_bits)
    )
    band_rows = "\n      UNION ALL ".join(
        f"SELECT id, h, {c} AS chunk, (h >> {c * bits}) & {mask} AS val FROM sh"
        for c in range(chunks)
    )
    return rf"""
    WITH t AS (
      SELECT doc_id AS id,
             regexp_extract_all(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
               '[A-Za-z0-9_]+') AS toks
      FROM documents
    ), hs AS (
      SELECT id,
             list_transform(toks,
               x -> CAST(('0x' || substr(md5(x), 1, 4)) AS BIGINT)) AS th,
             len(toks) AS n
      FROM t
    ), sh AS (
      SELECT id, CAST({bit_sum} AS BIGINT) AS h FROM hs
    ), banded AS (
      {band_rows}
    ), cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b,
             bit_count(xor(a.h, b.h)) AS hamming
      FROM banded a JOIN banded b
        ON a.chunk = b.chunk AND a.val = b.val AND a.id < b.id
    )
    SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
    FROM cand WHERE hamming <= {max_hamming}
    """


@register("simhash_dedup_md5", _simhash_md5_oracle())
def q_simhash_dedup_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit portable-hash SimHash near-dup pairs
    (llm.dedup.simhash_pairs, hash_family="md5"): majority-vote
    signature, pigeonhole blocking, and Hamming verify all replayed
    exactly in DuckDB — the oracle twin of ``simhash_dedup``."""
    from small_etl_spark.llm.dedup import simhash_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, max_hamming=3, hash_family="md5").select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    )


@register(
    "dedup_keep_longest",
    """
    WITH fp AS (
      SELECT doc_id, source, text,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
      FROM documents
    ), r AS (
      SELECT doc_id, source, f,
             row_number() OVER (PARTITION BY f
                                ORDER BY length(text) DESC, doc_id) AS rn
      FROM fp
    )
    SELECT doc_id, source, f AS fingerprint FROM r WHERE rn = 1
    """,
)
def q_dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with keep-longest canonical selection: group docs by
    normalized-content fingerprint, keep the longest original (min
    doc_id tiebreak) — the standard LLM-corpus policy when duplicates
    differ only in truncation/whitespace (first-wins A2/A3 keeps
    arrival order instead). One row_number window over the
    fingerprint shuffle; same shape at 100 TB."""
    from small_etl_spark.llm.textstats import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("f").orderBy(
        F.length("text").desc(), F.col("doc_id").asc()
    )
    return (
        docs.withColumn("f", fingerprint("text"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source", F.col("f").alias("fingerprint"))
    )


@register(
    "value_histogram_events",
    """
    SELECT event_type,
           CAST(floor(value / 50.0) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS sum_value
    FROM events
    WHERE value IS NOT NULL
    GROUP BY 1, 2
    """,
)
def q_value_histogram_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of events.value per event_type (bucket
    width 50): the profiling primitive behind distribution dashboards.
    Pure two-key groupBy — map-side partial agg, one shuffle on
    (event_type, bucket); exact integer-cents sum for cross-engine
    hash parity."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.floor(F.col("value") / 50.0).cast("bigint").alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("double")
                / 100.0
            ).alias("sum_value"),
        )
    )


@register(
    "pii_audit",
    r"""
    SELECT doc_id, source,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(text,
             '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(text,
             '\+?\d[\d\s().-]{7,}\d')) AS BIGINT) AS n_phones
    FROM documents
    """,
)
def q_pii_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII audit counts (llm.pii.pii_counts over the
    canonical ``functions.text.PII_PATTERNS`` — the same patterns the
    ``redact_pii`` scrub query applies): the policy input for
    source-level keep/drop decisions. Map-only regexp_count — fuses
    into the corpus scan, zero shuffles at any scale."""
    from small_etl_spark.llm.pii import pii_counts

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", "source", *pii_counts("text"))


@register(
    "corpus_mix_report",
    r"""
    WITH m AS (
      SELECT source, lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(regexp_extract_all(text, '[A-Za-z0-9_]+')))
                  AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1, 2
    )
    SELECT source, lang, n_docs, n_tokens,
           round(CAST(n_tokens AS DOUBLE)
                 / SUM(n_tokens) OVER (), 6) AS token_share
    FROM m
    """,
)
def q_corpus_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition report: docs + token budget per
    (source, lang) cell and each cell's share of total tokens — the
    table a data-mixing policy (e.g. DoReMi-style reweighting) starts
    from. One groupBy shuffle; the share is a scalar window over the
    tiny aggregate, not the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(textstats.token_count("text").cast("bigint")).alias("n_tokens"),
    )
    total = Window.partitionBy()
    return cells.select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_tokens").cast("double") / F.sum("n_tokens").over(total), 6
        ).alias("token_share"),
    )


@register(
    "dup_cluster_sizes",
    r"""
    WITH RECURSIVE t AS (
      SELECT source AS g, doc_id AS id,
             regexp_extract_all(lower(text), '[A-Za-z0-9_]+') AS toks
      FROM documents
    ), s AS (
      SELECT g, id,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            for i in range(1, greatest(len(toks)-2, 1)+1)]) AS sh
      FROM t
    ), pairs AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM s a JOIN s b ON a.g = b.g AND a.id < b.id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ), reach(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.label FROM edges e JOIN reach r ON e.src = r.node
    ), comp AS (
      SELECT node, min(label) AS component FROM reach GROUP BY node
    ), sizes AS (
      SELECT component, CAST(count(*) AS BIGINT) AS cluster_size FROM comp
      GROUP BY component
    )
    SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
    FROM sizes GROUP BY cluster_size
    """,
)
def q_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size histogram: connected components over the
    exact Jaccard pairs, then (cluster size → number of clusters) —
    the one-glance answer to "how duplicated is this corpus?".
    Aggregates the tiny component table, so it costs the CC pass plus
    two small shuffles."""
    from small_etl_spark.llm.dedup import connected_components, ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, group_col="source", min_jaccard=0.8)
    comp = connected_components(docs, pairs)
    return (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )


@register(
    "quality_funnel",
    r"""
    WITH m AS (
      SELECT doc_id, lang, text,
             len(regexp_extract_all(text, '[A-Za-z0-9_]+')) AS n_toks,
             length(text) AS n_chars,
             length(regexp_replace(text, '[A-Za-z0-9_\s]', '', 'g')) AS n_sym,
             row_number() OVER (
               PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
               ORDER BY doc_id) AS fp_rn
      FROM documents
    ), b AS (
      SELECT lang = 'en' AS ok_lang,
             n_toks BETWEEN 20 AND 100000 AS ok_len,
             CASE WHEN n_chars > 0
                  THEN CAST(n_sym AS DOUBLE)/n_chars <= 0.3 ELSE TRUE END
               AS ok_sym,
             fp_rn = 1 AS ok_uniq
      FROM m
    )
    SELECT stage_idx, stage, n FROM (
      SELECT 0 AS stage_idx, 'total' AS stage, CAST(count(*) AS BIGINT) AS n
      FROM b
      UNION ALL
      SELECT 1, 'lang_en', CAST(SUM(CASE WHEN ok_lang THEN 1 ELSE 0 END)
                                AS BIGINT) FROM b
      UNION ALL
      SELECT 2, 'len_ok', CAST(SUM(CASE WHEN ok_lang AND ok_len THEN 1 ELSE 0
                               END) AS BIGINT) FROM b
      UNION ALL
      SELECT 3, 'symbol_ok', CAST(SUM(CASE WHEN ok_lang AND ok_len AND ok_sym
                                  THEN 1 ELSE 0 END) AS BIGINT) FROM b
      UNION ALL
      SELECT 4, 'deduped', CAST(SUM(CASE WHEN ok_lang AND ok_len AND ok_sym
                                 AND ok_uniq THEN 1 ELSE 0 END) AS BIGINT)
      FROM b
    )
    """,
)
def q_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-cleaning funnel: docs surviving each cumulative stage
    (language → length → symbol-ratio → exact-dedup). ONE pass: all
    stage predicates become conditional sums in a single aggregate
    (plus the fingerprint window for the dedup bit) instead of five
    separate count jobs — at 100 TB that's one corpus scan, not five."""
    from small_etl_spark.llm.textstats import fingerprint, token_count

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(fingerprint("text")).orderBy("doc_id")
    m = docs.select(
        (F.col("lang") == "en").alias("ok_lang"),
        token_count("text").between(20, 100000).alias("ok_len"),
        F.when(
            F.length("text") > 0,
            (
                F.length(F.regexp_replace("text", r"[A-Za-z0-9_\s]", ""))
                .cast("double")
                / F.length("text")
            )
            <= 0.3,
        )
        .otherwise(F.lit(True))
        .alias("ok_sym"),
        (F.row_number().over(w) == 1).alias("ok_uniq"),
    )
    agg = m.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.col("ok_lang").cast("bigint")).alias("n1"),
        F.sum((F.col("ok_lang") & F.col("ok_len")).cast("bigint")).alias("n2"),
        F.sum(
            (F.col("ok_lang") & F.col("ok_len") & F.col("ok_sym")).cast("bigint")
        ).alias("n3"),
        F.sum(
            (
                F.col("ok_lang")
                & F.col("ok_len")
                & F.col("ok_sym")
                & F.col("ok_uniq")
            ).cast("bigint")
        ).alias("n4"),
    )
    stages = "0, 'total', n0, 1, 'lang_en', n1, 2, 'len_ok', n2, " \
             "3, 'symbol_ok', n3, 4, 'deduped', n4"
    return agg.select(
        F.expr(f"stack(5, {stages}) AS (stage_idx, stage, n)")
    ).select(F.col("stage_idx").cast("int"), "stage", "n")


def _embedding_near_dup_oracle(
    num_planes: int = 16, dim: int = 64, threshold: float = 0.95
) -> str:
    """DuckDB twin of the random-hyperplane embedding near-dup
    pipeline. The plane weights are seeded Python literals
    (llm.similarity.random_planes), so the exact same doubles are
    embedded here; bucket bit p = sign(v · plane_p), candidates join
    on equal buckets, exact cosine (rounded 6dp in BOTH engines before
    the threshold, so boundary behavior is identical) verifies."""
    from small_etl_spark.llm.similarity import random_planes

    planes = random_planes(dim, num_planes, seed=42)
    bits = "\n       + ".join(
        "(CASE WHEN list_dot_product(v, [{w}]) >= 0 "
        "THEN CAST({b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)".format(
            w=", ".join(repr(x) for x in plane), b=1 << p
        )
        for p, plane in enumerate(planes)
    )
    return f"""
    WITH e AS (
      SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), b AS (
      SELECT id, v,
         {bits}
         AS bucket
      FROM e
    )
    SELECT a.id AS id_a, c.id AS id_b,
           round(list_cosine_similarity(a.v, c.v), 6) AS cosine
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.id < c.id
    WHERE round(list_cosine_similarity(a.v, c.v), 6) >= {threshold}
    """


@register("embedding_near_dup", _embedding_near_dup_oracle())
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs
    (llm.dedup.embedding_near_dup_pairs): random-hyperplane LSH
    buckets (16 seeded-literal planes), exact cosine within buckets.
    Candidates come from a bucket equi-join — never all-pairs — and
    the full pipeline (planes, signs, verify) replays in DuckDB.
    Cosine rounded to 6dp in both engines BEFORE the threshold so the
    boundary set is identical."""
    from small_etl_spark.llm.dedup import embedding_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    # generous inner threshold, exact filter on the rounded value —
    # keeps the Spark/oracle comparison boundary-exact
    pairs = embedding_near_dup_pairs(emb, cosine_threshold=0.9)
    return (
        pairs.withColumn("cosine", F.round("cosine", 6))
        .filter(F.col("cosine") >= 0.95)
        .select("id_a", "id_b", "cosine")
    )


@register(
    "mixture_resample",
    r"""
    WITH tok AS (
      SELECT doc_id, source, lang,
             CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+')) AS BIGINT) AS t
      FROM documents
    ), cells AS (
      SELECT source, lang, SUM(t) AS cell_tok FROM tok GROUP BY 1, 2
    ), rates AS (
      SELECT source, lang,
             least(1.0,
                   (CAST(SUM(cell_tok) OVER () AS DOUBLE)
                    * (1.0 / CAST(COUNT(*) OVER () AS DOUBLE)))
                   / CAST(cell_tok AS DOUBLE)) AS keep_rate
      FROM cells
    )
    SELECT t.doc_id, t.source, t.lang, round(r.keep_rate, 6) AS keep_rate
    FROM tok t JOIN rates r ON t.source = r.source AND t.lang = r.lang
    WHERE CAST(('0x' || substr(md5('mixture-v1|' || CAST(t.doc_id AS VARCHAR)),
                               1, 4)) AS INTEGER)
          < r.keep_rate * 65536
    """,
)
def q_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture resampling toward a uniform per-(source,
    lang) target (llm.sampling.token_budget_resample): over-budget
    strata are deterministically down-sampled (md5-bucket Bernoulli)
    so surviving token mass approaches total/n_cells per stratum —
    the DoReMi-style mixture-rebalancing step downstream of
    ``corpus_mix_report``. One tiny groupBy + broadcast of the rate
    table + a map-side filter."""
    from small_etl_spark.llm.sampling import token_budget_resample

    docs = load_table(spark, sf_dir, "documents")
    out = token_budget_resample(
        docs, ["source", "lang"], textstats.token_count("text")
    )
    return out.select(
        "doc_id", "source", "lang", F.round("keep_rate", 6).alias("keep_rate")
    )


@register(
    "rolling_dau",
    r"""
    WITH days AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ), anchors AS (
      SELECT DISTINCT day FROM days
    )
    SELECT a.day, CAST(count(DISTINCT d.user_id) AS BIGINT) AS dau_7d
    FROM anchors a JOIN days d
      ON d.day BETWEEN a.day - INTERVAL 6 DAY AND a.day
    GROUP BY a.day
    """,
)
def q_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day. Distinct-within-
    window doesn't decompose into a window aggregate, so the exact
    formulation is the day-grain pre-dedup (events collapse to at
    most days×users rows — the ONLY corpus-sized shuffle) followed by
    an anchor-day range join over that tiny day-grain table. At
    100 TB the pre-dedup is the whole cost; the 7-day join touches
    |days|×|active users/day| rows, not events."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    anchors = days.select("day").distinct()
    return (
        anchors.alias("a")
        .join(
            days.alias("d"),
            F.col("d.day").between(
                F.date_sub(F.col("a.day"), 6), F.col("a.day")
            ),
        )
        .groupBy(F.col("a.day").alias("day"))
        .agg(F.countDistinct("d.user_id").cast("bigint").alias("dau_7d"))
    )


@register(
    "session_busy_overlap",
    r"""
    WITH e AS (
      SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep
      FROM events
    ), lagged AS (
      SELECT user_id, ep,
             lag(ep) OVER (PARTITION BY user_id ORDER BY ep, event_id) AS prev
      FROM e
    ), marked AS (
      SELECT user_id, ep,
             SUM(CASE WHEN prev IS NULL OR ep - prev > 1800
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ep
                     ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM lagged
    ), sessions AS (
      SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
             min(ep) AS s_start, max(ep) AS s_end
      FROM marked GROUP BY 1, 2
    ), busy AS (
      SELECT (ep // 3600) * 3600 AS b_start, (ep // 3600) * 3600 + 3599 AS b_end
      FROM e GROUP BY 1, 2 HAVING count(*) >= 20
    )
    SELECT s.user_id, s.session_idx, s.s_start, s.s_end, b.b_start
    FROM sessions s JOIN busy b
      ON s.s_start <= b.b_end AND b.b_start <= s.s_end
    """,
)
def q_session_busy_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join
    (operators/joins.py::interval_overlap_join): per-user activity
    sessions (30-min gap) × global busy hours (≥20 events) — which
    sessions ran during load peaks. Sessions and busy windows are both
    intervals, the third classic temporal-join shape beside as-of and
    point-in-range; candidates come from hour-bucket equi-joins, never
    a cross product."""
    from small_etl_spark.operators.joins import interval_overlap_join

    ev = load_table(spark, sf_dir, "events")
    ep = F.col("ts").cast("long")
    w = Window.partitionBy("user_id").orderBy(ep, F.col("event_id"))
    gap = ep - F.lag(ep).over(w)
    is_new = F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0))
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy(ep, F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessions = (
        ev.select(
            "user_id",
            ep.alias("ep"),
            F.sum(is_new).over(w_cum).alias("session_idx"),
        )
        .groupBy("user_id", "session_idx")
        .agg(F.min("ep").alias("s_start"), F.max("ep").alias("s_end"))
    )
    busy = (
        ev.groupBy((ep.cast("long") / 3600).cast("long").alias("hr"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 20)
        .select(
            (F.col("hr") * 3600).alias("b_start"),
            (F.col("hr") * 3600 + 3599).alias("b_end"),
        )
    )
    out = interval_overlap_join(
        sessions, busy, "s_start", "s_end", "b_start", "b_end"
    )
    return out.select("user_id", "session_idx", "s_start", "s_end", "b_start")


@register(
    "hashing_tf",
    r"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[A-Za-z0-9_]+'))
               AS tok
      FROM documents
    )
    SELECT doc_id,
           CAST(CAST(('0x' || substr(md5(tok), 1, 4)) AS INTEGER) % 256
                AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS tf
    FROM toks GROUP BY 1, 2
    """,
)
def q_hashing_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (hashing trick): tokens → 256 hash buckets →
    per-doc term frequencies, with NO vocabulary build — the standard
    scale path for text vectorization (collision noise in exchange
    for a fixed-width, coordination-free feature space; cosine the
    bucket vectors downstream). Portable md5 bucket → the exact
    pipeline replays in DuckDB. One explode + one (doc, bucket)
    groupBy — tf-shaped shuffle, map-side combined."""
    from small_etl_spark.llm.textstats import tokens

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
        )
        .select(
            "doc_id",
            F.pmod(
                F.conv(F.substring(F.md5(F.col("tok").cast("binary")), 1, 4), 16, 10)
                .cast("bigint"),
                F.lit(256),
            ).alias("bucket"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


@register(
    "quality_tiers",
    r"""
    WITH q AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+')) AS BIGINT)
               AS n_tokens,
             (least(CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+')) AS DOUBLE),
                    200.0) / 200.0
              + CASE WHEN len(regexp_extract_all(text, '[A-Za-z0-9_]+')) > 0
                      AND CAST(length(text) AS DOUBLE)
                          / CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+'))
                                 AS DOUBLE)
                          BETWEEN 3.0 AND 10.0
                     THEN 1.0 ELSE 0.0 END
              + CASE WHEN len(regexp_extract_all(text, '[A-Za-z0-9_]+')) > 0
                     THEN 1.0 ELSE 0.0 END
             ) / 3.0 AS quality
      FROM documents
    ), t AS (
      SELECT doc_id, n_tokens, quality,
             ntile(4) OVER (ORDER BY quality, doc_id) AS tier
      FROM q
    )
    SELECT CAST(tier AS BIGINT) AS tier,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           round(min(quality), 6) AS min_quality,
           round(max(quality), 6) AS max_quality
    FROM t GROUP BY tier
    """,
)
def q_quality_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-tiered corpus breakdown: docs ranked by the heuristic
    quality score (llm.textstats.quality_score), split into exact
    NTILE(4) tiers (deterministic: total order with doc_id tiebreak),
    token budget per tier — the "how much high-quality data do I
    have" table quality-aware mixing policies start from. The tier
    comes from operators.sort.ntile_by (partition-parallel ordinal +
    integer bucket math, exact NTILE semantics) — not a single-task
    NTILE window, since docs scale with the corpus."""
    from small_etl_spark.operators.sort import ntile_by

    docs = load_table(spark, sf_dir, "documents")
    q = docs.select(
        "doc_id",
        textstats.token_count("text").cast("bigint").alias("n_tokens"),
        textstats.quality_score("text").alias("quality"),
    )
    return (
        ntile_by(q, ["quality", "doc_id"], 4, tile_col="tier")
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.round(F.min("quality"), 6).alias("min_quality"),
            F.round(F.max("quality"), 6).alias("max_quality"),
        )
    )


@register(
    "constraint_report",
    r"""
    SELECT rule, violations FROM (
      SELECT 'orders_pk_unique' AS rule,
             CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS violations
      FROM orders
      UNION ALL
      SELECT 'lineitem_fk_orders',
             CAST(count(*) AS BIGINT)
      FROM lineitem l WHERE NOT EXISTS
        (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      UNION ALL
      SELECT 'orders_totalprice_positive',
             CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'lineitem_discount_range',
             CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1
                      THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'customer_nation_fk',
             CAST(count(*) AS BIGINT)
      FROM customer c WHERE NOT EXISTS
        (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
      UNION ALL
      SELECT 'events_ts_not_null',
             CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM events
    )
    """,
)
def q_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-level constraint audit (deequ-shape, distinct from the
    reference's per-record field validation at
    operators/validation.py): primary-key uniqueness, referential
    integrity (anti-join counts), range and non-null rules — one
    (rule, violations) row each. Each rule is a count aggregate or
    broadcast-able anti join; the whole report is a handful of
    independent scans that run as one union job at any scale."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    ev = load_table(spark, sf_dir, "events")

    def one(rule: str, df: DataFrame) -> DataFrame:
        return df.select(F.lit(rule).alias("rule"), F.col("violations"))

    pk = o.agg(
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .cast("bigint")
        .alias("violations")
    )
    fk_li = (
        li.join(o.select("o_orderkey"), li["l_orderkey"] == o["o_orderkey"], "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
    )
    price = o.agg(
        F.sum((F.col("o_totalprice") <= 0).cast("bigint")).alias("violations")
    )
    disc = li.agg(
        F.sum(
            ((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).cast("bigint")
        ).alias("violations")
    )
    fk_c = (
        c.join(n.select("n_nationkey"), c["c_nationkey"] == n["n_nationkey"], "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
    )
    ts_null = ev.agg(
        F.sum(F.col("ts").isNull().cast("bigint")).alias("violations")
    )
    return (
        one("orders_pk_unique", pk)
        .unionByName(one("lineitem_fk_orders", fk_li))
        .unionByName(one("orders_totalprice_positive", price))
        .unionByName(one("lineitem_discount_range", disc))
        .unionByName(one("customer_nation_fk", fk_c))
        .unionByName(one("events_ts_not_null", ts_null))
    )


@register(
    "shard_plan",
    r"""
    WITH tok AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+')) AS BIGINT) AS t
      FROM documents
    ), c AS (
      SELECT doc_id, t,
             SUM(t) OVER (ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) - t AS start_off,
             CAST(ceil(CAST(SUM(t) OVER () AS DOUBLE) / 8.0) AS BIGINT)
               AS target
      FROM tok
    )
    SELECT CAST(start_off // target AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(t) AS BIGINT) AS n_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM c GROUP BY 1
    """,
)
def q_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-token shard planning for training output: docs in stable
    doc_id order are packed greedily into 8 shards of
    ~total_tokens/8 each (shard = start-offset DIV target — pure
    BIGINT math, oracle-exact). The report row per shard (docs,
    tokens, id range) is what a shard-writing job partitions by; at
    100 TB the cumsum is the only global-order operation and runs on
    the (doc_id, token_count) projection, not the text."""
    from small_etl_spark.operators.sort import global_cumsum

    docs = load_table(spark, sf_dir, "documents")
    n_shards = 8
    tok = docs.select(
        "doc_id", textstats.token_count("text").cast("bigint").alias("t")
    )
    # partition-parallel prefix sum + a broadcast scalar total: no
    # unpartitioned window anywhere in the plan
    total = tok.agg(F.sum("t").alias("__tot__"))
    c = (
        global_cumsum(tok, ["doc_id"], "t", cumsum_col="__cum__")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "t",
            (F.col("__cum__") - F.col("t")).alias("start_off"),
            F.ceil(F.col("__tot__").cast("double") / float(n_shards))
            .cast("bigint")
            .alias("target"),
        )
    )
    return (
        c.groupBy(F.expr("start_off DIV target").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("t").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@register(
    "curation_pipeline",
    r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[A-Za-z0-9_]+')) AS tok
      FROM documents
    ), lm AS (
      SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok
    ), sizes AS (
      SELECT SUM(cnt) AS n_total, COUNT(*) AS vocab FROM lm
    ), lp AS (
      SELECT tok, ln(CAST(cnt + 1 AS DOUBLE)
                     / CAST(n_total + vocab AS DOUBLE)) AS lp
      FROM lm, sizes
    ), q AS (
      SELECT t.doc_id, round(AVG(l.lp), 6) AS quality
      FROM tok t JOIN lp l USING (tok) GROUP BY t.doc_id
    ), flt AS (
      SELECT doc_id, text,
             CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+'))
                  AS BIGINT) AS n_tokens
      FROM documents
      WHERE lang = 'en'
        AND len(regexp_extract_all(text, '[A-Za-z0-9_]+'))
              BETWEEN 20 AND 100000
        AND (length(text) = 0 OR
             CAST(length(regexp_replace(text, '[A-Za-z0-9_\s]', '', 'g'))
                  AS DOUBLE) / length(text) <= 0.3)
    ), ded AS (
      SELECT doc_id, n_tokens FROM (
        SELECT doc_id, n_tokens,
               row_number() OVER (
                 PARTITION BY md5(trim(regexp_replace(lower(text),
                                                      '\s+', ' ', 'g')))
                 ORDER BY doc_id) AS rn
        FROM flt) WHERE rn = 1
    ), dq AS (
      SELECT ded.doc_id, ded.n_tokens, q.quality
      FROM ded JOIN q USING (doc_id)
    ), cut AS (
      SELECT quantile_cont(quality, 0.25) AS c FROM dq
    ), surv AS (
      SELECT dq.* FROM dq, cut WHERE quality >= c
    ), keyed AS (
      SELECT doc_id, n_tokens, quality,
             substr(md5('curate-v1|' || CAST(doc_id AS VARCHAR)), 1, 4) AS h
      FROM surv
    ), bud AS (
      SELECT FLOOR(SUM(n_tokens) * 0.5) AS b FROM keyed
    ), cum AS (
      SELECT *, SUM(n_tokens) OVER (
        ORDER BY h, doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
      FROM keyed
    )
    SELECT doc_id, n_tokens, quality,
           CAST(CAST(('0x' || h) AS INTEGER) % 8 AS BIGINT) AS shard
    FROM cum, bud WHERE cs <= b
    """,
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data pipeline in one call
    (llm/pipeline.py::curate_corpus): heuristic filters → exact dedup
    → LM-quality cut at the 25th percentile → md5-shuffled token
    budget (50%) → shard assignment. Every stage reuses an operator
    the catalog already proves individually; the oracle replays the
    ENTIRE composition — filters, fingerprint window, corpus LM,
    interpolated percentile, prefix-sum budget head, hex shard — as
    one SQL statement. The budget prefix sum is the pinned-exchange
    distributed primitive, not a single-task window."""
    from small_etl_spark.llm.pipeline import curate_corpus

    docs = load_table(spark, sf_dir, "documents")
    return curate_corpus(docs)


@register(
    "bloom_anti_join_delta",
    r"""
    WITH fp AS (
      SELECT doc_id, lang,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      FROM documents
    ), hist AS (
      SELECT fp FROM fp WHERE doc_id % 2 = 0
    )
    SELECT f.doc_id, f.lang
    FROM fp f
    WHERE f.doc_id % 2 = 1
      AND NOT EXISTS (SELECT 1 FROM hist h WHERE h.fp = f.fp)
    """,
)
def q_bloom_anti_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-dedup delta via a Bloom-accelerated ANTI join
    (operators/sketches.py::bloom_anti_join): today's docs (odd ids)
    against the historical fingerprint set (even ids). Bloom
    NEGATIVES are certain, so definitely-new docs pass with a
    map-side predicate and no join at all; only the maybe-sliver pays
    the exact LeftAnti — at 100 TB the exchange carries the maybe-set,
    not the corpus. The oracle is the plain anti join, proving the
    fast path is transparent."""
    from small_etl_spark.llm.textstats import fingerprint
    from small_etl_spark.operators.sketches import bloom_anti_join

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", fingerprint("text").alias("fp")
    )
    hist = docs.filter(F.col("doc_id") % 2 == 0).select("fp")
    delta = docs.filter(F.col("doc_id") % 2 == 1)
    return bloom_anti_join(delta, hist, "fp").select("doc_id", "lang")


@register(
    "segment_dedup_first_wins",
    """
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), ix AS (
      SELECT doc_id, ws,
             unnest(range(1, CAST(ceil(len(ws) / 3.0) AS BIGINT) + 1)) AS i
      FROM w
    ), seg AS (
      SELECT doc_id, i,
             array_to_string(ws[(i - 1) * 3 + 1 : i * 3], ' ') AS seg
      FROM ix
    ), rn AS (
      SELECT doc_id, i, seg,
             row_number() OVER (PARTITION BY seg ORDER BY doc_id, i) AS rn
      FROM seg
    )
    SELECT doc_id,
           string_agg(seg, ' ' ORDER BY i) FILTER (WHERE rn = 1)
             AS clean_text,
           CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
           CAST(COUNT(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_dropped
    FROM rn GROUP BY doc_id HAVING n_kept > 0
    """,
)
def q_segment_dedup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact-segment dedup, FIRST occurrence wins
    (llm.dedup.segment_dedup_first_wins — the Lee et al. 2022
    exact-substring-dedup EDIT): every distinct 3-word segment
    survives only at its earliest (doc_id, position); later repeats
    are struck and documents reassembled. Where ``segment_dedup_docs``
    removes boilerplate from everyone, this keeps the canonical copy —
    "one copy of every passage". One segment-keyed min(struct)
    shuffle + join-back + bounded per-doc reassembly."""
    from small_etl_spark.llm.dedup import segment_dedup_first_wins

    docs = load_table(spark, sf_dir, "documents")
    return segment_dedup_first_wins(docs, seg_words=3)


@register(
    "prefix_dedup_keep_longest",
    """
    WITH f AS (
      SELECT text, MIN(doc_id) AS doc_id FROM documents GROUP BY text
    ), o AS (
      SELECT doc_id, text, lead(text) OVER (ORDER BY text) AS nxt FROM f
    )
    SELECT doc_id, text FROM o
    WHERE nxt IS NULL OR NOT starts_with(nxt, text)
    """,
)
def q_prefix_dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix dedup, keep-longest (llm.dedup.prefix_dedup_keep_longest):
    drops exact duplicates and every document that is a strict prefix
    of another (truncated re-crawls / partial fetches). Built on the
    lexicographic prefix lemma — a text is a prefix of SOME document
    iff it is a prefix of its immediate sorted successor — so the plan
    is one exact-dedup shuffle, one distributed global-ordinal range
    sort (operators/sort.py scaffold, never a single-partition
    window), and one ordinal+1 self-join. The oracle replays the same
    lemma with a lead() window."""
    from small_etl_spark.llm.dedup import prefix_dedup_keep_longest

    docs = load_table(spark, sf_dir, "documents")
    return prefix_dedup_keep_longest(docs)


def _minhash_probe_md5_oracle(
    num_hashes: int = 16, bands: int = 4, threshold: float = 0.8
) -> str:
    """DuckDB twin of the persisted-index PROBE: identical md5
    signature/band pipeline as ``_minhash_md5_oracle``, with the
    candidate join restricted to (delta id, corpus id) pairs — delta =
    doc_id % 10 = 0, corpus = the rest."""
    rpb = num_hashes // bands
    minima = ",\n             ".join(
        f"list_min(list_transform(sh, x -> md5('{i}:' || x))) AS m{i}"
        for i in range(num_hashes)
    )
    band_rows = "\n      UNION ALL ".join(
        "SELECT id, {b} AS band, md5({concat}) AS bucket FROM m".format(
            b=b,
            concat=" || ',' || ".join(f"m{i}" for i in range(b * rpb, (b + 1) * rpb)),
        )
        for b in range(bands)
    )
    return rf"""
    WITH t AS (
      SELECT doc_id AS id,
             regexp_extract_all(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
               '[A-Za-z0-9_]+') AS toks
      FROM documents
    ), s AS (
      SELECT id,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            for i in range(1, greatest(len(toks)-2, 1)+1)]) AS sh
      FROM t
    ), m AS (
      SELECT id, sh,
             {minima}
      FROM s
    ), banded AS (
      {band_rows}
    ), cand AS (
      SELECT DISTINCT a.id AS probe_id, b.id AS corpus_id
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket
       AND a.id % 10 = 0 AND b.id % 10 <> 0
    )
    SELECT c.probe_id, c.corpus_id,
           CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
             AS jaccard
    FROM cand c
    JOIN s sa ON sa.id = c.probe_id
    JOIN s sb ON sb.id = c.corpus_id
    WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
            / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
            >= {threshold}
    """


@register("minhash_lsh_probe_md5", _minhash_probe_md5_oracle())
def q_minhash_lsh_probe_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against a PERSISTED LSH index
    (llm.dedup.minhash_lsh_index_write / minhash_lsh_probe): the
    corpus (doc_id % 10 ≠ 0) is indexed once — band rows partitioned
    BY BAND plus the shingle store — then the delta batch
    (doc_id % 10 = 0) is signatured and probed without ever
    re-scanning the corpus text (tests pin the probe plan's scans to
    index parquet + delta only). The md5 hash family makes the whole
    index+probe pipeline value-exact against the DuckDB replay; the
    xxhash64 family is the bench/scale path."""
    import hashlib
    import os
    import tempfile

    from small_etl_spark.llm.dedup import (
        minhash_lsh_index_write,
        minhash_lsh_probe,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    # deterministic per-sf_dir path, overwritten each run, left on
    # disk so the returned probe stays LAZY (the driver materializes
    # it after this builder returns) — exactly the build-once/
    # probe-many lifecycle the index exists for.
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_lsh_index_{tag}"
    )
    minhash_lsh_index_write(
        corpus, path, num_hashes=16, bands=4, hash_family="md5"
    )
    return minhash_lsh_probe(spark, path, delta, jaccard_threshold=0.8)


@register("cdc_lsh_probe_md5", _minhash_probe_md5_oracle())
def q_cdc_lsh_probe_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-driven incremental dedup of a GROWING LAKEHOUSE CORPUS —
    the full composition a 100 TB crawl pipeline runs nightly: the
    corpus lives in a versioned table (sinks/versioned.py); its v0
    snapshot is LSH-indexed once (llm.dedup.minhash_lsh_index_write);
    an ingest batch lands as an append commit; the delta is pulled
    from the commit log via table_changes (CDC — exactly the rows v1
    added, zero table diff on the append fast path) and probed
    against the persisted index (llm.dedup.minhash_lsh_probe) without
    re-scanning corpus text. Cost per ingest batch = delta signature
    + band equi-join + candidate-only verify, however large the
    accumulated corpus. Same DuckDB oracle as minhash_lsh_probe_md5:
    the versioned plumbing must be a pure re-routing of the identical
    delta, so any leak/duplicate in the CDC path breaks the value
    hash."""
    import hashlib
    import os
    import tempfile

    from small_etl_spark.llm.dedup import (
        minhash_lsh_index_write,
        minhash_lsh_probe,
    )
    from small_etl_spark.sinks import versioned as V

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    tbl = os.path.join(tempfile.gettempdir(), f"spark_graft_cdclsh_{tag}")
    idx = os.path.join(
        tempfile.gettempdir(), f"spark_graft_cdclsh_idx_{tag}"
    )
    V.drop_table(tbl)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    V.commit_snapshot(
        docs.filter(F.col("doc_id") % 10 != 0), tbl, mode="overwrite"
    )
    minhash_lsh_index_write(
        V.read_snapshot(spark, tbl, version=0),
        idx,
        num_hashes=16,
        bands=4,
        hash_family="md5",
    )
    V.commit_snapshot(
        docs.filter(F.col("doc_id") % 10 == 0), tbl, mode="append"
    )
    delta = (
        V.table_changes(spark, tbl, 0, 1)
        .filter(F.col("_change_type") == "insert")
        .drop("_change_type")
    )
    return minhash_lsh_probe(spark, idx, delta, jaccard_threshold=0.8)


@register(
    "domain_token_budget_cap",
    r"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+')) AS BIGINT)
               AS n_tokens,
             substring(md5('domain-cap-v1|' || CAST(doc_id AS VARCHAR)), 1, 4)
               AS h
      FROM documents
    ), c AS (
      SELECT doc_id, source, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS tokens_before
      FROM t
    )
    SELECT doc_id, source, n_tokens, tokens_before
    FROM c WHERE tokens_before < 1000
    """,
)
def q_domain_token_budget_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain token-budget admission
    (llm.sampling.domain_token_budget_cap): no source may contribute
    more than ~1000 tokens — docs within a domain are ordered by a
    salted md5 of their id (deterministic, crawl-order-independent)
    and admitted while the EXCLUSIVE running token total is under
    budget, so a hot site stops dominating the mix. One
    domain-partitioned window, group-bounded state; the global-budget
    sibling is token_budget_resample's pinned-range prefix sum."""
    from small_etl_spark.llm.sampling import domain_token_budget_cap

    docs = load_table(spark, sf_dir, "documents")
    return domain_token_budget_cap(docs, budget_tokens=1000).select(
        "doc_id", "source", "n_tokens", "tokens_before"
    )


@register(
    "stream_domain_budget_cap",
    r"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+')) AS BIGINT)
               AS n_tokens,
             substring(md5('domain-cap-v1|' || CAST(doc_id AS VARCHAR)), 1, 4)
               AS h
      FROM documents
    ), c AS (
      SELECT doc_id, source, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS tokens_before
      FROM t
    )
    SELECT doc_id, source, n_tokens, tokens_before
    FROM c WHERE tokens_before < 1000
    """,
)
def q_stream_domain_budget_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING per-domain token-budget admission under the oracle
    gate (streaming/stateful.py::stream_domain_budget_cap): the corpus
    arrives as TWO micro-batches split and ordered by the admission
    hash (all of batch 1's hashes precede batch 2's), a one-bigint-
    per-domain applyInPandasWithState operator admits docs while the
    cross-batch running total is under budget, and the drained result
    must value-match the BATCH op's DuckDB oracle — stream ≡ batch
    when arrival follows hash order, the same contract the other
    stateful ops pin. The batch twin is domain_token_budget_cap."""
    import hashlib
    import os
    import shutil
    import tempfile
    import uuid as _uuid

    from small_etl_spark.llm.sampling import hash_bucket
    from small_etl_spark.streaming.stateful import stream_domain_budget_cap
    from small_etl_spark.streaming.windows import run_to_memory_sink

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"spark_graft_scap_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    in_dir = os.path.join(root, "in")
    h = hash_bucket("doc_id", "domain-cap-v1")
    docs.filter(h < "8").coalesce(1).write.parquet(
        os.path.join(in_dir, "a")
    )
    docs.filter(h >= "8").coalesce(1).write.parquet(
        os.path.join(in_dir, "b")
    )
    # file-source order is mtime-based: pin it explicitly so batch 1
    # (low hashes) always precedes batch 2
    now = 1_700_000_000
    for i, d in enumerate(("a", "b")):
        for r, _dirs, fs in os.walk(os.path.join(in_dir, d)):
            for f in fs:
                os.utime(os.path.join(r, f), (now + i * 10, now + i * 10))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .option("latestFirst", "false")
        .parquet(in_dir)
    )
    sink = f"scap_{_uuid.uuid4().hex[:8]}"
    run_to_memory_sink(
        stream_domain_budget_cap(stream, budget_tokens=1000),
        sink,
        output_mode="append",
    )
    return spark.table(sink)


@register("stream_lsh_probe_md5", _minhash_probe_md5_oracle())
def q_stream_lsh_probe_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL Structured Streaming incremental dedup under the oracle
    gate (streaming/windows.py::stream_lsh_probe_to_parquet): the
    delta (doc_id % 10 = 0) arrives as TWO parquet files consumed one
    per micro-batch (maxFilesPerTrigger=1), each batch probes the
    PERSISTED corpus LSH index via foreachBatch and appends its pairs;
    the drained union must value-match the same DuckDB replay as the
    one-shot batch probe — stream ≡ batch, because probes are
    per-document independent. foreachBatch is the production shape:
    the probe's dropDuplicates/joins would need unbounded streaming
    state, but per-batch they are bounded delta-sized jobs."""
    import hashlib
    import os
    import shutil
    import tempfile

    from small_etl_spark.llm.dedup import minhash_lsh_index_write
    from small_etl_spark.streaming.windows import stream_lsh_probe_to_parquet

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    delta = docs.filter(F.col("doc_id") % 10 == 0)

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"spark_graft_slsh_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    idx = os.path.join(root, "index")
    stream_dir = os.path.join(root, "in")
    out_dir = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")

    minhash_lsh_index_write(corpus, idx, num_hashes=16, bands=4, hash_family="md5")
    # two files -> two micro-batches (multi-batch is the point)
    delta.filter(F.col("doc_id") % 20 == 0).coalesce(1).write.parquet(
        os.path.join(stream_dir, "a")
    )
    delta.filter(F.col("doc_id") % 20 != 0).coalesce(1).write.parquet(
        os.path.join(stream_dir, "b")
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(stream_dir)
    )
    stream_lsh_probe_to_parquet(
        spark, stream, idx, out_dir, ckpt, jaccard_threshold=0.8
    )
    return spark.read.parquet(out_dir).select(
        "probe_id", "corpus_id", "jaccard"
    )
