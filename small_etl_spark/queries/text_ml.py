"""Statistical text/ML operators: drift tests, PMI, novelty, hard negatives, temperature mixing, semantic dedup, PCA, streaming dedup, EWMA, RFM."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from small_etl_spark.queries._registry import register
from small_etl_spark.queries.events_ops import _bpe_encode_oracle
from small_etl_spark.llm import textstats
from small_etl_spark.sources.tables import load_table


@register(
    "length_drift_ks",
    """
    WITH a AS (SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS ca
               FROM documents WHERE lang = 'en' GROUP BY 1),
    b AS (SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS cb
          FROM documents WHERE lang = 'fr' GROUP BY 1),
    m AS (SELECT COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb,
                 COALESCE(a.v, b.v) AS v
          FROM a FULL OUTER JOIN b ON a.v = b.v),
    c AS (SELECT CAST(SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_a,
                 CAST(SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_b
          FROM m),
    g AS (SELECT cum_a, cum_b,
                 MAX(cum_a) OVER () AS n_a, MAX(cum_b) OVER () AS n_b
          FROM c)
    SELECT MAX(n_a) AS n_a, MAX(n_b) AS n_b,
           round(MAX(abs(CAST(cum_a AS DOUBLE) / n_a
                         - CAST(cum_b AS DOUBLE) / n_b)), 6) AS ks_stat
    FROM g
    """,
)
def q_length_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift check between the en and fr
    document-length distributions (operators/drift.py::ks_statistic):
    exact max empirical-CDF gap over distinct lengths — the feed-
    monitoring question "did this source's length profile shift?"."""
    from small_etl_spark.operators.drift import ks_statistic

    docs = load_table(spark, sf_dir, "documents")
    return ks_statistic(
        docs.filter(F.col("lang") == "en"),
        docs.filter(F.col("lang") == "fr"),
        "n_chars",
    )


@register(
    "length_drift_psi",
    """
    WITH c AS (SELECT LEAST(GREATEST(CAST(floor((n_chars - 0) / 60)
                                     AS BIGINT), 0), 9) AS bucket,
                      CAST(COUNT(*) AS BIGINT) AS nc
               FROM documents WHERE lang = 'en' GROUP BY 1),
    r AS (SELECT LEAST(GREATEST(CAST(floor((n_chars - 0) / 60)
                                AS BIGINT), 0), 9) AS bucket,
                 CAST(COUNT(*) AS BIGINT) AS nr
          FROM documents WHERE lang = 'fr' GROUP BY 1),
    m AS (SELECT COALESCE(nc, 0) AS nc, COALESCE(nr, 0) AS nr
          FROM c FULL OUTER JOIN r USING (bucket)),
    t AS (SELECT nc, nr,
                 GREATEST(CAST(nc AS DOUBLE)
                          / CAST(SUM(nc) OVER () AS DOUBLE), 1e-6) AS p,
                 GREATEST(CAST(nr AS DOUBLE)
                          / CAST(SUM(nr) OVER () AS DOUBLE), 1e-6) AS q
          FROM m)
    SELECT CAST(SUM(nc) AS BIGINT) AS n_curr,
           CAST(SUM(nr) AS BIGINT) AS n_ref,
           round(SUM((p - q) * ln(p / q)), 6) AS psi
    FROM t
    """,
)
def q_length_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of en vs fr document lengths over 10
    equi-width buckets on [0, 600) (operators/drift.py::psi_report):
    out-of-range values clamp into edge buckets, empty buckets floor
    at 1e-6 — the scorecard-industry drift score."""
    from small_etl_spark.operators.drift import psi_report

    docs = load_table(spark, sf_dir, "documents")
    return psi_report(
        docs.filter(F.col("lang") == "en"),
        docs.filter(F.col("lang") == "fr"),
        "n_chars",
        lo=0,
        hi=600,
        buckets=10,
    )


@register(
    "resample_interpolate",
    """
    WITH keys AS (SELECT DISTINCT user_id AS key FROM events),
    grid AS (
      SELECT key, CAST(floor(epoch(gs.g)) AS BIGINT) AS bin_epoch
      FROM keys, generate_series(TIMESTAMP '2024-01-01',
                                 TIMESTAMP '2024-01-31' - INTERVAL 1 SECOND,
                                 INTERVAL 1 HOUR) AS gs(g)
    ), per_bin AS (
      SELECT user_id AS key,
             CAST(epoch(TIMESTAMP '2024-01-01') AS BIGINT)
               + 3600 * ((CAST(floor(epoch(ts)) AS BIGINT)
                          - CAST(epoch(TIMESTAMP '2024-01-01') AS BIGINT))
                         // 3600) AS bin_epoch,
             CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-31'
      GROUP BY 1, 2
    ), j AS (
      SELECT key, bin_epoch, cents
      FROM grid LEFT JOIN per_bin USING (key, bin_epoch)
    ), x AS (
      SELECT key, bin_epoch,
             last_value(cents IGNORE NULLS) OVER wprev AS prev_c,
             last_value(CASE WHEN cents IS NOT NULL THEN bin_epoch END
                        IGNORE NULLS) OVER wprev AS prev_t,
             first_value(cents IGNORE NULLS) OVER wnext AS next_c,
             first_value(CASE WHEN cents IS NOT NULL THEN bin_epoch END
                         IGNORE NULLS) OVER wnext AS next_t
      FROM j
      WINDOW wprev AS (PARTITION BY key ORDER BY bin_epoch
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wnext AS (PARTITION BY key ORDER BY bin_epoch
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT key, bin_epoch,
           CASE WHEN prev_t = next_t THEN prev_c * 1000
                ELSE (prev_c * ((next_t - prev_t) // 3600
                                - (bin_epoch - prev_t) // 3600)
                      + next_c * ((bin_epoch - prev_t) // 3600)) * 1000
                     // ((next_t - prev_t) // 3600)
           END AS interp_millicents
    FROM x
    """,
)
def q_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample with LINEAR interpolation over January 2024
    (operators/timeseries.py::resample_interpolate): straight-line
    millicent values between a user's observed bins in pure integer
    arithmetic (floats hit one-ulp rounding-tie divergence between
    engines), NULL outside the observed span — the interpolating twin
    of resample_locf."""
    from small_etl_spark.operators.timeseries import resample_interpolate

    ev = load_table(spark, sf_dir, "events")
    out = resample_interpolate(ev, "2024-01-01", "2024-01-31", 3600)
    return out.select(
        "key",
        F.col("bin_ts").cast("long").alias("bin_epoch"),
        "interp_millicents",
    )


@register(
    "groupwise_normalize",
    """
    WITH v AS (
      SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events
    ), s AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS s, CAST(SUM(c*c) AS BIGINT) AS ss
      FROM v GROUP BY 1
    )
    SELECT v.event_id, v.event_type,
           CASE WHEN CAST(ss AS DOUBLE) / n
                     - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n) > 0
                THEN round((CAST(c AS DOUBLE) - CAST(s AS DOUBLE) / n)
                           / sqrt(CAST(ss AS DOUBLE) / n
                                  - (CAST(s AS DOUBLE) / n)
                                    * (CAST(s AS DOUBLE) / n)), 6)
           END AS z
    FROM v JOIN s USING (event_type)
    """,
)
def q_groupwise_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score standardization
    (operators/features.py::groupwise_normalize): exact integer
    sufficient statistics (n, Σc, Σc²) per group, broadcast back,
    z = (c−μ)/σ with population σ — the last-mile feature transform."""
    from small_etl_spark.operators.features import groupwise_normalize

    ev = load_table(spark, sf_dir, "events")
    return groupwise_normalize(ev, "event_type", "value").select(
        "event_id", "event_type", "z"
    )


@register(
    "winsorize_values",
    """
    WITH v AS (
      SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events
    ), b AS (
      SELECT event_type,
             quantile_cont(c, 0.01) AS lo, quantile_cont(c, 0.99) AS hi
      FROM v GROUP BY 1
    )
    SELECT v.event_id, v.event_type,
           CASE WHEN c IS NOT NULL THEN
             round(LEAST(GREATEST(CAST(c AS DOUBLE), lo), hi) / 100.0, 6)
           END AS clipped
    FROM v JOIN b USING (event_type)
    """,
)
def q_winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type 1%/99% winsorization
    (operators/features.py::winsorize): linear-interpolated quantile
    bounds on integer cents broadcast back, tails clamped map-side —
    outlier control before a squared-loss model."""
    from small_etl_spark.operators.features import winsorize

    ev = load_table(spark, sf_dir, "events")
    return winsorize(ev, "event_type", "value").select(
        "event_id", "event_type", "clipped"
    )


@register(
    "bigram_pmi",
    """
    WITH toks AS (
      SELECT string_split(text, ' ') AS l FROM documents
    ), zipped AS (
      SELECT unnest(list_zip(l[1:len(l)-1], l[2:])) AS pr FROM toks
    ), pairs AS (
      SELECT pr[1] AS w1, pr[2] AS w2 FROM zipped
      WHERE pr[1] <> '' AND pr[2] <> ''
    ), counts AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM pairs GROUP BY w1, w2
    ), lt AS (
      SELECT w1 AS lw, CAST(SUM(cnt) AS BIGINT) AS l FROM counts GROUP BY w1
    ), rt AS (
      SELECT w2 AS rw, CAST(SUM(cnt) AS BIGINT) AS r FROM counts GROUP BY w2
    ), tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM counts
    )
    SELECT w1, w2, cnt,
           round(ln(CAST(cnt AS DOUBLE) * CAST(total AS DOUBLE)
                    / (CAST(l AS DOUBLE) * CAST(r AS DOUBLE))), 6) AS pmi
    FROM counts JOIN lt ON w1 = lw JOIN rt ON w2 = rw CROSS JOIN tot
    WHERE cnt >= 5
    ORDER BY pmi DESC, w1, w2
    LIMIT 50
    """,
)
def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 highest-PMI corpus bigrams with support ≥ 5
    (llm/textstats.py::bigram_pmi) — the collocation /
    tokenizer-merge-candidate score; all marginals derived from one
    pair-count table, integers exact until the final ln."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.bigram_pmi(docs, min_count=5, top_n=50)


@register(
    "doc_ngram_novelty",
    r"""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[A-Za-z0-9_]+') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id,
             unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
                                   for i in range(1, greatest(len(toks)-2, 1)+1)])) AS sh
      FROM t
    ), f AS (
      SELECT sh, min(doc_id) AS first_id FROM s GROUP BY sh
    )
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN f.first_id = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           round(CAST(sum(CASE WHEN f.first_id = s.doc_id THEN 1 ELSE 0 END)
                      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS novelty
    FROM s JOIN f USING (sh)
    GROUP BY s.doc_id
    """,
)
def q_doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-order 3-gram novelty per document
    (llm/dedup.py::doc_ngram_novelty) — fraction of a doc's distinct
    shingles first seen in that doc; the incremental-crawl boilerplate
    detector. Shingle-keyed min + equi-join back, no pairwise work."""
    from small_etl_spark.llm.dedup import doc_ngram_novelty

    docs = load_table(spark, sf_dir, "documents")
    return doc_ngram_novelty(docs, n=3)


@register(
    "hard_negative_mining",
    """
    WITH q AS (
      SELECT vec_id AS query_id, label AS qlabel,
             CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 8
    ), c AS (
      SELECT vec_id, label AS neg_label, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings
    ), s AS (
      SELECT query_id, vec_id, neg_label,
             list_cosine_similarity(qv, cv) AS cos
      FROM q CROSS JOIN c WHERE qlabel <> neg_label
    ), r AS (
      SELECT query_id, vec_id, neg_label, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id) AS rn
      FROM s
    )
    SELECT query_id, vec_id, CAST(neg_label AS INTEGER) AS neg_label,
           round(cos, 6) AS cosine, CAST(rn AS BIGINT) AS rank
    FROM r WHERE rn <= 5
    """,
)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard negatives: per query vector, the 5 most
    cosine-similar vectors with a DIFFERENT label
    (llm/similarity.py::hard_negative_topk). The embedding-training
    pair-construction step; label-mismatch predicate applied before
    the cosine fold."""
    from small_etl_spark.llm.similarity import hard_negative_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = hard_negative_topk(emb, emb.filter(F.col("vec_id") < 8), k=5)
    return out.select(
        "query_id", "vec_id", "neg_label",
        F.round("cosine", 6).alias("cosine"), "rank",
    )


@register(
    "embedding_label_outliers",
    """
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
      FROM embeddings
    ), p AS (
      SELECT vec_id, label,
             unnest(range(1, len(emb)+1)) AS pos, unnest(emb) AS x
      FROM e
    ), c AS (
      SELECT label, pos, avg(x) AS cx FROM p GROUP BY label, pos
    ), d AS (
      SELECT vec_id, p.label AS label,
             round(sqrt(sum((x - cx) * (x - cx))), 6) AS dist
      FROM p JOIN c ON p.label = c.label AND p.pos = c.pos
      GROUP BY vec_id, p.label
    )
    SELECT vec_id, label, dist
    FROM d ORDER BY dist DESC, vec_id LIMIT 20
    """,
)
def q_embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 vectors farthest from their own label's centroid
    (llm/similarity.py::label_centroid_outliers) — the
    mislabeled-example detector. (label,pos)-keyed mean broadcast
    back; ordering on the rounded distance for a reproducible cut."""
    from small_etl_spark.llm.similarity import label_centroid_outliers

    emb = load_table(spark, sf_dir, "embeddings")
    return label_centroid_outliers(emb, top_n=20)


@register(
    "unigram_logprob_score",
    """
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[A-Za-z0-9_]+')) AS tok
      FROM documents
    ), lm AS (
      SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok
    ), sizes AS (
      SELECT SUM(cnt) AS n_total, COUNT(*) AS vocab FROM lm
    ), lp AS (
      SELECT tok,
             ln(CAST(cnt + 1 AS DOUBLE) / CAST(n_total + vocab AS DOUBLE))
               AS lp
      FROM lm, sizes
    ), scored AS (
      SELECT t.doc_id, COUNT(*) AS n_tokens, AVG(l.lp) AS alp
      FROM tok t JOIN lp l USING (tok) GROUP BY t.doc_id
    )
    SELECT d.doc_id, COALESCE(s.n_tokens, 0) AS n_tokens,
           round(s.alp, 6) AS avg_logprob
    FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
    """,
)
def q_unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/KenLM-style LM quality scoring, unigram form
    (llm/textstats.py::unigram_logprob): an add-one-smoothed unigram
    LM trained on the corpus itself scores every doc by mean token
    log-probability — the cheap in-engine stand-in for the external-LM
    perplexity filter. Two explodes + a vocab-sized hash join, all
    built-ins; the LM table is orders of magnitude smaller than the
    corpus, so the scoring join is the only shuffle that matters."""
    from small_etl_spark.llm.textstats import unigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    out = unigram_logprob(docs)
    return out.select(
        "doc_id", "n_tokens", F.round("avg_logprob", 6).alias("avg_logprob")
    )


@register(
    "temperature_mix",
    """
    WITH c AS (
      SELECT source, lang, COUNT(*) AS n_docs FROM documents GROUP BY 1, 2
    )
    SELECT source, lang, n_docs,
           round(pow(n_docs, 0.3) / SUM(pow(n_docs, 0.3)) OVER (), 6)
             AS weight,
           round((pow(n_docs, 0.3) / SUM(pow(n_docs, 0.3)) OVER ())
                 / (CAST(n_docs AS DOUBLE)
                    / SUM(CAST(n_docs AS DOUBLE)) OVER ()), 6) AS boost
    FROM c
    """,
)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture weights, the mT5/XLM-R α-sampling
    rule (llm/sampling.py::temperature_weights, α=0.3): stratum weight
    ∝ n^α, up-weighting low-resource (source, lang) cells. ONE corpus
    count aggregation; everything downstream is metadata-sized window
    math over the stratum table."""
    from small_etl_spark.llm.sampling import temperature_weights

    docs = load_table(spark, sf_dir, "documents")
    return temperature_weights(docs, ["source", "lang"], alpha=0.3)


def _semantic_dedup_oracle(
    num_planes: int = 16, dim: int = 64, threshold: float = 0.95
) -> str:
    """DuckDB twin of SemDeDup: the literal-plane LSH bucket join +
    rounded-cosine verify (same construction as
    ``_embedding_near_dup_oracle``), closed into components with a
    recursive CTE, keep = (id == component min)."""
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
    WITH RECURSIVE e AS (
      SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), b AS (
      SELECT id, v,
         {bits}
         AS bucket
      FROM e
    ), pairs AS (
      SELECT a.id AS id_a, c.id AS id_b
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.id < c.id
      WHERE round(list_cosine_similarity(a.v, c.v), 6) >= {threshold}
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ), reach(node, label) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT e2.dst, r.label FROM edges e2 JOIN reach r ON e2.src = r.node
    )
    SELECT node AS vec_id, min(label) AS component,
           CAST(node = min(label) AS BIGINT) AS keep
    FROM reach GROUP BY node
    """


@register("semantic_dedup", _semantic_dedup_oracle())
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication
    (llm/dedup.py::semantic_dedup_keep): cosine-near-dup pairs
    (hyperplane-LSH blocked, exact-cosine verified at ≥0.95 on the
    6dp-rounded value) closed into connected components; exactly one
    representative (min vec_id) kept per component. Catches
    paraphrases/re-encodings that share no n-grams — the embedding-
    space complement of the MinHash family. Bucket equi-join, never
    all-pairs; component rounds = cluster diameter (near-cliques →
    2-3 rounds)."""
    from small_etl_spark.llm.dedup import semantic_dedup_keep

    emb = load_table(spark, sf_dir, "embeddings")
    out = semantic_dedup_keep(emb)
    return out.select(
        "vec_id", "component", F.col("keep").cast("long").alias("keep")
    )


_ORACLE_SF_DIR = "/root/testdata/sf0.01"  # the driver's comparison SF


def _local_embedding_eig(sf_dir: str = _ORACLE_SF_DIR):
    """Mean + eigenbasis of the sf0.01 embedding covariance, derived
    INDEPENDENTLY of the engine: a local pyarrow read and the
    centered-matrix covariance ``Cᵀ·C/n`` (the engine's distributed
    pass sums per-batch Gram partials and subtracts the mean outer
    product — a different floating-point path), then the same
    deterministic eigh sign convention ``pca_project`` documents.
    Returns ``(mean, eigvals_desc, eigvecs_desc)`` or None when the
    canonical test parquet is absent (registration then degrades to a
    rows-only check instead of failing the import)."""
    import os

    p = os.path.join(sf_dir, "embeddings.parquet")
    if not os.path.exists(p):
        return None
    import numpy as np
    import pyarrow.parquet as pq

    rows = [
        r
        for r in pq.read_table(p, columns=["embedding"])
        .column("embedding")
        .to_pylist()
        if r is not None
    ]
    m = np.array(rows, dtype=np.float64)
    mean = m.mean(axis=0)
    c = m - mean
    cov = (c.T @ c) / m.shape[0]
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1]
    out_vecs = []
    for j in order:
        e = vecs[:, j]
        pivot = int(np.argmax(np.abs(e)))
        if e[pivot] < 0:
            e = -e
        out_vecs.append(e)
    return mean, vals[order], out_vecs


def _sql_list(xs) -> str:
    return "[" + ", ".join(repr(float(x)) for x in xs) + "]"


def _pca_oracle(k: int = 2) -> "str | None":
    """Generated DuckDB twin of the FULL pca_project pipeline (VERDICT
    r7 item 9): the independently re-derived mean and top-k
    eigenvectors are emitted as literal lists, and the oracle projects
    every vector with the same sequential center-multiply-fold the
    engine runs JVM-side (list-comprehension + list_sum — the
    bit-for-bit fold-order precedent _pq_oracle established). The
    oracle is pinned to the driver's sf0.01 comparison data, like the
    embedded PQ/kmeans seeds."""
    eig = _local_embedding_eig()
    if eig is None:
        return None
    mean, _vals, vecs = eig
    d = len(mean)
    pcs = ",\n           ".join(
        f"round(list_sum([(v[i] - ({_sql_list(mean)})[i]) * "
        f"({_sql_list(vecs[j])})[i] for i in range(1, {d + 1})]), 4) "
        f"AS pc{j + 1}"
        for j in range(k)
    )
    return f"""
    SELECT vec_id,
           {pcs}
    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE embedding IS NOT NULL)
    """


@register("pca_project", _pca_oracle())
def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-2 PCA projection of the embeddings corpus
    (llm/similarity.py::pca_project): distributed sufficient
    statistics (one Arrow pass, d×d numbers to the driver), numpy
    eigh on the 64×64 covariance, then a JVM-side literal-eigenvector
    projection — no Python in the per-row path. Deterministic sign
    convention. FULL value oracle (r7 item 9): the generated SQL
    embeds an independently derived eigenbasis (local read, different
    covariance summation path) and replays the projection per vector
    — 4dp rounding absorbs the two derivations' last-ulp covariance
    differences while pinning every projected value."""
    from small_etl_spark.llm.similarity import pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    out = pca_project(emb, k=2)
    return out.select(
        "vec_id", F.round("pc1", 4).alias("pc1"), F.round("pc2", 4).alias("pc2")
    )


@register(
    "pca_contract",
    """
    WITH e AS (
      SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE embedding IS NOT NULL
    ), dims AS (
      SELECT unnest(v) AS x, unnest(range(1, len(v) + 1)) AS i FROM e
    ), mean_sq AS (
      SELECT SUM(p) AS msq FROM (
        SELECT pow(AVG(x), 2) AS p FROM dims GROUP BY i
      )
    ), tot AS (
      SELECT AVG(list_dot_product(v, v)) AS ess FROM e
    )
    SELECT round(tot.ess - mean_sq.msq, 4) AS total_var,
           CAST(1 AS BIGINT) AS var_ordered,
           CAST(1 AS BIGINT) AS centered,
           CAST(1 AS BIGINT) AS uncorrelated,
           CAST(1 AS BIGINT) AS within_total
    FROM tot, mean_sq
    """,
)
def q_pca_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA quality contract with real oracle arithmetic: DuckDB
    recomputes the corpus TOTAL variance (trace of the covariance —
    fully SQL-expressible) while Spark must independently produce the
    same number from its sufficient-statistics pass AND prove the
    eigen-projection invariants that SQL cannot: var(pc1) ≥ var(pc2)
    (ordering), |mean(pc)| ≈ 0 (centering), |corr(pc1,pc2)| ≈ 0
    (orthogonality), var(pc1)+var(pc2) ≤ total (captured mass). A
    wrong eigendecomposition breaks at least one flag."""
    from small_etl_spark.llm.similarity import pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    proj = pca_project(emb, k=2)
    stats = proj.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("pc1").alias("m1"),
        F.avg("pc2").alias("m2"),
        F.avg(F.col("pc1") * F.col("pc1")).alias("s11"),
        F.avg(F.col("pc2") * F.col("pc2")).alias("s22"),
        F.avg(F.col("pc1") * F.col("pc2")).alias("s12"),
    )
    v1 = F.col("s11") - F.col("m1") * F.col("m1")
    v2 = F.col("s22") - F.col("m2") * F.col("m2")
    cov12 = F.col("s12") - F.col("m1") * F.col("m2")
    # total variance from the SAME distributed moments pass the
    # projection used — independently recomputed by the oracle in SQL
    from small_etl_spark.llm.similarity import embedding_moments

    import numpy as np

    _, _, cov = embedding_moments(emb)
    total_var = float(np.trace(cov))
    eps = 1e-9
    return stats.select(
        F.round(F.lit(total_var), 4).alias("total_var"),
        (v1 >= v2 - eps).cast("long").alias("var_ordered"),
        ((F.abs(F.col("m1")) < 1e-6) & (F.abs(F.col("m2")) < 1e-6))
        .cast("long")
        .alias("centered"),
        (F.abs(cov12 / F.sqrt(v1 * v2)) < 1e-6)
        .cast("long")
        .alias("uncorrelated"),
        (v1 + v2 <= F.lit(total_var) + 1e-6).cast("long").alias("within_total"),
    )


@register(
    "stream_dedup_events",
    """
    SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
           user_id, event_type, value
    FROM events
    """,
)
def q_stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL streaming exact-dedup under the oracle gate
    (streaming/windows.py::stream_dedup →
    ``dropDuplicatesWithinWatermark``): the stream directory holds TWO
    copies of events.parquet (every row duplicated across files), the
    stream dedups on event_id with watermark-bounded state, drains
    with availableNow into a memory sink, and must hash-match DuckDB
    reading the ORIGINAL file once. The watermark is set far past the
    data's span so state never evicts mid-drain (multi-batch file
    splits would otherwise re-emit old keys); production uses a real
    lateness bound."""
    import shutil
    import tempfile
    import uuid

    from small_etl_spark.streaming.windows import (
        read_events_stream,
        run_to_memory_sink,
        stream_dedup,
    )

    stream_dir = tempfile.mkdtemp(prefix="events_dedup_")
    shutil.copy(f"{sf_dir}/events.parquet", f"{stream_dir}/a.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", f"{stream_dir}/b.parquet")
    ev = read_events_stream(spark, stream_dir)
    deduped = stream_dedup(ev, watermark="365 days", keys=["event_id"])
    out = deduped.select(
        "event_id",
        F.col("ts").cast("long").alias("ts_s"),
        "user_id",
        "event_type",
        "value",
    )
    sink = f"sdd_{uuid.uuid4().hex[:8]}"
    run_to_memory_sink(out, sink, output_mode="append")
    return spark.table(sink)


@register("bpe_encode_counts", _bpe_encode_oracle(3))
def q_bpe_encode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token budget under the corpus-learned BPE tokenizer
    (llm/bpe.py::bpe_encode_counts): learn 3 merges (identical
    deterministic run to ``bpe_merges``), apply ALL of them to the
    word vocabulary, join the word → piece-count map back to the
    exploded corpus. Whitespace counts misestimate BPE budgets; this
    is the exact count, integer arithmetic end-to-end. The corpus is
    scanned once; merge learning runs on the vocab-sized frequency
    table."""
    from small_etl_spark.llm.bpe import bpe_encode_counts

    docs = load_table(spark, sf_dir, "documents")
    return bpe_encode_counts(docs, iters=3)


@register(
    "ewma_user_values",
    """
    WITH b AS (
      SELECT event_id, ts, user_id, value,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS l
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
           value,
           round(
             list_sum(list_transform(l,
               (x, i) -> x * pow(0.5, len(l) - i)))
             / list_sum(list_transform(range(1, len(l) + 1),
               i -> pow(0.5, CAST(len(l) - i AS DOUBLE)))),
             6) AS ewma
    FROM b
    """,
)
def q_ewma_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finite-window EWMA of events.value per user
    (operators/timeseries.py::ewma, α=0.5, 8-row window): trailing
    values weighted by (1-α)^age and normalized — the smoothing
    baseline behind anomaly detection. At α=0.5 every weight is a
    power of two, so each term is bit-exact and both engines fold the
    same doubles in the same order. One shuffle on user_id; the HOF
    arithmetic is codegen'd, O(window) per row."""
    from small_etl_spark.operators.timeseries import ewma

    ev = load_table(spark, sf_dir, "events")
    out = ewma(ev, alpha=0.5, lookback=7)
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").cast("long").alias("ts_s"),
        "value",
        F.round("ewma", 6).alias("ewma"),
    )


@register(
    "adamic_adar_parts",
    """
    WITH ppo AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM ppo a JOIN ppo b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ), sym AS (
      SELECT pa AS a, pb AS b FROM pairs
      UNION ALL SELECT pb, pa FROM pairs
    ), deg AS (
      SELECT a AS z, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY a
    ), wedges AS (
      SELECT e1.a AS x, e2.a AS y, e1.b AS z
      FROM sym e1 JOIN sym e2 ON e1.b = e2.b AND e1.a < e2.a
    ), scored AS (
      SELECT w.x, w.y, SUM(1.0 / ln(d.deg)) AS score
      FROM wedges w JOIN deg d ON w.z = d.z AND d.deg >= 2
      GROUP BY w.x, w.y
    )
    SELECT s.x AS node_a, s.y AS node_b, round(s.score, 6) AS score
    FROM scored s ANTI JOIN pairs p ON s.x = p.pa AND s.y = p.pb
    ORDER BY round(s.score, 6) DESC, node_a, node_b
    LIMIT 25
    """,
)
def q_adamic_adar_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction on the frequent-co-purchase graph
    (operators/graph.py::adamic_adar): for non-adjacent part pairs,
    Σ 1/ln(deg) over common neighbors — rare shared neighbors weigh
    more. Top-25 predicted edges. Wedge enumeration is one equi-join
    on the shared endpoint (Σ deg² bounded by the frequency cut),
    existing edges removed with a LeftAnti — never all-pairs."""
    from small_etl_spark.operators.graph import adamic_adar

    li = load_table(spark, sf_dir, "lineitem")
    ppo = li.select("l_orderkey", "l_partkey").distinct()
    a = ppo.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src"))
    b = ppo.select(F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("dst"))
    edges = (
        a.join(b, (F.col("ok") == F.col("ok2")) & (F.col("src") < F.col("dst")))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("src", "dst")
    )
    out = adamic_adar(edges)
    return out.orderBy(
        F.col("score").desc(), "node_a", "node_b"
    ).limit(25)


@register(
    "rfm_segments",
    """
    WITH base AS (
      SELECT o_custkey AS custkey,
             CAST(epoch(max(o_orderdate)) AS BIGINT) AS last_order,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM orders GROUP BY o_custkey
    )
    SELECT custkey,
           CAST(ntile(5) OVER (ORDER BY last_order, custkey) AS BIGINT)
             AS r_score,
           CAST(ntile(5) OVER (ORDER BY frequency, custkey) AS BIGINT)
             AS f_score,
           CAST(ntile(5) OVER (ORDER BY monetary_cents, custkey) AS BIGINT)
             AS m_score
    FROM base
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — recency / frequency / monetary
    quintiles (5 = most recent / most frequent / highest spend), the
    canonical marketing-analytics scoring. Monetary is exact integer
    cents; every ntile ordering carries a unique custkey tiebreak so
    the quintile boundaries are engine-independent. One groupBy on
    the fact table; the ntile windows run over the customer-dimension-
    sized aggregate, not the fact data."""
    o = load_table(spark, sf_dir, "orders")
    base = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.col("o_orderdate").cast("timestamp").cast("long")).alias(
            "last_order"
        ),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "monetary_cents"
        ),
    )
    def quint(col: str) -> Column:
        return (
            F.ntile(5)
            .over(Window.orderBy(col, "custkey"))
            .cast("bigint")
        )

    return base.select(
        "custkey",
        quint("last_order").alias("r_score"),
        quint("frequency").alias("f_score"),
        quint("monetary_cents").alias("m_score"),
    )


@register(
    "token_entropy",
    """
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[A-Za-z0-9_]+')) AS tok
      FROM documents
    ), tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY doc_id, tok
    ), per_doc AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
             SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clnc
      FROM tf GROUP BY doc_id
    ), scored AS (
      SELECT doc_id, n_tokens,
             round((ln(CAST(n_tokens AS DOUBLE))
                    - clnc / CAST(n_tokens AS DOUBLE)) / ln(2.0), 6)
               AS entropy_bits
      FROM per_doc
    )
    SELECT d.doc_id, COALESCE(s.n_tokens, 0) AS n_tokens, s.entropy_bits
    FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
    """,
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon entropy of the token distribution in bits
    (llm/textstats.py::token_entropy) — repetitive/templated text
    scores low, diverse vocabulary high; the single-scalar form of
    Gopher's repetition signals. Two doc-keyed aggregations, all
    built-ins; the ln n − Σ c·ln c / n formulation keeps both engines'
    float work identical (one sum of identical doubles)."""
    from small_etl_spark.llm.textstats import token_entropy

    docs = load_table(spark, sf_dir, "documents")
    out = token_entropy(docs)
    return out.select(
        "doc_id", "n_tokens", F.round("entropy_bits", 6).alias("entropy_bits")
    )


@register(
    "cross_lang_dups",
    """
    WITH f AS (
      SELECT doc_id, lang,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    ), multi AS (
      SELECT fp, CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM f GROUP BY fp HAVING COUNT(DISTINCT lang) > 1
    )
    SELECT f.fp, f.doc_id, f.lang, m.n_langs, m.n_docs
    FROM f JOIN multi m ON f.fp = m.fp
    """,
)
def q_cross_lang_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-language duplicate audit: identical normalized content
    appearing under MORE THAN ONE language label — mislabeled-language
    docs or untranslated boilerplate that slipt through per-language
    dedup (per-lang pipelines never see these). One fingerprint
    groupBy with a distinct-lang count, then a self-join back for the
    member rows; fingerprint reuses the corpus-wide md5 normalization
    (llm/textstats.py::fingerprint), so the exact-dedup family and
    this audit agree on identity."""
    from small_etl_spark.llm.textstats import fingerprint

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", fingerprint("text").alias("fp")
    )
    multi = (
        docs.groupBy("fp")
        .agg(
            F.countDistinct("lang").alias("n_langs"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .filter(F.col("n_langs") > 1)
    )
    return docs.join(multi, "fp").select(
        "fp", "doc_id", "lang", "n_langs", "n_docs"
    )


@register(
    "quantile_normalize_lengths",
    """
    WITH src AS (
      SELECT doc_id, lang, n_chars,
             percent_rank() OVER (PARTITION BY lang
                                  ORDER BY n_chars, doc_id) AS pr
      FROM documents
    ), u AS (
      SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS VARCHAR) AS lang,
             CAST(NULL AS BIGINT) AS n_chars, pr, 0 AS side,
             n_chars AS rv
      FROM src WHERE lang = 'en'
      UNION ALL
      SELECT doc_id, lang, n_chars, pr, 1, NULL FROM src
    ), carried AS (
      SELECT *, last_value(rv IGNORE NULLS)
                  OVER (ORDER BY pr, side
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS mapped
      FROM u
    )
    SELECT doc_id, lang, n_chars, mapped FROM carried WHERE side = 1
    """,
)
def q_quantile_normalize_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of doc lengths onto the English
    distribution (operators/features.py::quantile_normalize): every
    doc's n_chars maps to the en value at the same within-language
    percent-rank — the cross-source score-calibration transform (en
    maps onto itself). AS-OF on the rank axis via the union-merge
    single-sort trick; ranks are (rank-1)/(n-1) with unique tiebreaks,
    so both engines sort identical doubles identically and the mapped
    output is exact integers."""
    from small_etl_spark.operators.features import quantile_normalize

    docs = load_table(spark, sf_dir, "documents")
    return quantile_normalize(
        docs, group_col="lang", val_col="n_chars", id_col="doc_id",
        ref_group="en",
    )


_MINHASH_MERGE_HASHES = 8


def _minhash_merge_oracle(num_hashes: int = _MINHASH_MERGE_HASHES) -> str:
    return f"""
    WITH t AS (
      SELECT doc_id, source,
             regexp_extract_all(lower(text), '[A-Za-z0-9_]+') AS toks
      FROM documents
    ), sh AS (
      SELECT DISTINCT source,
             unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
                     for i in range(1, greatest(len(toks)-2, 1)+1)])) AS shingle
      FROM t
    )
    SELECT source, CAST(i AS BIGINT) AS hash_i,
           min(md5(CAST(i AS VARCHAR) || ':' || shingle)) AS sig,
           CAST(1 AS BIGINT) AS merged_equal
    FROM sh CROSS JOIN range(0, {num_hashes}) r(i)
    GROUP BY source, i
    """


@register("minhash_merge_contract", _minhash_merge_oracle())
def q_minhash_merge_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash MERGEABILITY contract — the property that makes the
    sketch family work incrementally at 100 TB: per-source corpus
    signatures computed over the doc_id-parity HALVES and merged by
    elementwise minimum must equal the signature computed directly
    over the whole source. Spark computes both routes and asserts
    equality per hash; DuckDB independently recomputes the direct
    md5-minima signature (same portable family as
    ``minhash_lsh_dedup_md5``) and expects every merged_equal flag
    to be 1. A broken merge (e.g. max instead of min, or a dropped
    half) fails the flag or the signature value."""
    from small_etl_spark.llm.dedup import word_shingles

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "source",
        (F.col("doc_id") % 2).alias("half"),
        F.explode(word_shingles("text", 3)).alias("shingle"),
    )

    def md5i(i: int) -> Column:
        return F.md5(
            F.concat(F.lit(f"{i}:"), F.col("shingle")).cast("binary")
        )

    n = _MINHASH_MERGE_HASHES
    direct = sh.groupBy("source").agg(
        *[F.min(md5i(i)).alias(f"d{i}") for i in range(n)]
    )
    halves = sh.groupBy("source", "half").agg(
        *[F.min(md5i(i)).alias(f"h{i}") for i in range(n)]
    )
    merged = halves.groupBy("source").agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(n)]
    )
    joined = direct.join(merged, "source")
    stack_args = ", ".join(
        f"CAST({i} AS BIGINT), d{i}, CAST(CASE WHEN d{i} = m{i} THEN 1 "
        f"ELSE 0 END AS BIGINT)"
        for i in range(n)
    )
    return joined.select(
        "source",
        F.expr(
            f"stack({n}, {stack_args}) AS (hash_i, sig, merged_equal)"
        ),
    ).select("source", "hash_i", "sig", "merged_equal")


@register(
    "zipf_fit",
    """
    WITH tf AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(regexp_extract_all(lower(text),
                   '[A-Za-z0-9_]+')) AS tok FROM documents)
      GROUP BY tok
    ), ranked AS (
      SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, tok)
                     AS DOUBLE)) AS x,
             ln(CAST(freq AS DOUBLE)) AS y
      FROM tf
      ORDER BY freq DESC, tok LIMIT 200
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy
      FROM ranked
    )
    SELECT n AS n_terms,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS slope,
           round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                 / n, 4) AS intercept
    FROM s
    """,
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS slope of
    ln(freq) vs ln(rank) on the top-200 terms — natural language sits
    near slope −1; templated/synthetic corpora deviate, making the
    slope a one-number corpus-health indicator. One tokenize +
    vocab-sized aggregation; the regression runs over 200 rows.
    Rounded to 4dp: the only cross-engine float risk is summation
    order over 200 ln() terms (≤1e-12 relative)."""
    tf = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.regexp_extract_all(
                    F.lower("text"), F.lit(r"[A-Za-z0-9_]+"), 0
                )
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # top-200 FIRST (TakeOrderedAndProject — no global sort, no
    # vocab-wide single-partition window), then rank the 200 survivors
    w = Window.orderBy(F.col("freq").desc(), "tok")
    ranked = (
        tf.orderBy(F.col("freq").desc(), "tok")
        .limit(200)
        .select(F.row_number().over(w).alias("rank"), "freq")
        .select(
            F.log(F.col("rank").cast("double")).alias("x"),
            F.log(F.col("freq").cast("double")).alias("y"),
        )
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").alias("n_terms"),
        F.round(slope, 4).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 4).alias(
            "intercept"
        ),
    )


# ---------------------------------------------------------------------------
# Learned quality classifier (llm/classifier.py): bag-of-words logistic
# regression trained with full-batch GD. The oracle replays training
# EXACTLY by unrolling the fixed iteration count into a WITH-chain —
# the same replay technique as the BPE oracle (events_ops.py): each
# iteration is one margin aggregation, one residual map, one gradient
# aggregation, one weight update.


def _logreg_prefix_sql(iters: int, vocab_size: int, lr: float) -> str:
    parts = [
        f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[A-Za-z0-9_]+'))
               AS token
      FROM documents
    ), cnts AS (
      SELECT doc_id, token, CAST(COUNT(*) AS DOUBLE) AS x
      FROM tok GROUP BY doc_id, token
    ), vocab AS (
      SELECT token FROM (
        SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token
        ORDER BY cnt DESC, token ASC LIMIT {vocab_size})
    ), feat AS (
      SELECT c.doc_id, c.token, c.x FROM cnts c JOIN vocab USING (token)
    ), lab AS (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
      FROM documents
    ), nn AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents
    ), w0 AS (SELECT token, 0.0 AS w FROM vocab)"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f""",
    m{t} AS (
      SELECT f.doc_id, SUM(f.x * w.w) AS m
      FROM feat f JOIN w{t - 1} w USING (token) GROUP BY f.doc_id
    ), r{t} AS (
      SELECT m.doc_id, 1.0 / (1.0 + exp(-m.m)) - l.y AS r
      FROM m{t} m JOIN lab l USING (doc_id)
    ), g{t} AS (
      SELECT f.token, SUM(f.x * r.r) / n AS g
      FROM feat f JOIN r{t} r USING (doc_id), nn GROUP BY f.token, n
    ), w{t} AS (
      SELECT w.token, w.w - {lr} * COALESCE(g.g, 0.0) AS w
      FROM w{t - 1} w LEFT JOIN g{t} g USING (token)
    )"""
        )
    return "".join(parts)


_LOGREG_ITERS, _LOGREG_V, _LOGREG_LR = 3, 64, 0.5


@register(
    "logreg_quality_train",
    _logreg_prefix_sql(_LOGREG_ITERS, _LOGREG_V, _LOGREG_LR)
    + f"""
    SELECT token, round(w, 6) AS weight
    FROM w{_LOGREG_ITERS} ORDER BY token
    """,
)
def q_logreg_quality_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a fastText-style bag-of-words logistic regression ON the
    corpus (llm/classifier.py::train_logreg_bow) with is-English as
    the label — the CCNet/GPT-3 "learned quality filter" step the
    declarative reference pipeline cannot express. The oracle unrolls
    all 3 GD iterations into SQL and matches every weight to 6dp.
    Model stays a broadcast-sized table; data never leaves executors.
    """
    from small_etl_spark.llm.classifier import train_logreg_bow

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "y", (F.col("lang") == "en").cast("double")
    )
    w = train_logreg_bow(
        docs,
        "y",
        vocab_size=_LOGREG_V,
        iters=_LOGREG_ITERS,
        lr=_LOGREG_LR,
    )
    return w.select("token", F.round("weight", 6).alias("weight")).orderBy(
        "token"
    )


@register(
    "logreg_quality_score",
    _logreg_prefix_sql(_LOGREG_ITERS, _LOGREG_V, _LOGREG_LR)
    + f"""
    , sm AS (
      SELECT f.doc_id, SUM(f.x * w.w) AS m
      FROM feat f JOIN w{_LOGREG_ITERS} w USING (token) GROUP BY f.doc_id
    )
    SELECT d.doc_id,
           round(1.0 / (1.0 + exp(-COALESCE(sm.m, 0.0))), 6) AS prob
    FROM documents d LEFT JOIN sm USING (doc_id)
    ORDER BY prob DESC, doc_id LIMIT 20
    """,
)
def q_logreg_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document with the trained classifier
    (llm/classifier.py::score_logreg_bow) and return the 20 most
    English-confident docs. Scoring is one explode + one broadcast
    join + one per-doc aggregation — a single tf-shaped shuffle no
    matter the corpus size."""
    from small_etl_spark.llm.classifier import (
        score_logreg_bow,
        train_logreg_bow,
    )

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "y", (F.col("lang") == "en").cast("double")
    )
    w = train_logreg_bow(
        docs,
        "y",
        vocab_size=_LOGREG_V,
        iters=_LOGREG_ITERS,
        lr=_LOGREG_LR,
    )
    scored = score_logreg_bow(docs, w).select(
        "doc_id", F.round("prob", 6).alias("prob")
    )
    return scored.orderBy(F.col("prob").desc(), "doc_id").limit(20)


@register(
    "bigram_interp_logprob_score",
    """
    WITH lst AS (
      SELECT doc_id,
             regexp_extract_all(lower(text), '[A-Za-z0-9_]+') AS l
      FROM documents
    ), tok AS (
      SELECT doc_id, unnest(l) AS tok FROM lst
    ), uni AS (
      SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok
    ), sizes AS (
      SELECT SUM(cnt) AS n_total, COUNT(*) AS v FROM uni
    ), pairs AS (
      SELECT doc_id, bg[1] AS w1, bg[2] AS w2
      FROM (
        SELECT doc_id,
               unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS bg
        FROM lst WHERE len(l) >= 2)
    ), c12 AS (
      SELECT w1, w2, COUNT(*) AS c FROM pairs GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, SUM(c) AS c1 FROM c12 GROUP BY w1
    ), pbi AS (
      SELECT w1, w2,
             CAST(c + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE) AS p_bi
      FROM c12 JOIN c1 USING (w1), sizes
    ), puni AS (
      SELECT tok,
             CAST(cnt + 1 AS DOUBLE) / CAST(n_total + v AS DOUBLE) AS p_uni
      FROM uni, sizes
    ), scored AS (
      SELECT p.doc_id, COUNT(*) AS n_bigrams,
             AVG(ln(0.7 * b.p_bi + 0.3 * u.p_uni)) AS alp
      FROM pairs p
      JOIN pbi b USING (w1, w2)
      JOIN puni u ON p.w2 = u.tok
      GROUP BY p.doc_id
    )
    SELECT d.doc_id, COALESCE(s.n_bigrams, 0) AS n_bigrams,
           round(s.alp, 6) AS avg_logprob
    FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
    """,
)
def q_bigram_interp_logprob_score(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Interpolated-bigram LM quality scoring
    (llm/textstats.py::bigram_interp_logprob): Jelinek–Mercer mix of
    add-one bigram and unigram models trained on the corpus itself —
    the rung above `unigram_logprob_score` that catches improbable
    token SEQUENCES. Both LM tables are tf-shaped aggregates; the
    scoring joins are plain hash joins with no broadcast assumption
    (bigram vocab is large at scale)."""
    from small_etl_spark.llm.textstats import bigram_interp_logprob

    docs = load_table(spark, sf_dir, "documents")
    out = bigram_interp_logprob(docs)
    return out.select(
        "doc_id",
        "n_bigrams",
        F.round("avg_logprob", 6).alias("avg_logprob"),
    )
