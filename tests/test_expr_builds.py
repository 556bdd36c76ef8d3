"""Round 12: expr-text plan construction ≡ the Column-by-Column build.

The hot builders construct their trees from SQL text (one py4j round
trip per select) instead of per-Column JVM calls — these tests pin
that the OPTIMIZED plans are canonically identical (``sameResult``),
so the rewrite can never change what a query computes. The Column
forms inlined here are the pre-round-12 specifications. The n-gram
window sites are pinned by rows instead (their SQL-text form is a
different, equivalent tree): see test_ngram_windows_match_site_specs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Column, Window, functions as F

from small_etl_spark.llm.similarity import brute_force_topk, dot, l2_norm
from small_etl_spark.llm.util import ensure_parallelism
from small_etl_spark.operators.dedup import dedup_by_fields_first_wins_packed
from small_etl_spark.operators.joins import asof_join, merge_with_previous
from small_etl_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _same_result(a, b) -> bool:
    return (
        a._jdf.queryExecution()
        .optimizedPlan()
        .sameResult(b._jdf.queryExecution().optimizedPlan())
    )


def test_brute_force_topk_expr_build_same_plan(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.limit(4)

    q = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("__qv__"),
        ).withColumn("__qn__", l2_norm("__qv__"))
    )
    c = (
        ensure_parallelism(emb)
        .select(
            F.col("vec_id").alias("vec_id"),
            F.col("embedding").cast("array<double>").alias("__cv__"),
        )
        .withColumn("__cn__", l2_norm("__cv__"))
    )
    pairs = c.crossJoin(q).filter(F.col("query_id") != F.col("vec_id"))
    cos = F.when(
        (F.col("__qn__") > 0) & (F.col("__cn__") > 0),
        dot("__qv__", "__cv__") / (F.col("__qn__") * F.col("__cn__")),
    ).otherwise(F.lit(0.0))
    scored = pairs.select("query_id", "vec_id", cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    column_form = scored.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    ).filter(F.col("rank") <= 10)

    assert _same_result(brute_force_topk(emb, queries, k=10), column_form)


def test_asof_join_expr_build_same_plan(spark):
    ev = load_table(spark, SF_DIR, "events")
    left = ev.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id"
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("p_id"),
        F.col("value").alias("p_value"),
    )

    rcols = ["p_id", "p_value"]
    lcols = ["event_id", "ts", "user_id"]
    r_tagged = right.select(
        F.col("user_id").alias("__key__"),
        F.col("ts").alias("__ts__"),
        F.lit(0).alias("__side__"),
        F.struct(*[F.col(c) for c in rcols]).alias("__rv__"),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(f"__l_{c}__")
            for c in lcols
        ],
    )
    l_tagged = left.select(
        F.col("user_id").alias("__key__"),
        F.col("ts").alias("__ts__"),
        F.lit(1).alias("__side__"),
        F.lit(None)
        .cast(r_tagged.schema["__rv__"].dataType)
        .alias("__rv__"),
        *[F.col(c).alias(f"__l_{c}__") for c in lcols],
    )
    w = (
        Window.partitionBy("__key__")
        .orderBy("__ts__", "__side__")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = (
        r_tagged.unionByName(l_tagged)
        .withColumn("__match__", F.last("__rv__", ignorenulls=True).over(w))
        .filter(F.col("__side__") == 1)
    )
    out_cols = [F.col(f"__l_{c}__").alias(c) for c in lcols]
    out_cols += [F.col(f"__match__.{c}").alias(f"{c}_asof") for c in rcols]
    column_form = merged.select(*out_cols)

    assert _same_result(
        asof_join(left, right, on="user_id", suffix="_asof"), column_form
    )


def test_merge_with_previous_expr_build_same_plan(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    api = li.select(
        F.col("l_orderkey").alias("id"),
        F.col("l_quantity").alias("qty"),
    )
    prev_df = load_table(spark, SF_DIR, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.col("o_totalprice").alias("total"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("qty"),  # shared col exercises coalesce
    )
    key = "id"
    prev = F.broadcast(prev_df)
    shared = [
        c for c in api.columns if c in set(prev_df.columns) and c != key
    ]
    prev_only = [
        c for c in prev_df.columns if c not in set(api.columns) and c != key
    ]
    a = api.alias("a")
    p = prev.alias("p")
    joined = a.join(p, F.col(f"a.{key}") == F.col(f"p.{key}"), "left")
    cols = [F.col(f"a.{key}").alias(key)]
    for c in api.columns:
        if c == key:
            continue
        if c in shared:
            cols.append(
                F.coalesce(F.col(f"a.{c}"), F.col(f"p.{c}")).alias(c)
            )
        else:
            cols.append(F.col(f"a.{c}").alias(c))
    cols.extend(F.col(f"p.{c}").alias(c) for c in prev_only)
    column_form = joined.select(*cols)

    assert _same_result(
        merge_with_previous(api, prev_df, key="id"), column_form
    )


def test_packed_dedup_expr_build_same_plan(spark):
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_partkey", "l_linenumber", "l_quantity"
    )
    spec = [("l_linenumber", 8), ("l_partkey", 47), ("l_quantity", 8)]

    acc = F.lit(0).cast("bigint")
    valid = F.lit(True)
    for col, bits in spec:
        cc = F.col(col)
        as_long = cc.cast("bigint")
        valid = (
            valid
            & cc.isNotNull()
            & (as_long >= 0)
            & (as_long < F.lit(1 << bits).cast("bigint"))
            & (cc.cast("double") == as_long.cast("double"))
        )
        acc = F.shiftleft(acc, bits) + as_long
    packed_col = F.when(valid, acc)
    agg = li.groupBy(F.col("l_orderkey")).agg(
        F.min(packed_col).alias("__pk__"),
        F.count(F.lit(1)).alias("__n__"),
        F.count(packed_col).alias("__nv__"),
    )
    guard = F.assert_true(
        F.col("__nv__") == F.col("__n__"),
        F.lit(
            "dedup_by_fields_first_wins_packed: a row violated the "
            "declared width/integrality contract"
        ),
    )
    shift = 0
    unpack = {}
    for col, bits in reversed(spec):
        expr = F.shiftrightunsigned(F.col("__pk__"), shift).bitwiseAND(
            F.lit((1 << bits) - 1).cast("bigint")
        )
        unpack[col] = expr.cast(li.schema[col].dataType)
        shift += bits
    out_cols = []
    first = True
    for cname in li.columns:
        expr = F.col(cname) if cname == "l_orderkey" else unpack[cname]
        if first:
            expr = F.when(guard.isNull(), expr)
            first = False
        out_cols.append(expr.alias(cname))
    column_form = agg.select(*out_cols)

    assert _same_result(
        dedup_by_fields_first_wins_packed(li, ["l_orderkey"], spec),
        column_form,
    )


def test_unigram_logprob_expr_build_same_plan(spark):
    from small_etl_spark.llm.textstats import WORD_RE, unigram_logprob

    docs = load_table(spark, SF_DIR, "documents")

    def toks_col(c):
        return F.regexp_extract_all(c, F.lit(WORD_RE), 0)

    toks = docs.select(
        F.col("doc_id"),
        F.explode(toks_col(F.lower(F.col("text")))).alias("tok"),
    )
    lm = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    sizes = lm.agg(
        F.sum("cnt").alias("n_total"), F.count(F.lit(1)).alias("vocab")
    )
    lm = lm.crossJoin(F.broadcast(sizes)).select(
        "tok",
        F.log(
            (F.col("cnt") + 1).cast("double")
            / (F.col("n_total") + F.col("vocab")).cast("double")
        ).alias("lp"),
    )
    scored = (
        toks.join(lm, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg("lp").alias("avg_logprob"),
        )
    )
    column_form = (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            "avg_logprob",
        )
    )

    assert _same_result(unigram_logprob(docs), column_form)


def test_curation_survivors_expr_build_same_plan(spark):
    """Stages 1-3 of curate_corpus (filters, fingerprint dedup, LM
    score join) — the pre-checkpoint subtree; the post-checkpoint
    stages are row-identity-pinned in tests/test_pipeline.py (the
    localCheckpoint's RDD scan defeats sameResult there)."""
    from small_etl_spark.llm.pipeline import _survivor_docs
    from small_etl_spark.llm.textstats import WORD_RE, unigram_logprob

    docs = load_table(spark, SF_DIR, "documents")

    def toks_col(c):
        return F.regexp_extract_all(c, F.lit(WORD_RE), 0)

    n_toks = F.size(toks_col(F.col("text")))
    sym_ratio = F.when(
        F.length("text") > 0,
        F.length(
            F.regexp_replace("text", r"[A-Za-z0-9_\s]", "")
        ).cast("double")
        / F.length("text"),
    ).otherwise(F.lit(0.0))
    kept = docs.filter(
        (F.col("lang") == "en")
        & n_toks.between(20, 100000)
        & (sym_ratio <= 0.3)
    )
    fp = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")).cast(
            "binary"
        )
    )
    w = Window.partitionBy(fp).orderBy("doc_id")
    kept = (
        kept.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )
    scores = unigram_logprob(docs).select(
        "doc_id", F.round("avg_logprob", 6).alias("quality")
    )
    column_form = kept.join(scores, "doc_id")

    assert _same_result(
        _survivor_docs(
            docs, "en", 20, 100000, 0.3, "doc_id", "text", "lang"
        ),
        column_form,
    )


def test_minhash_minima_sql_same_plan_as_column_form(spark):
    """The shipping xxhash-family signature (expr-text affine minima
    over the materialized base-hash array) is plan-identical to the
    pre-round-12 Column form inlined below."""
    import random

    from small_etl_spark.llm.dedup import _minhash_minima_sql

    num_hashes, seed = 32, 42
    p = (1 << 31) - 1
    hashed = (
        load_table(spark, SF_DIR, "documents")
        .selectExpr(
            "doc_id as id",
            "transform(split(text, ' '), x -> pmod(xxhash64(x, 42),"
            f" {p})) as __h__",
        )
    )

    rng = random.Random(seed)
    params = [
        (rng.randrange(1, p), rng.randrange(p)) for _ in range(num_hashes)
    ]

    def affine(a, b):
        return lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(p))

    column_form = hashed.select(
        "id",
        F.array(
            *[
                F.array_min(F.transform(F.col("__h__"), affine(a, b)))
                for a, b in params
            ]
        ).alias("sig"),
    )
    expr_form = hashed.selectExpr(
        "id", f"{_minhash_minima_sql(num_hashes, seed)} as sig"
    )

    assert _same_result(expr_form, column_form)


def _site_specs(case: str) -> tuple[Column, Column]:
    """(pre-change Column spec, new form) for one converted
    n-gram window site. Each spec is that site's expression before it
    was routed through ``ngram_windows_sql``."""
    from small_etl_spark.llm.dedup import word_shingles
    from small_etl_spark.llm.textstats import (
        ngram_windows_sql,
        tokens,
        tokens_sql,
    )

    words_sql = tokens_sql("lower(text)")
    words = tokens(F.lower(F.col("text")))
    split = F.split(F.col("text"), " ")

    if case == "shingles-3":  # dedup.word_shingles (round-13 Column form)
        n = 3

        def build(tk):
            def gram(i):
                parts = []
                for j in range(n):
                    if j:
                        parts.append(F.lit(" "))
                    parts.append(F.element_at(tk, i + F.lit(j) if j else i))
                return F.concat(*parts)

            full = F.transform(
                F.sequence(F.lit(1), F.size(tk) - F.lit(n - 1)), gram
            )
            return F.array_distinct(
                F.when(F.size(tk) >= n, full).otherwise(
                    F.array(F.concat_ws(" ", tk))
                )
            )

        spec = F.element_at(F.transform(F.array(words), build), 1)
        return spec, word_shingles("text", n)
    if case in ("winnow-5", "repetition-2"):
        # dedup.winnow_fingerprints grams / textstats.repetition_stats
        n = 5 if case == "winnow-5" else 2
        spec = F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.size(words) - F.lit(n - 1), F.lit(1))
            ),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        )
        return spec, F.expr(ngram_windows_sql(words_sql, n))
    if case == "segments-3/3":  # both dedup segment splitters
        seg = 3
        nseg = F.ceil(F.size(split) / F.lit(float(seg))).cast("int")
        spec = F.when(
            nseg >= 1,
            F.transform(
                F.sequence(F.lit(1), nseg),
                lambda i: F.concat_ws(
                    " ", F.slice(split, (i - 1) * seg + 1, seg)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        split_sql = "split(text, ' ')"
        return spec, F.expr(ngram_windows_sql(split_sql, seg, seg))
    # chunking.chunk_documents
    chunk, overlap = {"chunks-64/56": (64, 8), "chunks-4/3": (4, 1)}[case]
    step = chunk - overlap
    n_chunks = F.greatest(
        (F.greatest(F.size(words) - F.lit(overlap), F.lit(1)) + F.lit(step - 1))
        / F.lit(step),
        F.lit(1),
    ).cast("int")
    spec = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(words, i * step + 1, chunk)),
    )
    return spec, F.expr(ngram_windows_sql(words_sql, chunk, step))


@pytest.mark.parametrize(
    "case",
    [
        "shingles-3",
        "winnow-5",
        "repetition-2",
        "segments-3/3",
        "chunks-64/56",
        "chunks-4/3",
    ],
)
def test_ngram_windows_match_site_specs(spark, case):
    """Every site routed through ``ngram_windows_sql`` produces exactly
    the windows its pre-change expression produced, row for row
    (exceptAll both ways), on edge inputs — NULL, empty, blank, one
    token, exactly n, a ragged stride tail, long — plus sf0.001."""
    counts = [1, 2, 3, 4, 5, 7, 8, 64, 120, 123, 300]
    edge = [(-1, None), (-2, ""), (-3, " "), (-4, "Hello,  WORLD  x y")] + [
        (-10 - c, " ".join(f"w{i % 7}" for i in range(c))) for c in counts
    ]
    docs = spark.createDataFrame(edge, "doc_id bigint, text string").union(
        load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    )
    spec, new = _site_specs(case)
    if case == "segments-3/3":
        # the splitters drop NULL text: its pre-change segment array
        # is empty, so dropping it changes no output row
        assert docs.filter("text IS NULL").select(
            F.size(spec)
        ).first()[0] == 0
        docs = docs.filter("text IS NOT NULL")

    want = docs.select("doc_id", spec.alias("w"))
    got = docs.select("doc_id", new.alias("w"))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
