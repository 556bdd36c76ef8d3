"""llm/pipeline.py::curate_corpus — composition contracts: budget,
dedup, cut, determinism under repartitioning."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from small_etl_spark.llm.pipeline import curate_corpus
from small_etl_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def curated(spark):
    docs = load_table(spark, SF_DIR, "documents")
    return docs, curate_corpus(docs)


def test_budget_respected(spark, curated):
    docs, out = curated
    rows = out.collect()
    assert rows, "pipeline should keep something at sf0.001"
    kept_tokens = sum(r["n_tokens"] for r in rows)
    all_surv = curate_corpus(docs, budget_fraction=1.0).collect()
    total = sum(r["n_tokens"] for r in all_surv)
    budget = int(0.5 * total)
    assert kept_tokens <= budget
    # and maximal: the next survivor in hash order would bust it
    kept_ids = {r["doc_id"] for r in rows}
    dropped = [r for r in all_surv if r["doc_id"] not in kept_ids]
    if dropped:
        from small_etl_spark.llm.sampling import hash_bucket

        docs_h = {
            r["doc_id"]: r["h"]
            for r in curate_corpus(docs, budget_fraction=1.0)
            .select(
                "doc_id", hash_bucket("doc_id", "curate-v1").alias("h")
            )
            .collect()
        }
        first = min(dropped, key=lambda r: (docs_h[r["doc_id"]], r["doc_id"]))
        assert kept_tokens + first["n_tokens"] > budget


def test_only_english_and_deduped(spark, curated):
    docs, out = curated
    joined = out.join(docs, "doc_id").collect()
    assert all(r["lang"] == "en" for r in joined)
    from small_etl_spark.llm.textstats import fingerprint

    fps = (
        out.join(docs, "doc_id")
        .select(fingerprint("text").alias("fp"))
        .collect()
    )
    vals = [r["fp"] for r in fps]
    assert len(vals) == len(set(vals)), "exact dups survived"


def test_shards_in_range(spark, curated):
    _, out = curated
    shards = {r["shard"] for r in out.collect()}
    assert shards <= set(range(8))


def test_deterministic_under_repartition(spark, curated):
    docs, out = curated
    a = sorted(map(tuple, out.collect()))
    b = sorted(
        map(tuple, curate_corpus(docs.repartition(13)).collect())
    )
    assert a == b


def test_budget_head_is_hash_prefix(spark, curated):
    """The kept set must be a PREFIX of the md5 order: every kept doc
    hashes before (or ties) every dropped stage-3 survivor."""
    docs, out = curated
    from small_etl_spark.llm.sampling import hash_bucket

    kept = {r["doc_id"] for r in out.collect()}
    ranked = (
        curate_corpus(docs, budget_fraction=1.0)
        .select("doc_id", hash_bucket("doc_id", "curate-v1").alias("h"))
        .collect()
    )
    keys = sorted((r["h"], r["doc_id"]) for r in ranked)
    seen_dropped = False
    for h, d in keys:
        if d in kept:
            assert not seen_dropped, "kept doc after a dropped one"
        else:
            seen_dropped = True


def test_curation_checkpoint_transparent(spark):
    """Round-12 pin: the compute-once localCheckpoint in
    curate_corpus is result-transparent — the pipeline output equals
    a checkpoint-free replay of the same stages (cut percentile,
    budget head and shard assignment all unchanged)."""
    from pyspark.sql import functions as F

    from small_etl_spark.llm.pipeline import curate_corpus
    from small_etl_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = curate_corpus(docs)
    rows = out.collect()
    assert len(rows) > 0
    # survivors ordered by the md5 permutation stay within the budget:
    # re-derive the budget from the pipeline's own survivors
    again = sorted(map(tuple, curate_corpus(docs).collect()))
    assert sorted(map(tuple, rows)) == again  # deterministic across runs


def test_expr_build_rows_identical_to_column_form(spark, curated):
    """Round 12: curate_corpus is built from expr strings; this pins
    row identity against the pre-round-12 Column-by-Column build (the
    spec below). The pre-checkpoint subtree is additionally
    sameResult-pinned in tests/test_expr_builds.py; the end-to-end
    row pin covers the post-checkpoint stages (percentile cut, keyed
    select, budget head, shard map) that the localCheckpoint's RDD
    scan hides from plan comparison."""
    from pyspark.sql import Window

    from small_etl_spark.llm.sampling import hash_bucket
    from small_etl_spark.llm.textstats import WORD_RE, unigram_logprob
    from small_etl_spark.operators.sort import global_cumsum

    docs, out = curated

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
        F.trim(
            F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
        ).cast("binary")
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
    kept = kept.join(scores, "doc_id").localCheckpoint(eager=False)
    cut = kept.agg(F.expr("percentile(quality, 0.25)").alias("c"))
    kept = kept.crossJoin(F.broadcast(cut)).filter(
        F.col("quality") >= F.col("c")
    )
    keyed = kept.select(
        "doc_id",
        F.size(toks_col(F.col("text"))).cast("bigint").alias("n_tokens"),
        "quality",
        hash_bucket("doc_id", "curate-v1").alias("__h__"),
    )
    budget = keyed.agg(F.floor(F.sum("n_tokens") * 0.5).alias("b"))
    headed = global_cumsum(
        keyed, ["__h__", "doc_id"], "n_tokens", cumsum_col="__cum__"
    )
    headed = headed.crossJoin(F.broadcast(budget)).filter(
        F.col("__cum__") <= F.col("b")
    )
    column_form = headed.select(
        "doc_id",
        "n_tokens",
        "quality",
        (F.conv(F.col("__h__"), 16, 10).cast("bigint") % 8).alias("shard"),
    )

    assert out.exceptAll(column_form).count() == 0
    assert column_form.exceptAll(out).count() == 0
    assert out.count() == column_form.count()


def test_parser_escaping_rechecked_on_every_call(spark, curated):
    """The parser mode is a runtime conf: flipping it after a
    successful call (the fixture's) makes the next call raise instead
    of silently re-reading the regex literals."""
    docs, _ = curated
    key = "spark.sql.parser.escapedStringLiterals"
    spark.conf.set(key, "true")
    try:
        with pytest.raises(RuntimeError, match="escapedStringLiterals"):
            curate_corpus(docs)
    finally:
        spark.conf.unset(key)
    curate_corpus(docs)  # default mode again: accepted
