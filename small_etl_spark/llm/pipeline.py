"""One-call corpus curation: the end-to-end training-data pipeline a
user of the declarative reference (kenstt/small-etl — filter/dedup/
sort stages wired in a spec, src/pipeline.rs) would run on Spark,
composed entirely from this package's already-proven stages:

    heuristic filters  →  exact dedup  →  LM-quality cut
        →  deterministic shuffle + token budget  →  shard assignment

Every stage is an oracle-validated operator elsewhere in the package;
this module contributes the COMPOSITION — one DataFrame in, one
curated-and-sharded DataFrame out — and keeps the whole chain
engine-portable (md5 hashing, rounded LM scores) so the full pipeline
is STILL replayable as one DuckDB SQL statement
(``curation_pipeline`` in the query catalog).

Scale shape, stage by stage (nothing here is new machinery):
- filters: map-side predicates in one scan (quality_funnel);
- exact dedup: one fingerprint-keyed window (dedup_first_wins);
- LM cut: tf-shaped unigram LM + a scalar percentile broadcast
  (unigram_logprob_score);
- budget head: md5-ordered distributed prefix sum via the pinned
  range-exchange primitive (operators/sort.py::global_cumsum) — NOT
  a single-partition window;
- shards: a pure map of the md5 bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from small_etl_spark.llm.textstats import tokens_sql, unigram_logprob
from small_etl_spark.operators.sort import global_cumsum

# The expr-text builds below embed regex patterns as SQL string
# literals, written for the DEFAULT parser escaping
# (spark.sql.parser.escapedStringLiterals=false: '\\s+' in the SQL
# text parses to the regex \s+). The parser mode is a runtime conf, so
# it is re-read on every call: a conf change fails loudly instead of
# silently altering the dedup/filter semantics; the WORD_RE literal is
# guarded where it is defined (llm/textstats.py).


def _sql_str(value: str) -> str:
    """Escape a user-supplied string for embedding in a SQL string
    literal under default parser escaping (backslash escapes ON).
    No-op for the shipped parameter values, so plans are unchanged."""
    return value.replace("\\", "\\\\").replace("'", "\\'")


def _check_parser_escaping(df: DataFrame) -> None:
    """Assert the session parses string literals with the default
    backslash escaping the expr texts below were written for (one conf
    round trip per call: the conf can change at runtime)."""
    mode = str(
        df.sparkSession.conf.get(
            "spark.sql.parser.escapedStringLiterals", "false"
        )
    ).lower()
    if mode != "false":
        raise RuntimeError(
            "curate_corpus expr texts require the default "
            "spark.sql.parser.escapedStringLiterals=false (the regex "
            "literals '\\\\s+' / '[A-Za-z0-9_\\\\s]' would silently "
            "parse to different patterns)."
        )


def _survivor_docs(
    df: DataFrame,
    lang: str,
    min_tokens: int,
    max_tokens: int,
    max_symbol_ratio: float,
    id_col: str,
    text_col: str,
    lang_col: str,
) -> DataFrame:
    """Stages 1-3 of :func:`curate_corpus` (everything up to the
    compute-once point): heuristic filters, fingerprint first-wins
    dedup, corpus-LM score join.

    Built via expr strings (round 12, same discipline as the minhash
    builder): the Column-by-Column build of the five-stage chain cost
    ~1,600 py4j round trips per bench rep; each expr below parses to
    the token-identical tree in one call (pinned by
    ``optimizedPlan().sameResult`` against the pre-round-12 Column
    form in tests/test_expr_builds.py; the full pipeline is also
    row-identity-pinned in tests/test_pipeline.py). Literal types
    pinned: bare SQL floats are DECIMAL, so every float parameter is
    written with the ``D`` double suffix.
    """
    n_toks = f"size({tokens_sql(text_col)})"
    sym_ratio = (
        f"CASE WHEN (length({text_col}) > 0) THEN "
        f"(CAST(length(regexp_replace({text_col}, '[A-Za-z0-9_\\\\s]', ''))"
        f" AS double) / length({text_col})) ELSE 0.0D END"
    )
    kept = df.filter(
        f"({lang_col} = '{_sql_str(lang)}') AND ({n_toks} BETWEEN"
        f" {int(min_tokens)} AND {int(max_tokens)}) AND"
        f" ({sym_ratio} <= {float(max_symbol_ratio)!r}D)"
    )
    fp = (
        f"md5(CAST(trim(regexp_replace(lower({text_col}), '\\\\s+', ' '))"
        f" AS binary))"
    )
    kept = (
        kept.selectExpr(
            "*",
            f"row_number() OVER (PARTITION BY {fp} ORDER BY {id_col})"
            f" AS __rn__",
        )
        .filter("__rn__ = 1")
        .drop("__rn__")
    )

    scores = unigram_logprob(df, text_col=text_col, id_col=id_col).selectExpr(
        id_col, "round(avg_logprob, 6) AS quality"
    )
    return kept.join(scores, id_col)


def curate_corpus(
    df: DataFrame,
    lang: str = "en",
    min_tokens: int = 20,
    max_tokens: int = 100000,
    max_symbol_ratio: float = 0.3,
    quality_quantile: float = 0.25,
    budget_fraction: float = 0.5,
    num_shards: int = 8,
    salt: str = "curate-v1",
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Run the full curation pipeline; returns the surviving docs as
    ``(id_col, n_tokens, quality, shard)``.

    Stages:
    1. keep ``lang_col == lang``, token count in
       [min_tokens, max_tokens], symbol ratio ≤ max_symbol_ratio;
    2. exact near-identity dedup, first (lowest id) wins per
       normalized-text fingerprint;
    3. score survivors with the corpus-trained add-one unigram LM
       (trained on the FULL corpus so scores don't drift as filters
       change) and drop the bottom ``quality_quantile`` (cut at the
       exact interpolated percentile of the 6dp-rounded scores —
       rounding makes the cut engine-portable);
    4. order docs by ``md5(salt|id)`` (content-defined permutation)
       and keep the head whose running token total stays within
       ``budget_fraction`` of the surviving token budget —
       distributed prefix sum, no single-task window;
    5. assign ``shard`` = md5-bucket % num_shards.
    """
    _check_parser_escaping(df)
    kept = _survivor_docs(
        df, lang, min_tokens, max_tokens, max_symbol_ratio,
        id_col, text_col, lang_col,
    )
    # Compute-once point (round 12, same storage discipline as
    # minhash_lsh_pairs): everything above — the filtered scan, the
    # fingerprint-dedup window and the corpus-LM score join — feeds
    # THREE downstream actions (the percentile cut, the token-budget
    # agg, and the pinned range exchange), and without a
    # materialization each one re-executes the whole subtree
    # (profiled: 3× ~0.4-1 s of repeated 1-task stages at sf0.1). A
    # LAZY localCheckpoint materializes the survivor table on the
    # first consumer and the other two read its blocks; nothing roots
    # it in the CacheManager, so the ContextCleaner frees the blocks
    # when the returned plan is collected.
    kept = kept.localCheckpoint(eager=False)
    cut = kept.agg(
        F.expr(f"percentile(quality, {quality_quantile})").alias("c")
    )
    kept = kept.crossJoin(F.broadcast(cut)).filter("quality >= c")

    keyed = kept.selectExpr(
        id_col,
        f"CAST(size({tokens_sql(text_col)}) AS bigint) AS n_tokens",
        "quality",
        f"substring(md5(CAST(concat_ws('|', '{_sql_str(salt)}',"
        f" CAST({id_col} AS string)) AS binary)), 1, 4) AS __h__",
    )
    budget = keyed.agg(
        F.expr(f"floor(sum(n_tokens) * {float(budget_fraction)!r}D) AS b")
    )
    headed = global_cumsum(
        keyed, ["__h__", id_col], "n_tokens", cumsum_col="__cum__"
    )
    headed = headed.crossJoin(F.broadcast(budget)).filter("__cum__ <= b")
    return headed.selectExpr(
        id_col,
        "n_tokens",
        "quality",
        f"(CAST(conv(__h__, 16, 10) AS bigint) % {num_shards}) AS shard",
    )
