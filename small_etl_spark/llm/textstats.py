"""Text analysis for training-data pipelines: language ID, quality
scoring, token counting, fingerprinting.

All operators are pure column expressions over built-in
``pyspark.sql.functions`` — JVM-side, whole-stage-codegen'd, zero
Python in the hot path. At 100 TB each is a single map-only pass over
the ``documents`` table (no shuffle), so throughput is scan-bound.

No reference equivalent (the reference has no text analytics); these
are the BASELINE.json north-star extensions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Tiny per-language stopword lists for the n-gram/stopword heuristic.
# Deliberately small + deterministic (mirrors fastText-style heuristics
# without the model dependency).
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "los", "se", "no"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une", "du", "est"),
    "de": ("der", "die", "und", "das", "von", "zu", "den", "mit", "ist", "des"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "就", "不", "人"),
}

WORD_RE = r"[A-Za-z0-9_]+"
# tokens_sql interpolates WORD_RE into a SQL string literal verbatim,
# written for the default parser escaping: a quote or backslash would
# change the parsed regex. An explicit raise, not an assert, so the
# guard also holds under ``python -O``.
if "'" in WORD_RE or "\\" in WORD_RE:
    raise ValueError(
        "WORD_RE is interpolated into SQL string literals verbatim; "
        "escape it per the active parser mode before adding quotes or "
        "backslashes"
    )


def tokens(col: Column | str) -> Column:
    """Whitespace/word tokenization: array of word tokens."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(WORD_RE), 0)


def tokens_sql(col_sql: str) -> str:
    """SQL-text twin of :func:`tokens` over the SQL expression
    ``col_sql`` (parses to the same ``regexp_extract_all`` node)."""
    return f"regexp_extract_all({col_sql}, '{WORD_RE}', 0)"


def ngram_windows_sql(toks_sql: str, n: int, step: int = 1) -> str:
    """SQL text of the ``' '``-joined ``n``-token windows of the token
    array ``toks_sql``, starting at tokens 1, 1+step, 1+2·step, …
    until the windows cover the array. The last window is ragged
    (shorter than ``n``) when ``step > 1`` and the stride does not land
    on the end. A doc with fewer than ``n`` tokens yields one
    whole-text window, so empty and NULL token arrays give ``[""]``.

    The token array is bound to a lambda variable
    (``element_at(transform(array(toks), tk -> …), 1)``), so its
    expression — typically a regex extraction — runs once per row.
    Higher-order functions are interpreted without common-subexpression
    elimination, so an inline array would re-run per reference (−34%
    on the shingle stage at sf0.1, OPTIMIZATION_r13.md). Full windows
    are ``concat`` of ``n`` O(1) ``element_at`` reads rather than
    ``concat_ws(' ', slice(…))``, which allocates an array per window
    (a further −18%); ``slice`` is left only for the ragged last window
    and the short-doc case. Tokens are never null, so ``concat`` equals
    ``concat_ws`` on full windows.
    """
    gram = ", ' ', ".join(
        f"element_at(tk, i{f' + {j}' if j else ''})" for j in range(n)
    )
    if step == 1:
        starts = f"sequence(1, size(tk) - {n - 1})"
        window = f"concat({gram})"
    else:
        starts = f"sequence(1, size(tk) - {n - step}, {step})"
        window = (
            f"CASE WHEN i <= size(tk) - {n - 1} THEN concat({gram}) "
            f"ELSE concat_ws(' ', slice(tk, i, {n})) END"
        )
    return (
        f"element_at(transform(array({toks_sql}), tk -> "
        f"CASE WHEN size(tk) >= {n} THEN transform({starts}, i -> {window}) "
        f"ELSE array(concat_ws(' ', tk)) END), 1)"
    )


def token_count(col: Column | str) -> Column:
    """Token count (word-regex tokens; BPE-ish proxy for budgeting)."""
    return F.size(tokens(col))


def char_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c)


def stopword_hits(col: Column | str, lang: str) -> Column:
    """Number of tokens that are stopwords of ``lang``."""
    toks = tokens(F.lower(F.col(col) if isinstance(col, str) else col))
    words = list(STOPWORDS[lang])
    return F.size(F.filter(toks, lambda x: x.isin(*words)))


def lang_id(col: Column | str, langs: tuple[str, ...] = ("en", "es", "fr", "de")) -> Column:
    """Language ID via stopword-hit argmax; 'und' when no hits.

    Ties break by the order of ``langs`` (greatest strictly-greater
    wins), which keeps the expression reproducible in ANSI SQL.
    """
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    # iterate in reverse so earlier langs win ties (> comparison)
    for lang in reversed(langs):
        hits = stopword_hits(col, lang)
        cond = hits > best_hits
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(cond, hits).otherwise(best_hits)
    return best_lang


def quality_score(col: Column | str) -> Column:
    """Heuristic document quality in [0,1]: blend of length saturation,
    alpha-token ratio, and mean token length band.

    Kept to exact integer counts + one final division so the same
    formula is bit-reproducible in the DuckDB oracle.
    """
    c = F.col(col) if isinstance(col, str) else col
    n_tok = token_count(c).cast("double")
    n_chars = F.length(c).cast("double")
    # saturating length score: min(n_tok, 200) / 200
    len_score = F.least(n_tok, F.lit(200.0)) / F.lit(200.0)
    # mean token length in a healthy 3..10 band
    mean_tok = F.when(n_tok > 0, n_chars / n_tok).otherwise(F.lit(0.0))
    band = F.when((mean_tok >= 3.0) & (mean_tok <= 10.0), F.lit(1.0)).otherwise(F.lit(0.0))
    # non-empty bonus
    nonempty = F.when(n_tok > 0, F.lit(1.0)).otherwise(F.lit(0.0))
    return (len_score + band + nonempty) / F.lit(3.0)


def normalize_text(col: Column | str) -> Column:
    """Canonical form used for fingerprinting: lowercase, collapse
    whitespace runs to single spaces, trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint = md5 hex of the normalized text.

    Content-hash dedup key: stable across engines (md5 is md5), unlike
    hash-function-of-the-week. For a cheaper 64-bit key at scale use
    ``F.xxhash64`` (Spark-only, not oracle-portable).
    """
    return F.md5(normalize_text(col).cast("binary"))


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_n: int = 2,
) -> DataFrame:
    """Gopher-style repetition signals per document:

    - ``dup_line_fraction`` — fraction of non-empty lines that are
      repeats of an earlier line (map-only array expressions);
    - ``top_gram_fraction`` — share of the document's n-grams taken by
      its single most frequent n-gram (the 'the the the' detector).

    The top-gram count uses the tf shape (explode → per-(doc, gram)
    count → per-doc max/sum), one shuffle keyed by (doc, gram) — the
    same plan tf-idf uses, so it scales identically. Exact integer
    ratios → oracle-reproducible.
    """
    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    n_lines = F.size(lines)
    dup_lines = (n_lines - F.size(F.array_distinct(lines))).cast("double")
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.when(n_lines > 0, dup_lines / n_lines.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("dup_line_fraction"),
        F.explode(
            F.expr(ngram_windows_sql(tokens_sql(f"lower({text_col})"), gram_n))
        ).alias("gram"),
    )
    per_gram = base.groupBy("doc_id", "dup_line_fraction", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return per_gram.groupBy("doc_id", "dup_line_fraction").agg(
        (
            F.max("cnt").cast("double")
            / F.sum("cnt").cast("double")
        ).alias("top_gram_fraction")
    )


ROLLING_BASE = 131
ROLLING_MOD = (1 << 31) - 1  # Mersenne prime; products stay < 2^62 (ANSI-safe)


def rolling_hash(col: Column | str) -> Column:
    """Rabin–Karp polynomial rolling hash of the normalized text:
    ``h = Σ c_i·B^(n-i) mod p`` folded left in O(n).

    The incremental-update property (drop a leading char, append a
    trailing one in O(1)) is what makes this the classic streaming
    fingerprint; as a whole-document fingerprint it is a cheap 31-bit
    content key whose exact integer arithmetic reproduces in any
    engine — unlike engine-specific hash builtins. For collision-
    critical dedup use :func:`fingerprint` (md5, 128-bit); this is
    the budget key for sketches and sharding.
    """
    chars = F.split(normalize_text(col), "")
    codes = F.transform(
        F.filter(chars, lambda c: c != ""),
        lambda c: F.ascii(c).cast("bigint"),
    )
    return F.aggregate(
        codes,
        F.lit(0).cast("bigint"),
        lambda acc, c: F.pmod(acc * F.lit(ROLLING_BASE) + c, F.lit(ROLLING_MOD)),
    )


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full stats block to a documents frame."""
    return df.withColumns(
        {
            "n_tokens": token_count(text_col),
            "n_chars_computed": char_count(text_col),
            "lang_pred": lang_id(text_col),
            "quality": quality_score(text_col),
            "fingerprint": fingerprint(text_col),
        }
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per document by tf·idf.

    Shape: explode tokens → per-(doc, term) counts (one shuffle) →
    document frequency per term (second shuffle, map-side combined) →
    join df back on term → window top-k per doc. idf = ln(N/df);
    scores rounded to 6dp BEFORE ranking so ordering is reproducible
    across engines. N comes from one count() action.

    The docfreq join carries NO broadcast hint: vocabulary grows with
    corpus size (a web-scale corpus has billions of distinct terms),
    so AQE's runtime stats pick broadcast for small vocabularies and a
    shuffle join at scale — both sides are already hash-partitioned by
    term from their groupBys, so the at-scale join reuses that
    partitioning rather than materializing the vocab on every
    executor.
    """
    from pyspark.sql import Window

    n_docs = df.count()
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(docfreq, "term").select(
        "doc_id",
        "term",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 20,
    max_words: int = 100000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.3,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """Gopher-style corpus quality rules as boolean flag columns.

    The standard pre-training filter recipe (word-count bounds, mean
    word length band, symbol density, has-common-words), kept to
    integer counts and exact integer-ratio doubles so every flag is
    bit-reproducible in the DuckDB oracle. One map-only pass.
    """
    c = F.col(text_col)
    toks = tokens(c)
    n_words = F.size(toks)
    total_tok_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    mean_word_len = F.when(
        n_words > 0, total_tok_chars.cast("double") / n_words.cast("double")
    ).otherwise(F.lit(0.0))
    n_symbols = F.length(F.regexp_replace(c, r"[A-Za-z0-9_\s]", ""))
    symbol_ratio = F.when(
        F.length(c) > 0, n_symbols.cast("double") / F.length(c).cast("double")
    ).otherwise(F.lit(0.0))
    en_hits = stopword_hits(c, "en")

    flags = {
        "ok_word_count": (n_words >= min_words) & (n_words <= max_words),
        "ok_mean_word_len": (mean_word_len >= min_mean_word_len)
        & (mean_word_len <= max_mean_word_len),
        "ok_symbol_ratio": symbol_ratio <= max_symbol_ratio,
        "ok_stopwords": en_hits >= min_stopword_hits,
    }
    out = df.withColumns({k: v for k, v in flags.items()})
    keep = None
    for k in flags:
        keep = F.col(k) if keep is None else (keep & F.col(k))
    return out.withColumn("gopher_keep", keep)


def vocab_coverage(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 100,
) -> DataFrame:
    """Corpus vocabulary with cumulative token coverage — the
    tokenizer-design query ("what share of all tokens does a k-term
    vocab cover"). Returns the ``top_n`` terms by frequency with
    ``(rank, term, cnt, coverage)``, coverage rounded to 6 decimals.

    Plan shape: explode → term counts (ONE corpus-scale shuffle,
    map-side combined, vocabulary-sized output) → TakeOrderedAndProject
    top_n → cumulative window over the top_n rows only. The unbounded
    window is deliberately applied AFTER the limit, so its single
    partition holds top_n rows, not the vocabulary; the global total
    is a 1-row broadcast cross join. Exact integer counts throughout;
    the coverage division is the only float.
    """
    from pyspark.sql import Window

    tok = df.select(
        F.explode(F.split(F.col(text_col), " ")).alias("term")
    ).filter(F.col("term") != "")
    counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("__total__"))
    top = counts.orderBy(F.col("cnt").desc(), "term").limit(top_n)
    order = [F.col("cnt").desc(), F.col("term")]
    w_rank = Window.orderBy(*order)
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        top.join(F.broadcast(total))
        .select(
            F.row_number().over(w_rank).cast("bigint").alias("rank"),
            "term",
            "cnt",
            F.round(
                F.sum("cnt").over(w_cum).cast("double")
                / F.col("__total__").cast("double"),
                6,
            ).alias("coverage"),
        )
    )


def bigram_stats(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 50,
) -> DataFrame:
    """Top-``top_n`` corpus bigrams with conditional probability
    p(w2|w1) — the n-gram-LM / tokenizer-merge-rule query. Returns
    ``(w1, w2, cnt, cond_p)`` ordered by frequency.

    Bigrams come from one zip_with of the token array against its
    own 1-shifted slice (the winnowing lesson: shift-composition
    beats per-position slicing — two O(n) array ops per doc, no
    quadratic reslicing), exploded once. Two vocabulary-sized
    aggregations (pair counts, left-token totals) whose join is
    pair-vocab × unigram-vocab — AQE broadcasts the unigram side.
    """
    toks = df.select(F.split(F.col(text_col), " ").alias("__toks__"))
    pairs = toks.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("__toks__"), 1, F.greatest(F.size("__toks__") - 1, F.lit(0))),
                F.slice(F.col("__toks__"), 2, F.greatest(F.size("__toks__") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("__p__")
    ).select("__p__.w1", "__p__.w2").filter((F.col("w1") != "") & (F.col("w2") != ""))
    counts = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.groupBy(F.col("w1").alias("__w1__")).agg(
        F.sum("cnt").alias("__w1_total__")
    )
    return (
        counts.join(totals, F.col("w1") == F.col("__w1__"))
        .select(
            "w1",
            "w2",
            "cnt",
            F.round(
                F.col("cnt").cast("double") / F.col("__w1_total__").cast("double"), 6
            ).alias("cond_p"),
        )
        .orderBy(F.col("cnt").desc(), "w1", "w2")
        .limit(top_n)
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document to a bag of query terms.

    Returns ``(doc_id, n_matched, score)`` for documents matching at
    least one term; ``score`` is rounded to 6dp for cross-engine
    reproducibility (same discipline as ``tfidf_top_terms``).

    idf uses the standard smoothed form ln(1 + (N - df + 0.5)/(df + 0.5));
    tf saturation tf·(k1+1)/(tf + k1·(1 - b + b·dl/avgdl)).

    Plan shape: one explode → per-(doc, term) counts restricted to the
    query vocabulary — the `isin(query_terms)` filter lands BEFORE the
    shuffle, so the exchange carries only matching terms (|terms| ≪
    vocab). Document frequency and the (N, avgdl) corpus constants are
    tiny aggregates joined back by broadcast-sized cross joins. Per-term
    partial scores are summed per doc in one final bounded-group
    shuffle. At 100 TB: every wide op is keyed on doc or term with
    bounded groups; the query-vocabulary filter is the pushdown that
    keeps this a retrieval scan, not a corpus-wide tf-idf build.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    qtoks = toks.filter(F.col("term").isin(list(query_terms)))
    tf = qtoks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_part = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    per_term = (
        tf.join(docfreq, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            F.round(idf * tf_part, 6).alias("term_score"),
        )
    )
    return (
        per_term.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            (
                F.sum(F.round(F.col("term_score") * 1e6).cast("bigint")) / F.lit(1e6)
            ).alias("score"),
        )
    )


def bigram_pmi(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_n: int = 50,
) -> DataFrame:
    """Pointwise mutual information of corpus bigrams — the
    collocation / tokenizer-merge-candidate score:
    ``pmi = ln(p(w1,w2) / (p(w1)·p(w2)))`` over bigram events.
    Returns ``(w1, w2, cnt, pmi)``: the ``top_n`` highest-PMI
    bigrams among those seen at least ``min_count`` times, ordered by
    the ROUNDED pmi (6dp) then (w1, w2) so the cut is stable across
    engines.

    Built on the same shift-composed ``zip_with`` bigram stream as
    :func:`bigram_stats`. All marginals come from the pair-count
    table itself (three bounded aggregations over pair-vocab), so the
    corpus is tokenized exactly once; the total is a 1-row broadcast
    cross join. Counts stay integers until the final ln — the product
    ``cnt·total`` is < 2^53 at any realistic vocab, so the double math
    is exact until the division and bit-identical across engines.
    """
    toks = df.select(F.split(F.col(text_col), " ").alias("__toks__"))
    pairs = (
        toks.select(
            F.explode(
                F.zip_with(
                    F.slice(
                        F.col("__toks__"),
                        1,
                        F.greatest(F.size("__toks__") - 1, F.lit(0)),
                    ),
                    F.slice(
                        F.col("__toks__"),
                        2,
                        F.greatest(F.size("__toks__") - 1, F.lit(0)),
                    ),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("__p__")
        )
        .select("__p__.w1", "__p__.w2")
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    counts = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    left = counts.groupBy(F.col("w1").alias("__lw__")).agg(
        F.sum("cnt").alias("__l__")
    )
    right = counts.groupBy(F.col("w2").alias("__rw__")).agg(
        F.sum("cnt").alias("__r__")
    )
    total = counts.agg(F.sum("cnt").alias("__total__"))
    pmi = F.log(
        F.col("cnt").cast("double")
        * F.col("__total__").cast("double")
        / (F.col("__l__").cast("double") * F.col("__r__").cast("double"))
    )
    return (
        counts.filter(F.col("cnt") >= min_count)
        .join(left, F.col("w1") == F.col("__lw__"))
        .join(right, F.col("w2") == F.col("__rw__"))
        .crossJoin(F.broadcast(total))
        .select("w1", "w2", "cnt", F.round(pmi, 6).alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(top_n)
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet/KenLM-style language-model quality scoring, unigram form:
    train an add-one-smoothed unigram LM on the corpus itself, then
    score every document by its mean token log-probability. Low
    scores = improbable token distributions (boilerplate, code dumps,
    lorem-ipsum, wrong-language text) — the cheap in-engine stand-in
    for the external-LM perplexity filter in CCNet's pipeline.

    p(tok) = (count(tok) + 1) / (N + V); score = mean over the doc's
    tokens of ln p(tok). Returns ``(id_col, n_tokens, avg_logprob)``;
    empty docs get NULL avg_logprob.

    Scale shape: one explode + one token-count aggregation builds the
    LM (vocab-sized result, orders of magnitude smaller than the
    corpus), then one explode + equi-join token→logprob + per-doc avg.
    The LM table shuffles by token; the scoring join is hash-join by
    token (vocab is ~millions of rows at 100 TB — a plain shuffle
    join, NO broadcast assumption). Everything is built-in functions.
    """
    # Built via expr strings (round 12): one parse per select instead
    # of per-Column py4j chatter — the tree is token-identical to the
    # pre-round-12 Column build (pinned by ``sameResult`` in
    # tests/test_expr_builds.py, where the Column form lives on as the
    # specification).
    toks = df.selectExpr(
        id_col,
        f"explode({tokens_sql(f'lower({text_col})')}) AS tok",
    )
    lm = toks.groupBy("tok").agg(F.expr("count(1) AS cnt"))
    sizes = lm.agg(
        F.expr("sum(cnt) AS n_total"), F.expr("count(1) AS vocab")
    )
    lm = lm.crossJoin(F.broadcast(sizes)).selectExpr(
        "tok",
        # ln, not log: SQL's one-arg log parses to Logarithm(E, x)
        # while the Column form's F.log is the Log node — ln maps to
        # Log, keeping the tree token-identical.
        "ln(CAST(cnt + 1 AS double) / CAST(n_total + vocab AS double))"
        " AS lp",
    )
    scored = (
        toks.join(lm, "tok")
        .groupBy(id_col)
        .agg(
            F.expr("count(1) AS n_tokens"),
            F.expr("avg(lp) AS avg_logprob"),
        )
    )
    # docs with zero tokens never reach the explode — restore them
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .selectExpr(
            id_col,
            "coalesce(n_tokens, 0) AS n_tokens",
            "avg_logprob",
        )
    )


def token_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document Shannon entropy of the token distribution (bits):
    H = -Σ p ln p / ln 2 over the doc's own token frequencies. Low
    entropy = repetitive/templated text (the signal behind Gopher's
    repetition cuts, as a single scalar); high entropy = diverse
    vocabulary. Returns ``(id_col, n_tokens, entropy_bits)``.

    One explode + per-(doc, token) count + per-doc entropy fold —
    two doc-keyed aggregations, all built-ins, no Python.
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("tok")
    )
    tf = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    per_doc = tf.groupBy(id_col).agg(
        F.sum("c").alias("n_tokens"),
        # -Σ c·ln c computed first, then normalized: H = ln n − Σc·ln c / n
        F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double"))).alias(
            "__clnc__"
        ),
    )
    h_nats = F.log(F.col("n_tokens").cast("double")) - F.col("__clnc__") / F.col(
        "n_tokens"
    ).cast("double")
    scored = per_doc.select(
        id_col,
        "n_tokens",
        (h_nats / F.log(F.lit(2.0))).alias("entropy_bits"),
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            "entropy_bits",
        )
    )


def flesch_reading_ease(col: Column | str) -> Column:
    """Flesch reading-ease score from three regex counts — words,
    sentence terminators, and vowel-group "syllables":
    ``206.835 - 1.015·(words/sentences) - 84.6·(syllables/words)``.

    The classic readability heuristic used as a corpus-quality
    dimension (very low scores flag run-on machine text; very high
    ones flag fragment lists). Vowel-group counting is the standard
    cheap syllable proxy — exact enough for corpus-level filtering,
    and a pure integer-count expression, so the identical formula is
    oracle-exact in DuckDB. Zero-sentence / zero-word docs get NULL
    rather than a division blow-up.
    """
    c = F.col(col) if isinstance(col, str) else col
    words = token_count(c).cast("double")
    sentences = F.size(
        F.regexp_extract_all(c, F.lit(r"[.!?]+"), 0)
    ).cast("double")
    syllables = F.size(
        F.regexp_extract_all(F.lower(c), F.lit(r"[aeiouy]+"), 0)
    ).cast("double")
    return F.when(
        (words > 0) & (sentences > 0),
        F.lit(206.835)
        - F.lit(1.015) * (words / sentences)
        - F.lit(84.6) * (syllables / words),
    )


def bigram_interp_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.7,
) -> DataFrame:
    """CCNet/KenLM-style LM scoring, interpolated-bigram form — the
    next rung above :func:`unigram_logprob`: train add-one-smoothed
    unigram AND bigram models on the corpus itself, then score every
    document by its mean bigram-position log-probability under the
    Jelinek–Mercer interpolation

        p(w2 | w1) = lam * (c(w1,w2)+1)/(c(w1,·)+V)
                   + (1-lam) * (c(w2)+1)/(N+V).

    Catches what the unigram filter cannot: documents whose tokens
    are individually common but sequenced improbably (shuffled text,
    keyword stuffing, template churn). Returns
    ``(id_col, n_bigrams, avg_logprob)``; docs with <2 tokens get
    NULL avg_logprob.

    Scale shape: bigrams come from one zip_with of the token array
    against its own 1-shifted slice (two O(n) array ops per doc, no
    reslicing), exploded once. Both LM tables are tf-shaped
    aggregations orders of magnitude smaller than the corpus; the
    scoring joins are plain hash joins keyed on (w1,w2) and w2 — at
    100 TB the bigram vocabulary is large, so NO broadcast is
    assumed anywhere. Everything is built-in functions.
    """
    toks = tokens(F.lower(F.col(text_col)))
    base = df.select(F.col(id_col), toks.alias("__toks__"))
    uni = (
        base.select(F.explode("__toks__").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    sizes = uni.agg(
        F.sum("cnt").alias("n_total"), F.count(F.lit(1)).alias("v")
    )
    n = F.size("__toks__")
    pairs = (
        base.filter(n >= 2)
        .select(
            id_col,
            F.explode(
                F.zip_with(
                    F.slice(F.col("__toks__"), 1, n - 1),
                    F.slice(F.col("__toks__"), 2, n - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("__bg__"),
        )
        .select(id_col, "__bg__.w1", "__bg__.w2")
    )
    c12 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    c1 = c12.groupBy(F.col("w1").alias("__w1__")).agg(
        F.sum("c").alias("c1")
    )
    p_bi = (
        c12.join(c1, F.col("w1") == F.col("__w1__"))
        .crossJoin(F.broadcast(sizes))
        .select(
            "w1",
            "w2",
            (
                (F.col("c") + 1).cast("double")
                / (F.col("c1") + F.col("v")).cast("double")
            ).alias("p_bi"),
        )
    )
    p_uni = uni.crossJoin(F.broadcast(sizes)).select(
        F.col("tok").alias("__w2__"),
        (
            (F.col("cnt") + 1).cast("double")
            / (F.col("n_total") + F.col("v")).cast("double")
        ).alias("p_uni"),
    )
    scored = (
        pairs.join(p_bi, ["w1", "w2"])
        .join(p_uni, F.col("w2") == F.col("__w2__"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg(
                F.log(
                    F.lit(lam) * F.col("p_bi")
                    + F.lit(1.0 - lam) * F.col("p_uni")
                )
            ).alias("avg_logprob"),
        )
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "avg_logprob",
        )
    )
