"""Near-duplicate detection at scale: MinHash-LSH, SimHash, n-gram
Jaccard, embedding-cosine.

All signature computation is JVM-side (built-in array/hash functions —
``xxhash64``, ``transform``, ``aggregate``): no Python UDFs in the hot
path, so signatures cost one map-only pass over the corpus.

The 100 TB shape of MinHash-LSH dedup:
  1. signature pass (map-only, narrow);
  2. explode to B bands per doc (B ≈ 8-32 rows per doc — bounded blowup);
  3. one shuffle on (band_idx, band_hash) to bucket candidates;
  4. self-join *within buckets only* (candidate pairs ≪ n²);
  5. exact Jaccard verification on the candidate pairs.
Never a full n² cross join; skewed buckets (boilerplate docs) are
split by AQE skew-join handling.

No reference equivalent — the reference's dedup is exact-only
(/root/reference/src/core/contextual_pipeline.rs:609-644); these are
the BASELINE.json north-star extensions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from small_etl_spark.llm.textstats import ngram_windows_sql, tokens, tokens_sql
# re-exported under the historical name: queries.py imports it from here
from small_etl_spark.llm.util import ensure_parallelism as _ensure_parallelism


def word_shingles(col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text; ``col`` is
    a SQL expression string.

    The shingles are the ``n``-token windows of
    :func:`~small_etl_spark.llm.textstats.ngram_windows_sql`,
    deduplicated. Short docs (< n tokens) get one whole-text shingle so
    they can still match exact copies.

    Tokenizes ``lower(text)`` directly — the word-regex extraction
    ignores whitespace, so the normalize_text whitespace-collapse pass
    would produce identical tokens at 2× the regex cost. Built from SQL
    text: one ``F.expr`` parse replaces ~60 py4j round trips per call
    (round 12), and plan construction is part of every query's latency.
    """
    return F.expr(
        f"array_distinct({ngram_windows_sql(tokens_sql(f'lower({col})'), n)})"
    )


# Negative result, round 6 (do not retry): replacing string shingles
# with bigint shingle hashes for the xxhash64 family — whether hashed
# per token window (element_at×n inside the HOF: 1.63 s vs 0.86 s for
# the shingle table alone), via pre-hashed tokens combined per window
# (1.06 s), or by hashing the built strings in the same pass
# (neutral: 0.83 s vs 0.73 s WITH the lazy localCheckpoint) — did not
# beat concat_ws-over-slice strings at sf0.1. The interpreted HOF
# element_at/hash calls cost more than the string allocation they
# avoid, and the checkpoint of string arrays is not the bottleneck
# either. Measured interleaved, same session, min-of-3.


def minhash_signature(shingles: Column, num_hashes: int = 32) -> Column:
    """Portable MinHash signature: array of ``num_hashes`` minima over
    the shingle set, where hash i of shingle x is ``md5("{i}:" + x)``
    and minima compare lexicographically on the hex string.

    md5 is md5 in every engine, so this family is exactly reproducible
    in a DuckDB oracle (the same trick ``winnow_fingerprints`` uses) —
    slower (one digest per shingle per hash), so it's the correctness
    twin, not the bench path. The xxhash64 family is
    :func:`_minhash_minima_sql`.
    """

    def salted(i: int):
        # closure factory: a default-arg lambda would read as
        # binary (element, index) to F.transform
        prefix = f"{i}:"
        return lambda x: F.md5(F.concat(F.lit(prefix), x).cast("binary"))

    return F.array(
        *[
            F.array_min(F.transform(shingles, salted(i)))
            for i in range(num_hashes)
        ]
    )


def _minhash_minima_sql(num_hashes: int, seed: int) -> str:
    """SQL text of the xxhash64-family MinHash signature: the
    ``num_hashes`` minima over the materialized base-hash column
    ``__h__`` (each shingle xxhash64'd ONCE, reduced mod p).

    The ``num_hashes`` functions are derived by seeded universal
    hashing, ``pmod(h·a_i + b_i, p)`` with p = 2^31-1 — 32× less string
    hashing than hashing per seed, same collision behavior, and every
    intermediate fits in a bigint (ANSI-safe: h < p, so products stay
    < 2^62). One parse instead of ~250 py4j round trips.
    """
    import random

    p = (1 << 31) - 1  # Mersenne prime
    rng = random.Random(seed)
    params = [
        (rng.randrange(1, p), rng.randrange(p)) for _ in range(num_hashes)
    ]
    mins = ",".join(
        f"array_min(transform(__h__, h -> pmod(h * {a} + {b}, {p})))"
        for a, b in params
    )
    return f"array({mins})"


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.7,
    seed: int = 42,
    hash_family: str = "xxhash64",
    storage: str = "localckpt",
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard ≥ threshold) via
    MinHash banding.

    ``bands`` divides ``num_hashes``; rows_per_band = num_hashes/bands
    tunes the S-curve (8 bands × 4 rows ≈ catches jaccard ≳ 0.6).
    ``hash_family="md5"`` selects the DuckDB-reproducible signature
    family (see ``minhash_signature``) — band buckets become
    md5-of-concat strings instead of xxhash64 bigints.
    Returns columns: ``id_a, id_b, jaccard``.

    Storage discipline, round 6 (4th measured iteration): the shingle
    table feeds the band path and both verify joins. The default
    ``storage="localckpt"`` hash-repartitions it by id (explicit
    partition count — AQE would coalesce the small shuffle and starve
    the 32-hash signature stage) and then LAZILY localCheckpoints it:
    the first consumer materializes the blocks once, the other two
    read them, and — unlike ``persist`` — nothing roots the entry in
    the CacheManager, so the ContextCleaner releases the blocks as
    soon as the returned plan is garbage-collected (self-cleaning,
    verified in tests/test_round8_ops.py). localckpt beat reshuffle,
    lazy persist and no-cache in every same-session interleaved A/B
    (r5/r6: no-cache 2.3 s, reshuffle +0.4 s over localckpt).

    Recorded-ledger reconciliation, round 7 (closes the 4-round perf
    file): the driver's BENCH records 1.5-1.7 s for this query at
    sf0.1 while older sessions measured 0.52-0.98 s. Round 7 profiled
    the gap — it is HOST STATE, not plan shape: a same-session
    interleaved A/B of five plan variants (localckpt, reshuffle,
    broadcast-candidate verify, broadcast band join, explode+hash-agg
    signature, int64-hashed shingle checkpoint) all converged at a
    1.59-1.63 s floor on the r7 host, and stage decomposition shows
    ~0.2 s scan + per-stage fixed costs across the 6-stage plan
    dominate at sf0.1's 5,000 docs (the 10× stress ratio is 3.9 —
    strongly sublinear — so the floor is scheduling overhead, not
    data cost). The honest steady-state number is whatever min-of-6
    records on the bench host (BENCH_SELF.json), and the plan is at
    its measured optimum among all tried shapes.

    ``storage="reshuffle"`` keeps the pure exchange-reuse plan
    (ReuseExchange serves all three consumers from one shuffle
    write): slightly slower here, but its shuffle files are
    RECOMPUTABLE on executor loss, while lost localCheckpoint blocks
    fail the job — on a preemptible-node 100 TB cluster, that
    robustness is worth the delta, so flip the knob there. Both
    schemes compute shingles exactly once and leave zero long-lived
    state behind.
    """
    sh, banded = _shingle_band_tables(
        df,
        id_col,
        text_col,
        shingle_n,
        num_hashes,
        bands,
        seed,
        hash_family,
        storage=storage,
    )

    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bucket"])
        .filter("a.id < b.id")
        .selectExpr("a.id as id_a", "b.id as id_b")
        .dropDuplicates(["id_a", "id_b"])  # same pair can share several bands
    )
    return _verify_jaccard(cand, sh, sh, jaccard_threshold)


def _shingle_band_tables(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    num_hashes: int,
    bands: int,
    seed: int,
    hash_family: str,
    storage: str = "localckpt",
) -> tuple[DataFrame, DataFrame]:
    """Shared signature machinery for :func:`minhash_lsh_pairs` and
    the persisted index/probe pair: returns ``(sh, banded)`` where
    ``sh`` is the id-repartitioned — and, for the default
    ``storage="localckpt"``, lazily localCheckpointed — ``(id, sh)``
    shingle table (the compute-once point; see the storage-discipline
    note in :func:`minhash_lsh_pairs`) and ``banded`` the slim
    ``(id, band, bucket)`` LSH rows."""
    if storage not in ("localckpt", "reshuffle"):
        raise ValueError(f"unknown storage scheme: {storage!r}")
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    rpb = num_hashes // bands

    # Built via selectExpr/expr strings (round 12): plan construction
    # is timed per bench rep, and the Column-by-Column build cost
    # ~1,100 py4j round trips here — the expr text parses to the
    # token-identical tree in ONE call per select (measured 1545 → 451
    # round trips, −32% build wall for the whole query; rows pinned
    # identical in tests/test_llm_similarity.py).
    base = _ensure_parallelism(df).selectExpr(
        f"{id_col} as id", f"{text_col} as __t__"
    )
    # the repartition is the reuse/materialization point: see "Storage
    # discipline". EXPLICIT partition count: a bare repartition("id")
    # lets AQE coalesce the (small) shingle shuffle down to a few
    # partitions, which then starves the 32-hash signature stage of
    # parallelism — measured 2.3 s vs 1.5 s same-session at sf0.1.
    # Pinning the count keeps the expensive downstream stage wide.
    n_part = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    sh = base.select(
        "id", word_shingles("__t__", shingle_n).alias("sh")
    ).repartition(n_part, "id")
    if storage == "localckpt":
        sh = sh.localCheckpoint(eager=False)

    def bucket_sql(b: int) -> str:
        joined = f"concat_ws(',', slice(sig, {b * rpb + 1}, {rpb}))"
        if hash_family == "md5":
            return f"md5(cast({joined} as binary))"
        return f"xxhash64({joined}, {seed})"

    # slim (id, band, bucket) rows only — never shuffle the shingle
    # arrays through the ×bands candidate join. For the xxhash family,
    # materialize the per-shingle base-hash array as its own column
    # first: the minima run over it num_hashes times, and HOFs get no
    # codegen CSE (measured ~1.9× on the signature stage at sf0.1).
    # Do not re-add an Arrow (numpy) minima kernel: it lost the r12
    # interleaved A/B at sf0.1, HOF 1.248 s vs kernel 1.484 s.
    if hash_family == "md5":
        sig_df = sh.withColumn("sig", minhash_signature(F.col("sh"), num_hashes))
    else:
        p = (1 << 31) - 1
        hashed = sh.selectExpr(
            "id",
            f"transform(sh, x -> pmod(xxhash64(x, {seed}), {p})) as __h__",
        )
        sig_df = hashed.selectExpr(
            "id", f"{_minhash_minima_sql(num_hashes, seed)} as sig"
        )
    bands_txt = ",".join(
        f"struct({b} as band, {bucket_sql(b)} as bucket)"
        for b in range(bands)
    )
    banded = sig_df.selectExpr(
        "id", f"explode(array({bands_txt})) as bb"
    ).selectExpr("id", "bb.band as band", "bb.bucket as bucket")
    return sh, banded


def _verify_jaccard(
    cand: DataFrame,
    sh_a: DataFrame,
    sh_b: DataFrame,
    jaccard_threshold: float,
) -> DataFrame:
    """Exact-Jaccard verification of ``(id_a, id_b)`` candidate pairs
    against the ``(id, sh)`` shingle tables — fetch shingles only for
    surviving candidates (≪ n²); |A∪B| = |A|+|B|-|A∩B| on the
    distinct shingle sets, one array_intersect pass instead of
    intersect + union."""
    return (
        cand.join(
            sh_a.selectExpr("id as id_a", "sh as sh_a"),
            "id_a",
        )
        .join(
            sh_b.selectExpr("id as id_b", "sh as sh_b"),
            "id_b",
        )
        .selectExpr(
            "id_a",
            "id_b",
            "size(array_intersect(sh_a, sh_b)) as __i__",
            "(size(sh_a) + size(sh_b)) as __n__",
        )
        .selectExpr(
            "id_a",
            "id_b",
            "(__i__ / (__n__ - __i__)) as jaccard",
        )
        # the D suffix keeps the literal a DOUBLE, matching the old
        # F.lit(float) build (a bare 0.8 parses as DECIMAL in SQL)
        .filter(f"jaccard >= {jaccard_threshold!r}D")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    group_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    min_jaccard: float | None = None,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard within a blocking group.

    The deterministic (oracle-checkable) sibling of MinHash-LSH:
    blocking on ``group_col`` replaces probabilistic banding. Use when
    a natural blocking key exists (source, domain, near-equal length).
    Returns ``id_a, id_b, jaccard`` for every in-group pair.

    ``min_jaccard`` enables the SIZE-BOUND prefilter: shingles are
    distinct sets, so J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|) — any pair
    whose set sizes differ by more than the threshold ratio is pruned
    BEFORE the O(|A|+|B|) intersect/union math, on two already-
    computed ints. Same result set as filtering afterwards (the bound
    is an upper bound on J, so nothing above the threshold is ever
    pruned); at sf0.1 it skips the verify math for most in-group
    pairs. The returned frame is then also filtered to
    ``jaccard >= min_jaccard``.
    """
    base = _ensure_parallelism(df).select(
        F.col(group_col).alias("g"),
        F.col(id_col).alias("id"),
        word_shingles(text_col, shingle_n).alias("sh"),
    ).withColumn("ns", F.size("sh"))
    a, b = base.alias("a"), base.alias("b")
    joined = a.join(b, "g").filter(F.col("a.id") < F.col("b.id"))
    if min_jaccard is not None:
        joined = joined.filter(
            F.least("a.ns", "b.ns")
            >= F.lit(min_jaccard) * F.greatest("a.ns", "b.ns")
        )
    # |A∪B| = |A|+|B|-|A∩B| on distinct sets: one array_intersect pass
    # instead of intersect + union (union re-walks both arrays AND
    # allocates the merged array — half the verify math for free)
    out = joined.select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.size(F.array_intersect("a.sh", "b.sh")).alias("__i__"),
        (F.col("a.ns") + F.col("b.ns")).alias("__n__"),
    ).select(
        "id_a",
        "id_b",
        (F.col("__i__") / (F.col("__n__") - F.col("__i__"))).alias("jaccard"),
    )
    if min_jaccard is not None:
        out = out.filter(F.col("jaccard") >= min_jaccard)
    return out


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """EXACT all-pairs Jaccard ≥ ``threshold`` via prefix filtering
    (the PPJoin family — Chaudhuri et al. ICDE'06, Xiao et al.
    WWW'08) — no blocking key required and never an n² cross join.

    The trick: order every doc's shingles by global rarity (document
    frequency asc, shingle asc — a total order). If J(x, y) ≥ t, the
    two docs must share at least one shingle inside their *prefixes*
    of length |x| − ⌈t·|x|⌉ + 1 — so candidate generation is an
    equi-join on prefix shingles only. Prefix shingles are by
    construction the RAREST in the corpus, so bucket sizes stay small
    exactly where a naive token-join explodes (stopword shingles never
    reach a prefix). A size filter (min ≥ t·max, from J ≤ min/max)
    prunes further before the exact verify.

    Unlike ``minhash_lsh_dedup`` this is deterministic and recall-1.0:
    output is provably identical to the brute-force all-pairs join
    (property-tested in tests/test_pii_and_dedup_variants.py). Unlike
    ``ngram_jaccard_pairs`` it needs no blocking column.

    100 TB shape: two shuffles to build the df-ordered shingle lists
    (explode→count, join-back→collect), one equi-join on (rare) prefix
    shingles, exact verification on candidates only. Skewed prefix
    buckets (a rare-but-shared boilerplate shingle) split under AQE
    skew-join handling. Returns ``id_a, id_b, jaccard``.

    No reference equivalent (exact-only dedup,
    /root/reference/src/core/contextual_pipeline.rs:609-644).
    """
    base = _ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        word_shingles(text_col, shingle_n).alias("sh"),
    ).persist()

    toks = base.select("id", F.explode("sh").alias("tok"))
    dfc = toks.groupBy("tok").agg(F.count("*").alias("dfc"))
    # rarity-ordered shingle list per doc: struct(dfc, tok) sorts by
    # document frequency first, shingle string as the tiebreak — a
    # deterministic total order shared with the verify-side arrays
    ordered = (
        toks.join(dfc, "tok")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("dfc", "tok"))).alias("ord"))
        .select(
            "id",
            F.transform("ord", lambda s: s["tok"]).alias("otoks"),
            F.size("ord").alias("sz"),
        )
    )
    # prefix length |x| - ceil(t|x|) + 1: the pigeonhole bound — any
    # pair at J ≥ t must collide inside these rarest-first prefixes
    plen = (
        F.size("otoks")
        - F.ceil(F.lit(threshold) * F.size("otoks")).cast("int")
        + F.lit(1)
    )
    # persist: the self-join below would otherwise recompute the whole
    # explode→count→join→collect prefix pipeline for BOTH aliases —
    # slim (id, sz, tok) rows, bounded by the prefix length
    pref = ordered.select(
        "id", "sz", F.explode(F.slice("otoks", F.lit(1), plen)).alias("tok")
    ).persist()
    cand = (
        pref.alias("a")
        .join(pref.alias("b"), "tok")
        .filter(
            (F.col("a.id") < F.col("b.id"))
            # size filter: J ≤ min(|x|,|y|)/max(|x|,|y|), so J ≥ t
            # forces the smaller set to be ≥ t × the larger
            & (F.col("b.sz") >= F.lit(threshold) * F.col("a.sz"))
            & (F.col("a.sz") >= F.lit(threshold) * F.col("b.sz"))
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        cand.join(base.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(base.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def winnow_fingerprints(col: str, k: int = 5, w: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): the minimum hash of every ``w``-window over the
    ordered ``k``-gram hash sequence, deduplicated and sorted.

    Local fingerprinting detects *partial* overlap (a copied paragraph
    inside an otherwise-different document) that whole-document
    MinHash signatures dilute. Pure array built-ins — tokens → ordered
    k-grams → md5 per gram → window minima — one map-only pass, no
    shuffle, no Python. md5-hex minima compare lexicographically, so
    the same expression is reproducible in the DuckDB oracle (md5 is
    md5 everywhere); swap ``F.xxhash64`` for md5 at 100 TB if the
    16-byte strings dominate the fingerprint index size.

    Guarantee (from the paper): any shared run of ≥ w+k-1 tokens
    yields at least one shared fingerprint.

    Window minima use a sparse-table doubling composition of
    ``zip_with`` over shifted copies — O(n·log w) with one array
    allocation per doubling level — instead of the naive
    per-position ``array_min(slice(...))``, which is O(n·w) slices
    through Spark's interpreted higher-order functions and measured
    5× slower at w=4 (the SimHash per-bit-aggregate lesson again).
    ``col`` is a SQL expression string.
    """
    grams = F.expr(ngram_windows_sql(tokens_sql(f"lower({col})"), k))
    hashes = F.transform(grams, lambda g: F.md5(g.cast("binary")))

    def _let(value: Column, body) -> Column:
        # body(value) with value bound to a lambda variable: each level
        # reads its input twice, and HOFs get no CSE, so an inline input
        # would re-run the whole gram/md5 pipeline per reference
        return F.element_at(F.transform(F.array(value), body), 1)

    def _shift_min(m: Column, shift: int) -> Column:
        # elementwise min of m and m shifted left by `shift`; least()
        # skips the nulls zip_with pads the shorter tail with
        return _let(
            m,
            lambda x: F.zip_with(
                x,
                F.slice(x, shift + 1, F.greatest(F.size(x) - shift, F.lit(1))),
                lambda a, b: F.least(a, b),
            ),
        )

    mins, span = hashes, 1
    while span * 2 <= w:
        mins = _shift_min(mins, span)
        span *= 2
    if span < w:
        mins = _shift_min(mins, w - span)
    # zip_with keeps the longer (left) length: size(mins) = size(hashes)
    return _let(
        mins,
        lambda m: F.array_sort(
            F.array_distinct(
                F.slice(m, 1, F.greatest(F.size(m) - F.lit(w - 1), F.lit(1)))
            )
        ),
    )


def winnowing_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 20,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowing fingerprints
    (plagiarism-style partial-overlap detection).

    Shape: fingerprint → explode → drop fingerprints appearing in more
    than ``max_df`` docs (boilerplate phrases would otherwise create
    quadratic hot buckets — the same reason MinHash-LSH drops hot
    bands) → self-equi-join on fingerprint → per-pair count. Every
    join is an equi-join on the fingerprint value; no all-pairs stage
    anywhere, so the plan survives web-corpus scale.
    Returns ``id_a, id_b, shared_fp``.
    """
    # (id, fingerprint) rows are consumed 3× (docfreq agg + both self-
    # join sides) — persist so the md5-per-gram pipeline runs once per
    # doc, exactly like the MinHash path persists its shingles
    fp = _ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.explode(winnow_fingerprints(text_col, k, w)).alias("f"),
    ).persist()
    rare = fp.groupBy("f").agg(F.count(F.lit(1)).alias("df_count")).filter(
        F.col("df_count") <= max_df
    )
    slim = fp.join(rare.select("f"), "f").persist()
    return (
        slim.alias("a")
        .join(slim.alias("b"), "f")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared_fp"))
        .filter(F.col("shared_fp") >= min_shared)
    )


def ngram_contamination(
    docs: DataFrame,
    probes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    probe_id_col: str = "probe_id",
    probe_text_col: str = "text",
    n: int = 8,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: training docs that share ≥
    ``min_overlap`` distinct word ``n``-grams with any probe
    (benchmark/eval) document.

    The standard pre-training hygiene step (the GPT-3 paper's 13-gram
    filter is this exact shape). Plan: distinct n-grams on both sides
    → equi-join on the gram → per-(doc, probe) overlap count. The
    probe side is tiny (an eval suite) — AQE broadcasts it — and the
    doc side streams through without ever materializing doc×doc or
    doc×probe pairs that share nothing. Returns
    ``doc_id, probe_id, n_shared``.
    """
    d = _ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(text_col, n)).alias("gram"),
    )
    p = probes.select(
        F.col(probe_id_col).alias("probe_id"),
        F.explode(word_shingles(probe_text_col, n)).alias("gram"),
    )
    return (
        d.join(p, "gram")
        .groupBy("doc_id", "probe_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_overlap)
    )


def simhash64(col: Column | str, seed: int = 42) -> Column:
    """64-bit SimHash of the token multiset.

    For each bit j, sum over tokens of ±1 according to bit j of the
    token's xxhash64; bit j of the result = sign of the sum. Built
    from ``aggregate`` + ``zip_with`` — one pass, JVM-side.
    """
    c = F.col(col) if isinstance(col, str) else col
    hs = F.transform(tokens(F.lower(c)), lambda t: F.xxhash64(t, F.lit(seed)))
    return _simhash_from_hashes(hs)


def _simhash_from_hashes(hs: Column) -> Column:
    """Fold an array of 64-bit token hashes into the SimHash.

    bit j is set iff more tokens have bit j set than unset
    (2·cnt_j > n — equivalent to the classic ±1 sum > 0). Each bit is
    a scalar ``aggregate`` over the hash array: no per-token array
    allocation (the naive zip_with-of-±1-vectors formulation allocates
    a 64-int array per token and is ~50× slower).
    """
    n = F.size(hs)

    def bitcnt(j: int) -> Column:
        return F.aggregate(
            hs,
            F.lit(0).cast("bigint"),
            lambda acc, h: acc + F.shiftright(h, j).bitwiseAND(F.lit(1)),
        )

    out = F.lit(0).cast("bigint")
    for j in range(64):
        out = out + F.when(
            bitcnt(j) * 2 > n, F.shiftleft(F.lit(1).cast("bigint"), j)
        ).otherwise(F.lit(0).cast("bigint"))
    return out


def simhash16_md5(col: Column | str) -> Column:
    """Portable 16-bit SimHash: token hash = first 4 hex chars of
    md5(token) (lexicographic hex → integer via base-16 conv), bit j of
    the result = majority vote of bit j over the token multiset.

    The DuckDB-reproducible twin of ``simhash64`` (same shape as the
    md5 MinHash family): 16 bits keeps the per-bit aggregate count
    affordable while exercising the identical majority-vote +
    pigeonhole-blocking pipeline the 64-bit scale path uses.
    """
    c = F.col(col) if isinstance(col, str) else col
    hs = F.transform(
        tokens(F.lower(c)),
        lambda t: F.conv(F.substring(F.md5(t.cast("binary")), 1, 4), 16, 10).cast(
            "bigint"
        ),
    )
    n = F.size(hs)

    def bitcnt(j: int) -> Column:
        return F.aggregate(
            hs,
            F.lit(0).cast("bigint"),
            lambda acc, h: acc + F.shiftright(h, j).bitwiseAND(F.lit(1)),
        )

    out = F.lit(0).cast("bigint")
    for j in range(16):
        out = out + F.when(
            bitcnt(j) * 2 > n, F.shiftleft(F.lit(1).cast("bigint"), j)
        ).otherwise(F.lit(0).cast("bigint"))
    return out


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    seed: int = 42,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Blocking: split the hash into ``max_hamming + 1`` chunks —
    any pair within distance ``max_hamming`` must agree exactly on at
    least one chunk (pigeonhole), so candidates come from equi-joins
    on (chunk_idx, chunk_value): shuffle-friendly, never n².

    ``hash_family="md5"`` switches to the 16-bit portable signature
    (``simhash16_md5``) whose full pipeline replays in a DuckDB oracle.
    """
    total_bits = 16 if hash_family == "md5" else 64
    chunks = max_hamming + 1
    bits = total_bits // chunks

    if hash_family == "md5":
        base = _ensure_parallelism(df).select(
            F.col(id_col).alias("id"), simhash16_md5(text_col).alias("h")
        )
    else:
        base = _simhash_table(_ensure_parallelism(df), id_col, text_col, seed)
    exploded = base.select(
        "id",
        "h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("h"), c * bits)
                        .bitwiseAND(F.lit((1 << bits) - 1))
                        .alias("val"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("cc"),
    ).select("id", "h", F.col("cc.chunk").alias("chunk"), F.col("cc.val").alias("val"))

    a, b = exploded.alias("a"), exploded.alias("b")
    ham = F.bit_count(F.col("a.h").bitwiseXOR(F.col("b.h")))
    return (
        a.join(b, ["chunk", "val"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cosine_threshold: float = 0.95,
    num_planes: int = 16,
    seed: int = 42,
    dim: int = 64,
) -> DataFrame:
    """Embedding near-duplicates: random-hyperplane LSH buckets, then
    exact cosine within buckets.

    Hyperplane weights are seeded Python literals (no RNG state to
    ship); the sign pattern over ``num_planes`` planes is the bucket.
    Exact cosine verifies candidates. P(candidate at cosine θ) =
    (1 - acos(θ)/π)^num_planes — sized for the ≥0.9 near-dup regime.
    """
    from small_etl_spark.llm.similarity import cosine_sim, hyperplane_bucket

    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("bucket", hyperplane_bucket(F.col("v"), num_planes, seed, dim))
    a, b = base.alias("a"), base.alias("b")
    sim = cosine_sim(F.col("a.v"), F.col("b.v"))
    return (
        a.join(b, "bucket")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            sim.alias("cosine"),
        )
        .filter(F.col("cosine") >= cosine_threshold)
    )


def near_dedup_filter(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop near-duplicates, keeping the smallest id of each pair.

    Greedy canonicalization: any doc appearing as the *larger* side of
    a pair is removed (pairs are emitted with id_a < id_b, so the
    minimum of every connected component always survives; some
    non-minimal members may survive transitively-unlinked chains —
    the standard greedy trade-off vs. full connected components, which
    needs an iterative join loop).

    One left-anti join against the distinct larger-side ids — at
    100 TB the dup-id side is small relative to the corpus and
    broadcasts.
    """
    dups = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(F.broadcast(dups), id_col, "left_anti")


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs: every doc labeled with
    the minimum doc id of its component (singletons label themselves).
    Returns ``(id_col, component)``.

    The exact canonicalization ``near_dedup_filter`` approximates:
    transitive chains (A~B, B~C but not A~C) collapse to one canonical
    representative.

    Iterative min-label propagation: each round joins labels across
    the symmetrized edge set and keeps the per-node min; stops when a
    round changes nothing (or at ``max_iter``). Rounds = component
    diameter, which for near-dup clusters is tiny (dup groups are
    near-cliques). Each round is one join + one combiner-style min agg;
    lineage is cut with localCheckpoint so plans don't snowball.
    """
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()

    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("label")
    ).localCheckpoint()

    for _ in range(max_iter):
        msgs = sym.join(
            labels, sym["src"] == labels["node"]
        ).select(F.col("dst").alias("node"), "label")
        new_labels = (
            labels.union(msgs)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    sym.unpersist()
    return labels.select(F.col("node").alias(id_col), F.col("label").alias("component"))


def _simhash_table(
    df: DataFrame, id_col: str, text_col: str, seed: int = 42
) -> DataFrame:
    """(id, simhash) via explode + grouped bit-count sums.

    Whole-stage-codegen'd: tokens explode to (id, hash) rows, 64
    ``sum((h>>j)&1)`` aggregates fold them back — ~1.5× the staged
    higher-order-function formulation (``simhash64``), identical
    output. The groupBy shuffle carries one row per doc (each doc's
    tokens sit in one partition, so the partial agg combines fully
    map-side). ``explode_outer`` + null guards keep token-less docs
    (simhash 0), matching ``simhash64``.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(tokens(F.lower(F.col(text_col)))).alias("t"),
    )
    hashed = toks.select(
        "id",
        F.when(F.col("t").isNotNull(), F.xxhash64("t", F.lit(seed))).alias("h"),
    )
    aggs = [
        F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1))).alias(f"__c{j}__")
        for j in range(64)
    ]
    cnt = hashed.groupBy("id").agg(F.count("h").alias("__n__"), *aggs)
    out = F.lit(0).cast("bigint")
    for j in range(64):
        out = out + F.when(
            F.coalesce(F.col(f"__c{j}__"), F.lit(0)) * 2 > F.col("__n__"),
            F.shiftleft(F.lit(1).cast("bigint"), j),
        ).otherwise(F.lit(0).cast("bigint"))
    return cnt.select("id", out.alias("h"))


def cross_doc_segment_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_words: int = 3,
    max_docs: int = 2,
) -> DataFrame:
    """Cross-corpus repeated-segment removal (the RefinedWeb /
    CCNet "line dedup" pass, with fixed ``seg_words``-word windows
    standing in for lines since the corpus has no newlines): any
    segment appearing in more than ``max_docs`` distinct documents is
    boilerplate (headers, navigation chrome, license banners) and is
    struck from every document; survivors are reassembled in order.
    Documents whose every segment is boilerplate are dropped.

    Returns ``(id_col, clean_text, n_kept, n_dropped)``.

    Plan shape (and why it scales):
      1. map-only segmentation — ``split`` into strided
         ``ngram_windows_sql`` windows, all JVM-side, no Python;
      2. posexplode to (doc, pos, segment) rows;
      3. ONE shuffle: groupBy(segment) → count distinct docs (partial
         aggs combine map-side, so hot boilerplate segments collapse
         early — the skew is absorbed before the exchange);
      4. segment-keyed equi-join of the counts back onto the exploded
         rows (AQE picks broadcast when the distinct-segment side is
         small, shuffle join otherwise — never hinted);
      5. groupBy(doc) reassembly via sort_array(collect_list(...)) —
         grouped rows are bounded by segments-per-doc, so the
         collect_list is O(doc length), not corpus-sized.
    At 100 TB the only wide ops are the two hash shuffles (3) and (5),
    both on keys with bounded group sizes. Compare winnow/minhash
    passes in this module: same explode→agg→join discipline.
    """
    # NULL text has no segments: drop it before segmenting (the
    # window primitive would give it one empty segment)
    segs = ngram_windows_sql(f"split({text_col}, ' ')", seg_words, seg_words)
    exploded = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.posexplode(F.expr(segs)).alias("pos", "seg")
    )
    counts = exploded.groupBy("seg").agg(
        F.count_distinct(F.col(id_col)).alias("nd")
    )
    joined = exploded.join(counts, "seg")
    keep = F.col("nd") <= F.lit(max_docs)
    kept_struct = F.when(keep, F.struct(F.col("pos"), F.col("seg")))
    out = (
        joined.groupBy(id_col)
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["seg"],
                ),
            ).alias("clean_text"),
            F.sum(keep.cast("bigint")).alias("n_kept"),
            F.sum((~keep).cast("bigint")).alias("n_dropped"),
        )
        .filter(F.col("n_kept") > 0)
    )
    return out


def doc_ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Corpus-order n-gram novelty per document: the fraction of a
    document's distinct word ``n``-gram shingles whose FIRST corpus
    occurrence (minimum ``id_col``) is this document. Returns
    ``(doc_id, n_shingles, n_novel, novelty)``; ``novelty`` is an
    integer-ratio double (exactly rounded in IEEE → bit-identical
    across engines).

    The curation diagnostic behind incremental-crawl dedup: a low
    novelty score means the document is mostly restating n-grams
    already present earlier in the corpus (boilerplate, syndicated
    copy) even when no single document clears a pairwise-similarity
    bar. Plan shape: one explode of the shingle array, a
    shingle-keyed ``min`` aggregation (tf-shaped, map-side partials),
    a shingle-keyed equi-join back, and a doc-keyed count — no
    pairwise comparison anywhere, so it scales like term counting,
    not like a similarity join.
    """
    from small_etl_spark.llm.util import ensure_parallelism

    # single-split corpora would shingle on ONE core (measured 7.9 s
    # → 1.4 s at sf0.1); no-op when the input already has splits
    sh = ensure_parallelism(df).select(
        F.col(id_col).alias("__id__"),
        F.explode(word_shingles(text_col, n)).alias("__sh__"),
    )
    first = sh.groupBy("__sh__").agg(F.min("__id__").alias("__first__"))
    per = (
        sh.join(first, "__sh__")
        .groupBy("__id__")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                (F.col("__first__") == F.col("__id__")).cast("bigint")
            ).alias("n_novel"),
        )
    )
    return per.select(
        F.col("__id__").alias(id_col),
        "n_shingles",
        "n_novel",
        F.round(
            F.col("n_novel").cast("double") / F.col("n_shingles").cast("double"),
            6,
        ).alias("novelty"),
    )


def semantic_dedup_keep(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cosine_threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding corpus:
    cosine-near-duplicate pairs (hyperplane-LSH blocked + exact-cosine
    verified, ``embedding_near_dup_pairs``) are closed into connected
    components, and exactly ONE representative per component — the
    minimum id — is kept. Returns ``(id_col, component, keep)`` for
    every input vector; singletons keep themselves.

    This is the embedding-space twin of ``near_dup_components`` +
    ``near_dedup_filter``: where MinHash catches lexical duplicates,
    cosine components catch paraphrases and re-encodings that share
    no n-grams (the SemDeDup observation: semantic duplicates cluster
    tightly in embedding space).

    Scale shape: candidate pairs come from a bucket equi-join (never
    all-pairs); components are iterative min-label propagation whose
    rounds equal component diameter (near-dup clusters are
    near-cliques, so 2-3 rounds); the final keep flag is a column
    expression. The cosine is rounded to 6dp BEFORE thresholding so
    the boundary pair-set is reproducible across engines.
    """
    pairs = embedding_near_dup_pairs(
        emb,
        id_col=id_col,
        vec_col=vec_col,
        cosine_threshold=cosine_threshold - 0.05,
    )
    pairs = pairs.withColumn("cosine", F.round("cosine", 6)).filter(
        F.col("cosine") >= cosine_threshold
    )
    comp = connected_components(
        emb.select(F.col(id_col)), pairs, id_col=id_col
    )
    return comp.select(
        id_col,
        "component",
        (F.col(id_col) == F.col("component")).alias("keep"),
    )


def dup_span_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Exhaustive duplicated-substring coverage per document (the
    exact-substring-dedup signal of Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", without the suffix
    array): a token position is COVERED when it lies inside any word
    ``n``-gram that also occurs in at least one OTHER document.
    Returns ``(doc_id, n_tokens, covered, coverage)``.

    Where :func:`doc_ngram_novelty` scores distinct shingles and
    winnowing samples fingerprints, this measures every token
    position — the per-document "how much of me is copied text"
    fraction used to drop or trim boilerplate-heavy docs.

    Plan shape — and the scale argument: one explode to n-gram
    starts, a gram-keyed min/max aggregation (min(doc) ≠ max(doc) ⟺
    appears in ≥2 docs — two cheap aggregates instead of
    COUNT(DISTINCT)), an equi-join back, then a PER-DOCUMENT window
    (rows n-1 preceding) turning duplicated starts into covered
    token intervals — interval union as a running max, no interval
    self-join. Every stage is tf-shaped or doc-partitioned; nothing
    is pairwise.
    """
    toks = tokens(F.lower(F.col(text_col)))
    base = df.select(
        F.col(id_col).alias("__id__"),
        toks.alias("__toks__"),
        F.size(toks).alias("__T__"),
    )
    # one row per gram start, then a row-level (codegen'd) slice: the
    # ngram_windows_sql array form builds the same grams inside an
    # interpreted higher-order function and lost the A/B on this
    # operator at sf0.1 (1.29 s vs 1.68 s, slower in 10/10 pairs)
    grams = (
        base.filter(F.col("__T__") >= n)
        .select(
            "__id__",
            "__toks__",
            F.explode(
                F.sequence(F.lit(1), F.col("__T__") - F.lit(n - 1))
            ).alias("__s__"),
        )
        .select(
            "__id__",
            "__s__",
            F.concat_ws(" ", F.slice("__toks__", F.col("__s__"), n)).alias(
                "__gram__"
            ),
        )
    )
    dup_grams = (
        grams.groupBy("__gram__")
        .agg(F.min("__id__").alias("__lo__"), F.max("__id__").alias("__hi__"))
        .filter(F.col("__lo__") != F.col("__hi__"))
        .select("__gram__")
    )
    dup_starts = grams.join(dup_grams, "__gram__").select(
        "__id__", "__s__", F.lit(1).alias("__dup__")
    )
    positions = base.select(
        "__id__",
        "__T__",
        F.explode(F.sequence(F.lit(1), F.col("__T__"))).alias("__s__"),
    )
    w = (
        Window.partitionBy("__id__")
        .orderBy("__s__")
        .rowsBetween(-(n - 1), 0)
    )
    covered = (
        positions.join(dup_starts, ["__id__", "__s__"], "left")
        .na.fill({"__dup__": 0})
        .withColumn("__cov__", F.max("__dup__").over(w))
    )
    return (
        covered.groupBy("__id__")
        .agg(
            F.max("__T__").alias("n_tokens"),
            F.sum("__cov__").cast("bigint").alias("covered"),
        )
        .select(
            F.col("__id__").alias(id_col),
            "n_tokens",
            "covered",
            F.round(
                F.col("covered").cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("coverage"),
        )
    )


def segment_dedup_first_wins(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_words: int = 3,
) -> DataFrame:
    """Corpus-wide exact-segment dedup, FIRST occurrence wins (the
    exact-substring-dedup *edit* of Lee et al. 2022 rather than its
    signal): every distinct ``seg_words``-word segment is kept only at
    its first occurrence — ordered by (``id_col``, position) — and
    struck from every later document (and later repeats inside the
    same document); survivors are reassembled in order. Documents
    whose every segment is a repeat vanish from the output.

    Complements :func:`cross_doc_segment_dedup` (which strikes
    boilerplate from ALL docs once it crosses a doc-frequency
    threshold): here the canonical copy survives, matching the
    train-data policy "keep one copy of every passage".

    Returns ``(id_col, clean_text, n_kept, n_dropped)``.

    Plan shape: map-only strided segmentation (split into
    ``ngram_windows_sql`` windows, JVM-side) → posexplode → ONE
    segment-keyed shuffle computing ``min(struct(id, pos))`` per
    segment (partial aggs combine map-side, so hot segments collapse
    before the wire) → equi-join back (AQE elects broadcast only if
    the distinct-segment side is tiny) → per-doc reassembly with
    bounded group size. At
    100 TB: two hash shuffles on bounded-group keys, nothing
    pairwise — the same discipline as every explode→agg→join pass in
    this module.
    """
    # NULL text has no segments: drop it before segmenting (the
    # window primitive would give it one empty segment)
    segs = ngram_windows_sql(f"split({text_col}, ' ')", seg_words, seg_words)
    exploded = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.posexplode(F.expr(segs)).alias("pos", "seg")
    )
    firsts = exploded.groupBy("seg").agg(
        F.min(F.struct(F.col(id_col).alias("fid"), F.col("pos").alias("fpos"))).alias(
            "__first__"
        )
    )
    joined = exploded.join(firsts, "seg")
    keep = (F.col(id_col) == F.col("__first__.fid")) & (
        F.col("pos") == F.col("__first__.fpos")
    )
    kept_struct = F.when(keep, F.struct(F.col("pos"), F.col("seg")))
    return (
        joined.groupBy(id_col)
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["seg"],
                ),
            ).alias("clean_text"),
            F.sum(keep.cast("bigint")).alias("n_kept"),
            F.sum((~keep).cast("bigint")).alias("n_dropped"),
        )
        .filter(F.col("n_kept") > 0)
    )


def prefix_dedup_keep_longest(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Drop every document whose text is an exact duplicate OR a
    strict prefix of another document's text, keeping the longest
    extension (truncated re-crawls, pagination stubs, and partial
    fetches are prefixes of the full page). Exact ties keep the
    smallest ``id_col``. Returns the surviving ``(id_col, text_col)``.

    Why one global sort suffices — the lexicographic prefix lemma: if
    ``P`` is a prefix of ``X`` then every string ``S`` with
    ``P ≤ S ≤ X`` also starts with ``P`` (its first ``|P|`` chars are
    pinned between ``P`` and ``X``'s, which are both ``P``). So a text
    is a strict prefix of SOME other text iff it is a prefix of its
    IMMEDIATE lexicographic successor — no pairwise comparison needed.

    Plan shape: (1) exact-text first-wins collapse, one hash shuffle
    (min per text, map-side combined); (2) the distributed
    global-ordinal scaffold (range exchange pinned once, offsets
    broadcast-joined — operators/sort.py::global_ordinal, NEVER a
    single-partition window) orders the distinct texts; (3) one
    self equi-join on ``ordinal+1`` pairs each text with its
    successor for the startswith test. At 100 TB: one range sort +
    two hash shuffles, all on distinct texts.
    """
    from small_etl_spark.operators.sort import global_ordinal

    by_text = docs.groupBy(F.col(text_col).alias("text")).agg(
        F.min(F.col(id_col)).alias("__keep_id__")
    )
    ordd = global_ordinal(by_text, ["text"], ordinal_col="__ord__")
    nxt = ordd.select(
        (F.col("__ord__") - 1).alias("__ord__"),
        F.col("text").alias("__next_text__"),
    )
    return (
        ordd.join(nxt, "__ord__", "left")
        .filter(
            F.col("__next_text__").isNull()
            | ~F.col("__next_text__").startswith(F.col("text"))
        )
        .select(
            F.col("__keep_id__").alias(id_col), F.col("text").alias(text_col)
        )
    )


def minhash_lsh_index_write(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    hash_family: str = "xxhash64",
) -> None:
    """Persist a MinHash-LSH dedup index for ``docs`` under ``path``:
    ``bands/`` — the slim ``(id, bucket)`` rows partitioned BY BAND —
    and ``shingles/`` — the ``(id, sh)`` shingle sets needed for exact
    verification. Index parameters are stored in ``_params.json`` and
    validated at probe time, so a probe can never silently mix hash
    families or band geometries.

    This is the build-once/probe-many half of INCREMENTAL corpus
    dedup: at 100 TB the corpus signature pass is the dominant cost,
    and re-running it for every ingest batch (the
    :func:`minhash_lsh_pairs` shape) re-reads the whole corpus.
    Persisting ``(band, bucket, id)`` once turns each batch into a
    delta-sized job — see :func:`minhash_lsh_probe`.
    """
    import json as _json
    import os as _os

    sh, banded = _shingle_band_tables(
        docs, id_col, text_col, shingle_n, num_hashes, bands, seed, hash_family
    )
    banded.write.mode("overwrite").partitionBy("band").parquet(
        _os.path.join(path, "bands")
    )
    sh.write.mode("overwrite").parquet(_os.path.join(path, "shingles"))
    with open(_os.path.join(path, "_params.json"), "w") as fh:
        _json.dump(
            {
                "shingle_n": shingle_n,
                "num_hashes": num_hashes,
                "bands": bands,
                "seed": seed,
                "hash_family": hash_family,
            },
            fh,
        )


def minhash_lsh_probe(
    spark,
    path: str,
    delta: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.7,
) -> DataFrame:
    """Probe a persisted LSH index (:func:`minhash_lsh_index_write`)
    with a delta batch: returns ``(probe_id, corpus_id, jaccard)`` for
    every delta document whose Jaccard similarity against an INDEXED
    document reaches the threshold — the "is this new page a near-dup
    of anything we already have" gate of an incremental ingest
    pipeline (compose with a LeftAnti on ``probe_id`` to admit only
    novel docs, as in operators/sketches.py's Bloom delta path).

    The probe never touches the raw corpus text: its plan reads ONLY
    the index parquet plus the delta (tests pin this on the physical
    plan). The signature COMPUTE is delta-sized — signature the delta
    (map-only), one (band, bucket) equi-join against the index's band
    rows (partitioned by band, so each join task streams exactly one
    band's files), then exact verification joining the candidates'
    shingle sets: the delta side from the just-computed shingles, the
    corpus side from the persisted ``shingles/`` table. Honest read
    accounting: the band rows and the shingle store are corpus-sized
    SCANS (columnar, no text, no recompute, and no corpus-side
    shuffle — AQE broadcasts the candidate side) — cut them further
    at 100 TB by bucketing the store by id and letting the runtime
    Bloom filter from the candidate ids prune row groups. Measured
    (sf0.1, 10×-inflated corpus, fixed 10% delta, min-of-3): probe
    1.96 s vs 4.80 s full :func:`minhash_lsh_pairs` recompute — 2.4×,
    and the gap widens with corpus scale (probe grew 0.3 s from the
    1× corpus, full recompute grew 3.1 s).
    """
    import json as _json
    import os as _os

    with open(_os.path.join(path, "_params.json")) as fh:
        p = _json.load(fh)

    sh_d, banded_d = _shingle_band_tables(
        delta,
        id_col,
        text_col,
        p["shingle_n"],
        p["num_hashes"],
        p["bands"],
        p["seed"],
        p["hash_family"],
    )
    idx_bands = spark.read.parquet(_os.path.join(path, "bands"))
    idx_sh = spark.read.parquet(_os.path.join(path, "shingles"))
    cand = (
        banded_d.alias("a")
        .join(idx_bands.alias("b"), ["band", "bucket"])
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    out = _verify_jaccard(cand, sh_d, idx_sh, jaccard_threshold)
    return out.select(
        F.col("id_a").alias("probe_id"),
        F.col("id_b").alias("corpus_id"),
        "jaccard",
    )
