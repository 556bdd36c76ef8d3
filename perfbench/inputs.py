"""Seeded input generators for the benchmark.

Everything here is a pure function of ``seed`` (plus fixed sizes): the
same seed writes byte-identical inputs, and the program under test only
ever sees the files written here.

- ``write_star_schema``: the TPC-H-shaped star schema plus the
  ``events``/``documents``/``embeddings`` tables the registry queries
  read, as one parquet file per table (the layout of
  ``small_etl_spark.sources.tables``).
- ``write_api_records``: API-shaped nested JSON lines for the ETL
  sequence, with HTML-laden text, nested structs, arrays and a known
  share of duplicate keys. Returns the expected counts, derived here
  from the generated records and not from the program.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict[str, pa.Array | np.ndarray | list]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _doc_text(rng: np.random.Generator, n_words: int) -> list[str]:
    return [WORDS[i] for i in rng.integers(0, len(WORDS), n_words)]


def make_documents(rng: np.random.Generator, n_docs: int, dup_share: float) -> list[str]:
    """Random-word documents plus planted near-duplicates.

    A planted near-duplicate copies an earlier document of at least 40
    words and appends one word, so its word-trigram Jaccard with the
    original is (n-2)/(n-1) >= 0.97: far above the 0.8 threshold of
    ``minhash_lsh_dedup``, where 32 hashes in 8 bands find a pair with
    probability > 1 - 1e-6. Random documents over a 30-word vocabulary
    share almost no trigrams.
    """
    texts: list[str] = []
    origin: list[int] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < dup_share:
            j = int(rng.integers(0, i))
            if origin[j] >= 0:  # copy an original, never a copy
                j = origin[j]
            words = texts[j].split(" ")
            texts.append(" ".join(words + _doc_text(rng, 1)))
            origin.append(j)
        else:
            texts.append(" ".join(_doc_text(rng, int(rng.integers(40, 90)))))
            origin.append(-1)
    return texts


def write_star_schema(
    out_dir: str, seed: int, sf: float, n_docs: int = 500, doc_dup_share: float = 0.1
) -> None:
    """Write every table of ``sources.tables.TABLES``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_users, n_events = max(10, int(15_000 * sf)), int(1_000_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(_EPOCH_1995 + order_day * _DAY_US, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    l_order = rng.integers(0, n_ord, n_line)
    ship_day = order_day[l_order] + rng.integers(1, 122, n_line)
    _write(out_dir, "lineitem", {
        "l_orderkey": l_order.astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_EPOCH_1995 + ship_day * _DAY_US, pa.timestamp("us"))})
    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(_EPOCH_2024 + ev_us, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": _money(rng, 0.01, 490.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    texts = make_documents(rng, n_docs, doc_dup_share)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % max(2, n_docs // 25)}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    n_vec = 400
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32)})


# --------------------------------------------------------------------------
# API-shaped records for the ETL sequence
# --------------------------------------------------------------------------

CATEGORIES = ["news", "sports", "tech", "travel"]
CITIES = ["Oslo", "Zurich", "Lima", "Osaka", "Accra"]


def _post(rng: np.random.Generator, pid: int, rev: int) -> dict:
    words = _doc_text(rng, int(rng.integers(6, 14)))
    n_tags = int(rng.integers(1, 4))
    return {
        "id": pid,
        "rev": rev,
        "category": CATEGORIES[int(rng.integers(0, 4))],
        "title": f"<h1>{' '.join(words[:4]).title()}</h1>",
        "body": "<p>" + " <b>".join(words) + "</b>  &amp; more </p>",
        "user": {
            "id": int(rng.integers(0, 500)),
            "name": f"user_{int(rng.integers(0, 500))}",
            "address": {"city": CITIES[int(rng.integers(0, 5))]},
        },
        "tags": [WORDS[int(i)] for i in rng.integers(0, len(WORDS), n_tags)],
        "metrics": {"views": int(rng.integers(0, 10_000)), "score": round(float(rng.random()) * 5, 2)},
    }


def write_api_records(
    out_dir: str, seed: int, n_posts: int, dup_share: float = 0.1
) -> dict[str, int]:
    """Write ``posts.json`` (JSON lines) under ``out_dir``.

    It holds ``n_posts`` distinct ids plus ``dup_share`` repeated ids (a
    repeat is another revision of the same id). Returns the counts every
    stage and the versioned table must reproduce, with the first row of
    each id in file order winning, as the sequencer's dedup keeps it.
    """
    rng = np.random.default_rng(seed + 7_919)
    os.makedirs(out_dir, exist_ok=True)
    posts = [_post(rng, pid, 0) for pid in range(n_posts)]
    for pid in rng.choice(n_posts, int(n_posts * dup_share), replace=False):
        posts.insert(int(rng.integers(pid + 1, len(posts) + 1)), _post(rng, int(pid), 1))
    with open(os.path.join(out_dir, "posts.json"), "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in posts)

    first = {}
    for r in posts:  # first-wins by file order, as the sequencer dedups
        first.setdefault(r["id"], r)
    news = sum(1 for r in first.values() if r["category"] == "news")
    return {
        "posts": len(first),
        "news": news,
        "combined": len(first),
        "versioned": len(first),
        "versioned_news": news,
    }
