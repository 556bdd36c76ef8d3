"""The benchmark's workloads: what one unit runs and how its output is checked.

A workload is a list of *calls* into the program's public API. One
*round* runs every call once, in an order set by the seed. Each call is
timed in spans named after the layer it enters, so the runner can
attribute its time and Spark jobs per layer (see ``layers.Tracer``).

Correctness is checked from outside: ``collect`` keeps the results of
one warm-up round, and ``check`` compares them with references computed
without Spark (DuckDB oracle SQL from the query registry, or expected
values derived from the generated input).
"""

from __future__ import annotations

import math
import os
import random
import re
from itertools import combinations

import duckdb

from perfbench import inputs

HERE = os.path.dirname(os.path.abspath(__file__))


def _norm_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Order-insensitive, column-order-insensitive row normal form."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        return repr(v)

    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


class Analytics:
    """Registry queries, each built and run through the noop sink.

    Sub-second, overhead-bound TPC-H and event plans, where ``queries``
    plan-build and ``operators`` scheduling dominate, plus
    ``minhash_lsh_dedup``, the one executor-CPU-bound ``llm`` call. The
    build (``REGISTRY[name].builder``) is the ``queries`` layer; the
    execution is the ``llm`` layer for ``LLM_QUERIES`` and the
    ``operators`` layer for the rest.
    """

    name = "analytics"
    # Six of the 17 headline queries: each distinct plan pays its own
    # cold start (1-3 s on 4 cores), and warm-up plus timed rounds of
    # all 17 do not fit the time one run may take.
    queries = (
        "q1_pricing_summary",
        "q5_local_supplier_volume",
        "q18_large_orders",
        "window_topk_per_group",
        "sessionize",
        "minhash_lsh_dedup",
    )
    LLM_QUERIES = ("minhash_lsh_dedup",)
    # the cold round plus two: the second round runs 30-50% slow while
    # the JIT compiles, longer when the host is loaded
    warm_rounds = 3
    sf = 0.01
    n_docs = 600

    def write_inputs(self, work: str, seed: int) -> None:
        self.data_dir = os.path.join(work, "data")
        inputs.write_star_schema(self.data_dir, seed, self.sf, self.n_docs)
        self.round_order = list(self.queries)
        random.Random(seed).shuffle(self.round_order)

    def prepare(self, spark) -> None:
        from small_etl_spark.queries import REGISTRY

        self.registry = REGISTRY
        self.results: dict[str, tuple[list[str], list[tuple]]] = {}

    def run(self, spark, tracer, call: str, unit_dir: str, collect: bool = False) -> dict:
        with tracer.span("queries"):
            df = self.registry[call].builder(spark, self.data_dir)
        with tracer.span("llm" if call in self.LLM_QUERIES else "operators"):
            if collect:
                self.results[call] = (df.columns, [tuple(r) for r in df.collect()])
            else:
                df.write.format("noop").mode("overwrite").save()
        return {}

    def check(self) -> dict[str, str | None]:
        """Row count, columns and order-insensitive values against each
        query's DuckDB oracle SQL. ``minhash_lsh_dedup`` has no oracle
        (xxhash64 has no DuckDB twin): its pairs must be exactly the
        pairs whose word-trigram Jaccard is >= 0.8, which the planted
        near-duplicates make certain."""
        con = duckdb.connect()
        for f in os.listdir(self.data_dir):
            t = f.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{f}'")
        out = {}
        for call in self.queries:
            if call not in self.results:
                out[call] = "no result: the call failed"
                continue
            cols, rows = self.results[call]
            if call == "minhash_lsh_dedup":
                out[call] = self._check_pairs(con, cols, rows)
                continue
            res = con.execute(self.registry[call].oracle)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            if sorted(cols) != sorted(dcols):
                out[call] = f"columns {sorted(cols)} != oracle {sorted(dcols)}"
            elif len(rows) != len(drows):
                out[call] = f"rows {len(rows)} != oracle {len(drows)}"
            elif _norm_rows(cols, rows) != _norm_rows(dcols, drows):
                out[call] = "values differ from oracle"
            else:
                out[call] = None
        con.close()
        return out

    @staticmethod
    def _check_pairs(con, cols: list[str], rows: list[tuple]) -> str | None:
        shingles = {}
        for doc_id, text in con.execute("SELECT doc_id, text FROM documents").fetchall():
            toks = re.findall(r"[A-Za-z0-9_]+", text.lower())
            shingles[doc_id] = {" ".join(toks[i:i + 3]) for i in range(max(len(toks) - 2, 1))}
        want = {}
        for a, b in combinations(sorted(shingles), 2):
            inter = len(shingles[a] & shingles[b])
            if inter and inter / len(shingles[a] | shingles[b]) >= 0.8:
                want[(a, b)] = inter / len(shingles[a] | shingles[b])
        ia, ib, ij = (cols.index(c) for c in ("id_a", "id_b", "jaccard"))
        got = {(r[ia], r[ib]): r[ij] for r in rows}
        if set(got) != set(want):
            return f"{len(got)} pairs, exact Jaccard gives {len(want)}"
        if any(abs(got[p] - want[p]) > 1e-9 for p in want):
            return "jaccard values differ from the exact ones"
        return None

    def output_rows(self) -> int:
        """Rows the ``llm`` calls return, from the checked results."""
        return sum(len(self.results[q][1]) for q in self.LLM_QUERIES)


class Etl:
    """The flagship path: a multi-stage TOML sequence through
    ``plans.sequencer.run_sequence``, then its stages into a fresh
    versioned table (the ``posts`` stage committed, the ``news`` stage
    ``merge_upsert``-ed by key as a copy-on-write rewrite) and a
    read-back. ``plans``, ``functions`` and ``sinks`` do the work, with
    writes next to reads.

    Every unit is checked: per-stage record counts and the versioned
    table's counts must equal the ones derived from the generated
    records.
    """

    name = "etl"
    n_posts = 1000
    # the round after the cold one still runs 20-100% slow while the
    # JIT compiles; it must not land in the timed window
    warm_rounds = 2
    round_order = ["sequence"]
    STAGES = ("posts", "news", "combined")

    def write_inputs(self, work: str, seed: int) -> None:
        input_dir = os.path.join(work, "api")
        self.expected = inputs.write_api_records(input_dir, seed, self.n_posts)
        os.environ["PERFBENCH_INPUT"] = input_dir
        self.failures: dict[str, str | None] = {"sequence": None}

    def prepare(self, spark) -> None:
        from pyspark.sql import functions as F

        from small_etl_spark.plans.sequencer import run_sequence, sequence_metrics
        from small_etl_spark.plans.spec import sequence_from_toml
        from small_etl_spark.sinks import versioned as V

        self.F, self.V = F, V
        self.run_sequence, self.sequence_metrics = run_sequence, sequence_metrics
        self.sequence_from_toml = sequence_from_toml

    def run(self, spark, tracer, call: str, unit_dir: str, collect: bool = False) -> dict:
        F, V = self.F, self.V
        out_root, table = os.path.join(unit_dir, "out"), os.path.join(unit_dir, "table")
        cpu0 = os.times()
        with tracer.span("plans"):
            seq = self.sequence_from_toml(os.path.join(HERE, "etl_sequence.toml"))
            ctx = self.run_sequence(spark, seq, output_root=out_root)
        cpu1 = os.times()
        stages = {r.pipeline_name: r for r in ctx.results}
        with tracer.span("sinks_merge"):
            V.commit_snapshot(stages["posts"].df, table, mode="overwrite")
            V.merge_upsert(spark, table, stages["news"].df, key="id")
        with tracer.span("sinks_read"):
            n, n_news = V.read_snapshot(spark, table).agg(
                F.count(F.lit(1)), F.sum(F.when(F.col("stage") == "news", 1).otherwise(0))
            ).first()
        got = {name: stages[name].record_count for name in self.STAGES}
        got.update(versioned=n, versioned_news=n_news)
        bad = {k: (v, self.expected[k]) for k, v in got.items() if v != self.expected[k]}
        if bad:
            self.failures["sequence"] = f"counts (got, expected): {bad}"
        for r in ctx.results:
            r.df.unpersist()
        extra = {
            "plans.driver_cpu_s": (cpu1.user + cpu1.system) - (cpu0.user + cpu0.system),
            "sinks.files_count": 0,
            "sinks.files_bytes": 0,
            "sinks.manifest_bytes": 0,
        }
        for m in self.sequence_metrics(ctx)["pipelines"]:
            extra[f"plans.stage_ms.{m['pipeline_name']}"] = m["duration_ms"]
        for root, _, files in os.walk(out_root):
            for f in files:
                if not f.startswith((".", "_")):
                    extra["sinks.files_count"] += 1
                    extra["sinks.files_bytes"] += os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(table):
            for f in files:
                if not f.endswith((".parquet", ".crc")):
                    extra["sinks.manifest_bytes"] += os.path.getsize(os.path.join(root, f))
        return extra

    def check(self) -> dict[str, str | None]:
        return dict(self.failures)

    def output_rows(self) -> int:
        return 0


WORKLOADS = {w.name: w for w in (Analytics, Etl)}
