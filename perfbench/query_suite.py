"""query_suite: the 15 headline queries over seeded tables.

Set-up writes the tables for the seed and runs WARMUP_PASSES untimed
passes. A timed operation is one pass: the 15 queries in a seeded order,
each built and collected; its time is the sum of the queries' wall
times. Every pass's results are hashed and, after the timed part,
compared with the DuckDB oracle over the same tables.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from contextlib import nullcontext

from . import probes
from .common import Checks, Outcome, median_layers, pipeline_layers, run_for
from .inputs import write_tables
from .spans import Tracer

SUITE = (
    "q01_pricing_summary",
    "q03_top_revenue_orders",
    "q05_regional_supplier_volume",
    "topk_per_group",
    "rollup_directory_sizes",
    "merge_upsert_newer_wins",
    "snapshot_diff_changes",
    "window_tumbling_10m",
    "window_session_30m",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_connected_components",
    "similarity_bruteforce_topk",
    "bm25_search_topk",
    "split_contamination_ngrams",
)
TABLES = "region nation customer supplier part orders lineitem events documents embeddings"
SF = 0.01
TINY_SF = 0.001
# The cold pass only: one more warm-up pass would cost as much as the timed
# pass it steadies (perfbench/README.md).
WARMUP_PASSES = 1


class QueryBench:
    def __init__(self, spark, ctx):
        import __spark_entry__

        self.spark, self.ctx = spark, ctx
        self.tables = os.path.join(ctx.work, "tables")
        write_tables(self.tables, ctx.seed, TINY_SF if ctx.tiny else SF)
        self.queries = __spark_entry__.queries()
        self.rng = random.Random(ctx.seed)
        self.got: list[tuple[int, str, tuple]] = []  # (pass, query, result hash)
        self.n_passes = 0

    def one_pass(self, tracer: Tracer | None = None) -> float:
        from tools.check_correctness import table_hash

        def span(name):
            return tracer.span(name) if tracer is not None else nullcontext()

        self.n_passes += 1
        order = list(SUITE)
        self.rng.shuffle(order)
        total = 0.0
        with span("pipeline"):
            for name in order:
                t0 = time.perf_counter()
                with span(f"plans.{name}.build"):
                    df = self.queries[name](self.spark, self.tables)
                with span(f"plans.{name}.exec"):
                    rows = df.collect()
                total += time.perf_counter() - t0
                self.got.append(
                    (self.n_passes, name, (sorted(df.columns), *table_hash(df.columns, rows)))
                )
        return total

    def check(self, checks: Checks) -> None:
        import duckdb
        import __spark_entry__
        from tools.check_correctness import table_hash

        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect(config={"temp_directory": os.path.join(self.ctx.work, "tmp")})
        for t in TABLES.split():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.tables}/{t}.parquet'")
        want = {}
        for name in SUITE:
            rel = con.sql(oracles[name])
            want[name] = (sorted(rel.columns), *table_hash(rel.columns, rel.fetchall()))
        con.close()
        for n_pass, name, got in self.got:
            problems = [] if got == want[name] else [f"(cols, rows, hash) {got} != oracle {want[name]}"]
            checks.record(f"pass {n_pass} {name}", problems)

    def layers(self, tracer: Tracer, first_span: int, wall: float) -> dict:
        spans = tracer.spans[first_span:]
        out = {}
        for name in SUITE:
            build = [s for s in spans if s.name == f"plans.{name}.build"]
            execute = [s for s in spans if s.name == f"plans.{name}.exec"]
            out[f"plans.{name}.build_s"] = build[0].wall_s
            out[f"plans.{name}.exec_s"] = execute[0].wall_s
            out[f"plans.{name}.jobs"] = tracer.stats(build + execute).jobs
        out.update(pipeline_layers(tracer, spans, wall))
        out.update(self._probes(tracer))
        return out

    def _probes(self, tracer: Tracer) -> dict:
        """The diff and rollup operators on the inputs that
        snapshot_diff_changes and rollup_directory_sizes give them."""
        import pyspark.sql.functions as F

        def read(t):
            return self.spark.read.parquet(f"{self.tables}/{t}.parquet")

        c, n, r = read("customer"), read("nation"), read("region")
        nr = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        files = c.join(F.broadcast(nr), c.c_nationkey == nr.n_nationkey).select(
            F.concat_ws("/", F.lit(""), "r_name", "n_name", "c_name").alias("filepath"),
            F.lit("file").alias("type"),
            F.round(F.col("c_acctbal") * 100).cast("long").alias("size_bytes"),
        )
        dirs = nr.select(
            F.concat_ws("/", F.lit(""), "r_name", "n_name").alias("filepath"),
            F.lit("directory").alias("type"),
            F.lit(None).cast("long").alias("size_bytes"),
        )
        k = F.col("o_orderkey")
        price = F.round(F.col("o_totalprice") + 1e-7, 2)
        o = read("orders")
        prev = o.filter(k % 7 != 0).select(k.alias("k"), price.alias("price"))
        cur = o.filter(k % 5 != 0).select(
            k.alias("k"),
            F.when(k % 3 == 0, F.round(F.col("o_totalprice") * 2 + 1e-7, 2))
            .otherwise(price)
            .alias("price"),
        )
        entries = files.unionByName(dirs).persist()
        prev, cur = prev.persist(), cur.persist()
        entries.count()
        cur.count()
        out = probes.diff(tracer, prev, cur, prev.count(), "k", ["price"])
        out.update(probes.rollup(tracer, entries, "filepath"))
        for df in (entries, prev, cur):
            df.unpersist()
        return out


def run(spark, ctx) -> Outcome:
    t0 = time.perf_counter()
    bench = QueryBench(spark, ctx)
    ctx.log(f"tables written in {time.perf_counter() - t0:.1f}s")
    warm = [bench.one_pass() for _ in range(WARMUP_PASSES)]
    setup_s = time.perf_counter() - t0
    ctx.log(f"set-up done in {setup_s:.1f}s (passes {[round(t, 2) for t in warm]})")
    op_s = run_for(ctx.seconds, bench.one_pass)
    ctx.log(f"passes {[round(t, 2) for t in op_s]}")
    layers: dict[str, float] = {}
    if ctx.trace:
        tracer = Tracer(spark)
        samples = []

        def traced() -> float:
            first = len(tracer.spans)
            wall = bench.one_pass(tracer)
            samples.append(bench.layers(tracer, first, wall))
            return wall

        traced_s = run_for(ctx.seconds, traced)
        ctx.log(f"traced passes {[round(t, 2) for t in traced_s]}")
        layers = median_layers(samples)
        layers["trace.overhead_s"] = statistics.median(traced_s) - statistics.median(op_s)
    checks = Checks()
    bench.check(checks)
    return Outcome(
        setup_s=setup_s,
        op_s=op_s,
        items=len(SUITE),
        attempted=checks.attempted,
        failed=checks.failed,
        problems=checks.problems,
        layers=layers,
        unreached=("walker.", "snapshot.", "enrich.", "es_bulk."),
    )
