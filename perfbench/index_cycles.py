"""index_incremental: the steady-state nightly index cycle.

Set-up generates a seeded tree, runs the first cycle into an empty store
(with no previous version it takes the full-publish path) and then
WARMUP_CYCLES incremental cycles, untimed. Each timed cycle follows a
seeded 1% delta of distinct files planted outside the timing. A cycle is
``run_pipeline`` plus collecting ``result.rollup`` plus ``release()``:
the pipeline leaves the rollup lazy, so without the collect the
directory sizes the reference publishes every cycle would never be
computed.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import ExitStack

from . import probes
from .common import (
    Checks,
    Outcome,
    counted,
    disk_mb,
    median_layers,
    noop_write,
    pipeline_layers,
    run_for,
)
from .inputs import TOP, Delta, FileTree
from .spans import Tracer, wrapped

N_FILES = 20_000
TINY_FILES = 600
DELTA_FRACTION = 0.01
# Cycle times measured in one session settle after the first full cycle
# and one incremental one (perfbench/README.md).
WARMUP_CYCLES = 1


class IndexBench:
    def __init__(self, spark, ctx):
        from fs_indexer_elasticsearch_spark.sinks.snapshot import SnapshotStore
        from fs_indexer_elasticsearch_spark.sources.config import PipelineConfig

        self.spark, self.ctx = spark, ctx
        self.tree = FileTree(
            os.path.join(ctx.work, "tree"), ctx.seed, TINY_FILES if ctx.tiny else N_FILES
        )
        store = os.path.join(ctx.work, "store")
        self.cfg = PipelineConfig(
            root_path=self.tree.root,
            snapshot_path=store,
            direct_links_enabled=True,
            publish_mode="changed",
        )
        # The two stores run_pipeline keeps, opened read-only for checks
        # and probes.
        self.store_dir = store
        self.fs_store = SnapshotStore(
            spark,
            os.path.join(store, "fs_entries"),
            key="id",
            version_col="modified_time",
            num_buckets=self.cfg.num_buckets,
            layout=self.cfg.snapshot_layout,
        )
        self.links_store = SnapshotStore(
            spark,
            os.path.join(store, "direct_links"),
            key="file_id",
            version_col="last_updated",
            num_buckets=self.cfg.num_buckets,
            layout=self.cfg.snapshot_layout,
        )
        self.checks = Checks()
        self.n_cycles = 0
        self.files = 0

    # -- one cycle ---------------------------------------------------------

    def cycle(self, delta: Delta | None, tracer: Tracer | None = None) -> float:
        """Run one timed cycle and check it; returns its timed seconds.
        With a tracer, also records the cycle's layer metrics in
        ``self.last_layers``."""
        from fs_indexer_elasticsearch_spark import pipeline
        from fs_indexer_elasticsearch_spark.sinks.snapshot import SnapshotStore

        spark = self.spark
        out = os.path.join(self.ctx.work, "out", str(self.n_cycles))
        self.n_cycles += 1
        prev_v = self.fs_store.current_version()
        prev_links_v = self.links_store.current_version()
        stack = ExitStack()
        if tracer is not None:
            jobs_before = tracer.all_job_ids()
            first_span = len(tracer.spans)
            targets = [
                (SnapshotStore, "merge", "snapshot.merge"),
                (SnapshotStore, "read_changes", "snapshot.read_changes"),
                (SnapshotStore, "vacuum", "snapshot.vacuum"),
                (pipeline, "write_bulk_file", "es_bulk.write"),
            ]
            stack.enter_context(wrapped(tracer, targets))
            stack.enter_context(tracer.span("pipeline"))
        with stack:
            t0 = time.perf_counter()
            res = pipeline.run_pipeline(spark, self.cfg, out_dir=out)
            rollup = res.rollup.collect()
            t1 = time.perf_counter()
        if tracer is not None:
            cycle_jobs = tracer.all_job_ids() - jobs_before
        # Untimed: the diff is still cached until release().
        changes = (
            {r["change"]: r["count"] for r in res.diff.groupBy("change").count().collect()}
            if res.diff is not None
            else None
        )
        t2 = time.perf_counter()
        res.release()
        wall = (t1 - t0) + (time.perf_counter() - t2)

        self.files = int(res.stats["files"])
        bulk_lines, bulk_mb = _ndjson(res.bulk_dir, res.delete_dir)
        problems = self._check(res.stats, rollup, changes, delta, bulk_lines)
        if tracer is not None:
            spans = tracer.spans[first_span:]
            problems += _coverage(tracer, spans, cycle_jobs)
            self.last_layers = self._cycle_layers(
                tracer, spans, wall, prev_v, bulk_lines, bulk_mb
            )
            self.last_layers.update(self._probes(tracer, prev_v, prev_links_v, delta))
        self.checks.record(f"cycle {self.n_cycles}", problems)
        shutil.rmtree(out, ignore_errors=True)
        return wall

    def _check(self, stats, rollup, changes, delta, bulk_lines) -> list[str]:
        tree = self.tree
        problems = []
        if stats.get("files") != tree.n_files:
            problems.append(f"stats files {stats.get('files')} != {tree.n_files}")
        top = [r for r in rollup if r["directory"] == f"/{TOP}"]
        want = (tree.total_bytes, tree.n_files, tree.n_subdirs)
        got = (top[0]["total_size"], top[0]["file_count"], top[0]["dir_count"]) if top else None
        if got != want:
            problems.append(f"rollup /{TOP} (size, files, dirs) {got} != {want}")
        if delta is None:
            # Full publish: one index action (two lines) per entry, the
            # /data directory and everything below it.
            want_lines = 2 * (tree.n_files + 1 + tree.n_subdirs)
            if changes is not None:
                problems.append(f"first cycle produced a diff {changes}")
        else:
            want_lines = 2 * (delta.added + delta.changed) + delta.removed
            planted = {"added": delta.added, "changed": delta.changed, "removed": delta.removed}
            if changes != {k: v for k, v in planted.items() if v}:
                problems.append(f"diff {changes} != planted {planted}")
        if bulk_lines != want_lines:
            problems.append(f"bulk lines {bulk_lines} != {want_lines}")
        problems += self._check_links()
        return problems

    def _check_links(self) -> list[str]:
        import pyspark.sql.functions as F

        links = self.links_store.read()
        row = links.agg(F.count(F.lit(1)).alias("n"), F.countDistinct("file_id").alias("d")).first()
        if (row["n"], row["d"]) != (self.tree.n_files, self.tree.n_files):
            return [f"link store rows/distinct {row['n']}/{row['d']} != {self.tree.n_files}"]
        return []

    # -- traced-run metrics --------------------------------------------------

    def _cycle_layers(self, tracer, spans, wall, prev_v, bulk_lines, bulk_mb) -> dict:
        def named(name):
            return [s for s in spans if s.name == name]

        merges = tracer.stats(named("snapshot.merge"))
        rewritten = self.fs_store.changed_buckets(prev_v, self.fs_store.current_version())
        return {
            "snapshot.merge_s": sum(s.wall_s for s in named("snapshot.merge")),
            "snapshot.merge_jobs": merges.jobs,
            "snapshot.rewrite_ratio": len(rewritten) / self.cfg.num_buckets,
            "snapshot.bytes_written_mb": merges.output_mb,
            "snapshot.read_changes_s": sum(s.wall_s for s in named("snapshot.read_changes")),
            "snapshot.vacuum_s": sum(s.wall_s for s in named("snapshot.vacuum")),
            "snapshot.store_mb": disk_mb(self.store_dir),
            "es_bulk.write_s": sum(s.wall_s for s in named("es_bulk.write")),
            "es_bulk.actions": bulk_lines,
            "es_bulk.mb": bulk_mb,
            **pipeline_layers(tracer, spans, wall),
        }

    def _probes(self, tracer, prev_v, prev_links_v, delta) -> dict:
        """Force one layer's public function at a time on materialized
        inputs, each in its own span, with a noop write."""
        from fs_indexer_elasticsearch_spark.operators.enrich import (
            discover_link_work,
            fake_link_fetcher,
            fetch_direct_links,
        )
        from fs_indexer_elasticsearch_spark.sources.walker import scan_filesystem, to_fs_entries

        cfg = self.cfg
        cur = self.fs_store.read().drop("_bucket").persist()
        prev = self.fs_store.read(prev_v).drop("_bucket").persist()
        known = self.links_store.read(prev_links_v).drop("_bucket").persist()
        n_prev = prev.count()
        cur.count()
        known.count()
        out = {}

        scanned, obs = counted(
            to_fs_entries(
                scan_filesystem(
                    self.spark,
                    cfg.root_path,
                    cfg.skip_patterns,
                    max_entries_per_task=cfg.max_entries_per_task,
                ),
                cfg.root_path,
            )
        )
        with tracer.span("walker"):
            noop_write(scanned)
        sp = tracer.spans[-1]
        st = tracer.stats([sp])
        out.update({
            "walker.scan_s": sp.wall_s,
            "walker.entries": obs.get["n"],
            "walker.tasks": st.tasks,
            "walker.executor_cpu_s": st.executor_cpu_s,
        })

        out.update(
            probes.diff(
                tracer, prev, cur, n_prev, "id", ["modified_time", "size_bytes"]
            )
        )

        fetched, obs = counted(
            fetch_direct_links(
                discover_link_work(cur, known), fake_link_fetcher(cfg.direct_links_version)
            )
        )
        with tracer.span("enrich"):
            noop_write(fetched)
        calls = obs.get["n"]
        out.update({
            "enrich.fetch_calls": calls,
            "enrich.fetch_s": tracer.spans[-1].wall_s,
            "enrich.useful_fetch_ratio": (delta.added + delta.changed) / calls if calls else 0.0,
        })

        out.update(probes.rollup(tracer, cur, "relative_path"))
        for df in (cur, prev, known):
            df.unpersist()
        return out


def _coverage(tracer: Tracer, spans, ran: set[int]) -> list[str]:
    """Every job the cycle ran sits in exactly one of its spans' groups."""
    tracker = tracer.sc.statusTracker()
    grouped = [j for s in spans for j in tracker.getJobIdsForGroup(s.group)]
    if len(grouped) != len(set(grouped)) or set(grouped) != ran:
        return [f"job groups cover {sorted(grouped)} but the cycle ran {sorted(ran)}"]
    return []


def _ndjson(*dirs: str | None) -> tuple[int, float]:
    """Lines and megabytes of the NDJSON part files under ``dirs``."""
    lines = size = 0
    for d in dirs:
        if d is None or not os.path.isdir(d):
            continue
        for name in os.listdir(d):
            if name.startswith(("_", ".")):
                continue
            with open(os.path.join(d, name), "rb") as f:
                data = f.read()
            lines += data.count(b"\n")
            size += len(data)
    return lines, size / 1e6


def run(spark, ctx) -> Outcome:
    t0 = time.perf_counter()
    bench = IndexBench(spark, ctx)
    ctx.log(f"tree of {bench.tree.n_files} files in {time.perf_counter() - t0:.1f}s")
    warm = [bench.cycle(None)]
    for _ in range(WARMUP_CYCLES):
        warm.append(bench.cycle(bench.tree.apply_delta(DELTA_FRACTION)))
    setup_s = time.perf_counter() - t0
    ctx.log(f"set-up done in {setup_s:.1f}s (cycles {[round(t, 2) for t in warm]})")

    def timed() -> float:
        return bench.cycle(bench.tree.apply_delta(DELTA_FRACTION))

    op_s = run_for(ctx.seconds, timed)
    ctx.log(f"cycles {[round(t, 2) for t in op_s]}")
    layers: dict[str, float] = {}
    if ctx.trace:
        tracer = Tracer(spark)
        samples = []

        def traced() -> float:
            wall = bench.cycle(bench.tree.apply_delta(DELTA_FRACTION), tracer)
            samples.append(bench.last_layers)
            return wall

        traced_s = run_for(ctx.seconds, traced)
        ctx.log(f"traced cycles {[round(t, 2) for t in traced_s]}")
        layers = median_layers(samples)
        layers["trace.overhead_s"] = statistics.median(traced_s) - statistics.median(op_s)
    return Outcome(
        setup_s=setup_s,
        op_s=op_s,
        items=bench.files,
        unreached=("plans.",),
        attempted=bench.checks.attempted,
        failed=bench.checks.failed,
        problems=bench.checks.problems,
        layers=layers,
    )
