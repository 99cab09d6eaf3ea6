"""Isolated probes shared by the workloads: each forces one layer's public
function on already materialized inputs, inside its own span, with a
noop write."""

from __future__ import annotations

import pyspark.sql.functions as F

from .common import counted, noop_write
from .spans import Tracer


def diff(tracer: Tracer, prev, cur, n_prev: int, key: str, compare_cols: list[str]) -> dict:
    from fs_indexer_elasticsearch_spark.operators.merge import snapshot_diff

    out, obs = counted(
        snapshot_diff(prev, cur, key=key, compare_cols=compare_cols),
        F.sum(F.when(F.col("change") == "added", 1).otherwise(0)).alias("added"),
    )
    with tracer.span("merge.diff"):
        noop_write(out)
    span = tracer.spans[-1]
    return {
        "merge.diff_s": span.wall_s,
        "merge.diff_shuffle_mb": tracer.stats([span]).shuffle_write_mb,
        # Rows compared: every key of either side.
        "merge.changed_ratio": obs.get["n"] / (n_prev + obs.get["added"]),
    }


def rollup(tracer: Tracer, entries, path_col: str) -> dict:
    from fs_indexer_elasticsearch_spark.operators.rollup import directory_rollup

    out, obs = counted(directory_rollup(entries, path_col=path_col))
    with tracer.span("rollup"):
        noop_write(out)
    span = tracer.spans[-1]
    return {
        "rollup.s": span.wall_s,
        "rollup.dirs": obs.get["n"],
        "rollup.shuffle_mb": tracer.stats([span]).shuffle_write_mb,
    }
