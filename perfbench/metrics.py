"""Metric catalogue: every metric the benchmark prints, with its unit, and
for each per-layer metric the layer it belongs to, the end-to-end metric
it should move and the workloads on which it should move it.

BENCHMARK.json lists the same names and units; `run.py --smoke` checks
that a run of every workload here prints exactly these, each with its
unit. BENCHMARK.json's own key set has no room for the layer map, so it
lives here.

BENCHMARK.json lists image_asof and groupby_backfill only: a run takes
45-60 s on 4 cores (set-up is repeated three times), and a third
workload's runs would not fit the benchmark's time budget. asof_join stays runnable by
name (`--workload asof_join`); it is the one that loads a hot key, so the
skew path of the temporal join is measured there.
"""

from __future__ import annotations

ALL = ("asof_join", "image_asof", "groupby_backfill")
JOINS = ("asof_join", "image_asof")
GB = ("groupby_backfill",)

# name -> unit. `ok_ratio` is 1 - failed/attempted: the share of passes
# (timed ones plus the checked copy) that completed and passed the check.
END_TO_END = {
    "wall_s": "s",
    "rows_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ok_ratio": "1",
    "stored_bytes_per_row": "B",
}

# name -> (unit, layer, end-to-end metrics it should move, workloads)
PER_LAYER = {
    "session.start_s": ("s", "session", "setup_s", ALL),
    "session.warmup_s": ("s", "session", "setup_s", ALL),
    "sources.scan_ms": ("ms", "sources", "wall_s", ALL),
    "sources.files_bytes": ("B", "sources", "wall_s", ALL),
    "sources.rows_read": ("count", "sources", "wall_s", ALL),
    "temporal_join.plan_s": ("s", "temporal_join", "wall_s", JOINS),
    "temporal_join.plan_jobs": ("count", "temporal_join", "wall_s", JOINS),
    "temporal_join.shuffle_bytes": ("B", "temporal_join", "wall_s", JOINS),
    "temporal_join.kernel_tasks": ("count", "temporal_join", "wall_s", JOINS),
    "temporal_join.python_ms": ("ms", "temporal_join", "wall_s", JOINS),
    "temporal_join.python_init_ms": ("ms", "temporal_join", "wall_s", JOINS),
    "temporal_join.arrow_bytes_sent": ("B", "temporal_join", "wall_s", JOINS),
    "temporal_join.arrow_bytes_received": ("B", "temporal_join", "wall_s", JOINS),
    "temporal_join.task_skew": ("1", "temporal_join", "wall_s", JOINS),
    "multimodal.decode_s": ("s", "multimodal", "wall_s rows_per_s", ("image_asof",)),
    "multimodal.python_ms": ("ms", "multimodal", "wall_s rows_per_s", ("image_asof",)),
    "multimodal.arrow_bytes_sent": ("B", "multimodal", "wall_s rows_per_s", ("image_asof",)),
    "groupby.plan_s": ("s", "groupby", "wall_s", GB),
    "groupby.agg_ms": ("ms", "groupby", "wall_s", GB),
    "groupby.shuffle_bytes": ("B", "groupby", "wall_s", GB),
    "groupby.spill_bytes": ("B", "groupby", "wall_s", GB),
    "backfill.steps": ("count", "backfill", "wall_s", GB),
    "backfill.step_s": ("s", "backfill", "wall_s", GB),
    "backfill.jobs_per_step": ("count", "backfill", "wall_s", GB),
    "backfill.write_s": ("s", "backfill", "wall_s", GB),
    "backfill.bookkeeping_s": ("s", "backfill", "wall_s peak_rss_mb", GB),
    "backfill.files_written": ("count", "backfill", "stored_bytes_per_row", GB),
    "backfill.bytes_written": ("B", "backfill", "stored_bytes_per_row", GB),
    "exchange.aqe_partitions": ("count", "engine", "wall_s", ALL),
    "exchange.shuffle_write_ms": ("ms", "engine", "wall_s", ALL),
    "spark.jobs": ("count", "engine", "wall_s ok_ratio", ALL),
    "spark.tasks": ("count", "engine", "wall_s ok_ratio", ALL),
    "spark.failed_tasks": ("count", "engine", "ok_ratio", ALL),
    "host.steal_jiffies": ("count", "host", "wall_s", ALL),
    "trace.overhead_s": ("s", "trace", "none: traced wall minus untraced wall", ALL),
}
