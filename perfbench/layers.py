"""Per-layer metrics of the traced run, from the spans (``spans.Tracer``) and
the Spark event log (``eventlog.parse``). Every value is per traced
operation unless its name says otherwise; a layer the workload does not
reach reads 0. ``METRICS`` is the full list, in the order printed.
"""

from __future__ import annotations

import statistics
from collections import defaultdict
from pathlib import Path

import eventlog
from spans import OP_SPAN, SPAN_PROPERTY, Span, self_time

#: wrapped functions, by span name (workloads.*.trace)
SPANS = (
    "metadata.read_manifest",
    "metadata.plan_copy_jobs",
    "metadata.savepoints_upsert",
    "pipeline.run_job",
    "sources.read_micro_batch",
    "operators.columns.manage_columns",
    "sinks.files.write_parquet",
    "sinks.files.replace_dir",
    "pipeline.apply_batch_to_snapshot",
    "curation.curate_frame",
    "streaming.incremental.batch_buckets",
    "streaming.incremental.near_dup_ids",
    "streaming.incremental.write_store_batch",
    "streaming.incremental.compact_store",
    "sinks.files.write_jsonl_sharded",
)
#: metric → (span name, count key) summed over that span's calls
COUNTS = {
    "metadata.folders_planned": ("metadata.plan_copy_jobs", "folders"),
    "pipeline.copy_jobs": ("metadata.plan_copy_jobs", "copy_jobs"),
    "sinks.files.files_written": (None, "files"),
    "sinks.files.bytes_written": (None, "bytes"),
    "operators.cdc.snapshot_rows_rewritten": ("pipeline.apply_batch_to_snapshot", "rows"),
}
#: reported by the workload itself (``Workload.layer_metrics``)
STATE = {
    "streaming.incremental.store_bytes": "B",
    "streaming.incremental.store_files": "count",
    "curation.near_dup_recall": "ratio",
    "curation.near_dup_precision": "ratio",
}
SPARK = {
    "spark.jobs": "count",
    "spark.jobs_per_delivery": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.input_bytes": "B",
    "spark.output_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.task_skew_max": "ratio",
}

METRICS: dict[str, str] = {
    **{f"{name}_s": "s" for name in SPANS},
    "pipeline.run_job.self_s": "s",
    "pipeline.run_job_queue_s": "s",
    "pipeline.apply_batch_to_snapshot.self_s": "s",
    "streaming.incremental.compactions": "count",
    **{name: "B" if name.endswith("bytes_written") else "count" for name in COUNTS},
    **STATE,
    **SPARK,
    **{f"spark.jobs.{name}": "count" for name in (OP_SPAN, *SPANS)},
    **{f"spark.executor_run_s.{name}": "s" for name in (OP_SPAN, *SPANS)},
    "process.cpu_s": "s",
    "tracing.overhead_s": "s",
    "ops_failed_ratio": "ratio",
}


def queue_time(spans: list[Span]) -> float:
    """Total wait of copy jobs for a thread-pool slot: ``pipeline.run``
    submits every job as soon as planning returns, so a job's wait is its
    start minus the end of its operation's ``plan_copy_jobs``."""
    planned = {s.op: s.end for s in spans if s.name == "metadata.plan_copy_jobs"}
    return sum(
        max(0.0, s.start - planned[s.op])
        for s in spans
        if s.name == "pipeline.run_job" and s.op in planned
    )


def spark_usage(event_log: Path, spans: list[Span]) -> dict[str, eventlog.Usage]:
    """Span name → Spark work owned by spans of that name. Jobs outside any
    span (set-up, untraced operations) are left out."""
    name_of = {str(s.id): s.name for s in spans}
    by_name: dict[str, eventlog.Usage] = defaultdict(eventlog.Usage)
    for owner, usage in eventlog.parse(eventlog.read_lines(event_log), SPAN_PROPERTY).items():
        if owner in name_of:
            by_name[name_of[owner]].add(usage)
    return by_name


def per_layer(spans: list[Span], ops: list[dict], event_log: Path, state: dict) -> dict:
    n = max(1, sum(o["traced"] for o in ops))
    by_name: dict[str, list[Span]] = defaultdict(list)
    for s in spans:
        by_name[s.name].append(s)
    own = self_time(spans)
    values: dict[str, float] = {
        f"{name}_s": sum(s.duration for s in by_name[name]) / n for name in SPANS
    }
    values["pipeline.run_job.self_s"] = sum(own[s.id] for s in by_name["pipeline.run_job"]) / n
    values["pipeline.run_job_queue_s"] = queue_time(spans) / n
    values["pipeline.apply_batch_to_snapshot.self_s"] = (
        sum(own[s.id] for s in by_name["pipeline.apply_batch_to_snapshot"]) / n
    )
    values["streaming.incremental.compactions"] = len(by_name["streaming.incremental.compact_store"]) / n
    for metric, (name, key) in COUNTS.items():
        chosen = spans if name is None else by_name[name]
        values[metric] = sum(s.counts.get(key, 0) for s in chosen) / n
    values.update({name: state.get(name, 0) for name in STATE})

    usage = spark_usage(event_log, spans)
    total = eventlog.Usage()
    for u in usage.values():
        total.add(u)
    values.update(
        {
            "spark.jobs": total.jobs,
            "spark.jobs_per_delivery": total.jobs / n,
            "spark.stages": total.stages / n,
            "spark.tasks": total.tasks / n,
            "spark.executor_run_s": total.executor_run_ms / 1e3 / n,
            "spark.executor_cpu_s": total.executor_cpu_ns / 1e9 / n,
            "spark.jvm_gc_s": total.jvm_gc_ms / 1e3 / n,
            "spark.input_bytes": total.input_bytes / n,
            "spark.output_bytes": total.output_bytes / n,
            "spark.shuffle_read_bytes": total.shuffle_read_bytes / n,
            "spark.shuffle_write_bytes": total.shuffle_write_bytes / n,
            "spark.task_skew_max": total.task_skew_max(),
        }
    )
    for name in (OP_SPAN, *SPANS):
        u = usage.get(name, eventlog.Usage())
        values[f"spark.jobs.{name}"] = u.jobs / n
        values[f"spark.executor_run_s.{name}"] = u.executor_run_ms / 1e3 / n

    # CPU of the whole process tree (driver, JVM, Python workers) against
    # the operation's wall time shows how much of a delivery is waiting
    values["process.cpu_s"] = sum(o["cpu"] for o in ops if o["traced"]) / n
    traced = [o["latency"] for o in ops if o["traced"]]
    plain = [o["latency"] for o in ops if not o["traced"]]
    values["tracing.overhead_s"] = (
        statistics.median(traced) - statistics.median(plain) if traced and plain else 0.0
    )
    values["ops_failed_ratio"] = sum(o["failed"] for o in ops) / len(ops)
    return {name: {"value": values[name], "unit": unit} for name, unit in METRICS.items()}
