"""Metric names and units, as declared in BENCHMARK.json, and the
wall-clock figures printed beside them."""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "job_cpu_s": "s",
    "turns_per_cpu_s": "1/s",
    "resume_cpu_s": "s",
    "peak_rss_mb": "MB",
    "triple_precision": "ratio",
    "triple_recall": "ratio",
}

# printed on the line before the result, not gated: on a VM whose
# hypervisor takes a varying share of the CPUs, wall time is not steady
WALL = {"job_s": "s", "turns_per_s": "1/s", "resume_s": "s"}

PER_LAYER = {
    "session.get_spark_s": "s",
    "pipeline.build_broadcasts_s": "s",
    "pipeline.broadcast_bytes": "bytes",
    "fused.extract_s": "s",
    "fused.rows_in": "count",
    "fused.rows_out": "count",
    "turnproc.memo_lookups": "count",
    "turnproc.memo_hit_rate": "ratio",
    "turnproc.memo_evictions": "count",
    "turnproc.turns_per_s_1thread": "1/s",
    "rules.segment_us": "us",
    "lexicon.parse_us": "us",
    "rules.detect_mentions_us": "us",
    "rules.link_mention_us": "us",
    "rules.extract_relations_us": "us",
    "staged.turns_per_s": "1/s",
    "cache.checkpoint_s": "s",
    "canonicalize.canonicalize_s": "s",
    "canonicalize.jobs": "count",
    "canonicalize.entities_out": "count",
    "canonicalize.predicates_s": "s",
    "tableio.write_s": "s",
    "tableio.bytes_written": "bytes",
    "manifests.groups_total": "count",
    "manifests.groups_computed": "count",
    "manifests.groups_resumed": "count",
    "manifests.group_wall_s": "s",
    "manifests.recompute_ratio": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}


def report(values: dict, declared: dict) -> dict:
    """``{name: {"value", "unit"}}`` for exactly the declared names."""
    if set(values) != set(declared):
        raise KeyError(f"metrics differ from declared: {set(values) ^ set(declared)}")
    return {k: {"value": values[k], "unit": declared[k]} for k in declared}
