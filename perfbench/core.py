"""Definitions shared by the worker and the workloads: the metric
registry and the shape of one timed window."""

from __future__ import annotations

import os
from dataclasses import dataclass, field

# Funnel stage names as the engine reports them (corpus_prep's
# FUNNEL_STAGE_ORDER), spelled out here because they are part of the
# benchmark's metric names.
STAGES = (
    "ingested", "url_deduped", "para_deduped", "domain_capped",
    "quality_gated", "near_deduped", "sem_deduped", "packed",
)
CS_OPS = ("get_count", "actions_for_subj", "counts_for_subj_action",
          "sum_counts", "tuples_sorted", "topk")

# Every per-layer metric and its unit.  A traced run reports all of them;
# a layer the workload does not exercise reports 0.
PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    **{f"count_summary.{op}_p50_s": "s" for op in CS_OPS},
    "count_summary.jobs_per_call": "count",
    "count_summary.tasks_per_call": "count",
    "count_summary.driver_s_per_call": "s",
    "count_summary.rows_scanned_per_call": "count",
    "sinks.read_state_table_s": "s",
    "sinks.state_files": "count",
    "sinks.state_bytes_per_row": "B",
    "sinks.upsert_batch_s": "s",
    "sinks.buckets_touched_per_batch": "count",
    "sinks.bytes_written_per_event": "B",
    "sources.latest_offset_s": "s",
    "sources.get_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "streaming.jobs_per_batch": "count",
    "streaming.shuffle_bytes_per_batch": "B",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "B",
    "streaming.state_update_s": "s",
    "streaming.state_commit_s": "s",
    "corpus_prep.build_s": "s",
    **{f"corpus_prep.{s}_s": "s" for s in STAGES},
    "corpus_prep.jobs_per_pass": "count",
    "corpus_prep.tasks_per_pass": "count",
    "corpus_prep.shuffle_bytes_per_pass": "B",
    "corpus_prep.executor_cpu_s_per_pass": "s",
    "corpus_prep.gc_s_per_pass": "s",
    "corpus_prep.driver_s_per_pass": "s",
    **{f"corpus_prep.{s}_docs": "count" for s in STAGES},
    "process.peak_rss_mb": "MB",
    "trace.overhead_share": "share",
}

END_TO_END: dict[str, str] = {
    "setup_s": "s",
    "throughput_per_s": "ops/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
}


@dataclass
class Window:
    """One timed window of closed-loop work."""

    sample: list[float]  # per-op latency, seconds; inf for a failed op
    work: float  # reads, events or docs completed
    wall_s: float  # the window's length
    attempted: int
    failed: int
    first_op: float  # time.time() when the first timed op started
    outputs: dict = field(default_factory=dict)  # what the checker needs
    layers: dict = field(default_factory=dict)  # traced windows only

    @property
    def throughput(self) -> float:
        return self.work / self.wall_s


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    scratch: str

    def path(self, *parts: str) -> str:
        return os.path.join(self.scratch, *parts)


def data_files(table: str) -> list[str]:
    """The committed parquet data files of a state table (staging and
    metadata entries, which start with '.' or '_', excluded)."""
    out = []
    for root, dirs, files in os.walk(table):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        out += [os.path.join(root, f) for f in files
                if f.endswith(".parquet") and not f.startswith((".", "_"))]
    return out
