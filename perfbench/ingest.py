"""event_ingest: the streaming count-cache ingest that writes the bucketed
state table, one micro-batch per file, drained closed-loop.

Set-up writes the seeded event files and drains a few warm-up files into a
throwaway table (the first drain of a process runs far slower); the timed
window is one ``availableNow`` drain of every file into a fresh table.
Per-batch latency is the micro-batch's ``triggerExecution`` as reported to
a ``StreamingQueryListener``.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from perfbench import gen, stats
from perfbench.check import check_state_table
from perfbench.core import Context, Window, data_files
from perfbench.reads import KEY, N_BUCKETS
from perfbench.trace import ProgressLog, group_stats

PER_FILE = 5_000
N_WARM_FILES = 2
# 32 batches put the tail (the 11th-largest) at p69, well above the
# median, where batches slowed by the growing state land; more would
# not fit the run budget
MIN_FILES = 32
BAD_SHARE = 0.05
LATE_SHARE = 0.10


def n_files(seconds: float) -> int:
    """Files in the timed drain: about 2.4 per second of window, and never
    fewer than ``MIN_FILES``."""
    return max(MIN_FILES, int(round(2.4 * seconds)))


def _bucket_files(target: str) -> dict[str, set[tuple[str, int]]]:
    out: dict[str, set[tuple[str, int]]] = {}
    for f in data_files(target):
        rel = os.path.relpath(f, target)
        out.setdefault(os.path.dirname(rel), set()).add((rel, os.path.getsize(f)))
    return out


@contextmanager
def upsert_timer(log: list):
    """Wrap ``sinks.upsert_batch`` (looked up as a module global by the
    streaming sink) to time each call and record which buckets it
    rewrote and how many bytes it wrote."""
    from streamsum_spark import sinks

    orig = sinks.upsert_batch

    def timed(spark, target_path, *a, **kw):
        before = _bucket_files(target_path)
        t = time.perf_counter()
        orig(spark, target_path, *a, **kw)
        dt = time.perf_counter() - t
        after = _bucket_files(target_path)
        touched = [b for b in after if after[b] != before.get(b)]
        new = set().union(*after.values()) - set().union(*before.values())
        log.append((dt, len(touched), sum(size for _, size in new)))

    sinks.upsert_batch = timed
    try:
        yield
    finally:
        sinks.upsert_batch = orig


class Workload:
    WORK_UNIT = "events"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.n_files = n_files(ctx.seconds)
        self.in_dir = ctx.path("in")
        self.drains = 0

    def drain(self, src: str) -> tuple[str, str, float]:
        """Stream every file under ``src`` into a fresh table; returns
        (table path, query run id, wall seconds)."""
        from streamsum_spark.operators.caches import count_cache
        from streamsum_spark.operators.extract import extract_events
        from streamsum_spark.operators.transform import transform_fanout
        from streamsum_spark.sinks import stream_to_cache_table
        from streamsum_spark.streaming.pipeline import stream_events

        self.drains += 1
        target = self.ctx.path(f"table-{self.drains}")
        seen = set(self.log.run_ids())
        t = time.perf_counter()
        events = stream_events(self.ctx.spark, src, glob="events-*.parquet", max_files_per_trigger=1)
        stream_to_cache_table(
            count_cache(transform_fanout(extract_events(events))),
            target, key_cols=KEY, order_col="cnt", n_buckets=N_BUCKETS,
        )
        wall = time.perf_counter() - t
        deadline = time.monotonic() + 10
        while not (set(self.log.run_ids()) - seen) and time.monotonic() < deadline:
            time.sleep(0.05)
        run_id = next(iter(set(self.log.run_ids()) - seen), "")
        return target, run_id, wall

    def setup(self) -> None:
        self.log = ProgressLog()
        self.ctx.spark.streams.addListener(self.log)
        seed = self.ctx.seed
        gen.write_event_files(self.in_dir, seed, self.n_files, PER_FILE, BAD_SHARE, LATE_SHARE)
        warm = self.ctx.path("warm")
        gen.write_event_files(warm, seed + 7919, N_WARM_FILES, PER_FILE, BAD_SHARE, LATE_SHARE)
        self.drain(warm)

    def window(self, tracer) -> Window:
        upserts: list = []
        first = time.time()
        if tracer.enabled:
            with tracer.span("streaming.drain"), upsert_timer(upserts):
                target, run_id, wall = self.drain(self.in_dir)
        else:
            target, run_id, wall = self.drain(self.in_dir)
        progress = self.log.for_run(run_id, self.n_files)
        sample = [p.durationMs["triggerExecution"] / 1000.0 for p in progress]
        failed = self.n_files - len(sample)
        sample += [float("inf")] * failed
        events = sum(p.numInputRows for p in progress)
        w = Window(sample, events, wall, self.n_files, failed, first,
                   outputs={"target": target, "events": events})
        if tracer.enabled:
            w.layers = self._stream_layers(progress, group_stats(self.ctx.spark.sparkContext, run_id),
                                           upserts, events, target)
        return w

    @staticmethod
    def _stream_layers(progress, jobs, upserts, events, target) -> dict:
        def med(key):
            return stats.median([p.durationMs.get(key, 0) / 1000.0 for p in progress])

        ops = [p.stateOperators[0] for p in progress if p.stateOperators]
        n = max(1, len(progress))
        files = data_files(target)
        rows = ops[-1].numRowsTotal if ops else 0
        return {
            "sources.latest_offset_s": med("latestOffset"),
            "sources.get_batch_s": med("getBatch"),
            "streaming.query_planning_s": med("queryPlanning"),
            "streaming.add_batch_s": med("addBatch"),
            "streaming.wal_commit_s": med("walCommit"),
            "streaming.commit_offsets_s": med("commitOffsets"),
            "streaming.jobs_per_batch": jobs.jobs / n,
            "streaming.shuffle_bytes_per_batch": jobs.shuffle_bytes / n,
            "streaming.state_rows": rows,
            "streaming.state_memory_bytes": ops[-1].memoryUsedBytes if ops else 0,
            "streaming.state_update_s": stats.median([o.allUpdatesTimeMs / 1000.0 for o in ops]),
            "streaming.state_commit_s": stats.median([o.commitTimeMs / 1000.0 for o in ops]),
            "sinks.upsert_batch_s": stats.median([u[0] for u in upserts]),
            "sinks.buckets_touched_per_batch": sum(u[1] for u in upserts) / max(1, len(upserts)),
            "sinks.bytes_written_per_event": sum(u[2] for u in upserts) / max(1, events),
            "sinks.state_files": len(files),
            "sinks.state_bytes_per_row": sum(os.path.getsize(f) for f in files) / max(1, rows),
        }

    def untimed_layers(self) -> dict:
        return {"sinks.read_state_table_s": self.read_state_s}

    def check(self, w: Window) -> list[str]:
        from streamsum_spark.operators.caches import count_cache
        from streamsum_spark.operators.extract import extract_events
        from streamsum_spark.operators.transform import transform_fanout
        from streamsum_spark.sinks import read_state_table

        spark = self.ctx.spark
        problems = []
        if w.outputs["events"] != self.n_files * PER_FILE:
            problems.append(f"streamed {w.outputs['events']} events of {self.n_files * PER_FILE}")
        t = time.perf_counter()
        actual = read_state_table(spark, w.outputs["target"])
        self.read_state_s = time.perf_counter() - t
        batch = spark.read.option("pathGlobFilter", "events-*.parquet").parquet(self.in_dir)
        expected = count_cache(transform_fanout(extract_events(batch)))
        return problems + check_state_table(actual, expected)

    def detail(self, w: Window) -> dict:
        return {"files": self.n_files, "batches": len(w.sample) - w.failed,
                "events": w.outputs["events"]}
