"""summary_reads: one client issuing the reference's CountSummary / Queries
calls against a persisted, hash-bucketed count cache.

Set-up folds ~200k seeded events into the state table the same way an
application does (extract -> transform -> count cache -> bucketed upsert)
and warms the read path; the timed window is read calls only.
"""

from __future__ import annotations

import math
import os
import time

import numpy as np

from perfbench import gen, stats
from perfbench.check import check_reads, count_cache_oracle
from perfbench.core import CS_OPS, Context, Window, data_files
from streamsum_spark.queries.count_summary import topk_by_count_time

N_EVENTS = 200_000
N_BUCKETS = 16
TOPK = 10
ACTIONS = ("click", "buy", "error")
# one deck of ops in the seeded mix: getCount 35%, four calls at 15%,
# topk 5%.  Windows deal whole shuffled decks, so every window has
# exactly this mix instead of one that drifts with the sample.
DECK = (("get_count",) * 7 + ("actions_for_subj",) * 3 + ("counts_for_subj_action",) * 3
        + ("sum_counts",) * 3 + ("tuples_sorted",) * 3 + ("topk",))
MISS_SHARE = 0.10
KEY = ["subject", "action", "obj"]
# Per-call latency keeps falling for the first ~80-100 calls of a process
# (JIT and plan caches: on a 4-CPU host the mean goes from ~0.36 s over
# calls 1-20 to ~0.21 s over calls 21-60 and ~0.16 s from call 100 on);
# four decks of warm-up keep that out of the timed window.
N_WARM = 4 * len(DECK)


def n_ops(seconds: float) -> int:
    """Calls in the timed window: about six per second of run length, in
    whole decks (so the mix is exact), never fewer than five decks (a
    shorter window moves with the host's load from run to run)."""
    return len(DECK) * max(5, math.ceil(6 * seconds / len(DECK)))


def op_stream(seed: int, stream: int):
    """Endless seeded (kind, subject, actions, obj, k) read ops, dealt from
    shuffled decks: subjects follow the event generator's Zipf users and
    ~10% are unknown subjects."""
    rng = np.random.default_rng([seed, 4, stream])
    users = gen.user_permutation(seed)
    cdf = np.cumsum(1.0 / np.arange(1, gen.N_USERS + 1, dtype=np.float64) ** gen.ZIPF_S)
    cdf /= cdf[-1]
    while True:
        for kind in rng.permutation(DECK):
            if rng.random() < MISS_SHARE:
                subj = str(gen.N_USERS + 1 + int(rng.integers(0, 1_000_000)))
            else:
                subj = str(users[min(int(np.searchsorted(cdf, rng.random())), gen.N_USERS - 1)])
            n_act = 1 if kind == "get_count" else int(rng.integers(0, 3))
            acts = tuple(sorted(rng.choice(ACTIONS, size=n_act, replace=False).tolist()))
            yield (str(kind), subj, acts, str(int(rng.integers(0, gen.N_OBJECTS))), TOPK)


class Workload:
    WORK_UNIT = "reads"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.events_dir = ctx.path("events")
        self.state = ctx.path("state")
        self.timings: dict[str, float] = {}

    def setup(self) -> None:
        from streamsum_spark import sinks
        from streamsum_spark.operators.caches import count_cache
        from streamsum_spark.operators.extract import extract_events
        from streamsum_spark.operators.transform import transform_fanout
        from streamsum_spark.queries.count_summary import CountSummaryTable
        from streamsum_spark.sources.events import batch_events

        spark = self.ctx.spark
        gen.write_events(os.path.join(self.events_dir, "events.parquet"),
                         gen.events_table(self.ctx.seed, N_EVENTS))
        agg = count_cache(transform_fanout(extract_events(batch_events(spark, self.events_dir))))
        t = time.perf_counter()
        sinks.upsert_batch(spark, self.state, agg, KEY, "cnt", n_buckets=N_BUCKETS)
        self.timings["upsert"] = time.perf_counter() - t
        t = time.perf_counter()
        self.cache = sinks.read_state_table(spark, self.state)
        self.timings["read_state"] = time.perf_counter() - t
        self.summary = CountSummaryTable(self.cache)
        warm = op_stream(self.ctx.seed, 1)
        for _ in range(N_WARM):
            self.call(next(warm))

    def call(self, op: tuple):
        kind, subj, acts, obj, k = op
        s = self.summary
        if kind == "get_count":
            return s.getCount(subj, acts[0], obj)
        if kind == "actions_for_subj":
            return s.actionsForSubj(subj)
        if kind == "counts_for_subj_action":
            return s.countsForSubjAction(subj, *acts)
        if kind == "sum_counts":
            return s.sumCounts(subj, *acts)
        if kind == "tuples_sorted":
            return s.tuplesForSubjAction(subj, *acts, comparator="count_time")
        return [tuple(r) for r in topk_by_count_time(self.cache, k).collect()]

    def window(self, tracer) -> Window:
        ops = op_stream(self.ctx.seed, 2)
        sample, answers, per_op = [], [], []
        failed = 0
        first = time.time()
        start = time.perf_counter()
        for _ in range(n_ops(self.ctx.seconds)):
            op = next(ops)
            with tracer.group(f"count_summary.{op[0]}", op=len(sample)) as g:
                t = time.perf_counter()
                try:
                    ans = self.call(op)
                    dt = time.perf_counter() - t
                except Exception as e:  # a failed call is counted, not fatal
                    ans, dt = e, float("inf")
                    failed += 1
            sample.append(dt)
            if not isinstance(ans, Exception):
                answers.append((op, ans))
            per_op.append((op[0], dt, g))
        wall = time.perf_counter() - start
        w = Window(sample, len(sample) - failed, wall, len(sample), failed, first,
                   outputs={"answers": answers})
        if tracer.enabled:
            w.layers = self._call_layers(per_op)
        return w

    @staticmethod
    def _call_layers(per_op) -> dict:
        ok = [(k, dt, g) for k, dt, g in per_op if dt != float("inf")]
        out = {f"count_summary.{kind}_p50_s": stats.median([dt for k, dt, _ in ok if k == kind])
               for kind in CS_OPS}
        n = max(1, len(ok))
        out["count_summary.jobs_per_call"] = sum(g.jobs for *_, g in ok) / n
        out["count_summary.tasks_per_call"] = sum(g.tasks for *_, g in ok) / n
        out["count_summary.rows_scanned_per_call"] = sum(g.input_records for *_, g in ok) / n
        out["count_summary.driver_s_per_call"] = sum(dt - g.job_s for _, dt, g in ok) / n
        return out

    def untimed_layers(self) -> dict:
        files = data_files(self.state)
        rows = self.cache.count()
        return {
            "sinks.upsert_batch_s": self.timings["upsert"],
            "sinks.read_state_table_s": self.timings["read_state"],
            "sinks.state_files": len(files),
            "sinks.state_bytes_per_row": sum(os.path.getsize(f) for f in files) / max(1, rows),
        }

    def check(self, w: Window) -> list[str]:
        con = count_cache_oracle(os.path.join(self.events_dir, "*.parquet"))
        try:
            return check_reads(con, w.outputs["answers"])
        finally:
            con.close()

    def detail(self, w: Window) -> dict:
        return {"ops": len(w.sample), "checked": len(w.outputs["answers"])}
