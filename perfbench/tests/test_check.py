"""Each correctness checker accepts right outputs and rejects a wrong one."""

from __future__ import annotations

import json

import pytest

from perfbench import gen
from perfbench.check import check_funnel, check_reads, check_state_table, count_cache_oracle

ACTION = {"click": "click", "purchase": "buy", "error": "error"}


@pytest.fixture(scope="module")
def events(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ev") / "events.parquet")
    table = gen.events_table(21, 5000)
    gen.write_events(path, table)
    return path, table.to_pylist()


def _python_cache(rows) -> dict:
    """The count cache, computed row by row (independent of DuckDB)."""
    cache: dict = {}
    for r in rows:
        if r["event_type"] not in ACTION or r["user_id"] is None:
            continue
        key = (str(r["user_id"]), ACTION[r["event_type"]], str(json.loads(r["props"])["k"]))
        cnt, ts = cache.get(key, (0, None))
        cache[key] = (cnt + 1, r["ts"] if ts is None else max(ts, r["ts"]))
    return cache


def _answers(cache, subj) -> list[tuple[tuple, object]]:
    mine = {k: v for k, v in cache.items() if k[0] == subj}
    (s, a, o), (cnt, ts) = next(iter(mine.items()))
    counts: dict = {}
    for (_, act, obj), (c, t) in mine.items():
        if act in ("buy", "click"):
            pc, pt = counts.get(obj, (0, t))
            counts[obj] = (pc + c, max(pt, t))
    flat = sorted((k + v for k, v in mine.items()), key=lambda r: r[:3])
    ranked = sorted(flat, key=lambda r: (r[3], r[4]), reverse=True)
    top = sorted(sorted((k + v for k, v in cache.items()), key=lambda r: r[:3]),
                 key=lambda r: (r[3], r[4]), reverse=True)[:10]
    return [
        (("get_count", subj, (a,), o, 10), (o, cnt, ts)),
        (("get_count", "no-such-user", ("click",), "1", 10), ("1", 0, None)),
        (("actions_for_subj", subj, (), "0", 10), sorted({k[1] for k in mine})),
        (("counts_for_subj_action", subj, ("buy", "click"), "0", 10),
         sorted((o, c, t) for o, (c, t) in counts.items())),
        (("sum_counts", subj, (), "0", 10), sum(c for c, _ in mine.values())),
        (("tuples_sorted", subj, (), "0", 10), ranked),
        (("topk", subj, (), "0", 10), top),
    ]


def _tamper(ans):
    """A plausible wrong answer: a count off by one, or a row lost."""
    if isinstance(ans, int):
        return ans + 1
    if isinstance(ans, tuple):
        return (ans[0], ans[1] + 1, ans[2])
    return ans[:-1] if ans else ["missing"]


def test_read_checker_accepts_right_and_rejects_wrong_answers(events):
    path, rows = events
    cache = _python_cache(rows)
    hot = max({k[0] for k in cache}, key=lambda s: sum(v[0] for k, v in cache.items() if k[0] == s))
    answers = _answers(cache, hot)
    con = count_cache_oracle(path)
    assert check_reads(con, answers) == []
    for i, (op, ans) in enumerate(answers):
        bad = answers[:i] + [(op, _tamper(ans))] + answers[i + 1:]
        assert len(check_reads(con, bad)) == 1, op


def test_funnel_checker():
    stages = {"ingested": 10, "url_deduped": 9, "packed": 5}
    ref = {"checksum": 7, "stages": stages}
    expected = {"ingested": 10, "url_deduped": 9}
    assert check_funnel([ref, {"checksum": 7, "stages": {}}, ref], expected) == []
    assert check_funnel([ref, {"checksum": 8, "stages": {}}], expected)
    assert check_funnel([ref, {"checksum": 7, "stages": {**stages, "packed": 4}}], expected)
    assert check_funnel([ref], {"url_deduped": 8})
    assert check_funnel([{"checksum": 7, "stages": {"ingested": 10, "packed": 11}}], {})


def test_state_table_checker():
    import datetime as dt

    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[1]").appName("perfbench-test")
             .config("spark.ui.enabled", "false").getOrCreate())
    try:
        schema = "subject string, action string, obj string, cnt long, latest_ts timestamp_ntz"
        t = dt.datetime(2024, 1, 1)
        rows = [("1", "click", "a", 2, t), ("1", "buy", "a", 1, t), ("2", "click", "b", 5, t)]
        good = spark.createDataFrame(rows, schema)
        assert check_state_table(good, spark.createDataFrame(rows[::-1], schema)) == []
        off = spark.createDataFrame(rows[:2] + [("2", "click", "b", 4, t)], schema)
        assert check_state_table(off, good)
        assert check_state_table(good.limit(2), good)
    finally:
        spark.stop()
