"""Correctness checks, run outside the timed window.  Each returns a list of
problems; an empty list means the outputs are right."""

from __future__ import annotations

import duckdb

from streamsum_spark.config import DEFAULT_CONFIG


def _count_actions() -> dict[str, str]:
    """event type -> count-cache action, from the pipeline's declared
    config (the patterns are data: the oracle reads the same spec the
    engine does, not the engine's code)."""
    return {
        p.pred: t.action
        for p in DEFAULT_CONFIG.patterns
        for t in p.outputs
        if t.action is not None
    }


def count_cache_oracle(events_glob: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection holding table ``cache(subject, action, obj, cnt,
    latest_ts)``: the count cache computed straight from the event files
    (extract: drop events missing user, object key or timestamp; transform:
    map the counted event types to their actions; count and latest time)."""
    con = duckdb.connect()
    cases = " ".join(f"WHEN '{p}' THEN '{a}'" for p, a in _count_actions().items())
    preds = ", ".join(f"'{p}'" for p in _count_actions())
    con.execute(f"""
        CREATE TABLE cache AS
        SELECT CAST(user_id AS VARCHAR) AS subject,
               CASE event_type {cases} END AS action,
               json_extract_string(props, '$.k') AS obj,
               count(*) AS cnt, max(ts) AS latest_ts
        FROM read_parquet('{events_glob}')
        WHERE event_type IN ({preds}) AND user_id IS NOT NULL AND ts IS NOT NULL
          AND json_extract_string(props, '$.k') IS NOT NULL
        GROUP BY ALL
    """)
    return con


def expected_answer(con: duckdb.DuckDBPyConnection, op: tuple):
    """What the CountSummary call ``op`` must return, from the oracle."""
    kind, subj, actions, obj, k = op
    acts = list(actions)
    in_acts = f"AND action IN ({', '.join('?' * len(acts))})" if acts else ""
    if kind == "get_count":
        row = con.execute(
            "SELECT cnt, latest_ts FROM cache WHERE subject = ? AND action = ? AND obj = ?",
            [subj, acts[0], obj],
        ).fetchone()
        return (obj, row[0], row[1]) if row else (obj, 0, None)
    if kind == "actions_for_subj":
        return sorted(r[0] for r in con.execute(
            "SELECT DISTINCT action FROM cache WHERE subject = ?", [subj]).fetchall())
    if kind == "counts_for_subj_action":
        return sorted(tuple(r) for r in con.execute(
            f"SELECT obj, sum(cnt)::BIGINT, max(latest_ts) FROM cache WHERE subject = ? {in_acts}"
            " GROUP BY obj", [subj, *acts]).fetchall())
    if kind == "sum_counts":
        return int(con.execute(
            f"SELECT coalesce(sum(cnt), 0)::BIGINT FROM cache WHERE subject = ? {in_acts}",
            [subj, *acts]).fetchone()[0])
    order = "ORDER BY cnt DESC, latest_ts DESC, subject, action, obj"
    if kind == "tuples_sorted":
        return [tuple(r) for r in con.execute(
            f"SELECT subject, action, obj, cnt, latest_ts FROM cache WHERE subject = ? {in_acts} {order}",
            [subj, *acts]).fetchall()]
    if kind == "topk":
        return [tuple(r) for r in con.execute(
            f"SELECT subject, action, obj, cnt, latest_ts FROM cache {order} LIMIT {int(k)}"
        ).fetchall()]
    raise ValueError(f"unknown op {kind!r}")


def check_reads(con: duckdb.DuckDBPyConnection, answers: list[tuple[tuple, object]]) -> list[str]:
    """Every recorded (op, answer) pair against the oracle."""
    problems = []
    for op, got in answers:
        want = expected_answer(con, op)
        if got != want:
            problems.append(f"{op}: got {str(got)[:120]} want {str(want)[:120]}")
    return problems


def check_state_table(actual, expected) -> list[str]:
    """The streamed state table against the batch count cache over the
    same files: ``exceptAll`` must be empty both ways."""
    cols = ["subject", "action", "obj", "cnt", "latest_ts"]
    a, e = actual.select(*cols), expected.select(*cols)
    extra, missing = a.exceptAll(e).count(), e.exceptAll(a).count()
    if extra or missing:
        return [f"state table: {extra} rows not in the batch count cache, {missing} missing"]
    return []


def check_funnel(passes: list[dict], expected: dict[str, int]) -> list[str]:
    """Funnel passes must agree with each other on the packed checksum and
    on every per-stage survivor count they report; counts never grow down
    the funnel; and the stages the generator can predict exactly
    (``expected``: stage -> docs) match."""
    problems = []
    ref = passes[0]
    for i, p in enumerate(passes[1:], 1):
        if p["checksum"] != ref["checksum"]:
            problems.append(f"pass {i}: packed checksum {p['checksum']} != {ref['checksum']}")
        for stage, n in p.get("stages", {}).items():
            if stage in ref.get("stages", {}) and ref["stages"][stage] != n:
                problems.append(f"pass {i}: {stage} kept {n} docs, pass 0 kept {ref['stages'][stage]}")
    for p in passes:
        counts = list(p.get("stages", {}).values())
        if any(b > a for a, b in zip(counts, counts[1:])):
            problems.append(f"survivor counts grow down the funnel: {p['stages']}")
        for stage, n in expected.items():
            if stage in p.get("stages", {}) and p["stages"][stage] != n:
                problems.append(f"{stage}: {p['stages'][stage]} docs, generator says {n}")
    return problems
