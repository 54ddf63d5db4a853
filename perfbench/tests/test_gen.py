"""The generators are pure functions of the seed."""

from __future__ import annotations

import hashlib

import duckdb

from perfbench import gen


def _digest(path) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def test_event_files_are_byte_identical_per_seed(tmp_path):
    a = gen.write_event_files(str(tmp_path / "a"), 5, 3, 1000, 0.05, 0.10)
    b = gen.write_event_files(str(tmp_path / "b"), 5, 3, 1000, 0.05, 0.10)
    c = gen.write_event_files(str(tmp_path / "c"), 6, 3, 1000, 0.05, 0.10)
    assert [_digest(p) for p in a] == [_digest(p) for p in b]
    assert [_digest(p) for p in a] != [_digest(p) for p in c]


def test_event_files_carry_bad_and_late_events(tmp_path):
    gen.write_event_files(str(tmp_path), 5, 2, 5000, 0.05, 0.10)
    con = duckdb.connect()
    src = f"read_parquet('{tmp_path}/events-*.parquet')"
    total, ids = con.execute(f"SELECT count(*), count(DISTINCT event_id) FROM {src}").fetchone()
    assert total == ids == 10_000
    # unextractable: no user, or props without a parseable object key
    bad = con.execute(
        f"SELECT count(*) FROM {src} WHERE user_id IS NULL OR NOT json_valid(props)"
        " OR json_extract_string(props, '$.k') IS NULL").fetchone()[0]
    assert 0.03 * total < bad < 0.07 * total
    late = con.execute(
        f"SELECT count(*) FROM (SELECT ts < max(ts) OVER (ORDER BY event_id ROWS BETWEEN"
        f" UNBOUNDED PRECEDING AND 1 PRECEDING) AS late FROM {src}) WHERE late").fetchone()[0]
    assert 0.05 * total < late


def test_users_are_zipf_skewed():
    t = gen.events_table(3, 50_000)
    counts = duckdb.connect().execute(
        "SELECT count(*) c FROM t GROUP BY user_id ORDER BY c DESC").fetchall()
    assert counts[0][0] > 0.05 * 50_000  # one hot user
    assert len(counts) > 5_000  # and a long tail


def test_crawl_is_deterministic_and_counts_canonical_urls():
    a, b = gen.crawl(11), gen.crawl(11)
    assert a == b
    assert gen.crawl(12).pages != a.pages
    tracking = [u for u, _ in a.pages if "?" in u]
    assert tracking and a.n_urls == len(a.pages) - len(tracking)
    assert len({u for u, _ in a.pages}) == len(a.pages)
