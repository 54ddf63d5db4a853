"""Seeded input generators: event parquet files and a synthetic web crawl.

Everything here is a pure function of its arguments (the seed above all):
the same seed gives byte-identical parquet files and the same crawl
records.  The engine only ever sees the files these functions write.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
EVENT_TYPE_P = (0.35, 0.25, 0.15, 0.05, 0.20)
N_USERS = 20_000
N_OBJECTS = 100
ZIPF_S = 1.1
BASE_TS_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC

EVENT_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def zipf_ranks(rng: np.random.Generator, n: int, size: int, s: float = ZIPF_S) -> np.ndarray:
    """``size`` draws of a rank in [0, n) with P(rank r) proportional to 1/(r+1)**s."""
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return rng.choice(n, size=size, p=p / p.sum())


def user_permutation(seed: int) -> np.ndarray:
    """Zipf rank -> user id, so the hot users are not simply 0, 1, 2 ..."""
    return np.random.default_rng([seed, 1]).permutation(N_USERS).astype(np.int64) + 1


def events_table(
    seed: int,
    n: int,
    first_id: int = 0,
    bad_share: float = 0.0,
    late_share: float = 0.0,
) -> pa.Table:
    """``n`` events with Zipf users over ``N_USERS``, uniform objects over
    ``N_OBJECTS`` and the five configured event types.  ``bad_share`` of
    them cannot be extracted (no object key, malformed props or no user);
    ``late_share`` carry a timestamp up to an hour older than their
    neighbours (out-of-order arrival)."""
    rng = np.random.default_rng([seed, 2, first_id])
    users = user_permutation(seed)[zipf_ranks(rng, N_USERS, n)]
    objs = rng.integers(0, N_OBJECTS, n)
    etype = rng.choice(len(EVENT_TYPES), size=n, p=EVENT_TYPE_P)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    ts = BASE_TS_US + ids * 50_000 + rng.integers(0, 50_000, n)
    late = rng.random(n) < late_share
    ts = np.where(late, ts - rng.integers(1, 3_600_000_000, n), ts)
    value = np.round(rng.random(n) * 200.0, 2)
    props = np.array([f'{{"k": {o}}}' for o in objs], dtype=object)
    user_col = pa.array(users, pa.int64())
    if bad_share > 0:
        kind = rng.integers(0, 3, n)
        bad = rng.random(n) < bad_share
        props[bad & (kind == 0)] = '{"q": 1}'
        props[bad & (kind == 1)] = '{"k": '
        user_col = pa.array(users, pa.int64(), mask=bad & (kind == 2))
    return pa.table(
        [
            pa.array(ids, pa.int64()),
            pa.array(ts, pa.timestamp("us")),
            user_col,
            pa.array(np.asarray(EVENT_TYPES, dtype=object)[etype], pa.string()),
            pa.array(value, pa.float64()),
            pa.array(props, pa.string()),
        ],
        schema=EVENT_SCHEMA,
    )


def write_events(path: str, table: pa.Table) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def write_event_files(
    out_dir: str, seed: int, n_files: int, per_file: int, bad_share: float, late_share: float
) -> list[str]:
    """``n_files`` parquet files ``events-00000.parquet`` ... of ``per_file``
    events each, with globally increasing event ids."""
    paths = []
    for i in range(n_files):
        path = os.path.join(out_dir, f"events-{i:05d}.parquet")
        write_events(
            path,
            events_table(seed, per_file, first_id=i * per_file,
                         bad_share=bad_share, late_share=late_share),
        )
        paths.append(path)
    return paths


# ------------------------------------------------------------------ crawl


# How big the crawl is and how much of each kind of waste it carries
# (shares of the base documents).
N_BASE_PAGES = 200
N_DOMAINS = 16
VOCAB = 4000
REFETCH_SHARE = 0.08  # same page again under a tracking-param URL
NEAR_DUP_SHARE = 0.10  # a few words edited, new URL
SEM_DUP_SHARE = 0.05  # same words, shuffled order, new URL
SHORT_SHARE = 0.08  # below the quality gate's word floor
BOILER_ONLY_SHARE = 0.04  # nothing but shared boilerplate


def _vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        w = "".join(letters[rng.integers(0, 26, int(rng.integers(3, 10)))])
        if w not in words:
            words.add(w)
            out.append(w)
    return out


@dataclass(frozen=True)
class Crawl:
    pages: list[tuple[str, str]]  # (target_uri, html), in a seeded order
    n_urls: int  # distinct URLs once tracking parameters are stripped


def crawl(seed: int) -> Crawl:
    """A synthetic crawl.

    Base pages are 2-5 paragraphs of words drawn uniformly from a seeded
    vocabulary, on Zipf-skewed domains.  Short pages draw from a separate
    spam vocabulary, so a bag-of-words quality model can learn them.
    Every domain shares a footer paragraph, and a site-wide banner
    paragraph rides on a third of all pages.  Waste is injected on top:
    re-fetches of a page under a tracking-parameter URL, near-duplicates
    (a few words edited), semantic duplicates (the same words reordered),
    short pages and boilerplate-only pages."""
    rng = np.random.default_rng([seed, 3])
    vocab = np.array(_vocabulary(rng, VOCAB + 60), dtype=object)
    spam, vocab = vocab[:60], vocab[60:]

    def words(k: int, pool: np.ndarray = vocab) -> list[str]:
        return list(pool[rng.integers(0, len(pool), k)])

    footers = [" ".join(["footer"] + words(14)) for _ in range(N_DOMAINS)]
    banner = " ".join(["banner"] + words(18))
    domain_of = zipf_ranks(rng, N_DOMAINS, N_BASE_PAGES, s=1.0)

    def url(i: int, dom: int, suffix: str = "") -> str:
        return f"http://www.d{dom}.com/p/{i}{suffix}"

    def html(paras: list[str]) -> str:
        body = "".join(f"<p>{p}</p>" for p in paras)
        return f"<html><body><h1>page</h1>{body}</body></html>"

    pages: list[tuple[str, str]] = []
    base_paras: list[list[str]] = []
    for i in range(N_BASE_PAGES):
        dom = int(domain_of[i])
        r = rng.random()
        if r < SHORT_SHARE:
            paras = [" ".join(words(int(rng.integers(5, 25)), spam))]
        elif r < SHORT_SHARE + BOILER_ONLY_SHARE:
            paras = []
        else:
            paras = [" ".join(words(int(rng.integers(15, 40))))
                     for _ in range(int(rng.integers(2, 6)))]
        base_paras.append(paras)
        extra = [footers[dom]] + ([banner] if rng.random() < 0.33 else [])
        pages.append((url(i, dom), html(paras + extra)))

    n = N_BASE_PAGES
    refetched = rng.choice(n, int(n * REFETCH_SHARE), replace=False)
    for j in refetched:
        dom = int(domain_of[j])
        tag = ["?utm_source=feed", "?gclid=x%d" % j, "?utm_medium=mail&utm_campaign=c"][j % 3]
        pages.append((url(int(j), dom, tag), html(base_paras[j] + [footers[dom]])))
    for k, j in enumerate(rng.choice(n, int(n * NEAR_DUP_SHARE), replace=False)):
        dom = int(domain_of[j])
        paras = [p.split() for p in base_paras[j]]
        for p in paras:
            for _ in range(max(1, len(p) // 25)):
                p[int(rng.integers(0, len(p)))] = str(vocab[int(rng.integers(0, VOCAB))])
        pages.append((url(n + k, dom, "/v2"), html([" ".join(p) for p in paras] + [footers[dom]])))
    for k, j in enumerate(rng.choice(n, int(n * SEM_DUP_SHARE), replace=False)):
        dom = int(domain_of[j])
        toks = " ".join(base_paras[j]).split()
        rng.shuffle(toks)
        pages.append((url(2 * n + k, dom, "/s"), html([" ".join(toks)] + [footers[dom]])))
    order = rng.permutation(len(pages))
    return Crawl([pages[int(i)] for i in order], len(pages) - len(refetched))
