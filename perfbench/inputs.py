"""Seeded benchmark inputs.

Pages are drawn from the 30-word filler vocabulary the engine's pinned
alias dictionary (``plans.catalog_kg.ALIAS_DICT``) was written against,
with the word-count spread of the ``documents`` test corpus (10-100
words, one sentence per page).  Everything here is a pure function of
the seed, so one seed always yields the same pages and re-crawl split.
"""

from __future__ import annotations

import datetime as dt

import numpy as np

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
WARC_TS = dt.datetime(2024, 1, 1)


def page_texts(seed: int, n: int) -> list[str]:
    rng = np.random.default_rng(seed)
    lens = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    vocab = np.asarray(VOCAB, dtype=object)
    out, at = [], 0
    for k in lens:
        out.append(" ".join(vocab[words[at : at + k]]))
        at += k
    return out


def page_rows(texts: list[str], tag: str, start: int = 0) -> list[tuple]:
    """(url, warc_ts, text, lang) rows; urls are unique per tag."""
    return [
        (f"https://h{(start + i) % 50}.example/{tag}/{start + i}", WARC_TS, t, "en")
        for i, t in enumerate(texts)
    ]


def incremental_split(seed: int, n: int) -> tuple[list[tuple], list[tuple]]:
    """Snapshot 0 (n pages) and snapshot 1: n/2 re-crawls of snapshot-0
    texts under new urls (the dedup gate drops them) plus n/2 fresh
    pages.  The seed picks which snapshot-0 pages are re-crawled."""
    texts0 = page_texts(seed, n)
    rng = np.random.default_rng(seed + 1)
    recrawl = sorted(rng.choice(n, size=n // 2, replace=False).tolist())
    fresh = page_texts(seed + 2, n - n // 2)
    snap0 = page_rows(texts0, "a")
    snap1 = page_rows([texts0[i] for i in recrawl], "mirror") + page_rows(fresh, "b", start=n)
    return snap0, snap1
