"""In-process reference for the frontier loop's outputs.

Independent of the library's Spark code paths: plain pandas over the
generated frontier, with the benchmark's own model of the seen set. It
covers robots, the seen set (deletes included), per-host
top-min(K, quota) by (priority, seq), and salting.
"""

from __future__ import annotations

import pandas as pd

from .synth import quota_of, synth_fetch

SCHEDULED_KEY = ["url", "host", "rank", "salt", "fetch_order"]


class SeenModel:
    """The URL-seen set the loop should hold after each commit."""

    def __init__(self):
        self.urls: set[str] = set()

    def add(self, urls) -> None:
        self.urls.update(urls)

    def delete_host(self, host: str) -> list[str]:
        gone = [u for u in self.urls if u.split("/", 3)[2] == host]
        self.urls.difference_update(gone)
        return gone


def expected_schedule(
    frontier: pd.DataFrame,
    seen: SeenModel,
    rules: list[tuple[str, list[str], int]],
    default_k: int,
    salt_span: int,
) -> set[tuple]:
    """Scheduled ``(url, host, rank, salt, fetch_order)`` rows for one batch."""
    disallow = {h: tuple(p) for h, p, _ in rules}
    quota = {h: quota_of(d, default_k) for h, _, d in rules}
    paths = frontier["url"].str.split("/", n=3).str[3].radd("/")
    blocked = [
        any(p.startswith(x) for x in disallow.get(h, ()))
        for h, p in zip(frontier["host"], paths)
    ]
    keep = ~pd.Series(blocked, index=frontier.index) & ~frontier["url"].isin(seen.urls)
    df = frontier[keep].sort_values(["host", "priority", "seq"], kind="mergesort")
    rank = df.groupby("host", sort=False).cumcount() + 1
    cap = df["host"].map(quota).fillna(default_k)
    df = df.assign(rank=rank)[rank <= cap]
    df = df.assign(salt=(df["rank"] - 1) // salt_span, fetch_order=(df["rank"] - 1) % salt_span)
    return set(df[SCHEDULED_KEY].itertuples(index=False, name=None))


def parse_digest(url: str) -> tuple:
    """(n_internal, n_external, n_file, n_spans, md_len) of the fetched page,
    computed in this process with the same extraction functions."""
    from crawler_spark.functions.linkextract import build_spans_html

    spans, links = build_spans_html(synth_fetch(url), url)
    return (
        len(links.internal),
        len(links.external),
        len(links.file),
        len(spans),
        sum(len(s.text) for s in spans),
    )
