"""Seeded inputs for the frontier-loop benchmark.

Everything a workload feeds the library comes from here and depends only
on the seed: the Zipf-host frontier batches, the robots rules and quotas,
the pre-seen URL pool, and the synthetic fetcher. The benchmark owns
these so that a refactor elsewhere in the repository cannot change its
inputs.

``synth_fetch`` runs on Spark executors (it is the fetcher handed to
``fetch_parse_digest``), so this module imports nothing outside the
standard library, numpy and pandas at module level.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

__all__ = [
    "FrontierGen",
    "host_name",
    "robots_rules",
    "quota_of",
    "synth_fetch",
    "BATCH_WINDOW_MS",
]

# host_quotas' default crawl window: quota = window // crawl_delay
BATCH_WINDOW_MS = 60_000
_DISALLOW = ["/private", "/login"]
_DELAYS_MS = [0, 100, 1_000, 20_000]
ZIPF_S = 1.1  # host-size skew: host k gets weight 1 / k**ZIPF_S


def host_name(k: int) -> str:
    return f"h{k}.example.org"


def robots_rules(n_rule_hosts: int) -> list[tuple[str, list[str], int]]:
    """(host, disallow_prefixes, crawl_delay_ms) for the first
    ``n_rule_hosts`` hosts; the crawl delays cycle so that quotas range
    from default_k down to 3 per batch window."""
    return [
        (host_name(k), list(_DISALLOW), _DELAYS_MS[k % len(_DELAYS_MS)])
        for k in range(n_rule_hosts)
    ]


def quota_of(delay_ms: int, default_k: int) -> int:
    """The per-batch host quota the rules imply (host_quotas' contract)."""
    if delay_ms <= 0:
        return default_k
    return max(1, min(default_k, BATCH_WINDOW_MS // delay_ms))


class FrontierGen:
    """Micro-batches of a Zipf-host frontier.

    Fresh rows get new URLs ``https://h<k>.example.org/<dir>/p<id>`` (the
    pre-seen pool ``.../s<id>``);
    a small share land under a robots-disallowed directory. A
    ``rediscover`` share of each batch re-emits URLs emitted by an
    earlier batch (nav-link rediscovery); a ``preseen`` share re-emits
    URLs of the pre-seen pool (pass ``n_preseen`` > 0). Rows of one batch
    never repeat a URL, so the scheduled set is a plain set. ``seq`` is
    a global row counter and ``priority`` is uniform in 0..9."""

    def __init__(
        self,
        seed: int,
        n_hosts: int,
        rediscover: float = 0.0,
        preseen: float = 0.0,
        n_preseen: int = 0,
    ):
        self.rng = np.random.default_rng(seed)
        w = 1.0 / np.arange(1, n_hosts + 1) ** ZIPF_S
        self.p_host = w / w.sum()
        self.n_hosts = n_hosts
        self.rediscover = rediscover
        self.preseen_share = preseen
        self.next_seq = 0
        self.next_id = 0
        self._emitted_url: list[np.ndarray] = []
        self._emitted_host: list[np.ndarray] = []
        self.pool = self._fresh(n_preseen, tag="s") if n_preseen else None

    def _fresh(self, n: int, tag: str = "p") -> pd.DataFrame:
        hosts = self.rng.choice(self.n_hosts, size=n, p=self.p_host)
        ids = np.arange(self.next_id, self.next_id + n)
        self.next_id += n
        u = self.rng.random(n)
        dirs = np.where(u < 0.04, "private", np.where(u < 0.06, "login", "p"))
        host_s = np.array([host_name(int(k)) for k in hosts], dtype=object)
        urls = np.array(
            [f"https://{h}/{d}/{tag}{i}" for h, d, i in zip(host_s, dirs, ids)],
            dtype=object,
        )
        return pd.DataFrame({"url": urls, "host": host_s})

    def _sample(self, urls: np.ndarray, hosts: np.ndarray, n: int) -> pd.DataFrame:
        n = min(n, len(urls))
        pick = self.rng.choice(len(urls), size=n, replace=False)
        return pd.DataFrame({"url": urls[pick], "host": hosts[pick]})

    def batch(self, n_rows: int) -> pd.DataFrame:
        """The next batch: columns url, host, priority (int), seq (long)."""
        parts = []
        if self.pool is not None and self.preseen_share:
            parts.append(
                self._sample(
                    self.pool["url"].to_numpy(),
                    self.pool["host"].to_numpy(),
                    int(n_rows * self.preseen_share),
                )
            )
        if self._emitted_url and self.rediscover:
            parts.append(
                self._sample(
                    np.concatenate(self._emitted_url),
                    np.concatenate(self._emitted_host),
                    int(n_rows * self.rediscover),
                )
            )
        fresh = self._fresh(n_rows - sum(len(p) for p in parts))
        self._emitted_url.append(fresh["url"].to_numpy())
        self._emitted_host.append(fresh["host"].to_numpy())
        df = pd.concat(parts + [fresh], ignore_index=True)
        df = df.iloc[self.rng.permutation(len(df))].reset_index(drop=True)
        df["priority"] = self.rng.integers(0, 10, size=len(df)).astype("int32")
        df["seq"] = np.arange(self.next_seq, self.next_seq + len(df), dtype="int64")
        self.next_seq += len(df)
        return df


_WORDS = (
    "data web crawl spark frontier queue host link page index archive "
    "report dataset analysis summary figure quote fact study survey"
).split()
_PARAS = [
    " ".join(_WORDS[(r + k) % len(_WORDS)] for k in range(90)) for r in range(len(_WORDS))
]


def synth_fetch(url: str) -> str:
    """Deterministic stand-in for an HTTP fetch: a ~6 KB HTML page derived
    from the URL alone, with internal, external and file links between
    paragraphs, so the parse stage does real work at a real page size."""
    tail = url.rsplit("/", 1)[-1]
    doc_id = int("".join(c for c in tail if c.isdigit()) or "0")
    para = _PARAS[doc_id % len(_PARAS)]
    parts = [f"<html><head><title>{tail}</title></head><body><h1>doc {doc_id}</h1>"]
    for j in range(15):
        t = (doc_id * 31 + j * 7) % 100_000
        if j % 5 == 4:
            href = f"https://ext{t % 13}.example.net/r/{t}"
        elif j % 7 == 6:
            href = f"/files/f{t}.pdf"
        else:
            href = f"/p/p{t}"
        parts.append(f'<a href="{href}">link {j}</a><p>{para[: 300 + (t % 100)]}</p>')
    parts.append('<a href="#">top</a><a href="mailto:x@y.z">m</a></body></html>')
    return "".join(parts)
