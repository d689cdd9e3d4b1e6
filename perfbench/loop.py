"""The two stateful micro-batch loop workloads, ``fresh_crawl`` and
``seen_heavy``.

One batch is: schedule (robots -> seen prefilter -> exact seen resolve ->
per-host top-K + salting) -> ordered drain -> fetch + parse -> SeenState
commit -> maintenance. The loop is closed: batch i+1 starts after batch
i has committed. Frontier generation and the reference checks run
between the timing windows.

The untraced batch calls ``schedule_batch`` as a drain loop would. The
traced batch composes the same public calls that ``schedule_batch``
composes, one span per layer, each ending in a persist + count barrier.
"""

from __future__ import annotations

import random
import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from crawler_spark.operators.bloom import bloom_prefilter
from crawler_spark.operators.cuckoo import cuckoo_prefilter
from crawler_spark.operators.politeness import broadcast_robots, host_quotas, robots_filter
from crawler_spark.operators.scheduler import (
    drain_ordered,
    fetch_parse_digest,
    release_barrier,
    schedule_batch,
)
from crawler_spark.operators.seen_state import SeenState

from . import reference as ref
from .synth import FrontierGen, host_name, robots_rules, synth_fetch
from .tracing import Spans

FRONTIER_SCHEMA = "url string, host string, priority int, seq long"
ROBOTS_SCHEMA = "host string, disallow_prefixes array<string>, crawl_delay_ms int"
N_RULE_HOSTS = 50  # hosts with robots rules (disallow + crawl delay)
SETUP_REPS = 3
MIN_BATCHES = 3  # measured batches, after the warm-up batch
PARSE_SAMPLE = 16
DELETE_HOST = host_name(0)  # deleted mid-run (batch ``delete_at``)
WARM_DELETE_HOST = host_name(1)  # deleted by the warm-up batch


@dataclass(frozen=True)
class LoopSpec:
    n_hosts: int
    batch_rows: int
    default_k: int
    salt_span: int
    state: dict
    rediscover: float = 0.0
    preseen: float = 0.0
    n_preseen: int = 0
    delete_at: int | None = None  # measured batch whose maintenance deletes a host


SPECS = {
    # parse-bound: wide quotas, empty seen state at its default layout
    # (flat url_seen, Bloom), 20% rediscovery of already-emitted URLs
    "fresh_crawl": LoopSpec(
        n_hosts=2_000,
        batch_rows=20_000,
        default_k=1_000,
        salt_span=250,
        rediscover=0.2,
        state={"expected_keys": 1_000_000},
    ),
    # seen-state-bound: large pre-seen pool, 30% of each batch re-probes
    # it, tight quotas, bucketed url_seen + cuckoo filter, and one host
    # deleted (delete_urls -> apply_deletes -> compact) mid-run
    "seen_heavy": LoopSpec(
        n_hosts=2_000,
        batch_rows=10_000,
        default_k=5,
        salt_span=2,
        preseen=0.3,
        n_preseen=40_000,
        delete_at=2,
        state={
            "n_parts": 4,
            "bucketed_parts": 8,
            "write_tasks": 8,
            "filter_kind": "cuckoo",
            "expected_keys": 400_000,
            "rebuild_fill": 0.7,
        },
    ),
}


@dataclass
class BatchOut:
    index: int
    seconds: float
    rows: int
    scheduled: set
    ok: bool
    info: dict = field(default_factory=dict)


class LoopWorkload:
    def __init__(self, spark, name: str, seed: int, work: str, corrupt: bool = False):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spec = SPECS[name]
        self.seed = seed
        self.work = work
        self.corrupt = corrupt
        self.n_tasks = self.sc.defaultParallelism
        self.rules = robots_rules(N_RULE_HOSTS)
        self.spans = Spans(self.sc)
        self.base = 1 if self.spec.n_preseen else 0  # pre-seed is logical batch 1
        self.setup_s: list[float] = []
        self.commit0 = 0

    # -- inputs and set-up -----------------------------------------------------

    def _gen(self) -> FrontierGen:
        s = self.spec
        return FrontierGen(
            self.seed, s.n_hosts, rediscover=s.rediscover, preseen=s.preseen, n_preseen=s.n_preseen
        )

    def _frontier(self, pdf):
        df = self.spark.createDataFrame(pdf, FRONTIER_SCHEMA).withColumn(
            "url_hash", F.xxhash64("url")
        )
        df = df.persist()
        df.count()
        return df

    def _pool_df(self, gen: FrontierGen):
        if gen.pool is None:
            return None
        df = self.spark.createDataFrame(gen.pool[["url"]], "url string").persist()
        df.count()
        return df

    def _open(self, root: str, pool_df):
        """Fresh state, robots and quotas, pre-seed commit."""
        shutil.rmtree(root, ignore_errors=True)
        st = SeenState(self.spark, root, **self.spec.state)
        robots_b = broadcast_robots(
            self.spark, self.spark.createDataFrame(self.rules, ROBOTS_SCHEMA)
        )
        quotas = host_quotas(self.spark, robots_b, default_k=self.spec.default_k)
        if pool_df is not None:
            st.commit_batch(pool_df, batch_id=1)
        return st, robots_b, quotas

    def _open_timed(self, root: str, pool_df):
        """``_open`` repeated SETUP_REPS times; keeps the last state and
        records each repetition's seconds."""
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            opened = self._open(root, pool_df)
            self.setup_s.append(time.perf_counter() - t0)
        return opened

    # -- one batch ----------------------------------------------------------------

    def _deleted_host(self, i: int) -> str | None:
        if self.spec.delete_at is None:
            return None
        return {0: WARM_DELETE_HOST, self.spec.delete_at: DELETE_HOST}.get(i)

    def _maintain(self, st: SeenState, i: int, traced: bool) -> None:
        span = self.spans.span if traced else lambda i, layer: nullcontext()
        host = self._deleted_host(i)
        if host is not None:
            victims = st.seen().filter(F.col("url").startswith(f"https://{host}/"))
            with span(i, "seen_state.delete"):
                st.delete_urls(victims)
            with span(i, "seen_state.apply_deletes"):
                st.apply_deletes()
        with span(i, "seen_state.maint"):
            if host is not None or i % 4 == 3:
                st.compact()
            st.expire(keep_last=2)

    def _plain(self, st, robots_b, quotas, frontier, i: int, label: str):
        """Untraced batch; its jobs are labelled ``label``. Returns
        (seconds, drained, parsed, info)."""
        s = self.spec
        bucketed = st.bucketed_parts is not None
        with self.spans.group(label):
            t0 = time.perf_counter()
            scheduled, barrier = schedule_batch(
                frontier,
                seen=None if bucketed else st.seen(),
                exact_anti_join=st.anti_join if bucketed else None,
                bloom=st.blobs(),
                robots_bcast=robots_b,
                quotas=quotas,
                default_k=s.default_k,
                salt_span=s.salt_span,
                max_quota=s.default_k,
                n_bloom_parts=st.n_parts,
                seen_filter=st.filter_kind,
            )
            drained = drain_ordered(scheduled, n_buckets=self.n_tasks).persist()
            drained.count()
            release_barrier(barrier)
            parsed = fetch_parse_digest(drained, synth_fetch, n_tasks=self.n_tasks).persist()
            parsed.count()
            _, info = st.commit_batch(drained.select("url"), batch_id=self.base + i + 1)
            self._maintain(st, i, traced=False)
            dt = time.perf_counter() - t0
        return dt, drained, parsed, info

    def _traced(self, st, robots_b, quotas, frontier, i: int):
        """Traced batch: the layers of ``schedule_batch`` called one by one,
        each a span ending in a persist + count barrier."""
        s = self.spec
        sp = self.spans.span
        cached = []

        def pin(df):
            df = df.persist()
            cached.append(df)
            return df

        t0 = time.perf_counter()
        with sp(i, "politeness"):
            cand = pin(robots_filter(frontier, robots_b, host_col="host"))
            rows_pol = cand.count()
        with sp(i, "prefilter"):
            prefilter = cuckoo_prefilter if st.filter_kind == "cuckoo" else bloom_prefilter
            tagged = pin(prefilter(cand, st.blobs(), n_parts=st.n_parts))
            by_tag = dict(tagged.groupBy("maybe_seen").count().collect())
            fill_max = st.fill().agg(F.max("fill")).first()[0] or 0.0
        maybe = tagged.filter(F.col("maybe_seen")).drop("maybe_seen")
        with sp(i, "seen_resolve"):
            if st.bucketed_parts is not None:
                confirmed = st.anti_join(maybe)
            else:
                confirmed = maybe.join(st.seen().select("url"), "url", "left_anti")
            confirmed = pin(confirmed)
            n_confirmed = confirmed.count()
        new = tagged.filter(~F.col("maybe_seen")).drop("maybe_seen").unionByName(confirmed)
        with sp(i, "scheduler.topk"):
            scheduled, _ = schedule_batch(
                new,
                quotas=quotas,
                default_k=s.default_k,
                salt_span=s.salt_span,
                max_quota=s.default_k,
            )
            scheduled = pin(scheduled)
            n_sched = scheduled.count()
        with sp(i, "scheduler.drain"):
            drained = drain_ordered(scheduled, n_buckets=self.n_tasks).persist()
            drained.count()
        with sp(i, "scheduler.parse"):
            parsed = fetch_parse_digest(drained, synth_fetch, n_tasks=self.n_tasks).persist()
            parsed.count()
        with sp(i, "seen_state.commit"):
            _, info = st.commit_batch(drained.select("url"), batch_id=self.base + i + 1)
        self._maintain(st, i, traced=True)
        dt = time.perf_counter() - t0
        for df in cached:
            df.unpersist()
        info = {
            **info,
            "rows_pol": rows_pol,
            "maybe": by_tag.get(True, 0),
            "tagged": sum(by_tag.values()),
            "fill_max": fill_max,
            "confirmed": n_confirmed,
            "scheduled": n_sched,
        }
        return dt, drained, parsed, info

    # -- checks ---------------------------------------------------------------------

    def _collect(self, drained) -> set:
        pdf = drained.select(*ref.SCHEDULED_KEY).toPandas()
        return set(pdf.itertuples(index=False, name=None))

    def _parse_ok(self, parsed, urls: list[str], rng: random.Random) -> bool:
        sample = rng.sample(urls, min(PARSE_SAMPLE, len(urls)))
        rows = parsed.filter(F.col("url").isin(sample)).collect()
        got = {
            r.url: (r.n_internal, r.n_external, r.n_file, r.n_spans, r.md_len) for r in rows
        }
        return len(got) == len(sample) and all(
            got[u] == ref.parse_digest(u) for u in sample
        )

    # -- loops ------------------------------------------------------------------------

    def run_plain(self, seconds: float) -> tuple[list[BatchOut], SeenState, bool]:
        """Set-up, then the loop: batch 0 is the warm-up, then measured
        batches until ``seconds`` of batch time (at least MIN_BATCHES).
        Every batch is checked against the reference. Returns all batches
        (the warm-up first), the state and whether the final seen set
        matched the reference."""
        gen = self._gen()
        pool = self._pool_df(gen)
        st, robots_b, quotas = self._open_timed(f"{self.work}/state", pool)
        model = ref.SeenModel()
        if gen.pool is not None:
            model.add(gen.pool["url"])
        rng = random.Random(self.seed)
        out: list[BatchOut] = []
        i = 0
        while i <= MIN_BATCHES or sum(b.seconds for b in out[1:]) < seconds:
            pdf = gen.batch(self.spec.batch_rows)
            expected = ref.expected_schedule(
                pdf, model, self.rules, self.spec.default_k, self.spec.salt_span
            )
            frontier = self._frontier(pdf)
            try:
                dt, drained, parsed, info = self._plain(
                    st, robots_b, quotas, frontier, i, label=f"u{i}"
                )
            except Exception as e:  # a raising batch is a failed batch; stop the loop
                print(f"batch {i} raised: {e!r}", flush=True)
                out.append(BatchOut(i, 0.0, len(pdf), set(), False))
                break
            got = self._collect(drained)
            if self.corrupt and i == 1 and got:
                url, host, rank, salt, order = min(got)
                got = (got - {min(got)}) | {(url, host, rank + 1, salt, order)}
            ok = got == expected and self._parse_ok(parsed, [g[0] for g in expected], rng)
            if not ok:
                print(f"batch {i}: scheduled/parse check mismatch", flush=True)
            out.append(BatchOut(i, dt, len(pdf), got, ok, info))
            model.add(u for u, *_ in expected)
            host = self._deleted_host(i)
            if host is not None:
                model.delete_host(host)
            for df in (drained, parsed, frontier):
                df.unpersist()
            i += 1
        seen_ok = all(b.ok for b in out) and _seen_urls(st) == model.urls
        if pool is not None:
            pool.unpersist()
        return out, st, seen_ok

    def run_traced(self, plain: list[BatchOut]) -> tuple[list[BatchOut], SeenState]:
        """The same batches again on a fresh state: the warm-up batch
        untraced, the measured ones traced. Raises unless each batch
        schedules exactly what the untraced run scheduled."""
        gen = self._gen()
        pool = self._pool_df(gen)
        st, robots_b, quotas = self._open(f"{self.work}/traced", pool)
        out = []
        for p in plain:
            frontier = self._frontier(gen.batch(self.spec.batch_rows))
            if p.index == 0:
                dt, drained, parsed, info = self._plain(
                    st, robots_b, quotas, frontier, 0, label="traced-warm"
                )
                self.commit0 = st.store.head().snapshot_id
            else:
                dt, drained, parsed, info = self._traced(st, robots_b, quotas, frontier, p.index)
            got = self._collect(drained)
            if got != p.scheduled:
                raise AssertionError(f"traced batch {p.index} scheduled a different set")
            out.append(BatchOut(p.index, dt, p.rows, got, True, info))
            for df in (drained, parsed, frontier):
                df.unpersist()
        if pool is not None:
            pool.unpersist()
        return out[1:], st


def _seen_urls(st: SeenState) -> set[str]:
    return set(st.seen().select("url").toPandas()["url"])


def e2e_metrics(batches: list[BatchOut]) -> dict[str, float]:
    wall = sum(b.seconds for b in batches)
    times = [b.seconds for b in batches]
    if not wall:  # the first batch raised: nothing was measured
        return dict.fromkeys(["urls_per_s", "fetched_per_s", "batch_s_p50", "batch_s_max"], 0.0)
    return {
        "urls_per_s": sum(b.rows for b in batches) / wall,
        "fetched_per_s": sum(len(b.scheduled) for b in batches) / wall,
        "batch_s_p50": statistics.median(times),
        "batch_s_max": max(times),
    }
