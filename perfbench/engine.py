"""The ``engine_fixture`` workload: the reference-parity ``CrawlEngine`` on
a seeded ``fixtures.make_web_graph`` graph.

One crawl is ``init_state``, then ``step()`` until a step pops nothing,
then ``run()`` to finalize. The measured crawl is the first of its
process, as for a user who runs one small crawl: JIT and Python worker
start-up land in it. A cold crawl costs ~25 s on the 4-core host, so
there is no separate warm-up crawl. Every step's crawl log is checked against
``oracle.crawl_many`` between the timing windows: after k popping steps
each source has crawled exactly the first k URLs of its oracle order.
"""

from __future__ import annotations

import shutil
import statistics
import time
from dataclasses import dataclass, field

from crawler_spark.fixtures import make_web_graph, web_graph_rows
from crawler_spark.operators.frontier import CrawlEngine
from crawler_spark.oracle import crawl_many, make_policy
from crawler_spark.schemas import WEB_GRAPH

from .tracing import Spans

GRAPH = {"n_hosts": 4, "pages_per_host": 6, "max_pages": 1}
POLICY = "lexmin"
SETUP_REPS = 3


@dataclass
class Crawl:
    init_s: float
    steps: list[tuple[int, float]]  # (popped, seconds) per step, empty step included
    finalize_s: float
    ok_steps: int
    log: list[tuple] = field(default_factory=list)
    seen_ok: bool = False
    fetched_ok: int = 0
    root: str = ""
    first_step: int = 0
    commits: int = 0

    @property
    def wall(self) -> float:
        return self.init_s + sum(s for _, s in self.steps) + self.finalize_s

    @property
    def popped(self) -> int:
        return sum(n for n, _ in self.steps)


class EngineWorkload:
    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.seed = seed
        self.work = work
        self.graph = make_web_graph(seed=seed, **GRAPH)
        self.oracle = {
            sc.source_url: sc for sc in crawl_many(self.graph.seeds, self.graph.web, make_policy(POLICY))
        }
        self.spans = Spans(self.sc)
        self.setup_s: list[float] = []
        self.web = None

    def open_timed(self) -> None:
        """Load the web graph table, SETUP_REPS times; keeps the last."""
        rows = web_graph_rows(self.graph)
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            if self.web is not None:
                self.web.unpersist()
            self.web = self.spark.createDataFrame(rows, WEB_GRAPH).persist()
            self.web.count()
            self.setup_s.append(time.perf_counter() - t0)

    def _log(self, eng: CrawlEngine) -> list[tuple]:
        return sorted(
            (r.source_url, r.seq, r.url, r.ok)
            for r in eng.crawl_log().select("source_url", "seq", "url", "ok").collect()
        )

    def _prefix_ok(self, log: list[tuple], k: int) -> bool:
        got: dict[str, list[str]] = {}
        for src, _, url, _ in log:
            got.setdefault(src, []).append(url)
        return all(got.get(src, []) == sc.crawl_order[:k] for src, sc in self.oracle.items())

    def crawl(self, root: str, traced: bool, label: str = "u", corrupt: bool = False) -> Crawl:
        """One full crawl. Traced, each call is a span; untraced, the jobs
        of batch ``b`` are labelled ``<label><b>``."""
        shutil.rmtree(root, ignore_errors=True)
        eng = CrawlEngine(self.spark, self.web, root, policy=POLICY)

        def timed(b: int, layer: str, fn):
            if traced:
                with self.spans.span(b, layer):
                    t0 = time.perf_counter()
                    out = fn()
                    return out, time.perf_counter() - t0
            with self.spans.group(f"{label}{b}"):
                t0 = time.perf_counter()
                out = fn()
                return out, time.perf_counter() - t0

        _, init_s = timed(0, "frontier.init_state", lambda: eng.init_state(self.graph.seeds))
        first_step = eng.store.head().batch_id + 1
        b = first_step - 1
        steps, ok_steps, k = [], 0, 0
        while True:
            b += 1
            n, dt = timed(b, "frontier.step", lambda: eng.step(b))
            steps.append((n, dt))
            if n == 0:
                break
            k += 1
            log = self._log(eng)
            if corrupt and k == 1:
                log = log[1:]
            if self._prefix_ok(log, k):
                ok_steps += 1
            else:
                print(f"step {k}: crawl log differs from the oracle", flush=True)
        _, fin_s = timed(b + 1, "frontier.finalize", lambda: eng.run())
        seen: dict[str, set] = {}
        for r in eng.url_seen().select("source_url", "url").collect():
            seen.setdefault(r.source_url, set()).add(r.url)
        log = self._log(eng)
        return Crawl(
            init_s=init_s,
            steps=steps,
            finalize_s=fin_s,
            ok_steps=ok_steps,
            log=log,
            seen_ok=all(seen.get(s, set()) == sc.processed for s, sc in self.oracle.items()),
            fetched_ok=sum(1 for *_, ok in log if ok),
            root=root,
            first_step=first_step,
            commits=eng.store.head().snapshot_id,
        )


def e2e_metrics(crawls: list[Crawl]) -> dict[str, float]:
    wall = sum(c.wall for c in crawls)
    step_s = [s for c in crawls for n, s in c.steps if n > 0]
    return {
        "urls_per_s": sum(c.popped for c in crawls) / wall,
        "fetched_per_s": sum(c.fetched_ok for c in crawls) / wall,
        "batch_s_p50": statistics.median(step_s),
        "batch_s_max": max(step_s),
    }
