"""Per-layer metrics of a traced run.

Every traced run reports every name in ``LAYER_UNITS``. A layer that the
workload does not run reports 0 (for example ``frontier.*`` on the loop
workloads, ``seen_state.delete.s`` on ``fresh_crawl``). Seconds are per
traced batch (or per engine step) unless the name says otherwise;
``seen_state.delete.s`` and ``seen_state.apply_deletes.s`` are per call.
"""

from __future__ import annotations

import os
import statistics
import time

from .eventlog import GroupStats, merge
from .synth import synth_fetch
from .tracing import group_name

LAYER_UNITS = {
    "politeness.s": "s",
    "politeness.rows_out": "count",
    "prefilter.s": "s",
    "prefilter.maybe_ratio": "ratio",
    "prefilter.fill_max": "ratio",
    "prefilter.shuffle_mb": "MB",
    "seen_resolve.s": "s",
    "seen_resolve.rows_in": "count",
    "seen_resolve.fp_ratio": "ratio",
    "seen_resolve.shuffle_mb": "MB",
    "seen_resolve.task_skew": "ratio",
    "scheduler.topk.s": "s",
    "scheduler.topk.rows_out": "count",
    "scheduler.topk.shuffle_mb": "MB",
    "scheduler.drain.s": "s",
    "scheduler.drain.shuffle_mb": "MB",
    "scheduler.drain.task_skew": "ratio",
    "scheduler.parse.s": "s",
    "scheduler.parse.docs_per_core_s": "1/s",
    "scheduler.parse.task_skew": "ratio",
    "linkextract.us_per_doc": "us",
    "seen_state.commit.s": "s",
    "seen_state.commit.rebuilds": "count",
    "seen_state.maint.s": "s",
    "seen_state.delete.s": "s",
    "seen_state.apply_deletes.s": "s",
    "spark.jobs_per_batch": "count",
    "spark.shuffle_mb_per_batch": "MB",
    "spark.gc_s": "s",
    "frontier.init_state.s": "s",
    "frontier.init_state.jobs": "count",
    "frontier.step.s": "s",
    "frontier.step.jobs": "count",
    "frontier.finalize.s": "s",
    "frontier.finalize.jobs": "count",
    "state.commits": "count",
    "state.files": "count",
    "trace.coverage": "ratio",
    "trace.overhead": "ratio",
}

LINKEXTRACT_DOCS = 200
LINKEXTRACT_REPS = 5


def linkextract_us_per_doc() -> float:
    """Single-core, in-process ``build_spans_html`` time per page over a
    fixed sample of synthetic pages (median of LINKEXTRACT_REPS passes)."""
    from crawler_spark.functions.linkextract import build_spans_html

    urls = [f"https://h{k % 50}.example.org/p/p{k}" for k in range(LINKEXTRACT_DOCS)]
    pages = [(synth_fetch(u), u) for u in urls]
    build_spans_html(*pages[0])
    passes = []
    for _ in range(LINKEXTRACT_REPS):
        t0 = time.perf_counter()
        for html, u in pages:
            build_spans_html(html, u)
        passes.append((time.perf_counter() - t0) / len(pages) * 1e6)
    return statistics.median(passes)


def count_files(root: str) -> int:
    return sum(len(files) for _, _, files in os.walk(root))


def _groups(groups: dict[str, GroupStats], names) -> GroupStats:
    return merge([groups.get(n, GroupStats()) for n in names])


def spark_per_batch(groups: dict[str, GroupStats], names: list[str]) -> dict[str, float]:
    """Jobs, shuffle and GC per untraced batch (or engine step)."""
    g = _groups(groups, names)
    n = max(len(names), 1)
    return {
        "spark.jobs_per_batch": g.jobs / n,
        "spark.shuffle_mb_per_batch": g.shuffle_write_mb / n,
        "spark.gc_s": g.gc_s / n,
    }


def loop_layers(wl, plain, traced, groups, st) -> dict[str, float]:
    """Per-layer metrics of a loop workload's traced batches."""
    n = len(traced)
    info = [b.info for b in traced]

    def secs(layer: str) -> float:
        return wl.spans.total(layer) / n

    def grp(layer: str) -> GroupStats:
        return _groups(groups, [group_name(b.index, layer) for b in traced])

    maybe = sum(x["maybe"] for x in info)
    scheduled = sum(x["scheduled"] for x in info)
    parse = grp("scheduler.parse")
    head = st.store.head()
    m = dict.fromkeys(LAYER_UNITS, 0.0)
    m.update(
        {
            "politeness.s": secs("politeness"),
            "politeness.rows_out": sum(x["rows_pol"] for x in info) / n,
            "prefilter.s": secs("prefilter"),
            "prefilter.maybe_ratio": maybe / max(sum(x["tagged"] for x in info), 1),
            "prefilter.fill_max": max(x["fill_max"] for x in info),
            "prefilter.shuffle_mb": grp("prefilter").shuffle_write_mb / n,
            "seen_resolve.s": secs("seen_resolve"),
            "seen_resolve.rows_in": maybe / n,
            "seen_resolve.fp_ratio": sum(x["confirmed"] for x in info) / maybe if maybe else 0.0,
            "seen_resolve.shuffle_mb": grp("seen_resolve").shuffle_write_mb / n,
            "seen_resolve.task_skew": grp("seen_resolve").task_skew(),
            "scheduler.topk.s": secs("scheduler.topk"),
            "scheduler.topk.rows_out": scheduled / n,
            "scheduler.topk.shuffle_mb": grp("scheduler.topk").shuffle_write_mb / n,
            "scheduler.drain.s": secs("scheduler.drain"),
            "scheduler.drain.shuffle_mb": grp("scheduler.drain").shuffle_write_mb / n,
            "scheduler.drain.task_skew": grp("scheduler.drain").task_skew(),
            "scheduler.parse.s": secs("scheduler.parse"),
            "scheduler.parse.docs_per_core_s": scheduled / parse.run_s if parse.run_s else 0.0,
            "scheduler.parse.task_skew": parse.task_skew(),
            "seen_state.commit.s": secs("seen_state.commit"),
            "seen_state.commit.rebuilds": sum(bool(x.get("rebuilt")) for x in info),
            "seen_state.maint.s": secs("seen_state.maint"),
            "seen_state.delete.s": wl.spans.total("seen_state.delete"),
            "seen_state.apply_deletes.s": wl.spans.total("seen_state.apply_deletes"),
            **spark_per_batch(groups, [f"u{b.index}" for b in plain]),
            "state.commits": head.snapshot_id - wl.commit0,
            "state.files": count_files(st.store.root),
            "trace.coverage": sum(s.seconds for s in wl.spans.spans)
            / sum(b.seconds for b in traced),
            "trace.overhead": sum(b.seconds for b in traced) / sum(b.seconds for b in plain),
        }
    )
    return m


def engine_layers(wl, plain, traced, groups) -> dict[str, float]:
    """Per-layer metrics of the engine workload's traced crawl."""
    steps = wl.spans.of("frontier.step")
    popping = [s for s, (n, _) in zip(steps, traced.steps) if n > 0]
    init = wl.spans.of("frontier.init_state")[0]
    fin = wl.spans.of("frontier.finalize")[0]
    plain_steps = [f"c{b}" for b, (n, _) in enumerate(plain.steps, start=plain.first_step) if n > 0]
    m = dict.fromkeys(LAYER_UNITS, 0.0)
    m.update(
        {
            "frontier.init_state.s": init.seconds,
            "frontier.init_state.jobs": init.jobs,
            "frontier.step.s": statistics.mean(s.seconds for s in popping),
            "frontier.step.jobs": statistics.mean(s.jobs for s in popping),
            "frontier.finalize.s": fin.seconds,
            "frontier.finalize.jobs": fin.jobs,
            **spark_per_batch(groups, plain_steps),
            "state.commits": traced.commits,
            "state.files": count_files(traced.root),
            "trace.coverage": sum(s.seconds for s in wl.spans.spans) / traced.wall,
            "trace.overhead": traced.wall / plain.wall,
        }
    )
    return m
