"""Frontier-loop benchmark: one workload per invocation.

    python3 perfbench/run.py --workload seen_heavy --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` runs the workload untraced
and reports the end-to-end metrics; ``--trace 1`` runs it untraced and
then traced (per-layer spans, Spark event log) and reports the per-layer
metrics. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Everything the run
writes goes under ``.perfbench_work/`` in the current directory and is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import zipfile

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
HERE = os.path.dirname(os.path.abspath(__file__))
CORES = 4

E2E_UNITS = {
    "urls_per_s": "1/s",
    "fetched_per_s": "1/s",
    "batch_s_p50": "s",
    "batch_s_max": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "state_mb": "MB",
}
WORKLOADS = ("fresh_crawl", "seen_heavy", "engine_fixture")


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--corrupt",
        action="store_true",
        help="alter one scheduled row (or crawl-log row) before its check, "
        "to show that the check fails",
    )
    return p.parse_args(argv)


def _isolate() -> None:
    """Keep every file the run writes (Spark local dirs, JVM and Python
    temp files, the shipped package zip) under WORK."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"


def _session(trace: bool):
    from crawler_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK}/tmp -XX:-UsePerfData -Xms2g",
        "spark.sql.warehouse.dir": f"{WORK}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(f"{WORK}/events", exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{WORK}/events",
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark("perfbench", cores=CORES, shuffle_partitions=CORES, extra_conf=conf)
    zpath = os.path.join(WORK, "perfbench.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for fn in sorted(os.listdir(HERE)):
            if fn.endswith(".py"):
                zf.write(os.path.join(HERE, fn), f"perfbench/{fn}")
    spark.sparkContext.addPyFile(zpath)
    return spark


def _stop(spark) -> None:
    """Stop Spark and the gateway JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def peak_rss_mb() -> tuple[float, str]:
    """Summed VmHWM of this process and all its descendants (the JVM and
    the Python workers), with a per-process breakdown for the log."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    parts, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in status:
            parts.append((status["Name"].strip(), int(status["VmHWM"].split()[0]) / 1024))
    by_name: dict[str, list[float]] = {}
    for name, mb in parts:
        by_name.setdefault(name, []).append(mb)
    detail = ", ".join(f"{len(v)} {k} {sum(v):.0f}" for k, v in by_name.items())
    return sum(mb for _, mb in parts), detail


def dir_mb(root: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    ) / 2**20


def _run_loop(spark, a, session_s: float):
    from . import layers
    from .loop import LoopWorkload, e2e_metrics

    wl = LoopWorkload(spark, a.workload, a.seed, WORK, corrupt=a.corrupt)
    batches, st, seen_ok = wl.run_plain(a.seconds)
    warm, measured = batches[0], batches[1:]
    failed = sum(not b.ok for b in batches)
    correct = failed == 0 and seen_ok
    metrics = {
        **e2e_metrics(measured or batches),
        "setup_s": session_s + statistics.median(wl.setup_s) + warm.seconds,
        "state_mb": dir_mb(st.store.root),
    }
    finish = None
    if a.trace and correct:
        traced, tst = wl.run_traced(batches)

        def finish(groups):
            return layers.loop_layers(wl, measured, traced, groups, tst)

    summary = (
        f"warm-up batch + {len(measured)} measured batches of {wl.spec.batch_rows} rows "
        f"[{', '.join(f'{b.seconds:.2f}' for b in batches)}] s; set-up: session "
        f"{session_s:.2f} s, state [{', '.join(f'{x:.2f}' for x in wl.setup_s)}] s"
    )
    return correct, len(batches), failed, metrics, finish, summary


def _run_engine(spark, a, session_s: float):
    from . import layers
    from .engine import EngineWorkload, e2e_metrics

    wl = EngineWorkload(spark, a.seed, WORK)
    wl.open_timed()
    crawls, t0 = [], time.perf_counter()
    while not crawls or (time.perf_counter() - t0 < a.seconds and not a.trace):
        crawls.append(wl.crawl(f"{WORK}/engine{len(crawls)}", traced=False, corrupt=a.corrupt))
    attempted = sum(len(c.steps) - 1 for c in crawls)
    failed = attempted - sum(c.ok_steps for c in crawls)
    correct = failed == 0 and all(c.seen_ok for c in crawls)
    metrics = {
        **e2e_metrics(crawls),
        "setup_s": session_s + statistics.median(wl.setup_s),
        "state_mb": dir_mb(crawls[-1].root),
    }
    finish = None
    if a.trace and correct:
        # after the cold crawl: a traced crawl, then an untraced one to
        # compare it with
        traced = wl.crawl(f"{WORK}/engine_traced", traced=True)
        plain = wl.crawl(f"{WORK}/engine_plain", traced=False, label="c")
        if not traced.log == plain.log == crawls[0].log:
            raise AssertionError("traced crawl log differs from the untraced one")

        def finish(groups):
            return layers.engine_layers(wl, plain, traced, groups)

    summary = (
        f"{len(crawls)} crawl(s), {attempted} popping steps; init "
        f"{crawls[0].init_s:.2f} s, steps [{', '.join(f'{s:.2f}' for c in crawls for _, s in c.steps)}] s, "
        f"finalize {crawls[0].finalize_s:.2f} s; set-up: session {session_s:.2f} s, "
        f"web graph [{', '.join(f'{x:.2f}' for x in wl.setup_s)}] s"
    )
    return correct, attempted, failed, metrics, finish, summary


def main(argv=None) -> int:
    a = _args(argv)
    shutil.rmtree(WORK, ignore_errors=True)
    _isolate()
    try:
        import crawler_spark  # noqa: F401  (fails fast outside a full checkout)

        t0 = time.perf_counter()
        spark = _session(bool(a.trace))
        session_s = time.perf_counter() - t0
        try:
            run = _run_engine if a.workload == "engine_fixture" else _run_loop
            correct, attempted, failed, metrics, finish, summary = run(spark, a, session_s)
            metrics["peak_rss_mb"], rss_detail = peak_rss_mb()
        finally:
            _stop(spark)
        if a.trace:
            from . import eventlog, layers

            units = layers.LAYER_UNITS
            if finish is None:  # the untraced run failed its checks: no traced run
                metrics = dict.fromkeys(units, 0.0)
            else:
                groups = eventlog.read_groups(eventlog.log_files(f"{WORK}/events"))
                metrics = finish(groups)
                metrics["linkextract.us_per_doc"] = layers.linkextract_us_per_doc()
        else:
            units = E2E_UNITS
        print(f"{a.workload} seed={a.seed}: {summary}; peak RSS MB: {rss_detail}")
        for name, unit in units.items():
            print(f"  {name:32s} {metrics[name]:14.4f} {unit}")
        print(
            json.dumps(
                {
                    "correct": bool(correct),
                    "attempted": int(attempted),
                    "failed": int(failed),
                    "metrics": {
                        k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()
                    },
                }
            ),
            flush=True,
        )
        return 0
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(HERE))
    from perfbench.run import main as _main

    sys.exit(_main())
