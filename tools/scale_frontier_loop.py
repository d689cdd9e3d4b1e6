"""Micro-batched large-frontier drain with ACCUMULATING URL-seen state —
the shape a 10^10-URL crawl actually runs in, and the bounded-memory
counterpart of the single-shot scale points (BENCH/scale_1e8*.json).

Each batch drains a [i*B, (i+1)*B) window of the deterministic Zipf
frontier (bench.make_frontier with dup_back=B: every 5th row
re-discovers a batch-0-family URL, so the accumulated seen state faces
persistent nav-link-like re-discovery pressure). After a batch, its
scheduled URLs are committed through SeenState (operators/seen_state.py):
an append to the snapshot store's bucketed url_seen delta table plus an
incremental insert into the seen_cuckoo full table — per-batch
state-maintenance cost tracks the BATCH, not the total seen count, which
is exactly what a 10^10 frontier needs (a per-batch full rebuild would
be quadratic).

Peak memory is one batch's caches + the (fixed-size) cuckoo blobs; the
frontier is never materialized whole. Per-batch throughput flat across
batches = the scale evidence.

Two hard-won rules this tool encodes (both measured, see
BENCH/BASELINE.md "10^9-URL micro-batched frontier drain"):
- in-loop state must COMMIT per batch (SeenState/snapshot store), never
  chain persist() handles — a cached chain keeps every prior batch's
  cogroup in its lineage and one evicted block recomputes the history;
- the batch's scheduled set rides DISK_ONLY, because an LRU-evicted
  memory block recomputes the whole schedule pipeline inside whatever
  step touches it next.

Usage:
    python tools/scale_frontier_loop.py [batch_rows] [n_batches] \
        [--out BENCH/scale_1e9_loop.json] [--resume] [--buckets=B]

--buckets=B sets the number of url_seen bucket directories (default
256). Seen resolves bucket-wise in one pass that probes the cuckoo
filter first (SeenState.anti_join), so neither the accumulated seen
table nor the filter is shuffled —
the one per-batch cost that would otherwise grow with TOTAL crawl state
(a flat anti-join reshuffles ~4 GB of seen rows per batch at 10^8 seen).
The cuckoo filter uses gcd(64, B) partitions, so B need not be a
multiple of 64. Any other flag is refused.

--resume picks the loop up from the state's HEAD batch: a killed run
continues from its last committed batch with the identical frontier
windows (deterministic from row ids) and identical accumulated seen
state — the store's idempotent-redelivery guarantee means a batch that
died between its drain and its commit is simply re-drained and commits
once. A store resumes only with the ``--buckets`` value it was written
with: any other value exits with SeenStateMismatch before the first
batch.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    out_path = None
    buckets = 256
    args: list[str] = []
    consumed = -1
    for i, a in enumerate(sys.argv[1:], start=1):
        if i == consumed:
            continue
        if a == "--out" and i + 1 < len(sys.argv):
            out_path = sys.argv[i + 1]
            consumed = i + 1
        elif a.startswith("--buckets="):
            buckets = int(a.split("=", 1)[1])
        elif a == "--resume":
            pass
        elif a.startswith("--"):
            sys.exit(f"unknown flag {a!r}: use --out PATH, --resume or --buckets=B")
        else:
            args.append(a)
    batch_rows = int(float(args[0])) if args else 100_000_000
    n_batches = int(args[1]) if len(args) > 1 else 10

    from pyspark import StorageLevel
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    import bench
    from crawler_spark.operators.cuckoo import BUCKET_SLOTS
    from crawler_spark.operators.politeness import broadcast_robots, host_quotas
    from crawler_spark.operators.scheduler import drain_ordered, schedule_batch
    from crawler_spark.operators.seen_state import SeenState

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_parts = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTS", "256"))
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "100g")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("scale_frontier_loop")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_parts))
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    sc = spark.sparkContext

    resume = "--resume" in sys.argv
    state_root = os.environ.get("SPARK_GRAFT_SEEN_DIR", "/tmp/scale_loop_state")
    if not resume:
        shutil.rmtree(state_root, ignore_errors=True)

    # cuckoo filter sized ONCE for the whole run's expected seen count
    # (~10% of the frontier gets scheduled -> seen). Undersizing is safe:
    # SeenState.commit_batch rebuilds wider past load 0.7 (amortized
    # doubling).
    capacity = int(
        os.environ.get("SPARK_GRAFT_SEEN_CAPACITY", batch_rows * n_batches * 0.15)
    )
    # filter partitions: 64, or fewer when B is not a multiple of 64
    # (SeenState needs B % n_parts == 0 so buckets refine the partitions)
    n_parts = math.gcd(64, buckets)
    st = SeenState(
        spark, state_root, n_parts=n_parts, expected_keys=capacity,
        bucketed_parts=buckets, write_tasks=min(64, shuffle_parts),
        rebuild_fill=0.7,
    )

    robots_rows = [
        (f"h{i}.example.org", ["/private", "/login"], 100 if i % 2 else 0)
        for i in range(50)
    ]
    robots_df = spark.createDataFrame(
        robots_rows, "host string, disallow_prefixes array<string>, crawl_delay_ms int"
    )
    robots_b = broadcast_robots(spark, robots_df)
    quotas = host_quotas(spark, robots_b, default_k=1000)

    # untimed warm-up (JIT + python worker pool), tiny and state-free
    warm = bench.make_frontier(spark, 100_000).persist()
    warm.count()
    ws, _ = schedule_batch(
        warm,
        # same seen-resolution path as the measured loop: a flat join here
        # would reshuffle the whole accumulated seen table on --resume
        exact_anti_join=st.anti_join, robots_bcast=robots_b, quotas=quotas,
        default_k=1000, salt_span=250, max_quota=1000,
    )
    drain_ordered(ws, n_buckets=sc.defaultParallelism * 4).count()
    warm.unpersist()

    batches = []

    # the loop commits window i as logical batch i+1, so the last logical
    # id is the next window; committed windows stay done
    start_batch = st.last_logical() if resume else 0
    seen_total = st.seen().count() if start_batch else 0
    if resume:
        print(json.dumps({"resumed_at_batch": start_batch, "seen_rows": seen_total}), flush=True)
    t_run0 = time.monotonic()
    for i in range(start_batch, n_batches):
        tg = time.monotonic()
        frontier = bench.make_frontier(
            spark, batch_rows, start=i * batch_rows, dup_back=batch_rows
        ).persist()
        frontier.count()  # harness scaffolding: the real engine reads its
        # frontier from state; synthesis+cache is reported but not part of
        # drain_sec, same discipline as the single-shot bench
        t_gen = time.monotonic() - tg

        t0 = time.monotonic()
        scheduled, _ = schedule_batch(
            frontier,
            # neither the seen table nor the filter is shuffled — the
            # resolver probes the filter and reads each bucket's files
            exact_anti_join=st.anti_join,
            robots_bcast=robots_b,
            quotas=quotas,
            default_k=1000,
            salt_span=250,
            max_quota=1000,
        )
        drained = drain_ordered(
            scheduled, n_buckets=sc.defaultParallelism * 4
        ).persist(StorageLevel.DISK_ONLY)
        n_sched = drained.count()
        t_drain = time.monotonic() - t0

        # frontier cache is dead weight once the batch is materialized;
        # free it BEFORE state maintenance so the commit never competes
        # with 10+ GB of spent cache
        frontier.unpersist()

        # state maintenance — the incremental path whose cost must track
        # the batch, not the accumulated total
        t1 = time.monotonic()
        man, info = st.commit_batch(
            drained.select("url"),  # commit_batch clusters rows by bucket
            batch_id=i + 1,  # logical id: redelivery-guarded per window
            metrics={"n_scheduled": n_sched},
        )
        if (i + 1) % 4 == 0:
            # compact the delta chain THEN expire: retention is
            # dir-granular, so superseded blob tables reclaim only once
            # the url_seen deltas stop referencing their dirs
            st.compact(n_files=32)
        st.expire(keep_last=2)
        t_state = time.monotonic() - t1

        drained.unpersist()
        seen_total += n_sched
        row = {
            "batch": i,
            "gen_sec": round(t_gen, 2),
            "n_scheduled": n_sched,
            "seen_total_after": seen_total,
            "drain_sec": round(t_drain, 2),
            "state_sec": round(t_state, 2),
            "urls_per_sec": round(batch_rows / t_drain, 1),
            "filter_rebuilt": bool(info.get("rebuilt")),
        }
        batches.append(row)
        print(json.dumps(row), flush=True)

    wall = time.monotonic() - t_run0
    if not batches:
        print(json.dumps({"note": "nothing to do: state already at target batch"}))
        spark.stop()
        return
    fill = st.fill().agg(
        F.max("n_buckets").alias("n_buckets"),
        F.avg("fill").alias("avg"),
        F.max("fill").alias("max"),
    ).first()
    total_rows = batch_rows * len(batches)  # rows drained by THIS run
    drain_total = sum(b["drain_sec"] for b in batches)
    out = {
        "frontier_rows_total": total_rows,
        "resumed_at_batch": start_batch or None,
        "batch_rows": batch_rows,
        "n_batches": n_batches,
        "seen_rows_final": seen_total,
        "filter_buckets_per_part": fill["n_buckets"],
        "filter_parts": n_parts,
        "filter_total_mb": round(fill["n_buckets"] * BUCKET_SLOTS * 2 * n_parts / 2**20, 1),
        "filter_load_avg": round(fill["avg"], 4),
        "filter_load_max": round(fill["max"], 4),
        "drain_sec_total": round(drain_total, 1),
        "urls_per_sec_overall": round(total_rows / drain_total, 1),
        "loop_wall_sec": round(wall, 1),
        "loop_urls_per_sec_incl_state": round(total_rows / wall, 1),
        "first_batch_urls_per_sec": batches[0]["urls_per_sec"],
        "last_batch_urls_per_sec": batches[-1]["urls_per_sec"],
        "batches": batches,
        "bucketed_parts": buckets,
        "filter_kind": st.filter_kind,
        "cores": int(cpus) if str(cpus).isdigit() else cpus,
        "shuffle_partitions": shuffle_parts,
        "driver_mem": driver_mem,
        "date": time.strftime("%Y-%m-%d"),
        "note": (
            "micro-batched drain with accumulating seen state, committed "
            "per batch through SeenState (snapshot-store bucketed url_seen "
            "delta + incremental seen_cuckoo full table); throughput flat across "
            "batches = the 10^10 bounded-memory shape"
        ),
    }
    spark.stop()
    line = json.dumps(out, indent=1)
    print(line)
    if out_path:
        with open(out_path, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
