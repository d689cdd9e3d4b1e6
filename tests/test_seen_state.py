"""SeenState: the drain loop's URL-seen state as snapshot-store tables —
membership across batches, resume from HEAD, idempotent redelivery,
saturation rebuild, deletes. (The 10^9-scale behavior of the same
discipline is recorded in BENCH/scale_1e9_loop.json.)"""

import gc
import glob
import os
import re
import shutil
from collections import Counter

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from crawler_spark.operators.bloom import build_bloom
from crawler_spark.operators.cuckoo import CuckooOverflowError, cuckoo_prefilter
from crawler_spark.operators.scheduler import release_barrier, schedule_batch
from crawler_spark.operators.seen_state import SeenState, SeenStateMismatch
from crawler_spark.plans.inspect import formatted_plan


def _urls(spark, lo, hi):
    return spark.createDataFrame(
        [(f"https://s{i % 9}.example.org/p/{i}",) for i in range(lo, hi)], "url string"
    )


def _frontier_of(df):
    return (
        df.withColumn("host", F.lit("h"))
        .withColumn("priority", F.lit(0))
        .withColumn("seq", F.monotonically_increasing_id())
        .withColumn("url_hash", F.xxhash64("url"))
    )


def _all_maybe_seen(st, urls) -> bool:
    """No prefilter false negative: every url in ``urls`` probes maybe_seen."""
    tagged = cuckoo_prefilter(urls, st.blobs(), n_parts=st.n_parts)
    return all(r.maybe_seen for r in tagged.collect())


@pytest.fixture()
def root(tmp_path):
    p = str(tmp_path / "seen_state")
    yield p
    shutil.rmtree(p, ignore_errors=True)


def test_commit_batches_filter_previously_scheduled(spark, root):
    st = SeenState(spark, root, n_parts=8, expected_keys=10_000)
    assert st.bucketed_parts == 8  # bucketed_parts=None means B = n_parts
    b0, b1 = _urls(spark, 0, 300), _urls(spark, 200, 500)  # 100 overlap
    st.commit_batch(b0)
    assert st.batch_id() == 1 and st.seen().count() == 300

    # scheduling batch 1's frontier against the state drops the overlap
    sched, bar = schedule_batch(
        _frontier_of(b1), exact_anti_join=st.anti_join, bloom=st.blobs(),
        seen_filter=st.filter_kind, default_k=10_000, n_bloom_parts=8,
    )
    got = {r.url for r in sched.collect()}
    release_barrier(bar)
    assert got == {r.url for r in _urls(spark, 300, 500).collect()}

    st.commit_batch(_urls(spark, 300, 500))
    assert st.seen().count() == 500
    # everything committed probes maybe_seen (no false negatives via state)
    assert _all_maybe_seen(st, _urls(spark, 0, 500))


def test_resume_from_head_and_idempotent_redelivery(spark, root):
    st = SeenState(spark, root, n_parts=8, expected_keys=10_000)
    st.commit_batch(_urls(spark, 0, 200))
    st.commit_batch(_urls(spark, 200, 400))
    snaps_before = len(st.store.history())

    # a FRESH SeenState on the same root sees the committed state
    st2 = SeenState(spark, root, n_parts=8, expected_keys=10_000)
    assert st2.batch_id() == 2 and st2.seen().count() == 400
    assert _all_maybe_seen(st2, _urls(spark, 0, 400))

    # redelivering batch 2 is a no-op: no new snapshot, no double-append
    _, info = st2.commit_batch(_urls(spark, 200, 400), batch_id=2)
    assert info.get("redelivered") is True
    assert len(st2.store.history()) == snaps_before
    assert st2.seen().count() == 400


def test_saturation_rebuild_persists_wider_width(spark, root):
    st = SeenState(spark, root, n_parts=4, expected_keys=10, rebuild_fill=0.5)
    nb0 = st._initial_buckets
    st.commit_batch(_urls(spark, 0, 3000))  # load ~0.73: past rebuild_fill
    _, info = st.commit_batch(_urls(spark, 3000, 3050))
    assert info["rebuilt"] and info["n_buckets"] >= 2 * nb0

    # the NEXT batch reads the committed (wider) geometry, not the config
    _, info2 = st.commit_batch(_urls(spark, 3050, 3100))
    assert not info2["rebuilt"] and info2["n_buckets"] == info["n_buckets"]
    assert _all_maybe_seen(st, _urls(spark, 0, 3100))


def test_expire_bounds_blob_history(spark, root):
    st = SeenState(spark, root, n_parts=4, expected_keys=1000)
    for i in range(4):
        st.commit_batch(_urls(spark, i * 50, (i + 1) * 50))
    st.expire(keep_last=2)
    assert len(st.store.history()) <= 2
    # state is intact after expiry
    assert st.seen().count() == 200
    assert _all_maybe_seen(st, _urls(spark, 0, 200))


def test_explicit_batch_ids_survive_internal_rebuild_commits(spark, root):
    """Logical-vs-store batch-id namespaces (ADVICE r4): SeenState commits
    internally at the store's next batch_id (``delete_urls``, ``compact``;
    a cuckoo rebuild rides the data commit), so a caller using its own
    sequential batch_ids must NOT have its next fresh batch classified as
    redelivered — the guard runs on the logical counter carried in
    manifest metrics, not the store's commit counter."""
    st = SeenState(spark, root, n_parts=4, expected_keys=1_000)
    st.commit_batch(_urls(spark, 0, 300), batch_id=1)
    st.delete_urls(_urls(spark, 0, 50))
    st.compact(n_files=2)
    assert st.batch_id() == 3  # store counter ran ahead of the logical id

    # the first fresh batch after the internal commits must land, not no-op
    _, info2 = st.commit_batch(_urls(spark, 300, 400), batch_id=2)
    assert not info2.get("redelivered")
    assert st.seen().count() == 350

    # true redelivery of batch 2 is still a no-op
    _, info3 = st.commit_batch(_urls(spark, 300, 400), batch_id=2)
    assert info3.get("redelivered") is True
    assert st.seen().count() == 350

    # and a fresh SeenState on the same root agrees on the cursor
    st2 = SeenState(spark, root, n_parts=4, expected_keys=1_000)
    assert st2.last_logical() == 2


def test_logical_cursor_survives_rebuild_plus_compact_plus_expire(spark, root):
    """ADVICE r4 (loop cursor): when expire(keep_last=2) keeps only
    internal commits — here a ``delete_urls`` and a compaction — the
    logical cursor must still be readable from their metrics (previously
    --resume restarted at 0)."""
    st = SeenState(spark, root, n_parts=4, expected_keys=1_000)
    st.commit_batch(_urls(spark, 0, 300), batch_id=1)
    st.delete_urls(_urls(spark, 0, 50))
    st.compact(n_files=2)
    st.expire(keep_last=2)
    hist = st.store.history()
    assert len(hist) == 2
    # neither kept manifest is the original data commit...
    assert all((m.metrics or {}).get("event") in ("delete_urls", "compact") for m in hist)
    # ...yet the cursor survives
    assert SeenState(spark, root, n_parts=4, expected_keys=1_000).last_logical() == 1


# -- bucketed url_seen layout (round-5: seen-side shuffle elimination) ---------


def _bucketed(spark, root, **kw):
    kw.setdefault("n_parts", 8)
    kw.setdefault("expected_keys", 10_000)
    kw.setdefault("bucketed_parts", 32)
    kw.setdefault("write_tasks", 4)
    return SeenState(spark, root, **kw)


def test_bucketed_layout_writes_bucket_dirs_and_reads_back(spark, root):
    st = _bucketed(spark, root)
    st.commit_batch(_urls(spark, 0, 500))
    st.commit_batch(_urls(spark, 500, 900))
    # full read unions the partitioned delta dirs and carries the bucket col
    seen = st.seen()
    assert seen.count() == 900
    assert "seen_bucket" in seen.columns
    # bucket dirs exist and cover all rows
    fmap = st.bucket_files()
    assert fmap and all(fs for fs in fmap.values())
    import pyarrow.parquet as pq

    total = sum(pq.read_table(fs, columns=["url"]).num_rows for fs in fmap.values())
    assert total == 900
    # bucket refines the filter partitioning: bucket % n_parts == cuckoo_part
    from crawler_spark.operators.cuckoo import add_cuckoo_keys

    bad = (
        add_cuckoo_keys(seen, n_parts=8)
        .filter(F.pmod("seen_bucket", F.lit(8)) != F.col("cuckoo_part"))
        .count()
    )
    assert bad == 0


# (n_parts, B) on the 8-core test session, where T = min(B, 8): T < B
# with several buckets per task, and T == B with one bucket per task
LAYOUTS = pytest.mark.parametrize(
    "n_parts,buckets",
    [(8, 32), (4, 16), (8, 8)],
    ids=["8parts_32buckets", "4parts_16buckets", "8parts_8buckets"],
)


@LAYOUTS
def test_bucketed_anti_join_matches_flat_anti_join(spark, root, n_parts, buckets):
    st = _bucketed(spark, root, n_parts=n_parts, bucketed_parts=buckets)
    st.commit_batch(_urls(spark, 0, 700))
    cands = _frontier_of(_urls(spark, 500, 1200))  # 200 seen, 500 new
    got = {r.url for r in st.anti_join(cands).collect()}
    want = {
        r.url
        for r in cands.join(st.seen().select("url"), "url", "left_anti").collect()
    }
    assert got == want and len(got) == 500
    # schema is preserved exactly (anti_join is a drop-in resolver)
    assert st.anti_join(cands).schema == cands.schema


def test_bucketed_anti_join_with_renamed_candidate_column(spark, root):
    # the store's files carry the state's url column; the caller's column
    # name applies to the candidate side only
    st = _bucketed(spark, root)
    st.commit_batch(_urls(spark, 0, 700))
    cands = _frontier_of(_urls(spark, 500, 1200)).withColumnRenamed("url", "link")
    got = {r.link for r in st.anti_join(cands, url_col="link").collect()}
    assert got == {f"https://s{i % 9}.example.org/p/{i}" for i in range(700, 1200)}


def test_empty_seen_state_reads_are_zero_partition(spark, root):
    st = _bucketed(spark, root)
    df = st.seen()
    assert df.schema.fieldNames() == ["url"]
    assert df.rdd.getNumPartitions() == 0
    # the filter reads before the first commit are JVM-only too: no
    # Python node for fill() or for the first insert's cogroup input
    for df in (st.blobs(), st.fill()):
        assert df.rdd.getNumPartitions() == 0
        plan = formatted_plan(df)
        assert not re.search(r"Python|Pandas|Arrow", plan), plan


def test_bucketed_schedule_batch_equals_flat_schedule(spark, root):
    st = _bucketed(spark, root)
    st.commit_batch(_urls(spark, 0, 400))
    frontier = _frontier_of(_urls(spark, 300, 800))
    flat, b1 = schedule_batch(
        frontier, seen=st.seen().select("url"), bloom=st.blobs(),
        seen_filter=st.filter_kind, default_k=10_000, n_bloom_parts=8,
    )
    bucketed, b2 = schedule_batch(
        frontier, seen=None, bloom=st.blobs(), exact_anti_join=st.anti_join,
        seen_filter=st.filter_kind, default_k=10_000, n_bloom_parts=8,
    )
    assert {r.url for r in flat.collect()} == {r.url for r in bucketed.collect()}
    release_barrier(b1)
    release_barrier(b2)


def test_bucketed_compact_preserves_layout_and_membership(spark, root):
    st = _bucketed(spark, root)
    for i in range(3):
        st.commit_batch(_urls(spark, i * 200, (i + 1) * 200))
    dirs_before = len(st.store.head().tables[SeenState.TABLE_SEEN]["files"])
    assert dirs_before == 3
    st.compact(n_files=2)
    st.expire(keep_last=2)
    entry = st.store.head().tables[SeenState.TABLE_SEEN]
    assert len(entry["files"]) == 1 and entry.get("partition_cols") == ["seen_bucket"]
    assert st.seen().count() == 600
    # anti-join still exact over the compacted single-dir layout
    cands = _frontier_of(_urls(spark, 400, 900))
    assert st.anti_join(cands).count() == 300
    # and further deltas append partitioned on top of the compacted set
    st.commit_batch(_urls(spark, 600, 650))
    assert st.anti_join(_frontier_of(_urls(spark, 600, 660))).count() == 10


def test_bucketed_resume_from_fresh_state(spark, root):
    st = _bucketed(spark, root)
    st.commit_batch(_urls(spark, 0, 300), batch_id=1)
    st2 = _bucketed(spark, root)
    assert st2.last_logical() == 1
    assert st2.anti_join(_frontier_of(_urls(spark, 200, 400))).count() == 100


def _anti_join_task(st, cands, monkeypatch):
    """The per-task function ``st.anti_join(cands)`` hands to mapInArrow."""
    captured = []
    frame_cls = type(cands)
    map_in_arrow = frame_cls.mapInArrow
    monkeypatch.setattr(
        frame_cls,
        "mapInArrow",
        lambda self, fn, schema, *a, **kw: captured.append(fn) or map_in_arrow(
            self, fn, schema, *a, **kw
        ),
    )
    st.anti_join(cands)
    (task,) = captured
    return task


def test_anti_join_task_reads_each_bucket_once_and_holds_one(spark, root, monkeypatch):
    """anti_join sorts each task's candidates by (filter part, bucket), so
    the per-task function meets every part and every bucket in one run —
    it reads each filter table and each bucket's seen files once, holds
    one bucket's URL array at a time, not one per bucket it has seen, and
    never opens a bucket whose candidates all probe definitely-new."""
    st = _bucketed(spark, root, n_parts=2, bucketed_parts=8)
    st.commit_batch(_urls(spark, 0, 400))
    cands = _frontier_of(_urls(spark, 0, 1))
    task = _anti_join_task(st, cands, monkeypatch)

    # every filter part is a 4-bucket table holding only fingerprint 1, so
    # _fp=1 probes maybe-seen and _fp=2 definitely-new; every bucket's
    # seen slice is 20k synthetic urls, built per read
    import pyarrow.parquet as pq

    n_seen = 20_000
    reads: Counter = Counter()
    filter_reads: Counter = Counter()
    blob = np.full((4, 4), 1, dtype=np.uint16).tobytes()

    def fake_read(source, columns=None, filters=None):
        if filters is not None:  # the filter table of part filters[0][2]
            filter_reads[filters[0][2]] += 1
            return pa.table({"blob": pa.array([blob], pa.binary())})
        b = int(source[0].split("seen_bucket=")[1].split("/")[0])
        reads[b] += 1
        urls = [f"https://b{b}.example.org/{i:07d}/{'x' * 40}" for i in range(n_seen)]
        return pa.table({"url": pa.array(urls)})

    monkeypatch.setattr(pq, "read_table", fake_read)
    one_bucket = pa.array(
        [f"https://b0.example.org/{i:07d}/{'x' * 40}" for i in range(n_seen)]
    ).nbytes

    # one task's input in (part, bucket) order, three rows per Arrow
    # batch, so a bucket's run straddles batch boundaries; per bucket one
    # seen url (dropped) and one new url (kept), both probing maybe-seen,
    # except the quiet bucket: one new url probing definitely-new
    buckets = sorted(st.bucket_files())
    assert len(buckets) == 8
    order = sorted(buckets, key=lambda b: (b % 2, b))
    quiet = 3
    names = cands.columns
    rows = []
    for b in order:
        urls = [f"https://b{b}.example.org/{7:07d}/{'x' * 40}", f"https://b{b}.example.org/new"]
        for u in urls[1:] if b == quiet else urls:
            rows.append({"url": u, "host": "h", "priority": 0, "seq": len(rows), "url_hash": 0,
                         "_sb": b, "_ch": len(rows), "_fp": 2 if b == quiet else 1})
    batches = [
        pa.RecordBatch.from_pylist(rows[i:i + 3], schema=pa.schema(
            [(n, pa.string() if n in ("url", "host") else pa.int64()) for n in names]
            + [("_sb", pa.int32()), ("_ch", pa.int64()), ("_fp", pa.int32())]
        ))
        for i in range(0, len(rows), 3)
    ]
    base = pa.total_allocated_bytes()
    held_max = 0
    kept = []
    for out in task(iter(batches)):
        kept += out.column("url").to_pylist()
        del out
        gc.collect()
        held_max = max(held_max, pa.total_allocated_bytes() - base)
    assert kept == [f"https://b{b}.example.org/new" for b in order]
    assert reads == {b: 1 for b in buckets if b != quiet}
    assert filter_reads == {0: 1, 1: 1}
    assert held_max < 2 * one_bucket, (held_max, one_bucket)


def test_anti_join_plan_sorts_candidates_by_bucket(spark, root):
    st = _bucketed(spark, root)
    st.commit_batch(_urls(spark, 0, 100))
    plan = st.anti_join(_frontier_of(_urls(spark, 0, 10)))._jdf.queryExecution().executedPlan()
    # hash-partitioned on the task map's key for bucket mod T (no
    # range-sample job), then sorted by (filter part, bucket) so a task
    # meets each part and bucket once
    plan = plan.toString()
    assert re.search(r"Sort \[pmod\(_sb#\d+, 8\) ASC NULLS FIRST, _sb#\d+ ASC", plan), plan
    n_tasks = min(32, spark.sparkContext.defaultParallelism)
    keys = ",".join(map(str, range(n_tasks)))
    assert re.search(
        rf"hashpartitioning\(element_at\(map\(keys: \[{keys}\], values: \[[\d,]+\]\), "
        rf"pmod\(_sb#\d+, {n_tasks}\)",
        plan,
    ), plan
    assert "rangepartitioning" not in plan


@LAYOUTS
def test_anti_join_puts_each_bucket_on_task_bucket_mod_t(spark, root, n_parts, buckets):
    """The resolve runs T = min(B, default parallelism) tasks and task t
    holds exactly the buckets b with b mod T == t, so every task gets
    rows: one wave, no task started for an empty partition."""
    st = _bucketed(spark, root, n_parts=n_parts, bucketed_parts=buckets)
    st.commit_batch(_urls(spark, 0, 700))
    n_tasks = min(buckets, spark.sparkContext.defaultParallelism)
    out = st.anti_join(_frontier_of(_urls(spark, 500, 3000)))
    assert out.rdd.getNumPartitions() == n_tasks
    placed = out.select(
        F.spark_partition_id().alias("task"),
        (F.pmod(F.xxhash64("url", F.lit(2)), F.lit(buckets)) % n_tasks).alias("want"),
    ).collect()
    assert len(placed) == 2300
    assert all(r.task == r.want for r in placed)
    assert {r.task for r in placed} == set(range(n_tasks))


def test_anti_join_task_map_runs_no_job(spark, root):
    """The task map's keys are hashed in a projection the optimizer folds
    on the driver: building the resolve's plan starts no Spark job."""
    st = _bucketed(spark, root, bucketed_parts=16)
    st.commit_batch(_urls(spark, 0, 100))
    cands = _frontier_of(_urls(spark, 0, 10))
    st._task_keys.clear()  # the commit's writer placement cached its own map
    sc = spark.sparkContext
    group = "test_seen_state.task_map_no_job"
    sc.setJobGroup(group, "anti_join plan")
    try:
        st.anti_join(cands)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(st._task_keys) == [min(16, sc.defaultParallelism)]
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.mark.parametrize("buckets, write_tasks", [(8, 16), (16, 4)])
def test_clustered_puts_each_bucket_on_writer_bucket_mod_w(spark, root, buckets, write_tasks):
    """url_seen writers: W = min(write_tasks, B) tasks, writer w holding
    exactly the buckets b with b mod W == w, every writer non-empty; so a
    commit and a delete's rewrite each leave one file per bucket dir."""
    st = _bucketed(spark, root, n_parts=4, bucketed_parts=buckets, write_tasks=write_tasks)
    n_tasks = min(write_tasks, buckets)
    placed = st._clustered(_urls(spark, 0, 2000)).select(
        F.spark_partition_id().alias("task"),
        F.pmod("seen_bucket", F.lit(n_tasks)).alias("want"),
    )
    assert placed.rdd.getNumPartitions() == n_tasks
    rows = placed.collect()
    assert len(rows) == 2000 and all(r.task == r.want for r in rows)
    assert {r.task for r in rows} == set(range(n_tasks))

    def files_per_bucket_dir():
        head = st.store.head()
        return [
            len(glob.glob(os.path.join(d, "*.parquet")))
            for rel in head.tables["url_seen"]["files"]
            for d in glob.glob(os.path.join(root, "snapshots", rel, "seen_bucket=*"))
        ]

    st.commit_batch(_urls(spark, 0, 2000))
    st.commit_batch(_urls(spark, 2000, 3000))
    counts = files_per_bucket_dir()
    assert len(counts) == 2 * buckets and set(counts) == {1}
    st.delete_urls(_urls(spark, 0, 100))
    counts = files_per_bucket_dir()
    assert len(counts) == buckets and set(counts) == {1}
    assert st.seen().count() == 2900


# -- deletes, rebuilds, overflow -------------------------------------------------


def _cuckoo(spark, root, **kw):
    kw.setdefault("n_parts", 4)
    kw.setdefault("expected_keys", 5_000)
    return SeenState(spark, root, **kw)


def test_cuckoo_seen_state_schedules_like_bloom(spark, root):
    """The state's schedule is exactly frontier minus seen — and equal to
    a stateless Bloom-prefiltered schedule over the same seen table."""
    st = _cuckoo(spark, root)
    st.commit_batch(_urls(spark, 0, 400))
    frontier = _frontier_of(_urls(spark, 300, 800))
    got, b1 = schedule_batch(
        frontier, exact_anti_join=st.anti_join, bloom=st.blobs(),
        seen_filter=st.filter_kind, default_k=10_000, n_bloom_parts=4,
    )
    seen = st.seen().select("url")
    via_bloom, b2 = schedule_batch(
        frontier, seen=seen, bloom=build_bloom(seen, n_parts=4),
        default_k=10_000, n_bloom_parts=4,
    )
    want = {r.url for r in _urls(spark, 400, 800).collect()}
    assert {r.url for r in got.collect()} == want
    assert {r.url for r in via_bloom.collect()} == want
    release_barrier(b1)
    release_barrier(b2)


def test_resolver_schedule_has_no_prefilter_and_matches_bloom_across_deletes(spark, root):
    """With a resolver, schedule_batch hands it every candidate: no
    cogroup prefilter, no barrier — and the scheduled set equals the
    stateless flat-seen + Bloom schedule before and after a delete."""
    st = _cuckoo(spark, root, bucketed_parts=8, write_tasks=4)
    st.commit_batch(_urls(spark, 0, 400), batch_id=1)
    frontier = _frontier_of(_urls(spark, 0, 600))

    def both():
        got, barrier = schedule_batch(
            frontier, exact_anti_join=st.anti_join, bloom=st.blobs(),
            seen_filter=st.filter_kind, default_k=10_000, n_bloom_parts=4,
        )
        seen = st.seen().select("url")
        flat, b2 = schedule_batch(
            frontier, seen=seen, bloom=build_bloom(seen, n_parts=4),
            default_k=10_000, n_bloom_parts=4,
        )
        plan = got._jdf.queryExecution().executedPlan().toString()
        urls = {r.url for r in got.collect()}, {r.url for r in flat.collect()}
        release_barrier(b2)
        return barrier, plan, urls

    barrier, plan, (got, flat) = both()
    assert barrier is None
    assert "FlatMapCoGroupsInPandas" not in plan and "MapInArrow" in plan
    assert got == flat == {r.url for r in _urls(spark, 400, 600).collect()}

    st.delete_urls(_urls(spark, 100, 200))
    _, _, (got, flat) = both()
    recrawlable = _urls(spark, 100, 200).union(_urls(spark, 400, 600))
    assert got == flat == {r.url for r in recrawlable.collect()}


def test_cuckoo_delete_urls_makes_them_recrawlable(spark, root):
    st = _cuckoo(spark, root, bucketed_parts=16, write_tasks=4)
    st.commit_batch(_urls(spark, 0, 500), batch_id=1)
    st.delete_urls(_urls(spark, 100, 200))  # "delete_source" cascade
    assert st.seen().count() == 400
    assert st.store.head().tables[SeenState.TABLE_SEEN]["rows"] == 400
    # the internal delete commit does not advance the logical counter
    assert st.last_logical() == 1

    # deleted urls flow through BOTH exact tiers again
    cands = _frontier_of(_urls(spark, 0, 500))
    assert st.anti_join(cands).count() == 100  # bucket-wise
    flat = cands.join(st.seen().select("url"), "url", "left_anti")
    assert flat.count() == 100

    # cuckoo eviction keeps the prefilter truthful: deleted urls probe
    # definitely-new again (no rebuild happened)
    tagged = cuckoo_prefilter(_urls(spark, 100, 200), st.blobs(), n_parts=4)
    assert not any(r.maybe_seen for r in tagged.collect())
    # and the kept urls still probe maybe_seen (no false negatives)
    assert _all_maybe_seen(st, _urls(spark, 200, 300))


def test_recrawl_after_delete(spark, root):
    st = _cuckoo(spark, root, bucketed_parts=16, write_tasks=4)
    st.commit_batch(_urls(spark, 0, 300), batch_id=1)
    st.delete_urls(_urls(spark, 0, 100))
    # re-crawl 50 of the deleted urls: they are seen again; the other 50
    # stay new
    st.commit_batch(_urls(spark, 0, 50), batch_id=2)
    assert st.seen().count() == 250
    assert {r.url for r in st.anti_join(_frontier_of(_urls(spark, 0, 100))).collect()} == {
        r.url for r in _urls(spark, 50, 100).collect()
    }
    assert _all_maybe_seen(st, _urls(spark, 0, 50))


def test_delete_urls_purges_in_one_commit(spark, root):
    st = _cuckoo(spark, root, bucketed_parts=16, write_tasks=4)
    st.commit_batch(_urls(spark, 0, 400), batch_id=1)
    before = st.store.head()
    st.delete_urls(_urls(spark, 300, 400))
    head = st.store.head()
    assert head.snapshot_id == before.snapshot_id + 1  # one commit
    assert head.tables[SeenState.TABLE_SEEN]["rows"] == 300
    assert set(head.tables) == {SeenState.TABLE_SEEN, SeenState.TABLE_CUCKOO}
    assert st.seen().count() == 300
    # bucketed layout survives the rewrite
    assert head.tables[SeenState.TABLE_SEEN].get("partition_cols") == ["seen_bucket"]
    assert len(head.tables[SeenState.TABLE_SEEN]["files"]) == 1
    assert st.anti_join(_frontier_of(_urls(spark, 200, 500))).count() == 200
    # apply_deletes has nothing left to do: HEAD is returned unchanged
    assert st.apply_deletes().snapshot_id == head.snapshot_id
    assert st.store.head().snapshot_id == head.snapshot_id


def test_cuckoo_rebuilds_wider_before_saturating_insert(spark, root):
    st = _cuckoo(spark, root, expected_keys=100, rebuild_fill=0.5)
    st.commit_batch(_urls(spark, 0, 3000), batch_id=1)
    _, info = st.commit_batch(_urls(spark, 3000, 6000), batch_id=2)
    assert info["rebuilt"] and info["n_buckets"] >= 2 * st._initial_buckets
    assert _all_maybe_seen(st, _urls(spark, 0, 6000))


def test_cuckoo_delete_of_unseen_or_duplicate_urls_is_safe(spark, root):
    """Review r5: evicting a key that was never inserted (or the same
    key twice) can remove a colliding fingerprint of a DIFFERENT live
    url — a prefilter false negative that would bypass the exact tier
    entirely. delete_urls therefore dedupes and semi-joins deletions
    against the current seen set; live urls keep probing maybe_seen."""
    st = _cuckoo(spark, root)
    st.commit_batch(_urls(spark, 0, 400), batch_id=1)
    # deletions: 100 seen urls, each listed TWICE, plus 200 never-seen
    dels = (
        _urls(spark, 0, 100)
        .unionAll(_urls(spark, 0, 100))
        .unionAll(_urls(spark, 10_000, 10_200))
    )
    st.delete_urls(dels)
    # deduped + seen-restricted
    assert st.store.head().tables[SeenState.TABLE_SEEN]["rows"] == 300
    assert st.seen().count() == 300
    # NO false negatives among the 300 live urls
    assert _all_maybe_seen(st, _urls(spark, 100, 400))
    # a second identical delete is a no-op for the filter's live keys
    st.delete_urls(dels)
    assert _all_maybe_seen(st, _urls(spark, 100, 400))


def test_cuckoo_first_commit_overflow_recovers(spark, root):
    """Review r5 pass 2: a first commit larger than the fresh filter's
    capacity must rebuild-wider-and-retry inside commit_batch, not wedge
    with an unrecoverable over-capacity error ('undersizing is safe').
    The failed kick walk reaches the driver only as the written
    ``overflow`` column: no Spark job fails, and the rejected commit's
    staging dir is gone."""
    st = _cuckoo(spark, root, expected_keys=100)
    sc = spark.sparkContext
    group = "test_seen_state.kick_walk_rebuild"
    sc.setJobGroup(group, "commit_batch")
    try:
        man, info = st.commit_batch(_urls(spark, 0, 5000), batch_id=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert jobs and {sc.statusTracker().getJobInfo(j).status for j in jobs} == {"SUCCEEDED"}
    assert not glob.glob(os.path.join(root, "snapshots", "_tmp_*"))
    assert st.seen().count() == 5000
    assert info["rebuilt"]
    assert _all_maybe_seen(st, _urls(spark, 0, 5000))
    # idempotent retry of the same batch id stays a no-op
    _, info2 = st.commit_batch(_urls(spark, 0, 5000), batch_id=1)
    assert info2.get("redelivered")


def test_load_triggered_rebuild_runs_no_insert(spark, root, monkeypatch):
    """HEAD's zone map already holds the committed filter's max load, so a
    batch that finds it past ``rebuild_fill`` goes straight to the
    rebuild: no insert is planned, written or discarded."""
    import crawler_spark.operators.seen_state as seen_state_mod

    st = _cuckoo(spark, root, expected_keys=10, rebuild_fill=0.5)
    st.commit_batch(_urls(spark, 0, 3000), batch_id=1)  # load ~0.73

    def no_insert(*a, **kw):
        raise AssertionError("a load-triggered rebuild must not insert")

    monkeypatch.setattr(seen_state_mod, "insert_into_cuckoo", no_insert)
    _, info = st.commit_batch(_urls(spark, 3000, 3050), batch_id=2)
    assert info["rebuilt"] and st.store.head().metrics["event"] == "filter_rebuild"
    assert _all_maybe_seen(st, _urls(spark, 0, 3050))


def test_rebuild_that_overflows_raises_and_leaves_head(spark, root, monkeypatch):
    """The rebuild commit goes through the same check: a rebuild still too
    narrow for its keys raises ``CuckooOverflowError`` on the driver and
    commits nothing."""
    st = _cuckoo(spark, root, expected_keys=100)  # 1024 slots per partition
    monkeypatch.setattr(st, "_wider", lambda nb, n_keys: nb)
    with pytest.raises(CuckooOverflowError):
        st.commit_batch(_urls(spark, 0, 4400), batch_id=1)
    assert st.store.head() is None
    assert not glob.glob(os.path.join(root, "snapshots", "_tmp_*"))


def test_head_filter_stats_carry_load_and_overflow(spark, root):
    """Each commit's manifest carries the filter's load and overflow range
    from the parquet footers, which is all the next commit reads; ``fill``
    reports the same load through a plan with no Python node."""
    st = _cuckoo(spark, root)
    st.commit_batch(_urls(spark, 0, 400), batch_id=1)
    entry = st.store.head().tables[SeenState.TABLE_CUCKOO]
    (stats,) = entry["stats"].values()
    assert stats["overflow"] == [False, False]
    lo, hi = stats["load"]
    assert 0 < lo <= hi < st.rebuild_fill

    fill = st.fill()
    plan = fill._jdf.queryExecution().executedPlan().toString()
    assert not re.search("Python|Pandas|Arrow", plan), plan
    rows = fill.collect()
    assert [lo, hi] == [min(r.fill for r in rows), max(r.fill for r in rows)]
    assert {r.n_buckets for r in rows} == {st._initial_buckets}
    assert sum(r.slots_used for r in rows) == 400


def test_commit_runs_no_job_before_its_write(spark, root, monkeypatch):
    """A commit that needs no rebuild goes straight to the store's write:
    the width and the filter's load come from HEAD's manifest and the
    overflow check reads the written stats, so nothing reads the
    committed filter beforehand."""
    st = _cuckoo(spark, root)
    st.commit_batch(_urls(spark, 0, 400), batch_id=1)
    sc = spark.sparkContext
    group = "test_seen_state.commit_no_job_before_write"
    at_entry = []
    commit = st.store.commit

    def counting_commit(*a, **kw):
        at_entry.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        return commit(*a, **kw)

    monkeypatch.setattr(st.store, "commit", counting_commit)
    sc.setJobGroup(group, "commit_batch")
    try:
        _, info = st.commit_batch(_urls(spark, 400, 450), batch_id=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not info["rebuilt"]
    assert at_entry == [0]


def test_filter_width_rides_the_manifest(spark, root):
    """A rebuild commit is marked ``filter_rebuild`` and stamps its width;
    delete, compact, expire and reopen carry the width forward, so the
    next commit inserts at the rebuilt width without reading the filter."""
    st = _cuckoo(spark, root, expected_keys=10, rebuild_fill=0.5)
    st.commit_batch(_urls(spark, 0, 3000), batch_id=1)  # load ~0.73
    _, info = st.commit_batch(_urls(spark, 3000, 3050), batch_id=2)
    head = st.store.head()
    assert info["rebuilt"] and head.metrics["event"] == "filter_rebuild"
    width = head.metrics[SeenState.METRIC_WIDTH]
    assert width == info["n_buckets"] > st._initial_buckets

    st.delete_urls(_urls(spark, 0, 50))
    st.compact(n_files=2)
    st.expire(keep_last=2)
    assert {m.metrics["event"] for m in st.store.history()} == {"delete_urls", "compact"}
    st2 = _cuckoo(spark, root, expected_keys=10, rebuild_fill=0.5)
    _, info2 = st2.commit_batch(_urls(spark, 3050, 3100), batch_id=3)
    assert not info2["rebuilt"] and info2["n_buckets"] == width
    assert _all_maybe_seen(st2, _urls(spark, 50, 3100))


def test_store_without_width_stamp_still_commits(spark, root):
    """A HEAD written before the width was stamped falls back to the
    initial width, which sizes only a partition without a table: each
    committed table keeps its own width."""
    st = _cuckoo(spark, root)  # 512 buckets per partition
    st.commit_batch(_urls(spark, 0, 200), batch_id=1)
    stamp = st._stamp(st.last_logical())
    del stamp[SeenState.METRIC_WIDTH]
    st.store.commit(st.batch_id() + 1, full_tables={}, metrics=stamp)

    st2 = _cuckoo(spark, root, expected_keys=100)  # 256 buckets when fresh
    _, info = st2.commit_batch(_urls(spark, 200, 300), batch_id=2)
    assert not info["rebuilt"] and info["n_buckets"] == st2._initial_buckets == 256
    assert {r.n_buckets for r in st2.fill().collect()} == {st._initial_buckets} == {512}
    assert _all_maybe_seen(st2, _urls(spark, 0, 300))


def test_store_with_filter_written_before_load_columns_still_commits(spark, root):
    """A filter committed before the ``load`` and ``overflow`` columns
    has neither stat: the load pre-check reads that as not past
    ``rebuild_fill``, the overflow check still guards the insert, and the
    first insert writes both columns."""
    st = _cuckoo(spark, root)
    st.commit_batch(_urls(spark, 0, 200), batch_id=1)
    st.store.commit(
        st.batch_id() + 1,
        full_tables={SeenState.TABLE_CUCKOO: st.blobs().select("cuckoo_part", "blob")},
        metrics=st._stamp(st.last_logical()),
    )
    (old,) = st.store.head().tables[SeenState.TABLE_CUCKOO]["stats"].values()
    assert "load" not in old and "overflow" not in old

    st2 = _cuckoo(spark, root)
    assert {r.fill for r in st2.fill().collect()} == {None}
    _, info = st2.commit_batch(_urls(spark, 200, 300), batch_id=2)
    assert not info["rebuilt"]
    (new,) = st2.store.head().tables[SeenState.TABLE_CUCKOO]["stats"].values()
    assert new["overflow"] == [False, False] and "load" in new
    assert _all_maybe_seen(st2, _urls(spark, 0, 300))


# -- open-time layout check -----------------------------------------------------

_DEFAULT = dict(n_parts=8)
_BUCKETED = dict(n_parts=4, bucketed_parts=8, write_tasks=4)


@pytest.mark.parametrize(
    "written, reopened",
    [
        (_DEFAULT, dict(n_parts=4)),
        (_BUCKETED, {**_BUCKETED, "bucketed_parts": 16}),
    ],
    ids=["n_parts_8_to_4", "bucketed_parts_8_to_16"],
)
def test_reopen_with_changed_layout_refuses_at_open(spark, root, written, reopened):
    """A store opens only with the settings it was written with: with
    any of them changed, its filter partitions or bucket directories
    would be probed under the wrong layout, tagging seen URLs
    definitely-new. The constructor refuses before anything reads or
    writes — including a delete_urls as the first call after opening."""
    st = SeenState(spark, root, expected_keys=5_000, **written)
    st.commit_batch(_urls(spark, 0, 500), batch_id=1)
    head = st.store.head().snapshot_id
    with pytest.raises(SeenStateMismatch):
        SeenState(spark, root, expected_keys=5_000, **reopened).delete_urls(
            _urls(spark, 0, 100)
        )
    assert st.store.head().snapshot_id == head

    # the same settings still resume: all 500 committed URLs stay seen
    st2 = SeenState(spark, root, expected_keys=5_000, **written)
    assert st2.last_logical() == 1
    assert st2.anti_join(_frontier_of(_urls(spark, 0, 600))).count() == 100


@pytest.mark.parametrize(
    "layout",
    [
        dict(bucketed_parts=None, filter_kind="bloom"),
        dict(bucketed_parts=None, filter_kind="cuckoo"),
        dict(bucketed_parts=4, filter_kind="bloom"),
    ],
    ids=["flat_bloom", "flat_cuckoo", "bucketed_bloom"],
)
def test_store_stamped_with_a_removed_layout_refuses_at_open(spark, root, layout):
    """Stores written before SeenState had one configuration carry a
    layout record with a flat url_seen (``bucketed_parts: None``) or a
    Bloom filter. Opening one refuses, and leaves its HEAD as it was."""
    st = SeenState(spark, root, n_parts=4, expected_keys=5_000)
    record = {"n_parts": 4, "url_col": "url", **layout}
    st.store.commit(
        1,
        full_tables={},
        delta_tables={"url_seen": _urls(spark, 0, 100)},
        metrics={SeenState.METRIC_LOGICAL: 1, SeenState.METRIC_LAYOUT: record},
    )
    head = st.store.head()
    with pytest.raises(SeenStateMismatch):
        SeenState(spark, root, n_parts=4, expected_keys=5_000)
    assert st.store.head().snapshot_id == head.snapshot_id
    assert st.store.head().metrics[SeenState.METRIC_LAYOUT] == record


def test_filter_kind_other_than_cuckoo_raises(spark, root):
    with pytest.raises(ValueError, match="filter_kind"):
        SeenState(spark, root, n_parts=4, filter_kind="bloom")
    assert SeenState(spark, root, n_parts=4).store.head() is None


def test_store_without_layout_record_refuses_at_open(spark, root):
    """A HEAD with tables but no layout record was not written by
    SeenState: refuse rather than guess its layout."""
    st = SeenState(spark, root, n_parts=4, expected_keys=5_000)
    st.store.commit(1, full_tables={}, delta_tables={"url_seen": _urls(spark, 0, 100)})
    with pytest.raises(SeenStateMismatch):
        SeenState(spark, root, n_parts=4, expected_keys=5_000)


def test_store_with_pending_tombstones_refuses_at_open(spark, root):
    """An earlier version deleted in two commits: ``delete_urls`` evicted
    the filter and appended tombstones to ``url_deleted``, and
    ``apply_deletes`` later purged url_seen. A store stopped in between
    holds URLs in url_seen that its filter no longer holds; opening it
    would give a filter false negative for a seen URL. It refuses, and
    leaves HEAD as it was."""
    st = _cuckoo(spark, root)
    st.commit_batch(_urls(spark, 0, 200), batch_id=1)
    st.store.commit(
        st.batch_id() + 1,
        full_tables={},
        delta_tables={"url_deleted": _urls(spark, 0, 50)},
        metrics=st._stamp(st.last_logical(), {"event": "delete_urls"}),
    )
    head = st.store.head()
    assert head.tables["url_deleted"]["rows"] == 50
    with pytest.raises(SeenStateMismatch):
        _cuckoo(spark, root)
    assert st.store.head().snapshot_id == head.snapshot_id
