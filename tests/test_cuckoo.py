"""Cuckoo-filter URL-seen prefilter: no false negatives, low fpp, and —
the reason it exists next to Bloom — true deletion (through
``SeenState.delete_urls``, the filter's one eviction path)."""

import numpy as np
import pytest

from crawler_spark.operators.cuckoo import (
    BUCKET_SLOTS,
    _build_table,
    _delete_from_table,
    _probe_table,
    build_cuckoo,
    cuckoo_prefilter,
)
from crawler_spark.operators.seen_state import SeenState

N_PARTS = 8


@pytest.fixture()
def state(spark, tmp_path):
    """A fresh SeenState with N_PARTS filter parts; its initial filter
    width is 1024 buckets per part."""
    return SeenState(spark, str(tmp_path / "seen"), n_parts=N_PARTS, expected_keys=20_000)


def _urls(lo, hi):
    return [(f"https://h{i % 50}.example.org/p/{i}",) for i in range(lo, hi)]


# --- numpy core ---


def _keys(n, seed):
    rng = np.random.default_rng(seed)
    h = rng.integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64)
    fp = rng.integers(1, 65536, size=n, dtype=np.int64)
    return h, fp


def test_core_no_false_negatives_and_low_fpp():
    h, fp = _keys(3000, 1)
    table, unplaced = _build_table(h, fp, 1024)  # load ~0.73
    assert unplaced == 0
    assert _probe_table(table, h, fp).all()
    h2, fp2 = _keys(20000, 2)
    fpp = _probe_table(table, h2, fp2).mean()
    assert fpp < 0.01, fpp


def test_core_overflow_reports_unplaced_keys():
    h, fp = _keys(1100, 3)
    table, unplaced = _build_table(h, fp, 256)  # 1100 keys, 1024 slots
    # each failed kick walk drops exactly one fingerprint, and is counted
    assert unplaced >= 1100 - table.size
    assert (table != 0).sum() + unplaced == 1100


def test_place_keys_on_full_table_reports_the_unplaced_key():
    """A full table cannot take one more key: the kick walk runs out and
    is counted, the count the filter's ``overflow`` column is set from."""
    from crawler_spark.operators.cuckoo import _place_keys

    nb = 64
    table = np.full((nb, BUCKET_SLOTS), 7, dtype=np.uint16)
    occ = np.full(nb, BUCKET_SLOTS, dtype=np.int64)
    h, fp = _keys(1, 13)
    assert _place_keys(table, occ, h, fp, nb) == 1


def test_core_delete_removes_without_harming_others():
    h, fp = _keys(2000, 4)
    table, _ = _build_table(h, fp, 1024)
    removed = _delete_from_table(table, h[:500], fp[:500])
    assert removed == 500
    # remaining keys: still zero false negatives (a colliding twin's copy
    # survives any shared-fingerprint delete)
    assert _probe_table(table, h[500:], fp[500:]).all()
    # deleted keys mostly gone (only fp+bucket collisions may linger)
    assert _probe_table(table, h[:500], fp[:500]).mean() < 0.05


# --- DataFrame surface (partitioned blobs, cogrouped probe/delete) ---


def test_prefilter_tags_seen_and_unseen(spark):
    seen = spark.createDataFrame(_urls(0, 2000), "url string")
    cands = spark.createDataFrame(_urls(1000, 4000), "url string")
    blobs = build_cuckoo(seen, n_parts=N_PARTS)
    assert blobs.count() == N_PARTS
    tagged = {r.url: r.maybe_seen for r in cuckoo_prefilter(cands, blobs, n_parts=N_PARTS).collect()}
    seen_urls = {u for (u,) in _urls(1000, 2000)}
    for u, maybe in tagged.items():
        if u in seen_urls:
            assert maybe, f"false negative: {u}"
    fpp = np.mean([tagged[u] for (u,) in _urls(2000, 4000)])
    assert fpp < 0.01, fpp


def test_delete_from_cuckoo_evicts_a_sources_urls(spark, state):
    state.commit_batch(spark.createDataFrame(_urls(0, 2000), "url string"))
    victims = spark.createDataFrame(_urls(0, 300), "url string")
    state.delete_urls(victims)
    updated = state.blobs()
    assert updated.count() == N_PARTS  # untouched partitions pass through

    probe = spark.createDataFrame(_urls(0, 2000), "url string")
    tagged = {r.url: r.maybe_seen for r in cuckoo_prefilter(probe, updated, n_parts=N_PARTS).collect()}
    survivors = [tagged[u] for (u,) in _urls(300, 2000)]
    assert all(survivors), "deletion created a false negative"
    evicted = np.mean([tagged[u] for (u,) in _urls(0, 300)])
    assert evicted < 0.05, evicted


def test_deleted_source_urls_become_schedulable_again(spark, state):
    """The operational story behind cuckoo deletion: delete_source evicts
    a source's URLs from the seen prefilter AND the exact seen table, and
    the next schedule_batch offers them again — no prefilter rebuild."""
    from pyspark.sql import functions as F

    from crawler_spark.operators.scheduler import schedule_batch

    all_urls = _urls(0, 400)
    state.commit_batch(spark.createDataFrame(all_urls, "url string"))
    seen, blobs = state.seen().select("url"), state.blobs()
    frontier = (
        spark.createDataFrame(
            [(u, u.split("/")[2], 0, i) for i, (u,) in enumerate(all_urls)],
            "url string, host string, priority int, seq long",
        ).withColumn("url_hash", F.xxhash64("url"))
    )
    # everything seen: nothing scheduled
    none, _ = schedule_batch(
        frontier, seen=seen, bloom=blobs, default_k=100,
        n_bloom_parts=N_PARTS, seen_filter="cuckoo",
    )
    assert none.count() == 0

    # delete_source semantics: drop source's URLs from seen + evict blobs
    victims = spark.createDataFrame(_urls(0, 100), "url string")
    state.delete_urls(victims)
    seen_after, blobs_after = state.seen().select("url"), state.blobs()
    again, _ = schedule_batch(
        frontier, seen=seen_after, bloom=blobs_after, default_k=100,
        n_bloom_parts=N_PARTS, seen_filter="cuckoo",
    )
    rescheduled = {r.url for r in again.collect()}
    assert rescheduled == {u for (u,) in _urls(0, 100)}


# --- incremental insert ---


def test_core_compact_then_place_handles_deletion_holes():
    """Placement indexes slots by occupancy count, which is only sound on
    left-packed rows; a delete can zero a MIDDLE slot. Compaction must
    restore the invariant so inserts never overwrite live fingerprints."""
    from crawler_spark.operators.cuckoo import _compact_rows, _place_keys

    h, fp = _keys(600, 11)
    table, _ = _build_table(h, fp, 256)
    # delete a third of the keys -> holes at arbitrary slot positions
    _delete_from_table(table, h[::3], fp[::3])
    _compact_rows(table)
    for row in table:
        nz = np.flatnonzero(row == 0)
        assert len(nz) == 0 or nz[0] + len(nz) == BUCKET_SLOTS  # zeros only at the tail
    occ = (table != 0).astype(np.int64).sum(axis=1)
    h2, fp2 = _keys(400, 12)
    assert _place_keys(table, occ, h2, fp2, table.shape[0]) == 0
    # every surviving old key and every new key still probes positive
    keep = np.ones(len(h), dtype=bool)
    keep[::3] = False
    assert _probe_table(table, h[keep], fp[keep]).all()
    assert _probe_table(table, h2, fp2).all()


def test_insert_into_cuckoo_matches_full_build_membership(spark):
    """insert(build(A), B) has no false negatives over A|B and keeps the
    same fpp class as build(A|B) — the incremental path loses nothing a
    membership probe can observe."""
    from crawler_spark.operators.cuckoo import insert_into_cuckoo

    a = spark.createDataFrame(_urls(0, 1500), "url string")
    b = spark.createDataFrame(_urls(1500, 3000), "url string")
    base = build_cuckoo(a, n_parts=N_PARTS, n_buckets=1024)
    incr = insert_into_cuckoo(base, b, 1024, n_parts=N_PARTS)
    both = a.unionByName(b)
    tagged = cuckoo_prefilter(both, incr, n_parts=N_PARTS)
    assert all(r.maybe_seen for r in tagged.collect())
    fresh = spark.createDataFrame(_urls(50_000, 53_000), "url string")
    fp = sum(1 for r in cuckoo_prefilter(fresh, incr, n_parts=N_PARTS).collect() if r.maybe_seen)
    assert fp / 3000 < 0.01


def test_insert_after_delete_reuses_slots(spark, state):
    """delete_source then keep crawling: evicted slots are reusable, the
    re-inserted URLs probe positive, untouched keys unharmed."""
    keep = spark.createDataFrame(_urls(0, 1000), "url string")
    gone = spark.createDataFrame(_urls(1000, 2000), "url string")
    state.commit_batch(keep.unionByName(gone))
    assert {r.n_buckets for r in state.fill().collect()} == {1024}
    load0 = {r.cuckoo_part: r.load for r in state.blobs().collect()}
    state.delete_urls(gone)
    load1 = {r.cuckoo_part: r.load for r in state.blobs().collect()}
    assert load1.keys() == load0.keys()
    assert all(load1[p] < load0[p] for p in load0)
    newer = spark.createDataFrame(_urls(3000, 4000), "url string")
    state.commit_batch(newer)
    filt = state.blobs()
    tagged = cuckoo_prefilter(keep.unionByName(newer), filt, n_parts=N_PARTS)
    assert all(r.maybe_seen for r in tagged.collect())


def test_insert_reports_its_tables_load(spark):
    """Every row an insert writes records its table's slot load after the
    insert and whether a key went unplaced; an insert into a table too
    small for its keys reports ``overflow`` instead of raising."""
    from crawler_spark.operators.cuckoo import insert_into_cuckoo

    base = build_cuckoo(
        spark.createDataFrame(_urls(0, 3000), "url string"), n_parts=N_PARTS, n_buckets=256
    )  # ~375 keys per 1024-slot partition: load ~0.37
    b = spark.createDataFrame(_urls(3000, 3100), "url string")
    filt = insert_into_cuckoo(base, b, 256, n_parts=N_PARTS)
    rows = filt.collect()
    assert len(rows) == N_PARTS and not any(r.overflow for r in rows)
    assert sum(r.load for r in rows) * 256 * BUCKET_SLOTS == 3100
    for r in rows:
        table = np.frombuffer(r.blob, dtype=np.uint16)
        assert r.load == (table != 0).mean()
    assert all(r.maybe_seen for r in cuckoo_prefilter(b, filt, n_parts=N_PARTS).collect())

    # ~50 keys per 32-slot partition of a filter that has no tables yet
    more = spark.createDataFrame(_urls(3100, 3500), "url string")
    rows = insert_into_cuckoo(base.limit(0), more, 8, n_parts=N_PARTS).collect()
    assert len(rows) == N_PARTS and all(r.overflow for r in rows)


def test_insert_into_empty_cuckoo_requires_geometry(spark):
    from crawler_spark.operators.cuckoo import insert_into_cuckoo

    empty = build_cuckoo(
        spark.createDataFrame([], "url string"), n_parts=N_PARTS, n_buckets=256
    )
    b = spark.createDataFrame(_urls(0, 100), "url string")
    # the given geometry sizes every partition of a rows-less table
    filt = insert_into_cuckoo(empty, b, 256, n_parts=N_PARTS)
    tagged = cuckoo_prefilter(b, filt, n_parts=N_PARTS)
    assert all(r.maybe_seen for r in tagged.collect())
