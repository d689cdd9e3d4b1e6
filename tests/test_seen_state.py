"""SeenState: the drain loop's URL-seen state as snapshot-store tables —
membership across batches, resume from HEAD, idempotent redelivery,
saturation rebuild. (The 10^9-scale behavior of the same discipline is
recorded in BENCH/scale_1e9_loop.json.)"""

import shutil

import pytest
from pyspark.sql import functions as F

from crawler_spark.operators.bloom import bloom_prefilter
from crawler_spark.operators.scheduler import release_barrier, schedule_batch
from crawler_spark.operators.seen_state import SeenState, SeenStateMismatch


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


@pytest.fixture()
def root(tmp_path):
    p = str(tmp_path / "seen_state")
    yield p
    shutil.rmtree(p, ignore_errors=True)


def test_commit_batches_filter_previously_scheduled(spark, root):
    st = SeenState(spark, root, n_parts=8, expected_keys=10_000)
    b0, b1 = _urls(spark, 0, 300), _urls(spark, 200, 500)  # 100 overlap
    st.commit_batch(b0)
    assert st.batch_id() == 1 and st.seen().count() == 300

    # scheduling batch 1's frontier against the state drops the overlap
    sched, bar = schedule_batch(
        _frontier_of(b1), seen=st.seen(), bloom=st.blobs(), default_k=10_000,
        n_bloom_parts=8,
    )
    got = {r.url for r in sched.collect()}
    release_barrier(bar)
    assert got == {r.url for r in _urls(spark, 300, 500).collect()}

    st.commit_batch(_urls(spark, 300, 500))
    assert st.seen().count() == 500
    # everything committed probes maybe_seen (no false negatives via state)
    tagged = bloom_prefilter(_urls(spark, 0, 500), st.blobs(), n_parts=8)
    assert all(r.maybe_seen for r in tagged.collect())


def test_resume_from_head_and_idempotent_redelivery(spark, root):
    st = SeenState(spark, root, n_parts=8, expected_keys=10_000)
    st.commit_batch(_urls(spark, 0, 200))
    st.commit_batch(_urls(spark, 200, 400))
    snaps_before = len(st.store.history())

    # a FRESH SeenState on the same root sees the committed state
    st2 = SeenState(spark, root, n_parts=8, expected_keys=10_000)
    assert st2.batch_id() == 2 and st2.seen().count() == 400
    tagged = bloom_prefilter(_urls(spark, 0, 400), st2.blobs(), n_parts=8)
    assert all(r.maybe_seen for r in tagged.collect())

    # redelivering batch 2 is a no-op: no new snapshot, no double-append
    _, info = st2.commit_batch(_urls(spark, 200, 400), batch_id=2)
    assert info.get("redelivered") is True
    assert len(st2.store.history()) == snaps_before
    assert st2.seen().count() == 400


def test_saturation_rebuild_persists_wider_width(spark, root):
    st = SeenState(spark, root, n_parts=4, expected_keys=10, rebuild_fill=0.5)
    m0 = st._initial_m_bits
    _, info = st.commit_batch(_urls(spark, 0, 12000))  # cram a tiny filter
    assert info["rebuilt"] and info["m_bits_per_part"] >= 2 * m0

    # the NEXT batch infers the committed (wider) width, not the config
    _, info2 = st.commit_batch(_urls(spark, 12000, 12050))
    assert info2["m_bits_per_part"] >= info["m_bits_per_part"]
    tagged = bloom_prefilter(_urls(spark, 0, 12050), st.blobs(), n_parts=4)
    assert all(r.maybe_seen for r in tagged.collect())


def test_expire_bounds_blob_history(spark, root):
    st = SeenState(spark, root, n_parts=4, expected_keys=1000)
    for i in range(4):
        st.commit_batch(_urls(spark, i * 50, (i + 1) * 50))
    st.expire(keep_last=2)
    assert len(st.store.history()) <= 2
    # state is intact after expiry
    assert st.seen().count() == 200
    tagged = bloom_prefilter(_urls(spark, 0, 200), st.blobs(), n_parts=4)
    assert all(r.maybe_seen for r in tagged.collect())


def test_explicit_batch_ids_survive_internal_rebuild_commits(spark, root):
    """Logical-vs-store batch-id namespaces (ADVICE r4): a bloom rebuild
    commits internally at the store's next batch_id, so a caller using
    its own sequential batch_ids must NOT have its next fresh batch
    classified as redelivered — the guard runs on the logical counter
    carried in manifest metrics, not the store's commit counter."""
    st = SeenState(spark, root, n_parts=4, expected_keys=10, rebuild_fill=0.5)
    _, info = st.commit_batch(_urls(spark, 0, 12000), batch_id=1)
    assert info["rebuilt"]  # tiny filter => rebuild => extra store commit
    assert st.batch_id() > 1  # store counter ran ahead of the logical id

    # the first fresh batch after the rebuild must land, not no-op
    _, info2 = st.commit_batch(_urls(spark, 12000, 12100), batch_id=2)
    assert not info2.get("redelivered")
    assert st.seen().count() == 12100

    # true redelivery of batch 2 is still a no-op
    _, info3 = st.commit_batch(_urls(spark, 12000, 12100), batch_id=2)
    assert info3.get("redelivered") is True
    assert st.seen().count() == 12100

    # and a fresh SeenState on the same root agrees on the cursor
    st2 = SeenState(spark, root, n_parts=4, expected_keys=10)
    assert st2.last_logical() == 2


def test_logical_cursor_survives_rebuild_plus_compact_plus_expire(spark, root):
    """ADVICE r4 (loop cursor): when one iteration triggers both a bloom
    rebuild and a compaction, expire(keep_last=2) keeps only (rebuild,
    compact) — both internal commits — and the logical cursor must still
    be readable from their metrics (previously --resume restarted at 0)."""
    st = SeenState(spark, root, n_parts=4, expected_keys=10, rebuild_fill=0.5)
    _, info = st.commit_batch(_urls(spark, 0, 12000), batch_id=1)
    assert info["rebuilt"]
    st.compact(n_files=2)
    st.expire(keep_last=2)
    hist = st.store.history()
    assert len(hist) == 2
    # neither kept manifest is the original data commit...
    assert all((m.metrics or {}).get("event") in ("bloom_rebuild", "compact") for m in hist)
    # ...yet the cursor survives
    assert SeenState(spark, root, n_parts=4, expected_keys=10).last_logical() == 1


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
    # bucket refines the bloom partitioning: bucket % n_parts == bloom_part
    from pyspark.sql import functions as F

    from crawler_spark.operators.bloom import add_bloom_keys

    bad = (
        add_bloom_keys(seen, n_parts=8)
        .filter(F.pmod("seen_bucket", F.lit(8)) != F.col("bloom_part"))
        .count()
    )
    assert bad == 0


def test_bucketed_anti_join_matches_flat_anti_join(spark, root):
    st = _bucketed(spark, root)
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
    for df in (st.seen(), st.deleted()):
        assert df.schema.fieldNames() == ["url"]
        assert df.rdd.getNumPartitions() == 0


def test_bucketed_schedule_batch_equals_flat_schedule(spark, root):
    st = _bucketed(spark, root)
    st.commit_batch(_urls(spark, 0, 400))
    frontier = _frontier_of(_urls(spark, 300, 800))
    flat, b1 = schedule_batch(
        frontier, seen=st.seen().select("url"), bloom=st.blobs(),
        default_k=10_000, n_bloom_parts=8,
    )
    bucketed, b2 = schedule_batch(
        frontier, seen=None, bloom=st.blobs(), exact_anti_join=st.anti_join,
        default_k=10_000, n_bloom_parts=8,
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


# -- cuckoo-backed deletable SeenState (round-5: delete without rebuild) -------


def _cuckoo(spark, root, **kw):
    kw.setdefault("n_parts", 4)
    kw.setdefault("expected_keys", 5_000)
    kw.setdefault("filter_kind", "cuckoo")
    return SeenState(spark, root, **kw)


def test_cuckoo_seen_state_schedules_like_bloom(spark, root, tmp_path):
    stc = _cuckoo(spark, root)
    stc.commit_batch(_urls(spark, 0, 400))
    stb = SeenState(spark, str(tmp_path / "bl"), n_parts=4, expected_keys=5_000)
    stb.commit_batch(_urls(spark, 0, 400))
    frontier = _frontier_of(_urls(spark, 300, 800))
    got_c, b1 = schedule_batch(
        frontier, seen=stc.seen(), bloom=stc.blobs(), seen_filter="cuckoo",
        default_k=10_000, n_bloom_parts=4,
    )
    got_b, b2 = schedule_batch(
        frontier, seen=stb.seen(), bloom=stb.blobs(),
        default_k=10_000, n_bloom_parts=4,
    )
    assert {r.url for r in got_c.collect()} == {r.url for r in got_b.collect()}
    release_barrier(b1)
    release_barrier(b2)


def test_cuckoo_delete_urls_makes_them_recrawlable(spark, root):
    st = _cuckoo(spark, root, bucketed_parts=16, write_tasks=4)
    st.commit_batch(_urls(spark, 0, 500), batch_id=1)
    st.delete_urls(_urls(spark, 100, 200))  # "delete_source" cascade
    assert st.seen().count() == 400
    assert st.deleted().count() == 100
    # the internal delete commit does not advance the logical counter
    assert st.last_logical() == 1

    # deleted urls flow through BOTH exact tiers again
    cands = _frontier_of(_urls(spark, 0, 500))
    assert st.anti_join(cands).count() == 100  # bucket-wise
    flat = cands.join(st.seen().select("url"), "url", "left_anti")
    assert flat.count() == 100

    # cuckoo eviction keeps the prefilter truthful: deleted urls probe
    # definitely-new again (no rebuild happened)
    from crawler_spark.operators.cuckoo import cuckoo_prefilter

    tagged = cuckoo_prefilter(_urls(spark, 100, 200), st.blobs(), n_parts=4)
    assert not any(r.maybe_seen for r in tagged.collect())
    # and the kept urls still probe maybe_seen (no false negatives)
    tagged2 = cuckoo_prefilter(_urls(spark, 200, 300), st.blobs(), n_parts=4)
    assert all(r.maybe_seen for r in tagged2.collect())


def test_recrawl_after_delete_clears_tombstones(spark, root):
    st = _cuckoo(spark, root, bucketed_parts=16, write_tasks=4)
    st.commit_batch(_urls(spark, 0, 300), batch_id=1)
    st.delete_urls(_urls(spark, 0, 100))
    # re-crawl 50 of the deleted urls: they are seen again and leave
    # the tombstone set; the other 50 stay deleted
    st.commit_batch(_urls(spark, 0, 50), batch_id=2)
    assert st.deleted().count() == 50
    assert st.anti_join(_frontier_of(_urls(spark, 0, 100))).count() == 50
    assert {r.url for r in st.anti_join(_frontier_of(_urls(spark, 0, 100))).collect()} == {
        r.url for r in _urls(spark, 50, 100).collect()
    }


def test_apply_deletes_purges_physically(spark, root):
    st = _cuckoo(spark, root, bucketed_parts=16, write_tasks=4)
    st.commit_batch(_urls(spark, 0, 400), batch_id=1)
    st.delete_urls(_urls(spark, 300, 400))
    st.apply_deletes(n_files=2)
    head = st.store.head()
    assert head.tables[SeenState.TABLE_SEEN]["rows"] == 300
    assert head.tables[SeenState.TABLE_DELETED]["rows"] == 0
    assert st.deleted().count() == 0
    assert st.seen().count() == 300
    # bucketed layout survives the purge rewrite
    assert head.tables[SeenState.TABLE_SEEN].get("partition_cols") == ["seen_bucket"]
    assert st.anti_join(_frontier_of(_urls(spark, 200, 500))).count() == 200
    # idempotent: nothing pending => no-op
    assert st.apply_deletes().snapshot_id == head.snapshot_id


def test_cuckoo_rebuilds_wider_before_saturating_insert(spark, root):
    st = _cuckoo(spark, root, expected_keys=100, rebuild_fill=0.5)
    st.commit_batch(_urls(spark, 0, 3000), batch_id=1)
    _, info = st.commit_batch(_urls(spark, 3000, 6000), batch_id=2)
    assert info["rebuilt"] and info["n_buckets"] >= 2 * st._initial_buckets
    from crawler_spark.operators.cuckoo import cuckoo_prefilter

    tagged = cuckoo_prefilter(_urls(spark, 0, 6000), st.blobs(), n_parts=4)
    assert all(r.maybe_seen for r in tagged.collect())


def test_bloom_mode_delete_tombstones_without_eviction(spark, root):
    st = SeenState(spark, root, n_parts=4, expected_keys=5_000)  # bloom kind
    st.commit_batch(_urls(spark, 0, 300), batch_id=1)
    st.delete_urls(_urls(spark, 0, 100))
    assert st.seen().count() == 200
    # flat exact tier re-offers deleted urls even though the bloom still
    # probes maybe_seen for them (shared bits cannot be unset)
    sched, bar = schedule_batch(
        _frontier_of(_urls(spark, 0, 300)), seen=st.seen(), bloom=st.blobs(),
        default_k=10_000, n_bloom_parts=4,
    )
    assert sched.count() == 100
    release_barrier(bar)


def test_cuckoo_delete_of_unseen_or_duplicate_urls_is_safe(spark, root):
    """Review r5: evicting a key that was never inserted (or the same
    key twice) can remove a colliding fingerprint of a DIFFERENT live
    url — a prefilter false negative that would bypass the exact tier
    entirely. delete_urls therefore dedupes and semi-joins deletions
    against the current seen set; live urls keep probing maybe_seen."""
    from crawler_spark.operators.cuckoo import cuckoo_prefilter

    st = _cuckoo(spark, root)
    st.commit_batch(_urls(spark, 0, 400), batch_id=1)
    # deletions: 100 seen urls, each listed TWICE, plus 200 never-seen
    dels = (
        _urls(spark, 0, 100)
        .unionAll(_urls(spark, 0, 100))
        .unionAll(_urls(spark, 10_000, 10_200))
    )
    st.delete_urls(dels)
    assert st.deleted().count() == 100  # deduped + seen-restricted
    assert st.seen().count() == 300
    # NO false negatives among the 300 live urls
    tagged = cuckoo_prefilter(_urls(spark, 100, 400), st.blobs(), n_parts=4)
    assert all(r.maybe_seen for r in tagged.collect())
    # a second identical delete is a no-op for the filter's live keys
    st.delete_urls(dels)
    tagged2 = cuckoo_prefilter(_urls(spark, 100, 400), st.blobs(), n_parts=4)
    assert all(r.maybe_seen for r in tagged2.collect())


def test_cuckoo_first_commit_overflow_recovers(spark, root):
    """Review r5 pass 2: a first commit larger than the fresh filter's
    capacity must rebuild-wider-and-retry inside commit_batch, not wedge
    with an unrecoverable over-capacity error ('undersizing is safe')."""
    st = _cuckoo(spark, root, expected_keys=100)
    man, info = st.commit_batch(_urls(spark, 0, 5000), batch_id=1)
    assert st.seen().count() == 5000
    assert info["rebuilt"]
    from crawler_spark.operators.cuckoo import cuckoo_prefilter

    tagged = cuckoo_prefilter(_urls(spark, 0, 5000), st.blobs(), n_parts=4)
    assert all(r.maybe_seen for r in tagged.collect())
    # idempotent retry of the same batch id stays a no-op
    _, info2 = st.commit_batch(_urls(spark, 0, 5000), batch_id=1)
    assert info2.get("redelivered")


# -- open-time layout check -----------------------------------------------------

_FLAT_BLOOM = dict(n_parts=8)
_BUCKETED_CUCKOO = dict(n_parts=4, bucketed_parts=8, write_tasks=4, filter_kind="cuckoo")


@pytest.mark.parametrize(
    "written, reopened",
    [
        (_FLAT_BLOOM, dict(n_parts=4)),
        (_BUCKETED_CUCKOO, {**_BUCKETED_CUCKOO, "bucketed_parts": 16}),
        (_FLAT_BLOOM, {**_FLAT_BLOOM, "bucketed_parts": 16, "write_tasks": 4}),
        (_BUCKETED_CUCKOO, {**_BUCKETED_CUCKOO, "bucketed_parts": None}),
        (_FLAT_BLOOM, {**_FLAT_BLOOM, "filter_kind": "cuckoo"}),
        (_BUCKETED_CUCKOO, {**_BUCKETED_CUCKOO, "filter_kind": "bloom"}),
    ],
    ids=[
        "n_parts_8_to_4",
        "bucketed_parts_8_to_16",
        "flat_to_bucketed",
        "bucketed_to_flat",
        "bloom_to_cuckoo",
        "cuckoo_to_bloom",
    ],
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
    if st2.bucketed_parts is not None:
        resolved = st2.anti_join(_frontier_of(_urls(spark, 0, 600)))
    else:
        resolved = _frontier_of(_urls(spark, 0, 600)).join(
            st2.seen().select("url"), "url", "left_anti"
        )
    assert resolved.count() == 100


def test_store_without_layout_record_refuses_at_open(spark, root):
    """A HEAD with tables but no layout record was not written by
    SeenState: refuse rather than guess its layout."""
    st = SeenState(spark, root, n_parts=4, expected_keys=5_000)
    st.store.commit(1, full_tables={}, delta_tables={"url_seen": _urls(spark, 0, 100)})
    with pytest.raises(SeenStateMismatch):
        SeenState(spark, root, n_parts=4, expected_keys=5_000)
