"""Resume + snapshot-store semantics (SURVEY.md §5.3 item 4; maps the
reference's acks_late redelivery + idempotence guard,
/root/reference/backend/tasks/crawl.py:7, backend/service/services.py:291-292).
"""

import os

import pytest
from pyspark.sql import functions as F

from crawler_spark.fixtures import make_web_graph, web_graph_rows
from crawler_spark.operators.frontier import CrawlEngine
from crawler_spark.schemas import WEB_GRAPH


def _collect_state(eng):
    log = sorted(
        (r.source_url, r.seq, r.url, r.ok) for r in eng.crawl_log().collect()
    )
    seen = sorted((r.source_url, r.url) for r in eng.url_seen().collect())
    st = sorted(
        (r.source_url, r.pages_crawled, r.total_pages_found)
        for r in eng.source_state().collect()
    )
    return log, seen, st


def test_kill_and_resume_equals_uninterrupted(spark, tmp_path):
    g = make_web_graph(n_hosts=2, pages_per_host=10, seed=5, max_pages=4)
    web_df = spark.createDataFrame(web_graph_rows(g), WEB_GRAPH)

    full = CrawlEngine(spark, web_df, str(tmp_path / "full"), policy="lexmin")
    full.run(seeds=g.seeds)

    # "killed" run: stop after 2 batches, then a FRESH engine resumes
    part = CrawlEngine(spark, web_df, str(tmp_path / "part"), policy="lexmin")
    part.init_state(g.seeds)
    part.step(1)
    part.step(2)
    resumed = CrawlEngine(spark, web_df, str(tmp_path / "part"), policy="lexmin")
    resumed.run()  # no seeds: resumes from HEAD

    assert _collect_state(resumed) == _collect_state(full)


def test_recommit_same_batch_is_noop(spark, tmp_path):
    g = make_web_graph(n_hosts=1, pages_per_host=6, seed=3, max_pages=2)
    web_df = spark.createDataFrame(web_graph_rows(g), WEB_GRAPH)
    eng = CrawlEngine(spark, web_df, str(tmp_path / "s"), policy="lexmin")
    eng.init_state(g.seeds)
    eng.step(1)
    head = eng.store.head()
    # redelivery of the same batch: commit with HEAD's batch_id is a no-op
    man = eng.store.commit(
        batch_id=head.batch_id,
        full_tables={"frontier": eng.store.read("frontier")},
        metrics={"event": "dup"},
    )
    assert man.snapshot_id == head.snapshot_id
    assert eng.store.head().snapshot_id == head.snapshot_id


def test_time_travel_reads_parent_snapshot(spark, tmp_path):
    g = make_web_graph(n_hosts=1, pages_per_host=8, seed=9, max_pages=3)
    web_df = spark.createDataFrame(web_graph_rows(g), WEB_GRAPH)
    eng = CrawlEngine(spark, web_df, str(tmp_path / "tt"), policy="lexmin")
    eng.run(seeds=g.seeds)
    hist = eng.store.history()
    assert len(hist) >= 3
    # lineage: parent chain is contiguous
    for parent, child in zip(hist, hist[1:]):
        assert child.parent_id == parent.snapshot_id
    # docs at snapshot k is a prefix of docs at HEAD
    mid = hist[2]
    docs_mid = eng.store.read("docs", snapshot_id=mid.snapshot_id)
    n_mid = docs_mid.count() if docs_mid is not None else 0
    assert n_mid <= eng.docs().count()
    assert mid.tables["docs"]["rows"] == n_mid
    # metrics recorded per batch: every drain batch has a pop count; the
    # tail snapshot is the end-of-crawl finalize_jobs commit
    assert all("popped" in m.metrics for m in hist[1:-1])
    assert hist[-1].metrics.get("event") == "finalize_jobs"
    # metrics() is the same lineage as an Arrow LocalRelation (no Python scan)
    met = eng.metrics()
    assert met._jdf.queryExecution().optimizedPlan().getClass().getSimpleName() == "LocalRelation"
    assert [(r.snapshot_id, r.popped) for r in met.collect()] == [
        (m.snapshot_id, int(m.metrics.get("popped", 0))) for m in hist
    ]


def _failing(web_df, tag):
    """A frame whose write fails with an error naming ``tag``."""
    return web_df.select(
        F.col("url").alias("boom"), F.expr(f"assert_true(false, '{tag}')").alias("x")
    )


_THREE = ("frontier", "source_state", "web_urls")


@pytest.mark.parametrize(
    "tables, failing",
    [
        (("frontier",), ("frontier",)),
        (_THREE, ("source_state",)),
        (_THREE, ("source_state", "web_urls")),
    ],
    ids=["one_table", "one_of_three", "two_of_three"],
)
def test_crash_during_commit_leaves_head_intact(spark, tmp_path, tables, failing):
    """A commit that fails mid-write must not move HEAD (atomicity). The
    tables are written concurrently; the commit raises the first failing
    table's own error and leaves no staging dir behind."""
    g = make_web_graph(n_hosts=1, pages_per_host=6, seed=4, max_pages=2)
    web_df = spark.createDataFrame(web_graph_rows(g), WEB_GRAPH)
    eng = CrawlEngine(spark, web_df, str(tmp_path / "cr"), policy="lexmin")
    eng.init_state(g.seeds)
    head = eng.store.head()
    good = {
        "frontier": eng.store.read("frontier"),
        "source_state": eng.store.read("source_state"),
        "web_urls": web_df.select("url"),  # a non-empty delta append
    }
    frames = {t: _failing(web_df, f"fail-{t}") if t in failing else good[t] for t in tables}
    full = {t: df for t, df in frames.items() if t != "web_urls"}
    delta = {t: df for t, df in frames.items() if t == "web_urls"}
    with pytest.raises(Exception) as err:
        eng.store.commit(batch_id=99, full_tables=full, delta_tables=delta)
    assert f"fail-{failing[0]}" in str(err.value)
    assert all(f"fail-{t}" not in str(err.value) for t in failing[1:])
    assert eng.store.head().snapshot_id == head.snapshot_id
    snaps = os.listdir(os.path.join(eng.store.root, "snapshots"))
    assert not [d for d in snaps if d.startswith("_tmp_")]
    # and the engine still resumes cleanly
    eng2 = CrawlEngine(spark, web_df, str(tmp_path / "cr"), policy="lexmin")
    assert eng2.run() >= 1


def test_delayed_redelivery_of_old_batch_is_noop(spark, tmp_path):
    """acks_late redelivery can arrive AFTER newer batches committed; an
    old batch_id must return its original manifest, never append again."""
    g = make_web_graph(n_hosts=1, pages_per_host=8, seed=7, max_pages=3)
    web_df = spark.createDataFrame(web_graph_rows(g), WEB_GRAPH)
    eng = CrawlEngine(spark, web_df, str(tmp_path / "rd"), policy="lexmin")
    eng.init_state(g.seeds)
    eng.step(1)
    old = eng.store.head()
    eng.step(2)
    head = eng.store.head()
    rows_before = eng.store.read("crawl_log").count()
    man = eng.store.commit(
        batch_id=old.batch_id,  # batch 1 redelivered after batch 2 landed
        full_tables={},
        delta_tables={"crawl_log": eng.store.read("crawl_log")},
        metrics={"event": "dup"},
    )
    assert man.snapshot_id == old.snapshot_id  # the ORIGINAL manifest
    assert eng.store.head().snapshot_id == head.snapshot_id  # HEAD unmoved
    assert eng.store.read("crawl_log").count() == rows_before  # no double rows


def test_orphan_snapshot_dir_from_crashed_commit_is_recovered(spark, tmp_path):
    """A crash BETWEEN the snapshot-dir rename and the HEAD update leaves
    an orphan vNNNNNN dir at the next snap id; the next commit must
    reclaim it instead of wedging on ENOTEMPTY forever."""
    g = make_web_graph(n_hosts=1, pages_per_host=6, seed=2, max_pages=2)
    web_df = spark.createDataFrame(web_graph_rows(g), WEB_GRAPH)
    eng = CrawlEngine(spark, web_df, str(tmp_path / "or"), policy="lexmin")
    eng.init_state(g.seeds)
    head = eng.store.head()
    # simulate the torn commit: the dir exists, HEAD was never updated
    orphan = os.path.join(str(tmp_path / "or"), "snapshots", f"v{head.snapshot_id + 1:06d}")
    os.makedirs(os.path.join(orphan, "junk"))
    with open(os.path.join(orphan, "manifest.json"), "w") as f:
        f.write("{torn}")
    assert eng.step(1) >= 1  # commits snap_id head+1 over the orphan
    assert eng.store.head().snapshot_id == head.snapshot_id + 1
    eng2 = CrawlEngine(spark, web_df, str(tmp_path / "or"), policy="lexmin")
    eng2.run()  # and the store resumes to completion


def test_expire_sweeps_commit_orphans_and_rejects_keep0(spark, tmp_path):
    import os

    import pytest

    g = make_web_graph(n_hosts=1, pages_per_host=6, seed=8, max_pages=2)
    web_df = spark.createDataFrame(web_graph_rows(g), WEB_GRAPH)
    eng = CrawlEngine(spark, web_df, str(tmp_path / "gc"), policy="lexmin")
    eng.run(seeds=g.seeds)
    root = str(tmp_path / "gc")
    os.makedirs(os.path.join(root, "snapshots", "_tmp_deadbeef", "t"))
    with open(os.path.join(root, "HEAD.tmpabc123"), "w") as f:
        f.write("junk")
    res = eng.store.expire_snapshots(keep_last=10)
    assert "_tmp_deadbeef" in res["deleted_dirs"]
    assert "HEAD.tmpabc123" in res["deleted_dirs"]
    assert not os.path.exists(os.path.join(root, "snapshots", "_tmp_deadbeef"))
    assert not os.path.exists(os.path.join(root, "HEAD.tmpabc123"))
    with pytest.raises(ValueError):
        eng.store.expire_snapshots(keep_last=0)
