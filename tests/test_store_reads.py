"""Reads of committed tables run no Spark job: the store passes each
snapshot directory's schema from its in-memory map, and that schema is
the one a fresh store (which infers it from the files) reads back."""

import itertools

from crawler_spark.fixtures import make_web_graph, web_graph_rows
from crawler_spark.operators.frontier import CrawlEngine
from crawler_spark.operators.seen_state import SeenState
from crawler_spark.schemas import WEB_GRAPH
from crawler_spark.state import SnapshotParquetStore

_groups = itertools.count()


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran) under a test-owned job group."""
    sc = spark.sparkContext
    group = f"test_store_reads.{next(_groups)}"
    sc.setJobGroup(group, "store read")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(map(repr, df.collect()))


def _check_reads(spark, store, compare_rows=()):
    """Every table with files at HEAD reads with 0 jobs and with the
    schema (and, for ``compare_rows``, the rows) of a fresh store's
    inferring read. Returns the tables checked."""
    fresh = SnapshotParquetStore(spark, store.root)
    checked = []
    for table, entry in store.head().tables.items():
        if not entry["files"]:
            continue
        df, n_jobs = _jobs(spark, lambda: store.read(table))
        assert n_jobs == 0, table
        inferred = fresh.read(table)
        assert df.schema == inferred.schema, table
        if table in compare_rows:
            assert _rows(df) == _rows(inferred), table
        checked.append(table)
    return checked


def test_engine_tables_read_without_a_job(spark, tmp_path):
    g = make_web_graph(n_hosts=2, pages_per_host=6, seed=11, max_pages=2)
    web_df = spark.createDataFrame(web_graph_rows(g), WEB_GRAPH)
    eng = CrawlEngine(spark, web_df, str(tmp_path / "eng"), policy="lexmin")
    eng.run(seeds=g.seeds)
    checked = _check_reads(
        spark, eng.store, compare_rows=("frontier", "source_state", "crawl_log", "url_seen")
    )
    assert {"frontier", "source_state", "url_seen", "docs", "crawl_log", "jobs"} <= set(checked)


def test_bucketed_seen_state_reads_without_a_job_after_maintenance(spark, tmp_path):
    urls = lambda lo, hi: spark.createDataFrame(  # noqa: E731
        [(f"https://s{i % 5}.example.org/p/{i}",) for i in range(lo, hi)], "url string"
    )
    st = SeenState(
        spark, str(tmp_path / "seen"), n_parts=4, expected_keys=5_000,
        bucketed_parts=8, write_tasks=4, filter_kind="cuckoo",
    )
    st.commit_batch(urls(0, 300), batch_id=1)
    st.commit_batch(urls(300, 500), batch_id=2)
    st.delete_urls(urls(100, 150))
    st.apply_deletes()
    st.compact(n_files=2)
    # one more batch: url_seen is two partitioned dirs, read as a union
    st.commit_batch(urls(500, 600), batch_id=3)
    checked = _check_reads(spark, st.store, compare_rows=(SeenState.TABLE_SEEN,))
    assert {SeenState.TABLE_SEEN, SeenState.TABLE_CUCKOO} <= set(checked)
    seen_entry = st.store.head().tables[SeenState.TABLE_SEEN]
    assert seen_entry["partition_cols"] == ["seen_bucket"] and len(seen_entry["files"]) == 2


def test_read_pruned_over_partitioned_dirs_runs_no_job(spark, tmp_path):
    store = SnapshotParquetStore(spark, str(tmp_path / "pruned"))
    for b in range(3):
        rows = [(f"https://h{i}.org/", i, i % 4) for i in range(b * 10, b * 10 + 10)]
        df = spark.createDataFrame(rows, "url string, seq long, bucket long")
        store.commit(
            batch_id=b,
            full_tables={},
            delta_tables={"log": df},
            partition_cols={"log": ["bucket"]},
        )
    assert len(store.pruned_files("log", "seq", 5, 24)) == 3

    got, n_jobs = _jobs(spark, lambda: store.read_pruned("log", "seq", 5, 24))
    assert n_jobs == 0
    want = SnapshotParquetStore(spark, store.root).read_pruned("log", "seq", 5, 24)
    # the partition column comes last, typed by discovery (long -> int)
    assert got.schema == want.schema and got.columns[-1] == "bucket"
    assert _rows(got) == _rows(want)
    assert sorted(r.seq for r in got.collect()) == list(range(5, 25))
