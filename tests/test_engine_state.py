"""The shape of CrawlEngine state: what init_state writes, what empty
tables read back as, and the fragment-stripped URL fields the step stores
without a per-column Python pass."""

import os

from crawler_spark import schemas
from crawler_spark.fixtures import make_web_graph, web_graph_rows
from crawler_spark.functions.urlnorm import strip_fragment
from crawler_spark.operators.frontier import _DELTA_TABLES, CrawlEngine
from crawler_spark.schemas import WEB_GRAPH


def _engine(spark, tmp_path, name, **graph):
    g = make_web_graph(**graph)
    web_df = spark.createDataFrame(web_graph_rows(g), WEB_GRAPH)
    return g, CrawlEngine(spark, web_df, str(tmp_path / name), policy="lexmin")


def test_init_state_writes_only_the_full_tables(spark, tmp_path):
    g, eng = _engine(spark, tmp_path, "init", n_hosts=4, pages_per_host=6, max_pages=1, seed=201)
    sc = spark.sparkContext
    group = "test_engine_state.init_state"
    sc.setJobGroup(group, "init_state job budget")
    try:
        eng.init_state(g.seeds)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # >= 2: the two full-table writes run on commit threads and must
    # still carry the caller's job group
    assert 2 <= len(sc.statusTracker().getJobIdsForGroup(group)) <= 6

    head = eng.store.head()
    snap = os.path.join(eng.store.root, "snapshots", f"v{head.snapshot_id:06d}")
    assert len(_DELTA_TABLES) == 7
    for name in _DELTA_TABLES:
        entry = head.tables[name]
        assert entry["files"] == [] and entry["rows"] == 0 and entry["delta_rows"] == 0
        assert not os.path.exists(os.path.join(snap, name))
    for name in ("frontier", "source_state"):
        assert head.tables[name]["rows"] == 4 and os.path.isdir(os.path.join(snap, name))

    accessors = {
        "url_seen": eng.url_seen,
        "candidates": eng.candidates,
        "docs": eng.docs,
        "crawl_log": eng.crawl_log,
        "page_links": eng.page_links,
        "jobs": eng.jobs,
    }
    for name, read in accessors.items():
        df = read()
        assert df.schema == getattr(schemas, name.upper()), name
        # empty tables never come from Python: zero partitions, no tasks
        assert df.rdd.getNumPartitions() == 0, name
        assert df.count() == 0, name


def test_stored_url_fields_match_strip_fragment(spark, tmp_path):
    g, eng = _engine(spark, tmp_path, "nofrag", n_hosts=3, pages_per_host=14, max_pages=5, seed=42)
    eng.run(seeds=g.seeds)
    seen = eng.url_seen().select("url", "url_nofrag").collect()
    cands = eng.candidates().select("url", "url_nofrag").collect()
    assert seen and cands
    for r in seen + cands:
        assert r.url_nofrag == strip_fragment(r.url), r.url
    # the fixture's '#frag' href variants reach the candidate table, so
    # the check above covers a real stripping
    assert any(r.url != r.url_nofrag for r in cands)
