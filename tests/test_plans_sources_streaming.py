"""Plan-quality contract + binary source + streaming ingestion tests."""

import json
import os

from pyspark.sql import functions as F

from crawler_spark.functions.linkextract import PDF_PAGE_SEP, build_spans_pdf
from crawler_spark.plans.inspect import (
    codegen_stage_count,
    has_broadcast_join,
    pushed_filters,
    read_schema_columns,
)
from crawler_spark.sources.binary_docs import read_binary_docs

SF = "/root/testdata/sf0.01"


# --- plan quality (the 100 TB contract: pushdown, pruning, broadcast) ---


def test_filter_pushed_to_parquet_scan(spark):
    df = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .filter(F.col("o_orderstatus") == "O")
        .select("o_orderkey")
    )
    pf = pushed_filters(df)
    assert "o_orderstatus" in pf, f"filter not pushed: {pf!r}"


def test_scan_is_column_pruned(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_quantity")
    cols = read_schema_columns(df)
    assert set(cols) == {"l_orderkey", "l_quantity"}, cols


def test_semi_join_broadcasts_small_side(spark):
    from crawler_spark.queries import q_semi_join_open_orders

    df = q_semi_join_open_orders(spark, SF)
    assert has_broadcast_join(df), "semi join should broadcast at this size"


def test_topk_window_uses_group_limit(spark):
    """The per-host top-K drain window must push the rank limit below the
    shuffle (WindowGroupLimit), so only K rows per host survive the sort —
    the property that keeps the drain bounded at 10^10-frontier scale."""
    from crawler_spark.plans.inspect import formatted_plan
    from crawler_spark.queries import q_topk_per_group

    assert "WindowGroupLimit" in formatted_plan(q_topk_per_group(spark, SF))


def test_schedule_topk_uses_group_limit_even_with_quotas(spark):
    """The quota filter (rank <= quota, column vs column) is NOT pushable
    into the window, so schedule_batch must emit the constant rank <=
    default_k filter FIRST — Catalyst then plans a WindowGroupLimit that
    prunes top-K map-side before the shuffle. Without it a 10^8-row
    frontier is fully sorted per host."""
    from crawler_spark.operators.politeness import broadcast_robots, host_quotas
    from crawler_spark.operators.scheduler import schedule_batch
    from crawler_spark.plans.inspect import formatted_plan

    frontier = spark.createDataFrame(
        [(f"https://q{i % 5}.org/p/{i}", f"q{i % 5}.org", 0, i, 0) for i in range(100)],
        "url string, host string, priority int, seq long, url_hash long",
    )
    robots = spark.createDataFrame(
        [("q0.org", [], 30_000)],
        "host string, disallow_prefixes array<string>, crawl_delay_ms int",
    )
    b = broadcast_robots(spark, robots)
    quotas = host_quotas(spark, b, default_k=10)
    out, _ = schedule_batch(frontier, quotas=quotas, default_k=10)
    assert "WindowGroupLimit" in formatted_plan(out)


def test_global_topk_uses_take_ordered(spark):
    """The global top-k queries (brute-force cosine, IVF-PQ list probe)
    must plan TakeOrderedAndProject — per-partition top-k merged on the
    driver — NOT a global Window sort that funnels the whole scored set
    (corpus / inverted list) through one task. The only Window left in
    each plan runs AFTER the k-row limit."""
    from crawler_spark.plans.inspect import formatted_plan
    from crawler_spark.queries import q_ann_ivfpq_search, q_cosine_topk

    for fn in (q_cosine_topk, q_ann_ivfpq_search):
        plan = formatted_plan(fn(spark, SF))
        assert "TakeOrderedAndProject" in plan, f"{fn.__name__}:\n{plan}"


def test_bm25_vocab_topk_uses_take_ordered(spark):
    """q_bm25_topk derives its query terms from the top-K vocabulary
    entries by document frequency. That selection must plan
    TakeOrderedAndProject over the term table — a global Window.orderBy
    there would single-partition-sort the ENTIRE vocabulary (~10^8 terms
    at 100 TB). The ranking window runs only on the K survivors."""
    from crawler_spark.plans.inspect import formatted_plan
    from crawler_spark.queries_search import q_bm25_topk

    plan = formatted_plan(q_bm25_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_text_repetition_plan_is_shuffle_free(spark):
    """text_stat_frame's repetition signals are per-document statistics,
    so its plan must be map-only: one Arrow-batched pass counts tokens
    and bigrams inside the scan partition — no explode, no Exchange. A shuffle here would move
    every bigram of a 100 TB corpus across the wire for a value
    computable inside the scan partition."""
    from crawler_spark.plans.inspect import formatted_plan
    from crawler_spark.pipeline import text_stat_frame
    from crawler_spark.queries import load

    stats = text_stat_frame(load(spark, SF, "documents")).where(F.col("n_bigrams") > 0)
    plan = formatted_plan(stats)
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan  # no explode


def test_query_barriers_release(spark):
    """The LSH queries persist forked intermediates; release_query_barriers
    must drop every registered cache so a long-lived session (driver gate,
    bench loop) holds no storage between queries."""
    from crawler_spark.queries import SPARK_QUERIES, release_query_barriers

    def cached_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    # set-difference against a post-drain baseline: other tests in the
    # shared session may add/async-drop their own caches concurrently,
    # so absolute counts are not stable — only OUR entries are asserted.
    release_query_barriers()
    base_ids = cached_ids()
    df = SPARK_QUERIES["dedup_minhash_lsh"](spark, SF)
    df.write.format("noop").mode("overwrite").save()
    assert cached_ids() - base_ids  # barriers were engaged
    release_query_barriers()
    assert not (cached_ids() - base_ids)  # and every one was dropped


def test_scan_filter_stage_is_codegen(spark):
    df = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .filter(F.col("o_orderstatus") == "O")
        .select("o_orderkey")
    )
    assert codegen_stage_count(df) >= 1


# --- binary docs source (S2) ---


def test_binary_docs_source_pdf_page_order(spark, tmp_path):
    payloads = {
        "a.pdf": "page one" + PDF_PAGE_SEP + "page two",
        "b.pdf": "solo page",
        "skip.txt": "not a pdf",
    }
    for name, text in payloads.items():
        (tmp_path / name).write_bytes(text.encode())
    out = {r.doc_id: r for r in read_binary_docs(spark, str(tmp_path)).collect()}
    assert set(out) == {"a.pdf", "b.pdf"}  # glob filtered
    for name in ("a.pdf", "b.pdf"):
        expected = build_spans_pdf(payloads[name])
        got = [(s.kind, s.text, s.media_ref, s.offset) for s in out[name].spans]
        assert got == [(s.kind, s.text, s.media_ref, s.offset) for s in expected]
    assert out["a.pdf"].n_pages == 2


# --- streaming ingestion (watermark + tumbling window + foreachBatch) ---


def test_stream_windowed_metrics(spark, tmp_path):
    from crawler_spark.streaming.events import run_stream_to_store

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    events = [
        {"ts": "2026-01-01T10:00:05", "host": "a.org", "url": "https://a.org/1", "ok": True, "bytes": 100},
        {"ts": "2026-01-01T10:00:40", "host": "a.org", "url": "https://a.org/2", "ok": False, "bytes": 0},
        {"ts": "2026-01-01T10:01:10", "host": "a.org", "url": "https://a.org/3", "ok": True, "bytes": 50},
        {"ts": "2026-01-01T10:00:20", "host": "b.org", "url": "https://b.org/1", "ok": True, "bytes": 10},
    ]
    with open(in_dir / "events.jsonl", "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")

    out_dir = str(tmp_path / "out")
    q = run_stream_to_store(spark, str(in_dir), str(tmp_path / "ckpt"), out_dir)
    q.awaitTermination(120)

    rows = spark.read.parquet(out_dir).collect()
    agg = {(r.host, r.window_start.minute): (r.fetches, r.ok_count, r.bytes) for r in rows}
    assert agg[("a.org", 0)] == (2, 1, 100)
    assert agg[("a.org", 1)] == (1, 1, 50)
    assert agg[("b.org", 0)] == (1, 1, 10)
    assert os.path.isdir(str(tmp_path / "ckpt"))


def test_stream_sink_replay_is_idempotent(spark, tmp_path):
    """A replayed batch (crash between sink write and checkpoint commit)
    re-lands in its own batch_id directory — overwrite, not append — so
    the sink holds no duplicates. read_windowed_metrics restores
    update-mode semantics (latest batch per window/host)."""
    from crawler_spark.streaming.events import read_windowed_metrics, run_stream_to_store

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    events = [
        {"ts": "2026-01-01T10:00:05", "host": "a.org", "url": "https://a.org/1", "ok": True, "bytes": 100},
        {"ts": "2026-01-01T10:00:40", "host": "b.org", "url": "https://b.org/1", "ok": True, "bytes": 10},
    ]
    with open(in_dir / "events.jsonl", "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")

    out_dir = str(tmp_path / "out")
    run_stream_to_store(spark, str(in_dir), str(tmp_path / "ck1"), out_dir).awaitTermination(120)
    first = sorted(
        (r.host, r.fetches, r.bytes) for r in read_windowed_metrics(spark, out_dir).collect()
    )
    # replay: fresh checkpoint re-delivers the same data as the same batch id
    run_stream_to_store(spark, str(in_dir), str(tmp_path / "ck2"), out_dir).awaitTermination(120)
    again = sorted(
        (r.host, r.fetches, r.bytes) for r in read_windowed_metrics(spark, out_dir).collect()
    )
    assert first == again == [("a.org", 1, 100), ("b.org", 1, 10)]
    # and the raw sink itself holds no appended duplicates either
    assert spark.read.parquet(out_dir).count() == 2


def test_streaming_host_sessions_stateful(spark, tmp_path):
    """applyInPandasWithState sessionization: in-batch gap closes a
    session; the event-time timeout flushes an idle host's open session
    on a LATER batch once the watermark passes last_event + gap."""
    import os as _os

    from crawler_spark.streaming.events import run_session_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    batch1 = [
        {"ts": "2026-01-01T10:00:00", "host": "a.org", "url": "u1", "ok": True, "bytes": 100},
        {"ts": "2026-01-01T10:00:10", "host": "a.org", "url": "u2", "ok": False, "bytes": 0},
        {"ts": "2026-01-01T11:00:00", "host": "a.org", "url": "u3", "ok": True, "bytes": 50},
        # sentinel pushes the watermark far past a.org's open session
        {"ts": "2026-01-01T20:00:00", "host": "z.org", "url": "z1", "ok": True, "bytes": 1},
    ]
    batch2 = [
        {"ts": "2026-01-01T20:00:30", "host": "z.org", "url": "z2", "ok": True, "bytes": 1},
    ]
    for name, rows, mtime in (("00.jsonl", batch1, 1000), ("01.jsonl", batch2, 2000)):
        p = in_dir / name
        with open(p, "w") as f:
            for e in rows:
                f.write(json.dumps(e) + "\n")
        _os.utime(p, (mtime, mtime))

    out_dir = str(tmp_path / "out")
    q = run_session_stream(
        spark, str(in_dir), str(tmp_path / "ckpt"), out_dir,
        gap_sec=1800, max_files_per_trigger=1,
    )
    q.awaitTermination(180)

    rows = sorted(
        spark.read.parquet(out_dir).collect(), key=lambda r: r.session_start
    )
    a_rows = [r for r in rows if r.host == "a.org"]
    # session 1 closed by the in-data gap: 2 events, 1 ok, 100 bytes
    assert (
        a_rows[0].session_start.strftime("%H:%M:%S"),
        a_rows[0].session_end.strftime("%H:%M:%S"),
        a_rows[0].n_events,
        a_rows[0].ok_count,
        a_rows[0].bytes,
    ) == ("10:00:00", "10:00:10", 2, 1, 100)
    # session 2 flushed by the event-time TIMEOUT on batch 2 (no further
    # a.org data arrived — only the watermark moved)
    assert (
        a_rows[1].session_start.strftime("%H:%M:%S"),
        a_rows[1].n_events,
        a_rows[1].bytes,
    ) == ("11:00:00", 1, 50)
    assert len(a_rows) == 2
    # z.org's session stays open (watermark never passes 20:00:30 + gap)
    assert not [r for r in rows if r.host == "z.org"]


def test_streaming_sessions_match_batch_boundary_rule(spark, tmp_path):
    """The stateful operator's closed sessions obey the same >gap boundary
    rule as the batch lag+cumsum sessionizer (queries.q_sessionize)."""
    import os as _os

    from crawler_spark.streaming.events import run_session_stream

    rng_events = []
    ts = 0
    # deterministic gap pattern around the 60 s threshold
    for k, gap in enumerate([10, 20, 100, 5, 61, 30, 600, 10, 59, 62]):
        ts += gap
        rng_events.append(
            {
                "ts": f"2026-01-01T10:{ts // 60:02d}:{ts % 60:02d}",
                "host": "h.org",
                "url": f"u{k}",
                "ok": True,
                "bytes": 1,
            }
        )
    sentinel = {"ts": "2026-01-01T23:00:00", "host": "z.org", "url": "z", "ok": True, "bytes": 1}
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for name, rows, mtime in (
        ("00.jsonl", rng_events + [sentinel], 1000),
        ("01.jsonl", [dict(sentinel, url="z2", ts="2026-01-01T23:00:01")], 2000),
    ):
        p = in_dir / name
        with open(p, "w") as f:
            for e in rows:
                f.write(json.dumps(e) + "\n")
        _os.utime(p, (mtime, mtime))

    out_dir = str(tmp_path / "out")
    q = run_session_stream(
        spark, str(in_dir), str(tmp_path / "ckpt"), out_dir,
        gap_sec=60, max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    got = [
        (r.session_start.strftime("%H:%M:%S"), r.n_events)
        for r in sorted(
            spark.read.parquet(out_dir).filter("host = 'h.org'").collect(),
            key=lambda r: r.session_start,
        )
    ]

    # batch twin: lag + cumsum over the same rows
    import pandas as pd

    ts_list = []
    t = 0
    for gap in [10, 20, 100, 5, 61, 30, 600, 10, 59, 62]:
        t += gap
        ts_list.append(t)
    s = pd.Series(ts_list)
    new_sess = (s.diff() > 60).fillna(False).astype(int)
    sess_id = new_sess.cumsum()
    expected = [
        (
            f"10:{s[grp.index[0]] // 60:02d}:{s[grp.index[0]] % 60:02d}",
            len(grp),
        )
        for _, grp in s.groupby(sess_id)
    ]
    assert got == expected


def test_streaming_late_straggler_beyond_gap_is_own_session(spark, tmp_path):
    """A late IN-WATERMARK event that precedes the open session's start by
    MORE than gap_sec must form its own session (the batch twin's global
    sort would split there); one within gap_sec extends the open session
    backwards. The old per-event min() merge bridged both cases."""
    import os as _os

    from crawler_spark.streaming.events import run_session_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # gap_sec=60; late_threshold default = 2 min, so both stragglers are
    # in-watermark (watermark after batch 1 = 10:02:30 - 2min = 10:00:30)
    batch1 = [
        {"ts": "2026-01-01T10:02:00", "host": "a.org", "url": "a1", "ok": True, "bytes": 10},
        {"ts": "2026-01-01T10:02:00", "host": "b.org", "url": "b1", "ok": True, "bytes": 10},
        {"ts": "2026-01-01T10:02:30", "host": "z.org", "url": "z1", "ok": True, "bytes": 1},
    ]
    batch2 = [
        # 70 s before a.org's open start -> own session
        {"ts": "2026-01-01T10:00:50", "host": "a.org", "url": "a0", "ok": False, "bytes": 0},
        # 50 s before b.org's open start -> extends it backwards
        {"ts": "2026-01-01T10:01:10", "host": "b.org", "url": "b0", "ok": False, "bytes": 0},
    ]
    batch3 = [  # watermark -> 10:04:00, past both opens' last+gap
        {"ts": "2026-01-01T10:06:00", "host": "z.org", "url": "z2", "ok": True, "bytes": 1},
    ]
    for name, rows, mtime in (
        ("00.jsonl", batch1, 1000), ("01.jsonl", batch2, 2000), ("02.jsonl", batch3, 3000)
    ):
        p = in_dir / name
        with open(p, "w") as f:
            for e in rows:
                f.write(json.dumps(e) + "\n")
        _os.utime(p, (mtime, mtime))

    out_dir = str(tmp_path / "out")
    q = run_session_stream(
        spark, str(in_dir), str(tmp_path / "ckpt"), out_dir,
        gap_sec=60, max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    rows = spark.read.parquet(out_dir).collect()

    a = sorted(
        ((r.session_start.strftime("%H:%M:%S"), r.session_end.strftime("%H:%M:%S"), r.n_events)
         for r in rows if r.host == "a.org")
    )
    assert a == [("10:00:50", "10:00:50", 1), ("10:02:00", "10:02:00", 1)]
    b = [
        (r.session_start.strftime("%H:%M:%S"), r.session_end.strftime("%H:%M:%S"), r.n_events)
        for r in rows if r.host == "b.org"
    ]
    assert b == [("10:01:10", "10:02:00", 2)]


def test_frontier_ingest_stream_dedups_canonical(spark):
    """Streaming frontier ingestion e2e: canonicalization must run BEFORE
    the watermark dedup (case/fragment/default-port variants collapse to
    one row), invalid URLs drop, and the sink read-back is exactly the
    distinct canonical set — already idempotent per URL."""
    from crawler_spark.functions.urlnorm import canonicalize_rfc3986
    from crawler_spark.queries_state import q_frontier_ingest_stream

    rows = q_frontier_ingest_stream(spark, SF).collect()
    urls = [r.url for r in rows]
    assert len(urls) == len(set(urls))  # one row per canonical URL
    for r in rows:
        assert canonicalize_rfc3986(r.url) == r.url  # output IS canonical
        assert r.host and r.url.startswith("https://" + r.host)
    assert len(urls) == 36  # 40 base ids minus the 4 all-garbage bases


def test_frontier_ingest_keeps_late_event_time_new_urls(spark, tmp_path):
    """The dedup watermark must run on ARRIVAL time: with an event-time
    watermark, a second micro-batch carrying a never-seen URL whose
    event ts lies beyond the first batch's watermark would be DISCARDED
    before the dedup operator — a prefilter may only remove duplicates,
    never new URLs. Two files, maxFilesPerTrigger=1 -> two batches; the
    second file's event ts is an hour BEFORE the first's."""
    import json
    import os

    from pyspark.sql import functions as F

    from crawler_spark.streaming.frontier_ingest import dedup_url_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    f1 = in_dir / "a_first.jsonl"
    f1.write_text(json.dumps({"ts": "2026-01-01T12:00:00", "url": "https://h1.org/new"}) + "\n")
    f2 = in_dir / "b_second.jsonl"
    f2.write_text(json.dumps({"ts": "2026-01-01T11:00:00", "url": "https://h2.org/late"}) + "\n")
    os.utime(f1, (1_700_000_000, 1_700_000_000))
    os.utime(f2, (1_700_000_100, 1_700_000_100))

    stream = (
        spark.readStream.schema("ts timestamp, url string")
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir))
    )
    out_dir = str(tmp_path / "out")
    q = (
        dedup_url_stream(stream, late_threshold="10 minutes")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {r["url"] for r in spark.read.parquet(out_dir).collect()}
    assert got == {"https://h1.org/new", "https://h2.org/late"}, got
