"""Scale-path scheduler correctness: Bloom prefilter (no false negatives,
exact membership overall), robots tries, per-host quota top-K, salting,
ordered drain (SURVEY.md §4.2, §5.3 item 5)."""

from pyspark.sql import functions as F

from crawler_spark.operators.bloom import bloom_prefilter, build_bloom
from crawler_spark.operators.politeness import broadcast_robots, host_quotas, robots_filter
from crawler_spark.operators.scheduler import drain_ordered, schedule_batch


def _frontier_df(spark, rows):
    """rows: (url, host, priority, seq)"""
    return spark.createDataFrame(
        [(u, h, p, s, 0) for (u, h, p, s) in rows],
        "url string, host string, priority int, seq long, url_hash long",
    ).withColumn("url_hash", F.xxhash64("url"))


def test_bloom_no_false_negatives(spark):
    seen_urls = [f"https://h{i % 7}.org/p/{i}" for i in range(0, 3000, 3)]
    seen = spark.createDataFrame([(u,) for u in seen_urls], "url string")
    bloom = build_bloom(seen, n_parts=8, m_bits_per_part=1 << 16)
    cand = spark.createDataFrame(
        [(f"https://h{i % 7}.org/p/{i}",) for i in range(3000)], "url string"
    )
    tagged = bloom_prefilter(cand, bloom, n_parts=8)
    rows = {r.url: r.maybe_seen for r in tagged.collect()}
    seen_set = set(seen_urls)
    for u, maybe in rows.items():
        if u in seen_set:
            assert maybe, f"false negative for {u}"
    # and the filter actually filters: most unseen URLs cleared
    unseen = [u for u in rows if u not in seen_set]
    fp = sum(1 for u in unseen if rows[u])
    assert fp / len(unseen) < 0.05


def test_bloom_prefilter_cogroups_a_filter_too_big_to_broadcast(spark, monkeypatch):
    """Past BROADCAST_BLOOM_MAX_BYTES the blobs reach the probe tasks by a
    cogroup instead of a broadcast; both deliveries tag alike."""
    from crawler_spark.operators import bloom as bloom_mod

    def urls(step):
        return spark.createDataFrame(
            [(f"https://h{i % 7}.org/p/{i}",) for i in range(0, 900, step)], "url string"
        )

    bloom = build_bloom(urls(3), n_parts=8, m_bits_per_part=1 << 14)
    cand = urls(1)
    broadcast = bloom_prefilter(cand, bloom, n_parts=8)
    monkeypatch.setattr(bloom_mod, "BROADCAST_BLOOM_MAX_BYTES", 0)
    cogrouped = bloom_prefilter(cand, bloom, n_parts=8)
    plan = cogrouped._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    assert cogrouped.schema == broadcast.schema
    assert {tuple(r) for r in cogrouped.collect()} == {tuple(r) for r in broadcast.collect()}


def test_schedule_matches_naive(spark):
    rows = []
    for h in range(4):
        for i in range(30):
            rows.append((f"https://h{h}.org/p/{i}", f"h{h}.org", i % 3, h * 1000 + i))
    frontier = _frontier_df(spark, rows)
    seen = spark.createDataFrame(
        [(f"https://h{h}.org/p/{i}",) for h in range(4) for i in range(0, 30, 2)],
        "url string",
    )
    bloom = build_bloom(seen, n_parts=4, m_bits_per_part=1 << 16)
    out = schedule_batch(
        frontier, seen=seen, bloom=bloom, default_k=5, salt_span=2, n_bloom_parts=4
    )[0].collect()

    # naive expectation: odd i survive dedup; top-5 per host by (priority, seq)
    expect = {}
    for h in range(4):
        cands = sorted(
            [(i % 3, h * 1000 + i, f"https://h{h}.org/p/{i}") for i in range(1, 30, 2)]
        )[:5]
        for rank0, (p, s, u) in enumerate(cands):
            expect[u] = (rank0 + 1, rank0 // 2)  # (rank, salt with span 2)
    got = {r.url: (r.rank, r.salt) for r in out}
    assert got == expect


def test_robots_filter_and_quota(spark):
    robots = spark.createDataFrame(
        [("h0.org", ["/private", "/tmp"], 0), ("h1.org", ["/"], 0), ("h2.org", [], 30_000)],
        "host string, disallow_prefixes array<string>, crawl_delay_ms int",
    )
    b = broadcast_robots(spark, robots)
    df = spark.createDataFrame(
        [
            ("https://h0.org/public/a",),
            ("https://h0.org/private/x",),
            ("https://h1.org/anything",),
            ("https://h2.org/ok",),
            ("https://h3.org/no-rules",),
        ],
        "url string",
    )
    kept = {r.url for r in robots_filter(df, b).collect()}
    assert kept == {"https://h0.org/public/a", "https://h2.org/ok", "https://h3.org/no-rules"}

    q = {r.host: r.quota for r in host_quotas(spark, b, default_k=10, batch_window_ms=60_000).collect()}
    assert q["h2.org"] == 2  # floor(60000/30000)
    assert q["h0.org"] == 10 and q["h1.org"] == 10  # delay 0 => default


def test_broadcast_host_quotas_is_a_local_relation(spark):
    """The broadcast handle's quota table is an Arrow ``LocalRelation``,
    so the per-batch broadcast of it starts no Python worker; with no
    rules it is the one ``__none__`` row at the default quota."""
    robots = spark.createDataFrame(
        [("h0.org", [], 0), ("h2.org", [], 30_000)],
        "host string, disallow_prefixes array<string>, crawl_delay_ms int",
    )
    no_rules = spark.createDataFrame(
        [], "host string, disallow_prefixes array<string>, crawl_delay_ms int"
    )
    for rules, want in ((robots, {("h0.org", 10), ("h2.org", 2)}), (no_rules, {("__none__", 10)})):
        q = host_quotas(spark, broadcast_robots(spark, rules), default_k=10)
        plan = q._jdf.queryExecution().optimizedPlan()
        assert plan.getClass().getSimpleName() == "LocalRelation", plan.toString()
        assert q.schema.simpleString() == "struct<host:string,quota:int>"
        assert {(r.host, r.quota) for r in q.collect()} == want


def test_quota_respected_in_schedule(spark):
    rows = [(f"https://hq.org/p/{i}", "hq.org", 0, i) for i in range(50)]
    frontier = _frontier_df(spark, rows)
    robots = spark.createDataFrame(
        [("hq.org", [], 20_000)], "host string, disallow_prefixes array<string>, crawl_delay_ms int"
    )
    b = broadcast_robots(spark, robots)
    quotas = host_quotas(spark, b, default_k=100, batch_window_ms=60_000)
    out = schedule_batch(frontier, robots_bcast=b, quotas=quotas, default_k=100)[0].collect()
    assert len(out) == 3  # floor(60000/20000)
    assert sorted(r.seq for r in out) == [0, 1, 2]  # FIFO head


def test_drain_ordered_per_host_fifo(spark):
    rows = []
    for h in range(3):
        for i in range(20):
            rows.append((f"https://d{h}.org/p/{i}", f"d{h}.org", 0, h * 100 + i))
    frontier = _frontier_df(spark, rows)
    sched, _ = schedule_batch(frontier, default_k=20, salt_span=6)
    drained = drain_ordered(sched).collect()
    by_host = {}
    for r in drained:
        by_host.setdefault(r.host, []).append(r)
    for h, rs in by_host.items():
        # concatenating salted subgroups in (salt, fetch_order) order
        # reproduces the host FIFO exactly
        rs.sort(key=lambda r: (r.salt, r.fetch_order))
        seqs = [r.seq for r in rs]
        assert seqs == sorted(seqs)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        # salt is contiguous in rank
        for r in rs:
            assert r.salt == (r.rank - 1) // 6


def test_zipf_skew_salting_spreads_hot_host(spark):
    """Skew smoke (SURVEY §5.3 item 5): a mega-host's drained rows split
    into seq-contiguous salted subgroups of bounded size, so no single
    task owns the whole Zipf head; FIFO is reconstructable."""
    rows = [(f"https://hot.org/p/{i}", "hot.org", 0, i) for i in range(5000)]
    rows += [(f"https://cold{j}.org/p", f"cold{j}.org", 0, j) for j in range(20)]
    frontier = _frontier_df(spark, rows)
    sched, _ = schedule_batch(frontier, default_k=2000, salt_span=250)
    drained = drain_ordered(sched).collect()
    hot = [r for r in drained if r.host == "hot.org"]
    assert len(hot) == 2000  # quota enforced on the hot host
    by_salt = {}
    for r in hot:
        by_salt.setdefault(r.salt, []).append(r)
    assert len(by_salt) == 8  # 2000 / 250 salted subgroups
    for salt, grp in by_salt.items():
        assert len(grp) == 250
        seqs = sorted(r.seq for r in grp)
        # seq-contiguous range per subgroup: FIFO preserved across groups
        assert seqs == list(range(salt * 250, salt * 250 + 250))
    assert sum(1 for r in drained if r.host != "hot.org") == 20


def test_schedule_canonicalize_stage(spark):
    """canonicalize=True: dirty URLs collapse to canonical form before
    hashing/dedup; invalid (non-https) rows are dropped; rows that
    collapse to the SAME canonical url schedule exactly once (keep-first
    by priority, seq)."""
    rows = [
        ("https://C.org/p?b=2&a=1", "c.org", 0, 0),
        ("https://c.org/p?a=1&b=2", "c.org", 0, 1),  # same canonical form
        ("http://c.org/x", "c.org", 0, 2),  # invalid: not https
        ("https://c.org/q/", "c.org", 0, 3),
    ]
    frontier = _frontier_df(spark, rows)
    out = schedule_batch(frontier, default_k=10, canonicalize=True)[0].collect()
    got = sorted((r.url, r.seq) for r in out)
    assert got == [("https://c.org/p?a=1&b=2", 0), ("https://c.org/q", 3)]
    assert all(r.host == "c.org" for r in out)


def test_route_retries_attempts_and_dead_letter(spark):
    from pyspark.sql import functions as F

    from crawler_spark.operators.scheduler import route_retries

    rows = [
        ("https://r.org/ok", "r.org", 0, 1, 0, True),
        ("https://r.org/fail-fresh", "r.org", 0, 2, 0, False),
        ("https://r.org/fail-last", "r.org", 0, 3, 2, False),
    ]
    df = spark.createDataFrame(
        rows, "url string, host string, priority int, seq long, attempt int, ok boolean"
    ).withColumn("url_hash", F.xxhash64("url"))
    retry, dead = route_retries(df, max_attempts=3)
    r = {x.url: x for x in retry.collect()}
    d = {x.url: x for x in dead.collect()}
    assert set(r) == {"https://r.org/fail-fresh"}
    assert set(d) == {"https://r.org/fail-last"}
    assert r["https://r.org/fail-fresh"].attempt == 1
    assert r["https://r.org/fail-fresh"].priority == 1  # penalty applied
    assert r["https://r.org/fail-fresh"].seq == 2  # order key preserved
    assert d["https://r.org/fail-last"].attempt == 3


def test_drain_bucketed_equals_per_host(spark):
    rows = []
    for h in range(12):
        for i in range(15):
            rows.append((f"https://b{h}.org/p/{i}", f"b{h}.org", i % 2, h * 100 + i))
    frontier = _frontier_df(spark, rows)
    sched, _ = schedule_batch(frontier, default_k=15, salt_span=4)
    per_host = {(r.url): (r.salt, r.fetch_order) for r in drain_ordered(sched).collect()}
    bucketed = {(r.url): (r.salt, r.fetch_order) for r in drain_ordered(sched, n_buckets=3).collect()}
    assert per_host == bucketed


def test_schedule_with_cuckoo_filter_matches_bloom(spark):
    """seen_filter='cuckoo' is a drop-in for the Bloom prefilter: the
    exact anti-join resolves maybe-seens either way, so the scheduled
    set is identical."""
    from crawler_spark.operators.cuckoo import build_cuckoo

    rows = []
    for h in range(4):
        for i in range(30):
            rows.append((f"https://h{h}.org/p/{i}", f"h{h}.org", i % 3, h * 1000 + i))
    frontier = _frontier_df(spark, rows)
    seen = spark.createDataFrame(
        [(f"https://h{h}.org/p/{i}",) for h in range(4) for i in range(0, 30, 2)],
        "url string",
    )
    bloom = build_bloom(seen, n_parts=4, m_bits_per_part=1 << 16)
    cuckoo = build_cuckoo(seen, n_parts=4)
    via_bloom = {
        (r.url, r.rank, r.salt)
        for r in schedule_batch(
            frontier, seen=seen, bloom=bloom, default_k=5, salt_span=2, n_bloom_parts=4
        )[0].collect()
    }
    via_cuckoo = {
        (r.url, r.rank, r.salt)
        for r in schedule_batch(
            frontier, seen=seen, bloom=cuckoo, default_k=5, salt_span=2,
            n_bloom_parts=4, seen_filter="cuckoo",
        )[0].collect()
    }
    assert via_cuckoo == via_bloom and via_bloom


def test_caller_quota_above_default_k_is_honored(spark):
    """Regression: the constant WindowGroupLimit rank cap is
    max(default_k, max quota), so a caller-supplied quota larger than
    default_k schedules that many rows instead of silently truncating."""
    rows = [(f"https://bigq.org/p/{i}", "bigq.org", 0, i) for i in range(40)]
    frontier = _frontier_df(spark, rows)
    quotas = spark.createDataFrame([("bigq.org", 30)], "host string, quota int")
    out = schedule_batch(frontier, quotas=quotas, default_k=10)[0].collect()
    assert len(out) == 30
    assert sorted(r.seq for r in out) == list(range(30))


def test_fetch_parse_digest_n_tasks_equals_default(spark):
    """The round-robin n_tasks repartition is a pure layout change: digests
    (as a multiset keyed by url) must be identical with and without it,
    and the repartitioned run must actually use n_tasks partitions."""
    from crawler_spark.operators.scheduler import fetch_parse_digest

    rows = [
        (f"https://h{h}.org/p/page-{i}", f"h{h}.org", 0, h * 50 + i)
        for h in range(4)
        for i in range(50)
    ]
    frontier = _frontier_df(spark, rows)
    sched, _ = schedule_batch(frontier, default_k=50, salt_span=25)
    drained = drain_ordered(sched).persist()
    drained.count()

    def fetcher(url):
        tail = url.rsplit("/", 1)[-1]
        return f"<html><body><h1>{tail}</h1><p>alpha beta</p><a href='/x'>x</a></body></html>"

    base = fetch_parse_digest(drained, fetcher)
    balanced = fetch_parse_digest(drained, fetcher, n_tasks=16)
    assert balanced.rdd.getNumPartitions() == 16
    key = lambda r: (r.url, r.n_internal, r.n_external, r.n_file, r.n_spans, r.md_len)
    assert sorted(map(key, base.collect())) == sorted(map(key, balanced.collect()))
    drained.unpersist()


def test_trap_reason_rules_and_edges(spark):
    from crawler_spark.functions.traps import trap_reason

    cases = [
        # (url, expected reason)
        ("https://h.org", None),  # no path at all
        ("https://h.org/a/b/c", None),
        ("https://h.org/" + "/".join(f"s{i}" for i in range(10)), "too_deep"),
        ("https://h.org/" + "/".join(f"s{i}" for i in range(9)), None),  # 9 < 10
        ("https://h.org/a/b/a/b/a/b/c", None),  # 3 repeats < 4
        ("https://h.org/a/b/a/b/a/b/a", "repeated_segment"),  # 'a' x4
        ("https://h.org/p?a=1&b=2&c=3&d=4&e=5&f=6&g=7", None),  # 7 < 8
        ("https://h.org/p?a=1&b=2&c=3&d=4&e=5&f=6&g=7&h=8", "param_explosion"),
        # precedence: depth fires before repeats, repeats before params
        ("https://h.org/" + "/".join("x" for _ in range(12)) + "?%s" % "&".join(
            f"k{i}=1" for i in range(9)
        ), "too_deep"),
        ("https://h.org/a/a/a/a?%s" % "&".join(f"k{i}=1" for i in range(9)),
         "repeated_segment"),
        # query string must not count as a path segment
        ("https://h.org/a/b?x=" + "/".join("q" for _ in range(20)), None),
        # empty query / trailing & add no phantom parameters
        ("https://h.org/a?", None),
        ("https://h.org/p?a=1&b=2&c=3&d=4&e=5&f=6&g=7&", None),  # 7 real
        # fragment text is inert: neither segments nor params
        ("https://h.org/a#" + "/".join("s" for _ in range(20)), None),
        ("https://h.org/a#f?" + "&".join(f"k{i}" for i in range(9)), None),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string").select(
        "url", trap_reason(F.col("url")).alias("reason")
    )
    got = {r["url"]: r["reason"] for r in df.collect()}
    for u, expect in cases:
        assert got[u] == expect, (u, got[u], expect)


def test_schedule_refuse_traps_is_opt_in(spark):
    trap_url = "https://h0.org/cal/2024/01/cal/2024/01/cal/2024/01/cal"
    rows = [
        ("https://h0.org/p/1", "h0.org", 0, 1),
        (trap_url, "h0.org", 0, 2),
        ("https://h0.org/p/3", "h0.org", 0, 3),
    ]
    frontier = _frontier_df(spark, rows)
    # default: behavior unchanged, the trap URL schedules like any other
    out_default = schedule_batch(frontier, default_k=10)[0]
    assert {r.url for r in out_default.collect()} == {u for u, *_ in rows}
    # opt-in: the trap URL is refused, everything else untouched
    out_refuse = schedule_batch(frontier, default_k=10, refuse_traps=True)[0]
    got = [r for r in out_refuse.orderBy("rank").collect()]
    assert [r.url for r in got] == ["https://h0.org/p/1", "https://h0.org/p/3"]
    # FIFO ranks are assigned AFTER the refusal (no gap where the trap was)
    assert [r.rank for r in got] == [1, 2]


def test_schedule_refuse_traps_stays_map_only(spark):
    """The trap filter must ride the frontier scan — no extra exchange
    versus the baseline plan."""
    frontier = _frontier_df(spark, [("https://h0.org/p/1", "h0.org", 0, 1)])
    base = schedule_batch(frontier, default_k=10)[0]._jdf.queryExecution().executedPlan().toString()
    guarded = schedule_batch(frontier, default_k=10, refuse_traps=True)[0]._jdf.queryExecution().executedPlan().toString()
    assert base.count("Exchange") == guarded.count("Exchange")


def test_trap_reason_differential_sweep(spark):
    """Differential check of the JVM trap cascade against a pure-Python
    twin over a seeded generator of awkward URLs: consecutive slashes
    (empty segments count), trailing slash, multiple '?', query-only
    repeats, missing scheme-ish strings. Guards the split/slice
    semantics the scheduler filter rides on."""
    import random

    from crawler_spark.functions.traps import (
        TRAP_MAX_DEPTH,
        TRAP_MAX_PARAMS,
        TRAP_MAX_REPEAT,
        trap_reason,
    )

    def twin(u):
        nofrag = u.split("#", 1)[0]
        no_q = nofrag.split("?", 1)[0]
        segs = no_q.split("/")[3:]
        if "?" in nofrag:
            n_params = len([p for p in nofrag.split("?")[1].split("&") if p])
        else:
            n_params = 0
        max_rep = max((segs.count(s) for s in set(segs)), default=0)
        if len(segs) >= TRAP_MAX_DEPTH:
            return "too_deep"
        if max_rep >= TRAP_MAX_REPEAT:
            return "repeated_segment"
        if n_params >= TRAP_MAX_PARAMS:
            return "param_explosion"
        return None

    rng = random.Random(20260818)
    seg_pool = ["a", "b", "cal", "2024", "01", "", "x%20y", "s1", "s2", "s3"]
    urls = []
    for _ in range(500):
        host = f"h{rng.randrange(5)}.org"
        depth = rng.randrange(0, 14)
        segs = [rng.choice(seg_pool) for _ in range(depth)]
        url = f"https://{host}"
        if segs or rng.random() < 0.3:
            url += "/" + "/".join(segs)
        if rng.random() < 0.2:
            url += "/"
        if rng.random() < 0.5:
            nq = rng.randrange(1, 11)
            url += "?" + "&".join(f"k{i}={i}" for i in range(nq))
            if rng.random() < 0.2:
                url += "?again=1"  # second '?' stays in the query tail
            if rng.random() < 0.2:
                url += "&"  # trailing '&' must not count as a parameter
        if rng.random() < 0.1:
            url += "?"  # empty query string counts zero parameters
        if rng.random() < 0.25:
            url += "#frag/with/slashes?and&amps"  # fragment text is inert
        urls.append(url)
    df = spark.createDataFrame([(u,) for u in urls], "url string").select(
        "url", trap_reason(F.col("url")).alias("reason")
    )
    got = {r["url"]: r["reason"] for r in df.collect()}
    for u in urls:
        assert got[u] == twin(u), (u, got[u], twin(u))


def test_canonicalize_dedups_within_batch(spark):
    """Distinct frontier rows canonicalizing to the SAME url must
    schedule once (keep-first by priority, seq) — the seen anti-join
    only covers already-crawled urls, not within-batch collisions."""
    rows = [
        ("https://h0.org/a/", "h0.org", 1, 5),
        ("https://h0.org/a", "h0.org", 0, 9),  # same canonical, better priority
        ("https://h0.org/b#frag", "h0.org", 0, 2),
        ("https://h0.org/b", "h0.org", 0, 7),
    ]
    frontier = _frontier_df(spark, rows)
    out = schedule_batch(frontier, default_k=10, canonicalize=True)[0].collect()
    got = sorted((r.url, r.priority, r.seq) for r in out)
    assert got == [
        ("https://h0.org/a", 0, 9),
        ("https://h0.org/b", 0, 2),
    ]


def test_bloom_without_seen_raises(spark):
    import pytest

    from crawler_spark.operators.bloom import build_bloom

    seen = spark.createDataFrame([("https://h0.org/p/1",)], "url string")
    bloom = build_bloom(seen, n_parts=2, m_bits_per_part=1 << 12)
    frontier = _frontier_df(spark, [("https://h0.org/p/2", "h0.org", 0, 1)])
    with pytest.raises(ValueError, match="requires `seen`"):
        schedule_batch(frontier, bloom=bloom)


def test_two_sources_one_host_single_politeness_stream(spark):
    """Same-host multi-source politeness rule (VERDICT r3 task 5): when two
    sources' URLs map onto ONE host, the scale path serializes them into a
    SINGLE per-host fetch stream — politeness (crawl-delay, ordering) is a
    property of the host, not of the source. drain_ordered must interleave
    both sources' URLs into one strictly-(priority, seq)-ordered fetch_order
    with no rank gaps, exactly what a per-host politeness worker consumes."""
    rows = []
    # source A: seqs 0..14 even priority 0; source B: seqs 100..114 priority 0
    for i in range(15):
        rows.append((f"https://shared.org/a/{i}", "shared.org", 0, i))
        rows.append((f"https://shared.org/b/{i}", "shared.org", 0, 100 + i))
    # control host, one source
    for i in range(10):
        rows.append((f"https://solo.org/p/{i}", "solo.org", 0, i))
    frontier = _frontier_df(spark, rows)
    sched, _ = schedule_batch(frontier, default_k=40, salt_span=8)
    drained = drain_ordered(sched).collect()

    shared = sorted(
        (r for r in drained if r.host == "shared.org"),
        key=lambda r: (r.salt, r.fetch_order),
    )
    # one serialized stream: ranks 1..n with no gaps, seq strictly rising —
    # source A's 15 URLs (seq 0..14) drain before source B's (seq 100+),
    # i.e. the host FIFO ignores which source contributed the URL.
    assert [r.rank for r in shared] == list(range(1, 31))
    seqs = [r.seq for r in shared]
    assert seqs == sorted(seqs)
    assert [u.split("/")[-2] for u in (r.url for r in shared)] == ["a"] * 15 + ["b"] * 15
    # fetch_order never collides within the host's salted subgroups
    per_group = {}
    for r in shared:
        per_group.setdefault(r.salt, []).append(r.fetch_order)
    for fos in per_group.values():
        assert fos == sorted(fos) and len(set(fos)) == len(fos)
