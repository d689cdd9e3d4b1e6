"""Join-mode robots delivery (politeness.RobotsIndex).

broadcast_robots collects every rule to the driver — fine at fixture
scale, tens of GB at 10^7-10^8 hosts-with-rules. robots_index(mode='auto')
mirrors bloom_prefilter's size-based choice: broadcast under
BROADCAST_ROBOTS_MAX_HOSTS, else keep the rules a host-partitioned
DataFrame and evaluate via a co-partitioned left join + per-host trie
compile inside an Arrow UDF. These tests pin (a) verdict equivalence
between the two modes, (b) quota equivalence, and (c) the 10^6-hosts
requirement: schedule_batch output unchanged while the driver never
materializes the full rules set (the only driver job auto mode runs is a
bounded limit(cap+1).count())."""

from pyspark.sql import functions as F

from crawler_spark.operators.politeness import (
    BROADCAST_ROBOTS_MAX_HOSTS,
    host_quotas,
    robots_filter,
    robots_index,
)
from crawler_spark.operators.scheduler import schedule_batch

RULES_SCHEMA = (
    "host string, disallow_prefixes array<string>, "
    "allow_prefixes array<string>, crawl_delay_ms int"
)

_RULES = [
    ("h0.org", ["/private", "/tmp"], [], 0),
    ("h1.org", ["/"], ["/public"], 0),          # allow overrides shorter disallow
    ("h2.org", [], [], 30_000),                  # crawl-delay only
    ("h3.org:8080", ["/blocked"], [], 0),        # port in the key
    ("h4.org", ["/a*z$", "/w*"], ["/wiki"], 0),  # RFC 9309 wildcards + anchor
]

_URLS = [
    "https://h0.org/public/a",
    "https://h0.org/private/x",
    "https://h0.org/tmp",
    "https://h1.org/anything",
    "https://h1.org/public/ok",
    "https://h2.org/ok",
    "https://h3.org:8080/blocked/p",
    "https://h3.org:8080/open",
    "https://h3.org/blocked/p",   # no port -> different host key -> no rules
    "https://h4.org/abcz",
    "https://h4.org/abcz9",       # $-anchor miss (doesn't end in z)
    "https://h4.org/whatever",
    "https://h4.org/wiki/page",   # allow wins length tie-break
    "https://h9.org/no-rules",
]


def _modes(spark):
    rules = spark.createDataFrame(_RULES, RULES_SCHEMA)
    b = robots_index(spark, rules, mode="broadcast")
    j = robots_index(spark, rules, mode="join")
    assert b.mode == "broadcast" and j.mode == "join"
    return b, j


def test_join_mode_matches_broadcast_verdicts(spark):
    b, j = _modes(spark)
    df = spark.createDataFrame([(u,) for u in _URLS], "url string")
    kept_b = sorted(r.url for r in robots_filter(df, b).collect())
    kept_j = sorted(r.url for r in robots_filter(df, j).collect())
    assert kept_b == kept_j
    # tag variant too, and via a pre-derived host column (the scheduler path)
    hosted = df.withColumn("host", F.parse_url("url", F.lit("AUTHORITY")))
    tags_b = {
        r.url: r.robots_allowed
        for r in robots_filter(hosted, b, keep_denied=True).collect()
    }
    tags_j = {
        r.url: r.robots_allowed
        for r in robots_filter(hosted, j, keep_denied=True, host_col="host").collect()
    }
    assert tags_b == tags_j
    assert tags_b["https://h1.org/public/ok"] is True
    assert tags_b["https://h4.org/abcz"] is False
    assert tags_b["https://h4.org/abcz9"] is True
    assert tags_b["https://h4.org/wiki/page"] is True
    assert tags_b["https://h3.org:8080/blocked/p"] is False
    assert tags_b["https://h3.org/blocked/p"] is True


def test_join_mode_quotas_match_broadcast(spark):
    b, j = _modes(spark)
    qb = {r.host: r.quota for r in host_quotas(spark, b, default_k=10).collect()}
    qj = {r.host: r.quota for r in host_quotas(spark, j, default_k=10).collect()}
    assert qj == qb
    assert qb["h2.org"] == 2  # floor(60000/30000)


def test_auto_mode_switches_on_host_count(spark):
    rules = spark.createDataFrame(_RULES, RULES_SCHEMA)
    assert robots_index(spark, rules, mode="auto").mode == "broadcast"
    assert (
        robots_index(spark, rules, mode="auto", max_broadcast_hosts=3).mode == "join"
    )
    assert BROADCAST_ROBOTS_MAX_HOSTS >= 10_000


def test_million_host_rules_schedule_unchanged(spark):
    """10^6 hosts-with-rules: auto picks join (driver never materializes
    the rules), and schedule_batch output equals the broadcast-mode run
    that only knows the frontier's own hosts' rules — the verdict for a
    URL depends only on its host's rules, so the two must agree."""
    n_hosts = 1_000_000
    big = spark.range(n_hosts).select(
        F.concat(F.lit("h"), F.col("id"), F.lit(".example.org")).alias("host"),
        F.array(F.lit("/private")).alias("disallow_prefixes"),
        F.array().cast("array<string>").alias("allow_prefixes"),
        F.when(F.col("id") % 2 == 0, F.lit(30_000)).otherwise(F.lit(0))
        .cast("int")
        .alias("crawl_delay_ms"),
    )
    idx = robots_index(spark, big, mode="auto")
    assert idx.mode == "join"

    # frontier over 4 of those hosts: even ids carry a 2-fetch quota,
    # /private paths are disallowed everywhere
    rows = []
    seq = 0
    for hid in (0, 1, 500_000, 999_999):
        host = f"h{hid}.example.org"
        for i in range(6):
            path = "/private/x" if i == 5 else f"/p/{i}"
            rows.append((f"https://{host}{path}", host, 0, seq))
            seq += 1
    frontier = spark.createDataFrame(
        [(u, h, p, s, 0) for (u, h, p, s) in rows],
        "url string, host string, priority int, seq long, url_hash long",
    ).withColumn("url_hash", F.xxhash64("url"))

    quotas_j = host_quotas(spark, idx, default_k=10)
    got, _ = schedule_batch(
        frontier,
        robots_bcast=idx,
        quotas=quotas_j,
        default_k=10,
        max_quota=10,
        quotas_broadcast=False,
    )
    got_set = {(r.url, r.rank) for r in got.collect()}

    hosts_in_frontier = {h for (_, h, _, _) in rows}
    small = big.filter(F.col("host").isin(list(hosts_in_frontier)))
    idx_small = robots_index(spark, small, mode="broadcast")
    quotas_b = host_quotas(spark, idx_small, default_k=10)
    want, _ = schedule_batch(
        frontier, robots_bcast=idx_small, quotas=quotas_b, default_k=10, max_quota=10
    )
    want_set = {(r.url, r.rank) for r in want.collect()}

    assert got_set == want_set
    # sanity on the semantics themselves: even-id hosts drained 2 (quota),
    # odd-id hosts drained 5 (6 minus the /private one)
    by_host: dict[str, int] = {}
    for u, _ in got_set:
        h = u.split("/")[2]
        by_host[h] = by_host.get(h, 0) + 1
    assert by_host == {
        "h0.example.org": 2,
        "h500000.example.org": 2,
        "h1.example.org": 5,
        "h999999.example.org": 5,
    }
    assert all("/private" not in u for u, _ in got_set)
