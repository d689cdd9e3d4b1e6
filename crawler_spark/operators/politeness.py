"""Per-host politeness: robots.txt disallow rules + crawl-delay quotas.

The reference only *claims* robots support (README tenet; no code reads
robots.txt — verified in SURVEY.md §0) and rate-limits implicitly via its
single in-flight Celery task (backend/tasks/config.py:29). The north rule
mandates both explicitly, so this module builds them to spec:

- **robots rules**: per-host disallow path-prefix sets, compiled into a
  prefix trie per host and shipped to executors as a broadcast variable;
  evaluated inside an Arrow pandas UDF (north rule: "robots.txt disallow
  rules evaluated via broadcast rule tries").
- **crawl-delay quota**: a host with crawl_delay_ms=d gets at most
  ``max(1, batch_window_ms // d)`` fetches per micro-batch; hosts without
  a rule get the default per-host top-K. Fed into the scheduler's
  per-host drain window (scheduler.py).
"""

from __future__ import annotations

from urllib.parse import urlsplit

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "RobotsTrie",
    "RobotsIndex",
    "robots_index",
    "broadcast_robots",
    "robots_filter",
    "host_quotas",
    "parse_robots_txt",
    "robots_rules_from_bodies",
]


class _TrieNode(dict):
    __slots__ = ("terminal",)

    def __init__(self):
        super().__init__()
        self.terminal = False


def _compile_wild(p: str):
    import re as _re

    anchored = p.endswith("$")
    body = p[:-1] if anchored else p
    pat = ".*".join(_re.escape(seg) for seg in body.split("*"))
    return _re.compile(pat + ("$" if anchored else ""))


class RobotsTrie:
    """Character-level prefix trie over a host's disallow prefixes, plus
    RFC 9309 wildcard rules (``*`` = any run, trailing ``$`` = end
    anchor) and ``Allow`` rules with longest-rule-wins precedence
    (§2.2.2: the matching rule with the longest pattern wins; Allow wins
    length ties).

    Fast path (no allow rules): plain prefixes stay on the O(|path|)
    trie walk with wildcard regexes checked after — any disallow hit
    decides. With allow rules present the walk instead tracks the
    LONGEST matching disallow (trie depth of the deepest terminal /
    pattern length of wildcard hits) and compares it against the longest
    matching allow."""

    def __init__(self, prefixes: list[str], allow: list[str] | None = None):
        self.root = _TrieNode()
        self.wild: list = []  # (regex, pattern_len)
        for p in prefixes:
            if "*" in p or p.endswith("$"):
                self.wild.append((_compile_wild(p), len(p)))
                continue
            node = self.root
            for ch in p:
                node = node.setdefault(ch, _TrieNode())
            node.terminal = True
        self.allow: list = []  # (matcher_kind, value/regex, pattern_len)
        for p in allow or []:
            if "*" in p or p.endswith("$"):
                self.allow.append(("re", _compile_wild(p), len(p)))
            else:
                self.allow.append(("prefix", p, len(p)))

    def _longest_disallow(self, path: str) -> int:
        best = -1
        node = self.root
        if node.terminal:
            best = 0
        for depth, ch in enumerate(path, start=1):
            node = node.get(ch)
            if node is None:
                break
            if node.terminal:
                best = depth
        for rx, plen in self.wild:
            if rx.match(path) and plen > best:
                best = plen
        return best

    def disallowed(self, path: str) -> bool:
        if not self.allow:  # fast path: any disallow hit decides
            node = self.root
            if node.terminal:
                return True
            for ch in path:
                node = node.get(ch)
                if node is None:
                    break
                if node.terminal:
                    return True
            return any(rx.match(path) for rx, _ in self.wild)
        dis = self._longest_disallow(path)
        if dis < 0:
            return False
        best_allow = -1
        for kind, m, plen in self.allow:
            if plen > best_allow and (
                path.startswith(m) if kind == "prefix" else m.match(path)
            ):
                best_allow = plen
        return dis > best_allow  # tie -> Allow wins


def build_tries(robots_rows: list[dict]) -> dict[str, RobotsTrie]:
    """rows: {host, disallow_prefixes: list[str], crawl_delay_ms: int,
    allow_prefixes?: list[str]} (allow optional for older tables)."""
    return {
        r["host"]: RobotsTrie(
            list(r["disallow_prefixes"]), list(r.get("allow_prefixes") or [])
        )
        for r in robots_rows
    }


def broadcast_robots(spark: SparkSession, robots: DataFrame):
    """Collect the rules table and broadcast compiled tries. Only safe
    when the table is genuinely small — O(hosts with rules) is ~10^7-10^8
    at a 10^10-URL frontier, tens of GB of tries; use robots_index() with
    mode='auto' so that regime switches to the co-partitioned join path
    instead of materializing the full rules set on the driver."""
    rows = [r.asDict() for r in robots.collect()]
    return spark.sparkContext.broadcast(
        {
            "tries": build_tries(rows),
            "delay_ms": {r["host"]: int(r["crawl_delay_ms"]) for r in rows},
        }
    )


# Broadcast cap, in hosts-with-rules. ~100k compiled tries is tens of MB on
# the driver and per executor — comfortably under the ceiling the Bloom
# prefilter broadcasts under (bloom.BROADCAST_BLOOM_MAX_BYTES); past it the
# rules stay a host-partitioned DataFrame and evaluation becomes a
# co-partitioned join.
BROADCAST_ROBOTS_MAX_HOSTS = 100_000


class RobotsIndex:
    """Delivery-mode handle for robots rules (mirrors bloom_prefilter's
    size-based broadcast-vs-cogroup choice, bloom.py):

    - ``broadcast``: compiled tries in a Spark broadcast — the fixture /
      small-crawl fast path (zero shuffle, dict lookup per URL).
    - ``join``: the rules NEVER leave the cluster. Candidates left-join
      the rules table on host (one hash shuffle on host — the SAME key
      the scheduler's per-host top-K window shuffles on next, so AQE
      reuses the exchange) and an Arrow pandas UDF compiles each host's
      trie once per batch and walks it vectorized. This is the only
      shape that survives 10^7-10^8 hosts-with-rules."""

    __slots__ = ("mode", "bcast", "rules")

    def __init__(self, mode: str, bcast=None, rules: DataFrame | None = None):
        if mode not in ("broadcast", "join"):
            raise ValueError(f"RobotsIndex mode {mode!r}")
        self.mode = mode
        self.bcast = bcast
        self.rules = rules


def robots_index(
    spark: SparkSession,
    robots: DataFrame,
    mode: str = "auto",
    max_broadcast_hosts: int = BROADCAST_ROBOTS_MAX_HOSTS,
) -> RobotsIndex:
    """Build the delivery handle. ``auto`` probes the table size with a
    bounded job (limit(cap+1).count() — scans at most cap+1 rows, never
    the full table) and broadcasts only under the cap; above it the
    driver never materializes the rules."""
    if mode == "auto":
        over = robots.limit(max_broadcast_hosts + 1).count() > max_broadcast_hosts
        mode = "join" if over else "broadcast"
    if mode == "broadcast":
        return RobotsIndex("broadcast", bcast=broadcast_robots(spark, robots))
    return RobotsIndex("join", rules=robots)


def robots_filter(
    df: DataFrame,
    robots_bcast,
    url_col: str = "url",
    keep_denied: bool = False,
    host_col: str | None = None,
) -> DataFrame:
    """Drop (or tag, with keep_denied) URLs whose path hits a disallow
    prefix of their host's trie. Accepts a raw broadcast handle
    (broadcast_robots), or a RobotsIndex — whose 'join' mode evaluates
    via a host-partitioned join instead of a driver-resident dict
    (identical verdicts; tests/test_robots_join.py pins the equivalence).

    Broadcast path: host and path are split JVM-side (``parse_url``
    inside whole-stage codegen) so the Arrow UDF only does the dict
    lookup + trie walk over two short string columns — Python never
    re-parses the URL. Hosts without rules pass; URLs ``parse_url``
    cannot parse fall back to Python ``urlparse`` (fail-closed: still a
    lookup, never an exception).

    Join path: the join key is ``host_col`` when the frame already
    carries the engine's canonical host (the scheduler does — same
    host_of() definition the rules tables are keyed by), else derived
    once via the host_udf pandas UDF."""
    if isinstance(robots_bcast, RobotsIndex):
        if robots_bcast.mode == "join":
            return _robots_filter_join(
                df, robots_bcast.rules, url_col, keep_denied, host_col
            )
        robots_bcast = robots_bcast.bcast

    def _allowed(hosts: pd.Series, paths: pd.Series, urls: pd.Series) -> pd.Series:
        tries = robots_bcast.value["tries"]
        out = []
        for host, path, u in zip(hosts, paths, urls):
            if host is None:
                if u is None:
                    out.append(False)
                    continue
                # urlsplit, not urlparse: .path keeps ';params', matching
                # JVM parse_url PATH on the fast branch
                parsed = urlsplit(u)
                host, path = parsed.netloc, parsed.path
            trie = tries.get(host)
            out.append(True if trie is None else not trie.disallowed(path or "/"))
        return pd.Series(out, dtype=bool)

    # AUTHORITY (= userinfo@host:port) matches urlparse().netloc — the key
    # every robots table in this engine is built with (host_of()).  HOST
    # would strip port/userinfo and silently fail-open for URLs carrying
    # either.
    allowed = F.pandas_udf(_allowed, "boolean")(
        F.parse_url(F.col(url_col), F.lit("AUTHORITY")),
        F.parse_url(F.col(url_col), F.lit("PATH")),
        F.col(url_col),
    )
    if keep_denied:
        return df.withColumn("robots_allowed", allowed)
    return df.filter(allowed)


def _robots_filter_join(
    df: DataFrame,
    rules: DataFrame,
    url_col: str,
    keep_denied: bool,
    host_col: str | None,
) -> DataFrame:
    """Co-partitioned robots evaluation: left-join rules on host, then an
    Arrow pandas UDF compiles each host's trie ONCE per Arrow batch
    (hosts arrive clustered after the hash shuffle, so the per-batch
    cache hits) and walks paths vectorized. Hosts without rules take the
    all-null fast branch — no trie, no Python parse. Path comes from JVM
    parse_url; Python urlsplit only for the rows it can't parse
    (same fallback semantics as the broadcast path)."""
    out_cols = list(df.columns)
    work = df
    key = host_col
    if key is None:
        from ..functions.udfs import host_udf

        work = work.withColumn("_rb_host", host_udf(url_col))
        key = "_rb_host"
    work = work.withColumn("_rb_path", F.parse_url(F.col(url_col), F.lit("PATH")))

    rcols = [F.col("host").alias("_rb_rhost"), F.col("disallow_prefixes").alias("_rb_dis")]
    rcols.append(
        F.col("allow_prefixes").alias("_rb_allow")
        if "allow_prefixes" in rules.columns
        else F.lit(None).cast("array<string>").alias("_rb_allow")
    )
    joined = work.join(rules.select(*rcols), work[key] == F.col("_rb_rhost"), "left")

    def _verdict(
        hosts: pd.Series, paths: pd.Series, urls: pd.Series, dis: pd.Series, allow: pd.Series
    ) -> pd.Series:
        tries: dict[str, RobotsTrie] = {}
        out = []
        for h, p, u, d, a in zip(hosts, paths, urls, dis, allow):
            if u is None:
                out.append(False)  # fail-closed, like the broadcast path
                continue
            if d is None and a is None:
                out.append(True)  # no rules for this host
                continue
            trie = tries.get(h)
            if trie is None:
                trie = RobotsTrie(
                    list(d) if d is not None else [],
                    list(a) if a is not None else [],
                )
                tries[h] = trie
            if p is None:
                p = urlsplit(u).path
            out.append(not trie.disallowed(p or "/"))
        return pd.Series(out, dtype=bool)

    allowed = F.pandas_udf(_verdict, "boolean")(
        F.col(key), F.col("_rb_path"), F.col(url_col), F.col("_rb_dis"), F.col("_rb_allow")
    )
    if keep_denied:
        return joined.withColumn("robots_allowed", allowed).select(
            *out_cols, "robots_allowed"
        )
    return joined.filter(allowed).select(*out_cols)


def host_quotas(
    spark: SparkSession,
    robots_bcast,
    default_k: int,
    batch_window_ms: int = 60_000,
) -> DataFrame:
    """Per-host fetch quota for one micro-batch window: hosts with a
    crawl-delay get floor(window/delay) capped at default_k, min 1.
    With a broadcast handle the table is built from the driver dict
    as an Arrow ``LocalRelation`` (tiny, broadcast-joined onto the
    frontier; scanning it starts no Python worker). With a join-mode
    RobotsIndex the quotas are a map-only projection of the distributed
    rules table — the driver never sees the host set; join it onto the
    frontier with a plain (non-broadcast) join on host."""
    if isinstance(robots_bcast, RobotsIndex):
        if robots_bcast.mode == "join":
            return robots_bcast.rules.select(
                "host",
                F.when(
                    F.col("crawl_delay_ms") > 0,
                    F.greatest(
                        F.lit(1),
                        F.least(
                            F.lit(default_k),
                            F.expr(f"CAST({int(batch_window_ms)} DIV crawl_delay_ms AS INT)"),
                        ),
                    ),
                )
                .otherwise(F.lit(default_k))
                .cast("int")
                .alias("quota"),
            )
        robots_bcast = robots_bcast.bcast
    delay = robots_bcast.value["delay_ms"] or {"__none__": 0}
    pdf = pd.DataFrame(
        {
            "host": list(delay),
            "quota": pd.array(
                [
                    max(1, min(default_k, batch_window_ms // d)) if d > 0 else default_k
                    for d in delay.values()
                ],
                dtype="int32",
            ),
        }
    )
    return spark.createDataFrame(pdf, "host string, quota int")


# ---------------------------------------------------------------------------
# raw robots.txt -> rules rows (closes the loop: fetched robots bodies ->
# rules table -> broadcast tries)
# ---------------------------------------------------------------------------

ROBOTS_RULES_SCHEMA = (
    "host string, disallow_prefixes array<string>, allow_prefixes array<string>, crawl_delay_ms int"
)


def parse_robots_txt(
    text: str, user_agent: str = "*"
) -> tuple[list[str], list[str], int]:
    """Parse one robots.txt body into (disallow_prefixes,
    allow_prefixes, crawl_delay_ms) for ``user_agent``.

    Deterministic simplified REP (RFC 9309 flavor): lines are grouped into
    records by consecutive User-agent lines; the record with the MOST
    SPECIFIC matching agent wins (exact match beats substring match beats
    '*'; ties broken by longer agent token). Comments (#) and blank lines
    stripped; empty Disallow/Allow values are dropped;
    Crawl-delay is seconds (int or decimal) -> ms, 0 when absent."""
    # one record per User-agent block: (agents, disallows, allows,
    # delays) — a
    # block with no rules is still a record (most-specific match with no
    # rules = allow-all, RFC 9309 §2.2.1)
    groups: list[tuple[list[str], list[str], list[str], list[float]]] = []
    cur: tuple[list[str], list[str], list[str], list[float]] | None = None
    expecting_agents = False
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            # blank line ends a record (classic REP): a following
            # User-agent starts a NEW group, so an agents-only block
            # stands alone as allow-all instead of absorbing the next
            expecting_agents = False
            continue
        if ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if not expecting_agents:
                cur = ([], [], [], [])
                groups.append(cur)
            cur[0].append(val.lower())
            expecting_agents = True
            continue
        expecting_agents = False
        if cur is None:
            continue  # rule lines before any User-agent: ignored
        if key == "disallow" and val:
            cur[1].append(val)
        elif key == "allow" and val:
            cur[2].append(val)
        elif key == "crawl-delay":
            try:
                cur[3].append(float(val))
            except ValueError:
                pass

    ua = user_agent.lower()
    best: tuple[int, int] | None = None  # (specificity, agent_len)
    best_group = None
    for g_agents, dis, allow, delays in groups:
        for a in g_agents:
            if a == ua:
                spec = 2
            elif a != "*" and a in ua:
                spec = 1
            elif a == "*":
                spec = 0
            else:
                continue
            key2 = (spec, len(a))
            if best is None or key2 > best:
                best = key2
                best_group = (dis, allow, delays)
    if best_group is None:
        return [], [], 0
    dis, allow, delays = best_group
    delay_ms = int(delays[0] * 1000) if delays else 0
    return list(dis), list(allow), delay_ms


def parse_robots_sitemaps(text: str) -> list[str]:
    """Extract ``Sitemap:`` directives from a robots.txt body — the
    discovery hook that links politeness to the sitemap source (a
    crawler that fetches robots.txt gets the host's sitemap URLs for
    free; sitemaps.org specifies the directive lives in robots.txt).
    Per the spec, Sitemap lines are record-INDEPENDENT: they apply
    regardless of user-agent grouping, so this scans every line, not
    the winning group. Absolute http(s) URLs only; duplicates keep
    first; order of appearance preserved."""
    out: list[str] = []
    seen: set[str] = set()
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if ":" not in line:
            continue
        key, _, val = line.partition(":")
        if key.strip().lower() != "sitemap":
            continue
        val = val.strip()
        if not (val.startswith("http://") or val.startswith("https://")):
            continue
        if val not in seen:
            seen.add(val)
            out.append(val)
    return out


ROBOTS_SITEMAPS_SCHEMA = "host string, rank int, sitemap_url string"


def robots_sitemaps_from_bodies(bodies: DataFrame) -> DataFrame:
    """Distributed Sitemap-directive extraction: (host, robots_txt) ->
    one (host, rank, sitemap_url) row per directive, rank = order of
    appearance. Narrow mapInPandas, embarrassingly parallel; the output
    feeds sources/sitemap.py::sitemaps_to_urls for frontier seeding."""

    def _parse(it):
        for pdf in it:
            out = {"host": [], "rank": [], "sitemap_url": []}
            for host, body in zip(pdf["host"], pdf["robots_txt"]):
                for i, sm in enumerate(parse_robots_sitemaps(body or "")):
                    out["host"].append(host)
                    out["rank"].append(i)
                    out["sitemap_url"].append(sm)
            yield pd.DataFrame(
                {
                    "host": pd.Series(out["host"], dtype="object"),
                    "rank": pd.Series(out["rank"], dtype="int32"),
                    "sitemap_url": pd.Series(out["sitemap_url"], dtype="object"),
                }
            )

    return bodies.mapInPandas(_parse, ROBOTS_SITEMAPS_SCHEMA)


def robots_rules_from_bodies(
    bodies: DataFrame, user_agent: str = "*"
) -> DataFrame:
    """Distributed parse of fetched robots.txt bodies: (host, robots_txt)
    -> ROBOTS_RULES_SCHEMA rows ready for broadcast_robots. Narrow
    mapInPandas — at 10^7 hosts the parse is embarrassingly parallel and
    only the resulting O(hosts-with-rules) table is collected."""

    def _parse(it):
        for pdf in it:
            out = {"host": [], "disallow_prefixes": [], "allow_prefixes": [],
                   "crawl_delay_ms": []}
            for host, body in zip(pdf["host"], pdf["robots_txt"]):
                dis, allow, delay = parse_robots_txt(body or "", user_agent)
                out["host"].append(host)
                out["disallow_prefixes"].append(dis)
                out["allow_prefixes"].append(allow)
                out["crawl_delay_ms"].append(delay)
            yield pd.DataFrame(out)

    return bodies.mapInPandas(_parse, ROBOTS_RULES_SCHEMA)
