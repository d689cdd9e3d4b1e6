"""Property tests for the web-scale crawl-ops queries (queries_scale.py).

The driver gate (tools/selfcheck.py) already hash-checks every query
against its DuckDB oracle; these tests pin the SEMANTIC invariants the
hash can't express — rule precedence, label-propagation convergence,
longest-suffix matching — plus the plan shapes the 100 TB design
requires.
"""

import re

from crawler_spark.plans.inspect import formatted_plan
from crawler_spark.queries_scale import q_trap_detect

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# trap detection
# ---------------------------------------------------------------------------


def test_trap_detect_covers_every_branch_and_precedence(spark):
    rows = {r["doc_id"]: r for r in q_trap_detect(spark, SF).collect()}
    reasons = {r["reason"] for r in rows.values()}
    assert reasons == {"ok", "too_deep", "repeated_segment", "param_explosion"}
    for r in rows.values():
        segs = r["url"].split("/")[3:]
        assert r["depth"] == len(segs)
        mult = max(segs.count(s) for s in set(segs))
        assert r["max_repeat"] == mult
        # first-failing-rule precedence
        if len(segs) >= 10:
            expect = "too_deep"
        elif mult >= 4:
            expect = "repeated_segment"
        elif r["n_params"] >= 8:
            expect = "param_explosion"
        else:
            expect = "ok"
        assert r["reason"] == expect
        assert r["is_trap"] == (expect != "ok")


def test_trap_detect_plan_is_map_only(spark):
    """Per-URL decision — must not shuffle the frontier."""
    plan = formatted_plan(q_trap_detect(spark, SF))
    assert "Exchange" not in plan, plan


# ---------------------------------------------------------------------------
# connected components
# ---------------------------------------------------------------------------


def _cc_edges(n):
    edges = [(i, i + 1) for i in range(n - 1) if i % 8 != 7]
    edges += [(i, i + 11) for i in range(0, n - 11, 16)]
    return edges


def _union_find(n, edges):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min vertex id in the component
    comp = {}
    for v in range(n):
        comp.setdefault(find(v), []).append(v)
    label = {}
    for vs in comp.values():
        m = min(vs)
        for v in vs:
            label[v] = m
    return label


def _cc_label_propagate(spark, n, stages=None):
    """_label_propagate over the _cc_edges(n) graph, both directions."""
    from pyspark.sql import functions as F

    from crawler_spark.queries_scale import _label_propagate

    ids = spark.range(n).select(F.col("id").alias("v"))
    edges = spark.createDataFrame(
        [(a, b) for a, b in _cc_edges(n)] + [(b, a) for a, b in _cc_edges(n)],
        "s long, d long",
    )
    return _label_propagate(ids, edges, stages=stages)


def test_dedup_components_matches_union_find(spark):
    n = 160
    truth = _union_find(n, _cc_edges(n))
    got = {r["v"]: r["lab"] for r in _cc_label_propagate(spark, n).collect()}
    assert got == truth
    # the fixture graph really exercises depth: 16-id components whose
    # farthest vertex sits 7 hops from the component minimum
    sizes = {}
    for lab in truth.values():
        sizes[lab] = sizes.get(lab, 0) + 1
    assert set(sizes.values()) == {16}


def test_dedup_components_stage_schedule_is_a_fixpoint(spark):
    """One extra hook stage must not move any label — proves the default
    alternating schedule already converged on the diameter-7 graph."""
    from crawler_spark.queries_scale import _CC_STAGES

    n = 160
    base = {r["v"]: r["lab"] for r in _cc_label_propagate(spark, n).collect()}
    extra = {
        r["v"]: r["lab"]
        for r in _cc_label_propagate(spark, n, stages=_CC_STAGES + ("hook",)).collect()
    }
    assert base == extra


def test_dedup_components_hook_combines_map_side(spark):
    """The hook's neighbor-min must partial-aggregate before its
    exchange: at 10^10 edges only one candidate label per (vertex,
    partition) crosses the wire."""
    plan = formatted_plan(_cc_label_propagate(spark, 160))
    assert "partial_min(lab" in plan, plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# crawl report rollup
# ---------------------------------------------------------------------------


def test_crawl_rollup_levels_are_consistent(spark):
    from crawler_spark.queries_scale import q_crawl_rollup

    rows = q_crawl_rollup(spark, SF).collect()
    grand = [r for r in rows if r["gid"] == 3]
    per_lang = [r for r in rows if r["gid"] == 1]
    leaves = [r for r in rows if r["gid"] == 0]
    assert len(grand) == 1 and grand[0]["lang"] is None and grand[0]["source"] is None
    # superaggregates must equal the sum of their children
    assert grand[0]["n_docs"] == sum(r["n_docs"] for r in per_lang) == sum(
        r["n_docs"] for r in leaves
    )
    assert grand[0]["total_chars"] == sum(r["total_chars"] for r in leaves)
    for lr in per_lang:
        kids = [r for r in leaves if r["lang"] == lr["lang"]]
        assert lr["n_docs"] == sum(r["n_docs"] for r in kids)
        assert lr["total_chars"] == sum(r["total_chars"] for r in kids)


def test_crawl_rollup_is_one_expand_one_aggregate(spark):
    """ROLLUP must plan as a single Expand + one hash aggregate — one
    shuffle for all levels, never one job per level."""
    from crawler_spark.queries_scale import q_crawl_rollup

    plan = formatted_plan(q_crawl_rollup(spark, SF))
    assert plan.count("Expand") >= 1
    assert "HashAggregate" in plan
    # exactly one shuffle (plus AQE wrappers): count exchanges
    assert plan.count("Exchange") <= 2, plan


# ---------------------------------------------------------------------------
# dedup cluster closure
# ---------------------------------------------------------------------------


def test_dedup_clusters_is_the_transitive_closure_of_verified_pairs(spark):
    """Cluster labels must equal union-find over the pipeline's own
    verified pair set (plus identical-text membership) — the property
    pairwise keep-min cannot provide."""
    from pyspark.sql import functions as F

    from crawler_spark.queries import _LSH_JAC_MIN, _lsh_corpus, _minhash_rep_pairs
    from crawler_spark.queries_scale import q_dedup_clusters

    docs = _lsh_corpus(spark.read.parquet(f"{SF}/documents.parquet"))
    members, groups, sizes, scored = _minhash_rep_pairs(docs)
    ok = [
        (r["doc_a"], r["doc_b"])
        for r in scored.filter(F.col("jac_milli") >= _LSH_JAC_MIN).collect()
    ]
    mem = [(r["doc_id"], r["rep_id"]) for r in members.collect()]
    shingled_reps = {r["doc_id"] for r in sizes.collect()}

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in ok:
        union(a, b)
    for doc, rep in mem:
        if rep in shingled_reps:
            union(doc, rep)
    expect = {}
    comp = {}
    for doc, _ in mem:
        comp.setdefault(find(doc), []).append(doc)
    for vs in comp.values():
        m = min(vs)
        for v in vs:
            expect[v] = m
    rows = {r["doc_id"]: r for r in q_dedup_clusters(spark, SF).collect()}
    assert set(rows) == set(expect)
    csize = {}
    for v, m in expect.items():
        csize[m] = csize.get(m, 0) + 1
    for doc, r in rows.items():
        assert r["cluster_rep"] == expect[doc], (doc, r)
        assert r["cluster_size"] == csize[expect[doc]]
    # planted mutations land in their source's cluster whenever the pair
    # pipeline verifies them (closure adds NO recall of its own — it
    # closes what the bands found); at this SF the bands catch nearly all
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    planted = [d for d in range(0, n_docs, 10)]
    assert planted
    caught = [d for d in planted if rows[d]["cluster_rep"] == rows[d + 1_000_000]["cluster_rep"]]
    assert len(caught) >= 0.9 * len(planted), (len(caught), len(planted))
    for d in caught:
        assert rows[d]["cluster_size"] >= 2


def test_dedup_clusters_keep_filter_is_cluster_rep(spark):
    """Exactly one survivor per cluster: filtering cluster_rep == doc_id
    keeps one doc per cluster and drops every near-dup."""
    from crawler_spark.queries_scale import q_dedup_clusters

    rows = q_dedup_clusters(spark, SF).collect()
    reps = [r for r in rows if r["cluster_rep"] == r["doc_id"]]
    assert len(reps) == len({r["cluster_rep"] for r in rows})
    # sizes add back up to the corpus
    assert sum(r["cluster_size"] for r in reps) == len(rows)


# ---------------------------------------------------------------------------
# registrable domain
# ---------------------------------------------------------------------------


def test_registrable_domain_longest_match_semantics(spark):
    from crawler_spark.queries_scale import _PUBLIC_SUFFIXES, q_registrable_domain

    suffixes = set(_PUBLIC_SUFFIXES)

    def twin(host):
        labels = host.split(".")
        best = 1  # PSL default rule: unknown TLD -> last label
        for k in range(1, min(3, len(labels) - 1) + 1):
            if ".".join(labels[-k:]) in suffixes:
                best = max(best, k)
        return ".".join(labels[-best:]), ".".join(labels[-(best + 1):])

    rows = q_registrable_domain(spark, SF).collect()
    assert rows
    shapes = set()
    for r in rows:
        suffix, registrable = twin(r["host"])
        assert r["public_suffix"] == suffix, r
        assert r["registrable"] == registrable, r
        shapes.add(suffix.count(".") + 1)
    # the fixture exercises 1- and 2-label suffixes plus github.io
    assert shapes == {1, 2}
    by_suffix = {r["host"]: r for r in rows}
    gh = [r for r in rows if r["host"].endswith(".github.io")]
    assert gh
    for r in gh:
        # every user subdomain is its OWN registrable domain
        assert r["registrable"] == r["host"]
        assert r["public_suffix"] == "github.io"
    couk = [r for r in rows if r["host"].endswith(".example.co.uk")]
    assert couk
    for r in couk:
        # multi-label suffix: registrable is example.co.uk, not co.uk's child count
        assert r["registrable"] == "example.co.uk"


def test_registrable_domain_groups_politeness_correctly(spark):
    """The use-case: quota grouping by registrable domain must separate
    github.io users but fuse deep subdomains of one site."""
    from crawler_spark.queries_scale import q_registrable_domain

    rows = q_registrable_domain(spark, SF).collect()
    groups = {}
    for r in rows:
        groups.setdefault(r["registrable"], []).append(r["host"])
    # all co.uk fixture hosts collapse into one registrable domain
    assert len(groups["example.co.uk"]) > 1
    # github.io hosts never collapse
    gh_groups = [hs for reg, hs in groups.items() if reg.endswith("github.io")]
    assert gh_groups and all(len(hs) == 1 for hs in gh_groups)


# ---------------------------------------------------------------------------
# HITS hubs & authorities
# ---------------------------------------------------------------------------


def test_hits_scores_match_pure_python(spark):
    """3-iteration integer HITS replay over the same derived graph."""
    from crawler_spark.queries import load
    from crawler_spark.queries_scale import (
        _HITS_ITERS,
        _HITS_OUT_DEG,
        q_hits_scores,
    )

    ids = sorted(r["doc_id"] for r in load(spark, SF, "documents").collect())
    n = len(ids)
    out_edges = {v: [(v * 17 + k) % n for k in range(1, _HITS_OUT_DEG + 1)] for v in ids}
    in_edges: dict[int, list[int]] = {v: [] for v in ids}
    for s, ds in out_edges.items():
        for d in ds:
            in_edges[d].append(s)
    h = {v: 1_000_000 for v in ids}
    a = {}
    for _ in range(_HITS_ITERS):
        raw = {v: sum(h[s] for s in in_edges[v]) for v in ids}
        mx = max(raw.values())
        a = {v: (1_000_000 * raw[v]) // mx for v in ids}
        raw = {v: sum(a[d] for d in out_edges[v]) for v in ids}
        mx = max(raw.values())
        h = {v: (1_000_000 * raw[v]) // mx for v in ids}
    rows = {r["doc_id"]: r for r in q_hits_scores(spark, SF).collect()}
    assert set(rows) == set(ids)
    for v in ids:
        assert rows[v]["auth_micro"] == a[v], (v, rows[v]["auth_micro"], a[v])
        assert rows[v]["hub_micro"] == h[v]
    # max-normalization: the top node of each score sits exactly at 1e6
    assert max(r["auth_micro"] for r in rows.values()) == 1_000_000
    assert max(r["hub_micro"] for r in rows.values()) == 1_000_000


# ---------------------------------------------------------------------------
# sitemap coverage audit
# ---------------------------------------------------------------------------


def test_sitemap_gap_statuses_match_replay(spark):
    from crawler_spark.queries import load
    from crawler_spark.queries_scale import q_sitemap_gap

    ids = [r["doc_id"] for r in load(spark, SF, "documents").collect()]
    sm = {
        f"https://h{d % 50}.example.org/doc?id={d}&ref=sitemap" for d in ids
    }
    crawled = {
        f"https://h{d % 50}.example.org/doc?id={d}&ref=sitemap"
        for d in ids
        if d % 3 != 1
    } | {f"https://h{d % 50}.example.org/orphan?id={d}" for d in ids if d % 7 == 0}
    expect = {}
    for loc in sm | crawled:
        if loc not in crawled:
            expect[loc] = "sitemap_only"
        elif loc not in sm:
            expect[loc] = "crawled_only"
        else:
            expect[loc] = "both"
    rows = {r["loc"]: r["status"] for r in q_sitemap_gap(spark, SF).collect()}
    assert rows == expect
    assert set(rows.values()) == {"sitemap_only", "crawled_only", "both"}


def test_sitemap_gap_audit_is_one_join(spark):
    """The audit join itself must be a single full-outer join on loc
    (the sitemap parse side adds no extra join)."""
    from crawler_spark.queries_scale import q_sitemap_gap

    plan = formatted_plan(q_sitemap_gap(spark, SF))
    joins = len(
        re.findall(r"\(\d+\)\s+(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan)
    )
    assert joins == 1, plan


# ---------------------------------------------------------------------------
# host-graph collapse
# ---------------------------------------------------------------------------


def test_host_graph_matches_pure_python(spark):
    from collections import Counter

    from crawler_spark.queries import load
    from crawler_spark.queries_scale import q_host_graph

    ids = sorted(r["doc_id"] for r in load(spark, SF, "documents").collect())
    n = len(ids)
    pairs = Counter()
    for d in ids:
        for k in (1, 2, 3):
            pairs[(d % 50, ((d * 31 + k) % n) % 50)] += 1
    rows = {(r["src_host"], r["dst_host"]): r for r in q_host_graph(spark, SF).collect()}
    assert set(rows) == set(pairs)
    for key, r in rows.items():
        assert r["weight"] == pairs[key]
        assert r["internal"] == (key[0] == key[1])
        assert r["reciprocal"] == ((key[1], key[0]) in pairs)
    # total edge mass is conserved by the collapse
    assert sum(r["weight"] for r in rows.values()) == 3 * n


def test_host_graph_collapses_before_reciprocity_join(spark):
    """The pair groupBy must combine map-side (10^10 page edges shrink
    to the host graph BEFORE any join), and the reciprocity join runs
    on the collapsed table."""
    from crawler_spark.queries_scale import q_host_graph

    plan = formatted_plan(q_host_graph(spark, SF))
    assert re.search(r"partial_count", plan), plan


# ---------------------------------------------------------------------------
# WET export (sources/warc.py)
# ---------------------------------------------------------------------------


def test_wet_refers_to_matches_warc_response_record_id(spark):
    """A WET conversion record's WARC-Refers-To must equal the id the
    WARC writer assigns the SAME URI's response record, while the
    conversion record's own id differs (no id collision)."""
    from crawler_spark.sources.warc import (
        _record_id,
        docs_to_wet_segments,
        parse_warc_segment,
    )

    docs = spark.createDataFrame(
        [(7, "alpha beta"), (8, "gamma")], "doc_id long, text string"
    )
    segs = docs_to_wet_segments(docs, docs_per_segment=100).collect()
    assert len(segs) == 1
    recs = [
        r for r in parse_warc_segment(bytes(segs[0]["segment"]))
        if r["warc_type"] == "conversion"
    ]
    assert len(recs) == 2
    blob = bytes(segs[0]["segment"])
    for rec in recs:
        uri = rec["target_uri"]
        assert rec["refers_to"] == _record_id(uri)
        # the conversion record's own id is the "conversion:"-keyed urn
        own = _record_id(f"conversion:{uri}")
        assert f"WARC-Record-ID: <{own}>".encode() in blob
        assert own != rec["refers_to"]
        assert rec["payload"].decode() in ("alpha beta", "gamma")


# ---------------------------------------------------------------------------
# label propagation over overlapping alias stars
# ---------------------------------------------------------------------------


def _alias_edges(spark):
    """Alias graph over the SF corpus (doc ids 0..n-1): each doc links to
    the terminal its 4-hop redirect chain reaches (doc d % 3 == 1
    redirects to (7d + 1) % n; a chain still redirecting after 4 hops
    links nowhere), and to the minimum doc id carrying byte-identical
    text. The two star families overlap, so closing them takes
    transitive hops through both."""
    import hashlib

    from crawler_spark.queries import load

    docs = {r["doc_id"]: r["text"] for r in load(spark, SF, "documents").collect()}
    n = len(docs)
    assert sorted(docs) == list(range(n))
    redirect = {d: (d * 7 + 1) % n for d in docs if d % 3 == 1}
    edges = []
    for d in docs:
        cur = d
        for _ in range(4):
            cur = redirect.get(cur, cur)
        if cur not in redirect and cur != d:  # terminal, non-trivial
            edges.append((d, cur))
    fp = {d: hashlib.md5(t.encode()).hexdigest() for d, t in docs.items()}
    fp_min = {}
    for d in sorted(docs):
        fp_min.setdefault(fp[d], d)
    edges += [(d, fp_min[fp[d]]) for d in docs if fp_min[fp[d]] != d]
    return n, edges


_IDENTITY_STAGES = ("hook", "jump") * 4 + ("hook",)


def _alias_label_propagate(spark, stages=_IDENTITY_STAGES):
    """_label_propagate over the _alias_edges graph, both directions."""
    from pyspark.sql import functions as F

    from crawler_spark.queries_scale import _label_propagate

    n, edges = _alias_edges(spark)
    ids = spark.range(n).select(F.col("id").alias("v"))
    both = spark.createDataFrame(
        edges + [(b, a) for a, b in edges], "s long, d long"
    )
    return {r["v"]: r["lab"] for r in _label_propagate(ids, both, stages).collect()}


def test_url_identity_matches_union_find(spark):
    """Redirect-alias stars and identical-content stars close into one
    identity per page: the 9-stage schedule equals union-find."""
    n, edges = _alias_edges(spark)
    expect = _union_find(n, edges)
    # the construction must actually exercise multi-member identities
    assert len(set(expect.values())) < n
    assert _alias_label_propagate(spark) == expect


def test_url_identity_stage_schedule_is_a_fixpoint(spark):
    """One extra jump/hook round must not change any label — the
    schedule covers the alias graph's diameter with margin."""
    base = _alias_label_propagate(spark)
    more = _alias_label_propagate(spark, _IDENTITY_STAGES + ("jump", "hook"))
    assert base == more


# ---------------------------------------------------------------------------
# BPE merge induction
# ---------------------------------------------------------------------------


def test_bpe_merges_greedy_overlap_and_composition(spark):
    """Pins the three BPE rules on a planted frame: overlapping pairs
    count zip-style ('aaaa' contributes 3 (a,a) pairs per occurrence),
    the greedy left-to-right rewrite is non-overlapping ('aaaa' ->
    [aa, aa], not [aa, a, a]), and later rounds merge COMPOSED symbols
    ((aa, aa) -> 'aaaa' in round 3)."""
    from crawler_spark.queries_scale import bpe_merge_table

    frame = spark.createDataFrame(
        [(1, "aaaa aaaa bc bc bc")], "doc_id long, text string"
    )
    got = [
        (r["rank"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
        for r in bpe_merge_table(frame, rounds=3).collect()
    ]
    assert got == [
        (1, "a", "a", "aa", 6),
        (2, "b", "c", "bc", 3),
        (3, "aa", "aa", "aaaa", 2),
    ]


def test_bpe_merges_stops_when_pairs_exhausted(spark):
    from crawler_spark.queries_scale import bpe_merge_table

    frame = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    got = bpe_merge_table(frame, rounds=5).collect()
    assert [(r["rank"], r["merged"]) for r in got] == [(1, "ab")]


def test_bpe_merges_parity_with_replay_sf0001(spark):
    """The Spark loop equals the pure-Python replay (the oracle builder)
    on the sf0.001 corpus, round for round."""
    import duckdb

    from crawler_spark.queries_scale import _bpe_oracle_sql, q_bpe_merges

    expect = [tuple(r) for r in duckdb.sql(_bpe_oracle_sql(SF)).fetchall()]
    got = [
        (r["rank"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
        for r in q_bpe_merges(spark, SF).collect()
    ]
    assert got == expect and len(got) > 0


def test_hits_scores_survive_offset_id_blocks(spark):
    """Regression: ids need not start at 0. A corpus whose doc_ids live
    in a high block (e.g. 5e9+, the 10^10-scale layout) must produce
    the EXACT same scores as the zero-based corpus, shifted — the
    unanchored (doc_id*17+k) % n graph used to produce zero edges and
    a divide-by-zero max-normalizer here."""
    from unittest.mock import patch

    import crawler_spark.queries_scale as qsc
    from crawler_spark.queries_scale import q_hits_scores

    SHIFT = 5_000_000_000
    lo = spark.createDataFrame(
        [(i, f"t{i}") for i in range(20)], "doc_id long, text string"
    )
    hi = lo.selectExpr(f"doc_id + {SHIFT} AS doc_id", "text")
    with patch.object(qsc, "load", lambda _s, _sf, _t: lo):
        base_rows = {r["doc_id"]: (r["auth_micro"], r["hub_micro"])
                     for r in q_hits_scores(spark, SF).collect()}
    with patch.object(qsc, "load", lambda _s, _sf, _t: hi):
        hi_rows = {r["doc_id"] - SHIFT: (r["auth_micro"], r["hub_micro"])
                   for r in q_hits_scores(spark, SF).collect()}
    assert hi_rows == base_rows
    assert max(v[0] for v in base_rows.values()) == 1_000_000


