"""Property tests for the web-scale crawl-ops queries (queries_scale.py).

The driver gate (tools/selfcheck.py) already hash-checks every query
against its DuckDB oracle; these tests pin the SEMANTIC invariants the
hash can't express — rule precedence, the rendezvous minimal-movement
property, dominant-anchor tie-breaking, label-propagation convergence,
exact packing and apportionment arithmetic, longest-suffix matching —
plus the plan shapes the 100 TB design requires.
"""

import re

from crawler_spark.plans.inspect import formatted_plan
from crawler_spark.queries_scale import (
    _HRW_SHARDS,
    _TFIDF_K,
    q_anchor_agg,
    q_host_shards,
    q_recrawl_priority,
    q_tfidf_topk,
    q_trap_detect,
)

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
# adaptive recrawl priority
# ---------------------------------------------------------------------------


def test_recrawl_priority_semantics(spark):
    rows = q_recrawl_priority(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_changed"] <= r["n_fetches"]
        assert r["change_rate_milli"] == (1000 * r["n_changed"]) // r["n_fetches"]
        assert r["staleness_sec"] >= 0
        assert r["priority"] == (r["staleness_sec"] * r["change_rate_milli"]) // 1000
    # the most recently fetched page has zero staleness -> zero priority
    freshest = min(rows, key=lambda r: r["staleness_sec"])
    assert freshest["staleness_sec"] == 0 and freshest["priority"] == 0


def test_recrawl_priority_broadcasts_now(spark):
    """The single-row `now` side must broadcast, not shuffle the agg.
    A broadcast-hinted crossJoin plans as BroadcastNestedLoopJoin over a
    BroadcastExchange — assert the exchange and that no SortMergeJoin
    sneaks in."""
    plan = formatted_plan(q_recrawl_priority(spark, SF))
    assert "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan


# ---------------------------------------------------------------------------
# rendezvous sharding
# ---------------------------------------------------------------------------


def test_host_shards_minimal_movement(spark):
    """HRW's defining property: when shard W is added, a host either
    keeps its shard or moves TO the new shard — never between old
    shards. Movement fraction concentrates around 1/(W+1)."""
    rows = q_host_shards(spark, SF).collect()
    assert len(rows) == 50
    moved = [r for r in rows if r["moved"]]
    for r in rows:
        assert 0 <= r["shard8"] < _HRW_SHARDS
        assert 0 <= r["shard9"] <= _HRW_SHARDS
        if r["moved"]:
            assert r["shard9"] == _HRW_SHARDS  # only ever to the new shard
        else:
            assert r["shard9"] == r["shard8"]
    # E[moved] = 50/9 ~ 5.6; deterministic md5 weights, generous bound
    assert 0 < len(moved) <= 20


def test_host_shards_matches_pure_python_rendezvous(spark):
    import hashlib

    rows = {r["host"]: r for r in q_host_shards(spark, SF).collect()}
    for host, r in rows.items():
        weights = {
            w: hashlib.md5(f"{host}#{w}".encode()).hexdigest() for w in range(_HRW_SHARDS + 1)
        }
        assert r["shard9"] == max(weights, key=weights.get)
        assert r["shard8"] == max((w for w in weights if w < _HRW_SHARDS), key=weights.get)


# ---------------------------------------------------------------------------
# anchor-text aggregation
# ---------------------------------------------------------------------------


def test_anchor_agg_totals_and_tiebreak(spark):
    rows = q_anchor_agg(spark, SF).collect()
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert sum(r["in_degree"] for r in rows) == 3 * n_docs
    for r in rows:
        assert 1 <= r["top_anchor_cnt"] <= r["in_degree"]
        assert r["n_anchors"] <= r["in_degree"]
    # recompute dominant anchor per target in pure python
    edges = {}
    for d in range(n_docs):
        for k in (1, 2, 3):
            dst = (d * 31 + k) % n_docs
            edges.setdefault(dst, []).append(f"a{(d + k) % 20}")
    for r in rows:
        anchors = edges[r["doc_id"]]
        counts = {a: anchors.count(a) for a in set(anchors)}
        best = min(
            (a for a in counts if counts[a] == max(counts.values()))
        )  # max count, min anchor string
        assert r["top_anchor"] == best, (r, counts)
        assert r["top_anchor_cnt"] == counts[best]


def test_anchor_agg_window_partitions_by_target(spark):
    """The dominant-anchor window must partition by dst — a global
    window here would funnel the whole link graph through one task."""
    plan = formatted_plan(q_anchor_agg(spark, SF))
    assert "Window" in plan
    assert re.search(r"Window.*\[dst", plan) or "partitionBy" not in plan, plan


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
# tf-idf top-k
# ---------------------------------------------------------------------------


def test_tfidf_topk_matches_pure_python(spark):
    rows = q_tfidf_topk(spark, SF).collect()
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    n = len(docs)
    # recompute df over the whole corpus
    df = {}
    tfs = {}
    for d, text in docs.items():
        counts = {}
        for w in text.split(" "):
            if w:
                counts[w] = counts.get(w, 0) + 1
        tfs[d] = counts
        for w in counts:
            df[w] = df.get(w, 0) + 1
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(docs)
    for d, rs in by_doc.items():
        scored = sorted(
            ((tf * ((1000 * n) // df[w]), w) for w, tf in tfs[d].items()),
            key=lambda x: (-x[0], x[1]),
        )[:_TFIDF_K]
        got = sorted(rs, key=lambda r: r["rk"])
        assert [(r["score"], r["term"]) for r in got] == scored
        for r in got:
            assert r["tf"] == tfs[d][r["term"]] and r["df"] == df[r["term"]]


def test_tfidf_topk_window_partitions_by_doc(spark):
    plan = formatted_plan(q_tfidf_topk(spark, SF))
    assert "Window" in plan
    import re as _re

    assert _re.search(r"row_number\(\).*partitionBy.*doc_id|Window.*\[doc_id", plan, _re.S), plan


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
# sequence packing
# ---------------------------------------------------------------------------


def _packed(spark):
    """token_pack_frame over the SF corpus, chars/4 tokens (floor 1)."""
    from pyspark.sql import functions as F

    from crawler_spark.queries import load
    from crawler_spark.queries_scale import token_pack_frame

    return token_pack_frame(
        load(spark, SF, "documents").select(
            "doc_id",
            "lang",
            F.greatest(F.expr("n_chars DIV 4"), F.lit(1)).cast("long").alias("tokens"),
        )
    )


# ---------------------------------------------------------------------------
# latency quantiles
# ---------------------------------------------------------------------------


def test_latency_quantiles_nearest_rank_exact(spark):
    from crawler_spark.queries_scale import q_latency_quantiles

    rows = {r["host"]: r for r in q_latency_quantiles(spark, SF).collect()}
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    by_host = {}
    for e in ev:
        by_host.setdefault(e["user_id"] % 50, []).append((e["event_id"] * 37) % 1000 + 1)
    assert set(rows) == set(by_host)
    for h, lats in by_host.items():
        lats.sort()
        n = len(lats)
        r = rows[h]
        assert r["n_fetches"] == n
        for q in (50, 95, 99):
            assert r[f"p{q}"] == lats[(n * q + 99) // 100 - 1], (h, q)
        assert r["p50"] <= r["p95"] <= r["p99"]


def test_latency_quantiles_window_partitions_by_host(spark):
    from crawler_spark.queries_scale import q_latency_quantiles

    plan = formatted_plan(q_latency_quantiles(spark, SF))
    assert re.search(r"Window.*\[host", plan, re.S), plan


# ---------------------------------------------------------------------------
# count-min sketch
# ---------------------------------------------------------------------------


def test_cms_never_underestimates_and_nails_the_hot_key(spark):
    from crawler_spark.queries_scale import q_cms_heavy_hitters

    rows = {r["key"]: r for r in q_cms_heavy_hitters(spark, SF).collect()}
    assert "k0" in rows
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    hot = rows["k0"]
    # planted: one hit per doc (j=1) plus background collisions
    assert hot["exact_cnt"] >= n_docs
    for r in rows.values():
        # the CMS structural guarantee
        assert r["cms_estimate"] >= r["exact_cnt"]
        assert r["over_milli"] == (1000 * (r["cms_estimate"] - r["exact_cnt"])) // r["exact_cnt"]
    # the heavy hitter dominates the background noise floor, so its
    # relative overestimate is small even at w=256
    assert hot["over_milli"] <= 300, hot
    # and it stands clear of every probed background key
    background = [r for k, r in rows.items() if k != "k0"]
    assert background
    assert all(hot["cms_estimate"] > r["cms_estimate"] * 5 for r in background)


def test_cms_sketch_is_bounded_before_shuffle(spark):
    """The sketch build must partial-aggregate map-side: at most d*w
    cells per partition cross the wire regardless of input size."""
    from crawler_spark.queries_scale import q_cms_heavy_hitters

    plan = formatted_plan(q_cms_heavy_hitters(spark, SF))
    assert "partial_count" in plan, plan


def test_cms_matches_pure_python_sketch(spark):
    import hashlib

    from crawler_spark.queries_scale import _CMS_D, _CMS_W, q_cms_heavy_hitters

    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    keys = []
    for d in range(n_docs):
        for j in range(1, 41):
            keys.append("k0" if j == 1 else f"k{(d * 7919 + j * 104729) % 997}")

    def cells(key):
        h = hashlib.md5(key.encode()).hexdigest()
        return [(r, int(h[1 + 4 * r : 5 + 4 * r], 16) % _CMS_W) for r in range(_CMS_D)]

    sketch = {}
    exact = {}
    for k in keys:
        exact[k] = exact.get(k, 0) + 1
        for cell in cells(k):
            sketch[cell] = sketch.get(cell, 0) + 1
    rows = {r["key"]: r for r in q_cms_heavy_hitters(spark, SF).collect()}
    for k, r in rows.items():
        assert r["exact_cnt"] == exact[k]
        assert r["cms_estimate"] == min(sketch[c] for c in cells(k))


def test_token_pack_stream_is_contiguous_and_chunk_math_exact(spark):
    from crawler_spark.queries_scale import _PACK_WINDOW

    rows = _packed(spark).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    assert len(rows) == len(docs)
    chars = {d["doc_id"]: d["n_chars"] for d in docs}
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r["doc_id"])
        # contiguous concatenation: each doc starts where the previous ended
        off = 0
        for r in rs:
            assert r["tokens"] == max(chars[r["doc_id"]] // 4, 1)
            assert r["offset"] == off
            off += r["tokens"]
            assert r["chunk_first"] == r["offset"] // _PACK_WINDOW
            assert r["chunk_last"] == (r["offset"] + r["tokens"] - 1) // _PACK_WINDOW
            assert r["crosses_boundary"] == (r["chunk_last"] > r["chunk_first"])
        # every window boundary inside the stream is crossed by exactly
        # the docs that straddle it: total crossings = windows touched
        # minus docs (each doc adds chunk_last-chunk_first extra windows)
        crossings = sum(r["chunk_last"] - r["chunk_first"] for r in rs)
        last = rs[-1]
        n_windows = last["chunk_last"] + 1
        total_tokens = sum(r["tokens"] for r in rs)
        assert n_windows == (total_tokens + _PACK_WINDOW - 1) // _PACK_WINDOW
        assert crossings <= n_windows - 1  # a boundary is crossed at most once


def test_token_pack_window_partitions_by_shard(spark):
    plan = formatted_plan(_packed(spark))
    assert re.search(r"Window.*\[lang", plan, re.S), plan


def test_shard_shuffle_is_a_seekable_permutation(spark):
    """Every doc lands in exactly one shard; per-shard pos is contiguous
    from 1; shard_offset is the running token prefix sum; and the
    mapping is reproducible (same salt -> same permutation)."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from crawler_spark.queries import load
    from crawler_spark.queries_scale import _SHARD_SHUF_N, shard_shuffle_frame

    def deal():
        toks = load(spark, SF, "documents").select(
            "doc_id",
            F.greatest(F.expr("n_chars DIV 4"), F.lit(1)).cast("long").alias("tokens"),
        )
        return shard_shuffle_frame(toks).collect()

    rows = deal()
    assert len({r["doc_id"] for r in rows}) == len(rows)
    by_shard = defaultdict(list)
    for r in rows:
        by_shard[r["shard_id"]].append(r)
    assert set(by_shard) <= set(range(_SHARD_SHUF_N))
    for rs in by_shard.values():
        rs.sort(key=lambda r: r["pos"])
        assert [r["pos"] for r in rs] == list(range(1, len(rs) + 1))
        off = 0
        for r in rs:
            assert r["shard_offset"] == off
            off += r["tokens"]
    again = {r["doc_id"]: (r["shard_id"], r["pos"]) for r in deal()}
    assert again == {r["doc_id"]: (r["shard_id"], r["pos"]) for r in rows}


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
# incremental crawl diff
# ---------------------------------------------------------------------------


def test_change_detect_statuses_match_replay(spark):
    """Every status appears, and each row's status equals a pure-Python
    replay of the two-round construction from the same parquet."""
    from crawler_spark.queries import load
    from crawler_spark.queries_scale import q_change_detect

    docs = {r["doc_id"]: r["text"] for r in load(spark, SF, "documents").collect()}
    expect = {}
    for d, text in docs.items():
        in_prev = d % 10 != 7
        in_cur = d % 10 != 3
        changed = d % 5 == 0
        if in_prev and not in_cur:
            expect[d] = "deleted"
        elif in_cur and not in_prev:
            expect[d] = "added"
        elif in_prev and in_cur:
            expect[d] = "changed" if changed else "unchanged"
    rows = {r["url_id"]: r for r in q_change_detect(spark, SF).collect()}
    assert set(rows) == set(expect)
    for d, r in rows.items():
        assert r["status"] == expect[d], (d, r["status"], expect[d])
    assert {r["status"] for r in rows.values()} == {
        "added",
        "deleted",
        "changed",
        "unchanged",
    }


def test_change_detect_is_one_join(spark):
    """Snapshot diff must be a single co-partitioned join — one
    SortMergeJoin/ShuffledHashJoin over the url key, nothing else."""
    from crawler_spark.queries_scale import q_change_detect

    plan = formatted_plan(q_change_detect(spark, SF))
    # count detail nodes only — the formatted output also repeats each
    # operator in the tree header
    joins = len(
        re.findall(r"\(\d+\)\s+(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan)
    )
    assert joins == 1, plan


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
# exact integer sqrt (the curation pipeline's domain-mix weights)
# ---------------------------------------------------------------------------


def test_isqrt_col_is_exact_integer_sqrt(spark):
    """The +/-1-corrected double sqrt must equal math.isqrt on perfect
    squares, their neighbours, and big values near the double-precision
    edge — the exactness the cross-engine hash depends on."""
    import math

    from pyspark.sql import functions as F
    from crawler_spark.queries_scale import _isqrt_col

    vals = [0, 1, 2, 3, 4, 8, 9, 10, 15, 16, 17, 24, 25, 26]
    vals += [k * k + d for k in (10**3, 10**6, 2**26 - 1) for d in (-1, 0, 1)]
    vals += [2**52 - 1, 10**15, 10**15 + 7]
    frame = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {
        r["v"]: r["s"]
        for r in frame.select("v", _isqrt_col("v").alias("s")).collect()
    }
    assert got == {v: math.isqrt(v) for v in vals}


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


