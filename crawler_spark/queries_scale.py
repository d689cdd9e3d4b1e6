"""Web-scale crawl-operations queries (engine-new surface, round 3).

Operators a production crawler/training-pipeline runs at 100 TB that
the reference (a sequential fetch loop, backend/tasks/config.py:29 caps one
URL in flight) has no analog for:

- crawl-trap detection: URL-shape heuristics (depth, repeated path
  segments, query-param explosion) that keep calendar/loop traps from
  eating the frontier;
- adaptive recrawl priority: Cho & Garcia-Molina-style change-rate
  estimation from fetch history -> staleness-weighted priority;
- rendezvous (HRW) host sharding: coordination-free assignment of hosts
  to fetcher shards with provably minimal movement when a shard is added;
- anchor-text aggregation: per-target in-degree + dominant anchor text,
  the classic indexing signal extracted from the link graph;
- connected components: hook/jump label propagation closing near-dup
  pairs into clusters (one survivor per cluster, not per pair);
- tf-idf top-k terms: the posting-list build + term weighting with an
  integer-surrogate idf;
- exact nearest-rank latency quantiles, a deterministic count-min
  sketch and the two-round crawl diff;
- HITS, host-graph collapse, sitemap coverage audit, registrable-domain
  extraction, ROLLUP crawl reports and BPE merge induction;
- the curation pipeline's exact-arithmetic helpers: largest-remainder
  apportionment (sum == budget, deterministic), integer sqrt, sequence
  packing and the training-shard deal.

Same determinism rules as queries.py: integer fixed-point only (no raw
doubles), md5 as the only cross-engine hash, every column aliased
identically on both sides.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries import _barrier, load

__all__ = ["SCALE_QUERIES", "SCALE_ORACLES"]


# ---------------------------------------------------------------------------
# crawl-trap detection
# ---------------------------------------------------------------------------

from .functions.traps import (  # shared with the scheduler's refuse_traps filter
    TRAP_MAX_DEPTH as _TRAP_MAX_DEPTH,
    TRAP_MAX_PARAMS as _TRAP_MAX_PARAMS,
    TRAP_MAX_REPEAT as _TRAP_MAX_REPEAT,
    max_segment_repeat,
    path_segments,
    trap_reason,
)


def q_trap_detect(spark: SparkSession, sf: str) -> DataFrame:
    """Crawl-trap detection over URL shape (engine-new: the reference
    fetches whatever it is given; at web scale, calendar pages and
    session-id loops generate unbounded URL spaces and the frontier must
    refuse them). Deterministic URLs synthesized from documents: depth
    1..14 path segments drawn from a 5-symbol alphabet (so deep paths
    repeat segments, the /a/b/a/b loop-trap signature) and 0..10 query
    params. First-failing-rule cascade like quality_filter:
    too_deep (>= 10 segments) -> repeated_segment (one segment >= 4
    times) -> param_explosion (>= 8 params) -> ok. The cascade is
    functions/traps.py::trap_reason — the same expression the scheduler
    applies when called with refuse_traps=True, so this oracle check
    covers the engine filter too.

    Scale shape: map-only — pure per-row array functions on the split
    path, no shuffle, no UDF; runs inside the same scan that feeds URL
    canonicalization."""
    docs = load(spark, sf, "documents")
    built = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://h"),
            (F.col("doc_id") % 50).cast("string"),
            F.lit(".example.org/"),
            F.array_join(
                F.expr(
                    "transform(sequence(0, CAST(doc_id % 14 AS INT)),"
                    " k -> concat('s', CAST((doc_id * (k + 3)) % 5 AS STRING)))"
                ),
                "/",
            ),
        ).alias("url"),
        (F.col("doc_id") % 11).cast("int").alias("n_params"),
    )
    # re-derive segments from the URL string itself (what a frontier
    # sees), not from the construction: ['https:', '', host, seg...]
    return built.select(
        "doc_id",
        "url",
        F.size(path_segments(F.col("url"))).cast("int").alias("depth"),
        max_segment_repeat(F.col("url")).cast("int").alias("max_repeat"),
        "n_params",
        F.coalesce(trap_reason(F.col("url"), n_params=F.col("n_params")), F.lit("ok")).alias(
            "reason"
        ),
    ).withColumn("is_trap", F.col("reason") != "ok")


_TRAP_SQL = f"""
WITH built AS (
  SELECT doc_id,
         'https://h' || CAST(doc_id % 50 AS VARCHAR) || '.example.org/' ||
         array_to_string(list_transform(range(0, CAST(doc_id % 14 AS INT) + 1),
                         k -> 's' || CAST((doc_id * (k + 3)) % 5 AS VARCHAR)),
                         '/') AS url,
         CAST(doc_id % 11 AS INT) AS n_params
  FROM documents
), shaped AS (
  SELECT doc_id, url, n_params,
         string_split(url, '/')[4:] AS segs
  FROM built
), scored AS (
  SELECT doc_id, url,
         CAST(len(segs) AS INT) AS depth,
         CAST(coalesce(list_max(list_transform(list_distinct(segs),
                       d -> len(list_filter(segs, s -> s = d)))), 0) AS INT) AS max_repeat,
         n_params
  FROM shaped
)
SELECT doc_id, url, depth, max_repeat, n_params,
       CASE WHEN depth >= {_TRAP_MAX_DEPTH} THEN 'too_deep'
            WHEN max_repeat >= {_TRAP_MAX_REPEAT} THEN 'repeated_segment'
            WHEN n_params >= {_TRAP_MAX_PARAMS} THEN 'param_explosion'
            ELSE 'ok' END AS reason,
       CASE WHEN depth >= {_TRAP_MAX_DEPTH} THEN TRUE
            WHEN max_repeat >= {_TRAP_MAX_REPEAT} THEN TRUE
            WHEN n_params >= {_TRAP_MAX_PARAMS} THEN TRUE
            ELSE FALSE END AS is_trap
FROM scored"""


# ---------------------------------------------------------------------------
# adaptive recrawl priority
# ---------------------------------------------------------------------------


def q_recrawl_priority(spark: SparkSession, sf: str) -> DataFrame:
    """Adaptive recrawl scheduling (Cho & Garcia-Molina, "Effective page
    refresh policies": refresh frequency proportional to observed change
    rate x staleness). The events table stands in for fetch history:
    page_id = user_id % 997, one row per past fetch, changed iff
    event_id % 3 = 0 (deterministic stand-in for a content-hash diff).
    change_rate_milli = 1000 * n_changed / n_fetches (integer),
    staleness_sec = now - last fetch (now = max ts over the table),
    priority = staleness_sec * change_rate_milli / 1000 — all integer
    fixed-point so the oracle hash-matches exactly.

    Scale shape: ONE groupBy(page_id) with map-side partial aggregation
    (count/sum/max all combine) + a broadcast single-row join for `now`;
    at 10^10 fetch records this is the canonical partial-agg shuffle,
    no skew key (page_id is near-uniform)."""
    ev = load(spark, sf, "events")
    hist = ev.select(
        (F.col("user_id") % 997).alias("page_id"),
        F.col("ts").cast("timestamp").cast("long").alias("ts_sec"),
        F.when(F.col("event_id") % 3 == 0, F.lit(1)).otherwise(F.lit(0)).alias("chg"),
    )
    agg = hist.groupBy("page_id").agg(
        F.count("*").alias("n_fetches"),
        F.sum("chg").cast("long").alias("n_changed"),
        F.max("ts_sec").alias("last_sec"),
    )
    now = hist.agg(F.max("ts_sec").alias("now_sec"))
    return (
        agg.crossJoin(F.broadcast(now))
        .withColumn("change_rate_milli", F.expr("(1000 * n_changed) DIV n_fetches"))
        .withColumn("staleness_sec", F.expr("now_sec - last_sec"))
        .select(
            "page_id",
            "n_fetches",
            "n_changed",
            "change_rate_milli",
            "staleness_sec",
            F.expr("(staleness_sec * change_rate_milli) DIV 1000").alias("priority"),
        )
    )


_RECRAWL_SQL = """
WITH hist AS (
  SELECT user_id % 997 AS page_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
         CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS chg
  FROM events
), agg AS (
  SELECT page_id, count(*) AS n_fetches, CAST(sum(chg) AS BIGINT) AS n_changed,
         max(ts_sec) AS last_sec
  FROM hist GROUP BY page_id
), now_row AS (SELECT max(ts_sec) AS now_sec FROM hist)
SELECT page_id, n_fetches, n_changed,
       (1000 * n_changed) // n_fetches AS change_rate_milli,
       now_sec - last_sec AS staleness_sec,
       ((now_sec - last_sec) * ((1000 * n_changed) // n_fetches)) // 1000 AS priority
FROM agg, now_row"""


# ---------------------------------------------------------------------------
# rendezvous (highest-random-weight) host sharding
# ---------------------------------------------------------------------------

_HRW_SHARDS = 8  # base shard count; the query also assigns at 9 to show movement


def q_host_shards(spark: SparkSession, sf: str) -> DataFrame:
    """Rendezvous/HRW sharding of hosts to fetcher shards (engine-new:
    the scale path for running MANY politeness schedulers — each host is
    owned by exactly one shard, chosen coordination-free as
    argmax_w md5(host || '#' || w)). The query assigns every host at
    W=8 and W=9 shards; HRW's minimal-movement property means a host
    may move ONLY to the newly added shard 8, which the pytest asserts
    and the `moved` column exposes (expected fraction ~1/9).

    Scale shape: hosts x W is a map-side explode (W is a constant), one
    groupBy(host) max — no join, no skew; at 10^8 hosts this is a single
    partial-agg shuffle."""
    docs = load(spark, sf, "documents")
    hosts = docs.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 50).cast("string"), F.lit(".example.org")).alias(
            "host"
        )
    ).distinct()
    w = _HRW_SHARDS
    weighted = hosts.select(
        "host",
        F.explode(F.expr(f"sequence(0, {w})")).alias("shard"),
    ).withColumn("weight", F.md5(F.concat_ws("#", "host", "shard")))
    agg = weighted.groupBy("host").agg(
        F.max(
            F.struct(
                F.when(F.col("shard") < w, F.col("weight")).otherwise(F.lit("")).alias("wt"),
                F.col("shard").cast("int").alias("s"),
            )
        )["s"].alias("shard8"),
        F.max(F.struct(F.col("weight").alias("wt"), F.col("shard").cast("int").alias("s")))[
            "s"
        ].alias("shard9"),
    )
    return agg.select("host", "shard8", "shard9", (F.col("shard8") != F.col("shard9")).alias("moved"))


_HRW_SQL = f"""
WITH hosts AS (
  SELECT DISTINCT 'h' || CAST(doc_id % 50 AS VARCHAR) || '.example.org' AS host
  FROM documents
), weighted AS (
  SELECT host, shard, md5(host || '#' || CAST(shard AS VARCHAR)) AS weight
  FROM hosts, (SELECT unnest(generate_series(0, {_HRW_SHARDS})) AS shard) ws
), agg AS (
  SELECT host,
         CAST(arg_max(shard, CASE WHEN shard < {_HRW_SHARDS} THEN weight ELSE '' END) AS INT) AS shard8,
         CAST(arg_max(shard, weight) AS INT) AS shard9
  FROM weighted GROUP BY host
)
SELECT host, shard8, shard9, shard8 <> shard9 AS moved FROM agg"""


# ---------------------------------------------------------------------------
# anchor-text aggregation
# ---------------------------------------------------------------------------

_ANCHOR_OUT_DEG = 3


def q_anchor_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Anchor-text aggregation over the link graph (the classic indexing
    signal: what do OTHER pages call this page?). Deterministic edge set
    shared with q_link_rank (dst = (src*31+k) % n, k=1..3) carrying an
    anchor label 'a'||((src+k)%20). Per target: in-degree, distinct
    anchor count, and the DOMINANT anchor (highest count, ties broken by
    anchor string — deterministic).

    Scale shape: one groupBy(dst, anchor) with map-side combine collapses
    the edge list to at most 20 rows per target BEFORE the per-target
    window; the window then partitions by dst (no global sort). The
    (dst, anchor) aggregate is persisted once and feeds both the window
    and the per-target rollup."""
    docs = load(spark, sf, "documents")
    n = docs.count()
    edges = docs.select(
        F.col("doc_id").alias("src"),
        F.explode(
            F.expr(
                f"transform(sequence(1, {_ANCHOR_OUT_DEG}),"
                f" k -> named_struct('dst', CAST((doc_id * 31 + k) % {n} AS BIGINT),"
                f" 'anchor', concat('a', CAST((doc_id + k) % 20 AS STRING))))"
            )
        ).alias("e"),
    ).select(F.col("e.dst").alias("dst"), F.col("e.anchor").alias("anchor"))
    per_anchor = _barrier(edges.groupBy("dst", "anchor").agg(F.count("*").alias("cnt")))
    win = Window.partitionBy("dst").orderBy(F.desc("cnt"), F.asc("anchor"))
    top = (
        per_anchor.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") == 1)
        .select("dst", F.col("anchor").alias("top_anchor"), F.col("cnt").alias("top_anchor_cnt"))
    )
    roll = per_anchor.groupBy("dst").agg(
        F.sum("cnt").alias("in_degree"), F.count("*").alias("n_anchors")
    )
    return roll.join(top, "dst").select(
        F.col("dst").alias("doc_id"), "in_degree", "n_anchors", "top_anchor", "top_anchor_cnt"
    )


_ANCHOR_SQL = f"""
WITH n_docs AS (SELECT count(*) AS n FROM documents),
edges AS (
  SELECT (doc_id * 31 + k) % (SELECT n FROM n_docs) AS dst,
         'a' || CAST((doc_id + k) % 20 AS VARCHAR) AS anchor
  FROM documents, (SELECT unnest([1, 2, 3]) AS k) ks
), per_anchor AS (
  SELECT dst, anchor, count(*) AS cnt FROM edges GROUP BY dst, anchor
), top AS (
  SELECT dst, anchor AS top_anchor, cnt AS top_anchor_cnt,
         row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, anchor ASC) AS rk
  FROM per_anchor QUALIFY rk = 1
), roll AS (
  SELECT dst, CAST(sum(cnt) AS BIGINT) AS in_degree, count(*) AS n_anchors
  FROM per_anchor GROUP BY dst
)
SELECT roll.dst AS doc_id, in_degree, n_anchors, top_anchor, top_anchor_cnt
FROM roll JOIN top ON roll.dst = top.dst"""


# ---------------------------------------------------------------------------
# connected components over the near-dup pair graph
# ---------------------------------------------------------------------------

# hook propagates labels one hop along edges; jump contracts pointer
# chains (lab <- lab(lab)). The alternating schedule converges in
# O(log diameter) rounds instead of hook-only's O(diameter) — the fixture
# graph's worst vertex sits 7 hops from its component minimum and needs
# the full 7-stage schedule (simulated: stages 1-6 leave 31 labels
# unconverged, stage 7 closes them); the pytest asserts stage 7 is a
# fixpoint by running one extra hook.
_CC_STAGES = ("hook", "jump", "hook", "jump", "hook", "jump", "hook")


def _label_propagate(ids: DataFrame, edges: DataFrame, stages=None) -> DataFrame:
    """Run the alternating hook/jump schedule over ``ids`` (column v) and
    directed ``edges`` (columns s, d — pass both directions for an
    undirected graph). Returns (v, lab) with lab = component minimum
    once the schedule covers the component diameter. Labels are vertex
    ids throughout, so the jump self-join always hits. The edge table
    and each jump input are localCheckpointed, not persisted: a persist
    barrier pins the DATA but leaves the logical plan growing (each jump
    references its input twice, doubling the tree per stage — the
    analyzer/optimizer cost then dominates a 7-stage schedule), while
    localCheckpoint truncates lineage so every stage plans against a
    leaf. Measured at sf0.1: 7.0 s (persist) -> 2.2 s (checkpoint) for
    the identical result. Production on a real cluster would use
    checkpoint() to reliable storage for fault tolerance; local mode has
    no executor loss to survive. ``stages`` resolves against the module
    global at CALL time (a def-time default would freeze the schedule
    and silently defeat the fixpoint test's extra-stage override)."""
    if stages is None:
        stages = _CC_STAGES
    edges = edges.localCheckpoint()
    lab = ids.select("v", F.col("v").alias("lab"))
    for stage in stages:
        if stage == "hook":
            nbr = (
                edges.join(lab, edges.s == lab.v)
                .select(F.col("d").alias("v"), "lab")
                .groupBy("v")
                .agg(F.min("lab").alias("mn"))
            )
            lab = lab.join(nbr, "v", "left").select(
                "v", F.least("lab", F.coalesce("mn", "lab")).alias("lab")
            )
        else:  # jump: lab <- lab(lab)
            lab = lab.localCheckpoint()
            other = lab.select(F.col("v").alias("lv"), F.col("lab").alias("llab"))
            lab = lab.join(other, lab.lab == other.lv).select("v", F.col("llab").alias("lab"))
    return lab


def _cc_unroll_sql(verts_cte: str, edges_cte: str, stages=None) -> str:
    """CTE text for the hook/jump schedule: l0 from ``verts_cte`` (col v),
    hooks join ``edges_cte`` (cols s, d). Final labels are in l<len>.
    Every stage CTE is MATERIALIZED: DuckDB inlines plain CTEs at each
    reference, and hooks reference l{i} twice / jumps self-join it — so
    inlining doubles the upstream tree PER STAGE, which is exponential
    when the vertex/edge CTEs are themselves expensive (the dedup_clusters
    oracle went from minutes to sub-second with materialization; the
    Spark twin needs the same treatment via localCheckpoint)."""
    if stages is None:
        stages = _CC_STAGES
    parts = [f"l0 AS MATERIALIZED (SELECT v, v AS lab FROM {verts_cte}),"]
    for i, stage in enumerate(stages):
        if stage == "hook":
            parts.append(
                f"l{i + 1} AS MATERIALIZED (SELECT l.v, least(l.lab, coalesce(m.mn, l.lab)) AS lab"
                f" FROM l{i} l LEFT JOIN (SELECT e.d AS v, min(x.lab) AS mn"
                f" FROM {edges_cte} e JOIN l{i} x ON x.v = e.s GROUP BY e.d) m ON m.v = l.v),"
            )
        else:
            parts.append(
                f"l{i + 1} AS MATERIALIZED (SELECT a.v, b.lab FROM l{i} a JOIN l{i} b ON b.v = a.lab),"
            )
    return "\n".join(parts)


# ---------------------------------------------------------------------------
# dedup cluster closure (LSH pairs -> connected components -> representatives)
# ---------------------------------------------------------------------------


def q_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """The full dedup endgame: LSH-verified near-dup PAIRS closed into
    CLUSTERS, one representative per cluster — the step pairwise keep-min
    (q_dedup_minhash_lsh) cannot do alone: a~b, b~c with a!~c keeps both
    a and c unless the pairs are transitively closed. Reuses the exact
    candidate pipeline of dedup_minhash_lsh (queries.py::
    _minhash_rep_pairs — band join, hot-bucket guard, exact Jaccard
    verify at >= 0.5) and runs the hook/jump label propagation over the
    verified rep-level edges; members inherit their representative's
    component. Identical-text groups whose text yields no shingle can't
    be connected by the pair pipeline (the same >= 1-shingle gate as
    dedup_minhash_lsh's self_edges), so such docs stay singletons.
    Output: (doc_id, cluster_rep = min doc id of the cluster,
    cluster_size) for every corpus doc — singletons included, so the
    downstream keep-filter is just cluster_rep == doc_id.

    Scale shape: everything the LSH query already proves, plus CC over
    the PAIR graph only (edges = verified candidates, orders of
    magnitude smaller than the corpus), with O(log diameter) stages."""
    from .queries import _LSH_JAC_MIN, _lsh_corpus, _minhash_rep_pairs

    docs = _lsh_corpus(load(spark, sf, "documents"))
    members, groups, sizes, scored = _minhash_rep_pairs(docs)
    ok = scored.filter(F.col("jac_milli") >= _LSH_JAC_MIN)
    verts = groups.select(F.col("rep_id").alias("v"))
    edges = ok.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("d")).unionByName(
        ok.select(F.col("doc_b").alias("s"), F.col("doc_a").alias("d"))
    )
    # Truncate lineage BEFORE the propagation loop: each jump stage
    # references its input twice, doubling the LOGICAL plan per stage —
    # harmless over a parquet scan but catastrophic over the full LSH
    # pipeline (the optimizer re-traverses a 2^stages copy of the
    # band-join tree and OOMs before a single task runs).
    # localCheckpoint materializes the tiny vertex/edge tables once and
    # gives the CC stages a leaf to build on; production would write the
    # pair table to the state store between the two phases anyway.
    verts = verts.localCheckpoint()
    edges = edges.localCheckpoint()
    lab = _barrier(_label_propagate(verts, edges))
    sized_reps = sizes.select(F.col("doc_id").alias("rep_id"))
    with_sh = members.join(sized_reps, "rep_id", "left_semi")
    no_sh = members.join(sized_reps, "rep_id", "left_anti")
    doc_lab = _barrier(
        with_sh.join(lab, with_sh.rep_id == lab.v)
        .select("doc_id", F.col("lab").alias("cluster_rep"))
        .unionByName(no_sh.select("doc_id", F.col("doc_id").alias("cluster_rep")))
    )
    csize = doc_lab.groupBy("cluster_rep").agg(F.count("*").cast("long").alias("cluster_size"))
    return doc_lab.join(csize, "cluster_rep").select("doc_id", "cluster_rep", "cluster_size")


def _dedup_clusters_sql() -> str:
    """Doc-level twin of the Spark rep-level pipeline: the full-corpus
    pair CTEs of the dedup_minhash_lsh oracle, the same hook/jump unroll
    over docs with >= 1 shingle, singletons coalesced to themselves.
    Rep-level and doc-level connectivity agree because identical texts
    share band keys and verify at Jaccard 1000."""
    from .queries import _LSH_JAC_MIN, _LSH_OFFSET, _MINHASH_COLS_DUCK, _SHINGLES_DUCK

    k = len(_CC_STAGES)
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_LSH_OFFSET}, text || ' zz' FROM documents WHERE doc_id % 10 = 0
),
mh AS (
  SELECT doc_id, {_MINHASH_COLS_DUCK}
  FROM corpus WHERE len(string_split(text, ' ')) >= 3
),
bands AS (
  SELECT doc_id, 0 AS band_idx, md5(mh0 || mh1) AS band_key FROM mh
  UNION ALL
  SELECT doc_id, 1 AS band_idx, md5(mh2 || mh3) AS band_key FROM mh
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sh AS MATERIALIZED (SELECT DISTINCT doc_id, unnest({_SHINGLES_DUCK}) AS s FROM corpus),
sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, count(*) AS inter_cnt
  FROM cand p
  JOIN sh sa ON sa.doc_id = p.doc_a
  JOIN sh sb ON sb.doc_id = p.doc_b AND sb.s = sa.s
  GROUP BY 1, 2
),
ok AS MATERIALIZED (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes x ON x.doc_id = i.doc_a
  JOIN sizes y ON y.doc_id = i.doc_b
  WHERE CAST(floor(1000.0 * i.inter_cnt / (x.n_sh + y.n_sh - i.inter_cnt)) AS BIGINT)
        >= {_LSH_JAC_MIN}
),
verts AS MATERIALIZED (SELECT doc_id AS v FROM sizes),
edges AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM ok UNION ALL SELECT doc_b, doc_a FROM ok),
{_cc_unroll_sql("verts", "edges")}
doc_lab AS (
  SELECT c.doc_id, coalesce(l.lab, c.doc_id) AS cluster_rep
  FROM corpus c LEFT JOIN l{k} l ON l.v = c.doc_id
),
csize AS (SELECT cluster_rep, CAST(count(*) AS BIGINT) AS cluster_size
          FROM doc_lab GROUP BY cluster_rep)
SELECT doc_id, doc_lab.cluster_rep AS cluster_rep, cluster_size
FROM doc_lab JOIN csize ON doc_lab.cluster_rep = csize.cluster_rep"""


# ---------------------------------------------------------------------------
# tf-idf indexing signal (integer-surrogate idf)
# ---------------------------------------------------------------------------

_TFIDF_K = 3


def q_tfidf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Top-k terms per document by tf-idf (the posting-list build + term
    weighting a search index runs over the crawl corpus). idf uses the
    integer surrogate (1000 * N) DIV df instead of a float log — same
    ordering for fixed N, and integer fixed-point is the repo-wide rule
    that makes the DuckDB oracle hash-match bit-for-bit (a float ln()
    could differ in the last ulp between engines).

    Scale shape: tokenize is map-only explode; tf is groupBy(doc, term)
    with map-side combine (the classic indexing shuffle, key cardinality
    = corpus postings); df aggregates the tf table by term (vocab-sized,
    Zipf-skewed but combine-heavy); the df join back is hash on term
    (broadcastable when the vocab fits); top-k per doc is a window
    partitioned BY DOCUMENT — never a global sort."""
    docs = load(spark, sf, "documents")
    n = docs.count()
    words = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = _barrier(
        words.groupBy("doc_id", "term").agg(F.count("*").cast("long").alias("tf"))
    )
    df_tbl = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    scored = tf.join(df_tbl, "term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        (F.col("tf") * F.expr(f"(1000 * {n}) DIV df")).cast("long").alias("score"),
    )
    win = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= _TFIDF_K)
        .select("doc_id", "term", "tf", "df", "score", F.col("rk").cast("int").alias("rk"))
    )


_TFIDF_SQL = f"""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM words WHERE term <> '' GROUP BY doc_id, term
), df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
), scored AS (
  SELECT t.doc_id, t.term, t.tf, df.df,
         CAST(t.tf * ((1000 * (SELECT count(*) FROM documents)) // df.df) AS BIGINT) AS score
  FROM tf t JOIN df ON t.term = df.term
), ranked AS (
  SELECT doc_id, term, tf, df, score,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS INT) AS rk
  FROM scored
)
SELECT doc_id, term, tf, df, score, rk FROM ranked WHERE rk <= {_TFIDF_K}"""


# ---------------------------------------------------------------------------
# largest-remainder apportionment and exact integer sqrt (the curation
# pipeline's domain-mix quotas)
# ---------------------------------------------------------------------------


def _largest_remainder(df: DataFrame, weight_col: str, tie_col: str, budget: int) -> DataFrame:
    """Hamilton (largest-remainder) apportionment of ``budget`` across
    the rows of ``df``: floor shares first, then one extra unit to the
    rows with the largest remainders (ties broken by ``tie_col``, so the
    result is deterministic). Adds columns _lr_base, _lr_rem, _lr_quota;
    sum(_lr_quota) == budget exactly.

    Scale shape: the totals/leftover side tables are single rows
    (broadcast), and the remainder rank sorts only the df rows
    themselves (domains, not corpus)."""
    totals = df.agg(F.sum(weight_col).alias("_lr_total"))
    based = _barrier(
        df.crossJoin(F.broadcast(totals))
        .withColumn("_lr_base", F.expr(f"({budget} * {weight_col}) DIV _lr_total"))
        .withColumn("_lr_rem", F.expr(f"({budget} * {weight_col}) % _lr_total"))
    )
    leftover = based.agg((F.lit(budget) - F.sum("_lr_base")).alias("_lr_leftover"))
    win = Window.orderBy(F.desc("_lr_rem"), F.asc(tie_col))
    return (
        based.crossJoin(F.broadcast(leftover))
        .withColumn("_lr_rk", F.row_number().over(win))
        .withColumn(
            "_lr_quota",
            (
                F.col("_lr_base")
                + F.when(F.col("_lr_rk") <= F.col("_lr_leftover"), 1).otherwise(0)
            ).cast("long"),
        )
        .drop("_lr_total", "_lr_rk", "_lr_leftover")
    )


def _isqrt_col(c: str):
    """Exact integer sqrt of a non-negative BIGINT column, cross-engine:
    floor of the double sqrt, then a +/-1 correction against the exact
    integer squares. Double sqrt is within 1 ulp below 2^52, so the
    correction makes Spark and DuckDB agree bit-for-bit even where their
    float rounding differs."""
    s0 = F.expr(f"CAST(floor(sqrt(CAST({c} AS DOUBLE))) AS BIGINT)")
    return (
        s0
        + F.when((s0 + 1) * (s0 + 1) <= F.col(c), 1).otherwise(0)
        - F.when(s0 * s0 > F.col(c), 1).otherwise(0)
    ).cast("long")


# ---------------------------------------------------------------------------
# crawl report rollup (grouping sets)
# ---------------------------------------------------------------------------


def q_crawl_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Hierarchical crawl report via ROLLUP(lang, source): per-(lang,
    source) doc counts and byte totals, plus per-lang and grand-total
    superaggregates in ONE pass — the nightly ops report a 100 TB crawl
    emits per language/feed. grouping_id() disambiguates real NULLs from
    rollup rows (both engines use Postgres bit order: first rollup column
    = MSB).

    Scale shape: rollup plans as a single Expand (3 rows per input row
    for a 2-level rollup) feeding one hash aggregate with map-side
    combine — one shuffle keyed on the grouping-set id + keys, never one
    job per level."""
    docs = load(spark, sf, "documents")
    return (
        docs.rollup("lang", "source")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .select("lang", "source", "gid", "n_docs", "total_chars")
    )


_ROLLUP_SQL = """
SELECT lang, source,
       CAST(grouping(lang, source) AS BIGINT) AS gid,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY ROLLUP(lang, source)"""


# ---------------------------------------------------------------------------
# exact fetch-latency quantiles (nearest-rank)
# ---------------------------------------------------------------------------

_QUANTILES = (50, 95, 99)


def q_latency_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Per-host fetch-latency p50/p95/p99 by the NEAREST-RANK method
    (value at row ceil(q*n/100) of the sorted sample) — exact and
    integer, so the oracle hash-matches; percentile_approx or
    interpolated percentile would be engine-dependent. Latency fixture:
    (event_id * 37) % 1000 + 1 ms, host = user_id % 50.

    Scale shape: one window partitioned BY HOST (rank within host, never
    a global sort) + one conditional aggregation per host. The rank
    arithmetic needs only n per host, which rides the same window
    (count over the partition) — a single shuffle on host total. At
    10^10 fetch records per day production would swap the exact window
    for a t-digest; this operator is the exact-verification twin."""
    ev = load(spark, sf, "events")
    lat = ev.select(
        (F.col("user_id") % 50).alias("host"),
        ((F.col("event_id") * 37) % 1000 + 1).alias("latency_ms"),
        "event_id",
    )
    w = Window.partitionBy("host").orderBy("latency_ms", "event_id")
    ranked = lat.select(
        "host",
        "latency_ms",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("host")).alias("n"),
    )
    # nearest-rank with integer ceil: rn == (n*q + 99) DIV 100
    aggs = [F.count("*").cast("long").alias("n_fetches")] + [
        F.max(F.when(F.expr(f"rn = (n * {q} + 99) DIV 100"), F.col("latency_ms"))).alias(f"p{q}")
        for q in _QUANTILES
    ]
    return ranked.groupBy("host").agg(*aggs)


_QUANTILE_SQL = f"""
WITH lat AS (
  SELECT user_id % 50 AS host, (event_id * 37) % 1000 + 1 AS latency_ms, event_id
  FROM events
), ranked AS (
  SELECT host, latency_ms,
         row_number() OVER (PARTITION BY host ORDER BY latency_ms, event_id) AS rn,
         count(*) OVER (PARTITION BY host) AS n
  FROM lat
)
SELECT host, CAST(count(*) AS BIGINT) AS n_fetches,
       {", ".join(f"max(CASE WHEN rn = (n * {q} + 99) // 100 THEN latency_ms END) AS p{q}" for q in _QUANTILES)}
FROM ranked GROUP BY host"""


# ---------------------------------------------------------------------------
# deterministic count-min sketch (heavy hitters)
# ---------------------------------------------------------------------------

_CMS_D = 4  # hash rows
_CMS_W = 256  # counters per row


def q_cms_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Heavy-hitter host detection via a DETERMINISTIC count-min sketch
    (Cormode & Muthukrishnan 2005) — the fixed-size summary a 100 TB
    frontier uses to spot hot hosts without a full groupBy of the raw
    URL stream. d=4 hash rows x w=256 counters; row hashes are
    independent md5 slices (hex chars [1+4r, 4+4r) of md5(key), mod w),
    so the DuckDB oracle reproduces every counter bit-for-bit and even
    the APPROXIMATE estimates hash-match. Keys: 40 URLs per document
    spread over 997 hosts, plus a planted hot host (key 'k0') hit once
    per document — ~25x the background rate. Output per probed key:
    exact count, CMS estimate (min over the d rows), and the
    overestimate in milli — CMS never underestimates (pinned in pytest)
    and the planted heavy hitter's estimate is near-exact.

    Scale shape: the sketch build is groupBy(row, bucket) with map-side
    combine — at most d*w = 1024 rows cross the wire regardless of input
    size; probes join the d*w table broadcast-style. The exact counts
    alongside are the small-scale cross-check only."""
    docs = load(spark, sf, "documents")
    keys = docs.select(
        F.explode(F.expr("sequence(1, 40)")).alias("j"), "doc_id"
    ).select(
        F.concat(
            F.lit("k"),
            F.when(F.col("j") == 1, F.lit(0)).otherwise(
                (F.col("doc_id") * 7919 + F.col("j") * 104729) % 997
            ).cast("string"),
        ).alias("key")
    )
    rows_exp = keys.select(
        "key", F.explode(F.expr(f"sequence(0, {_CMS_D - 1})")).alias("r")
    ).select(
        "key",
        "r",
        (
            F.conv(F.expr("substring(md5(key), 2 + 4 * r, 4)"), 16, 10).cast("long")
            % _CMS_W
        ).alias("bucket"),
    )
    sketch = _barrier(
        rows_exp.groupBy("r", "bucket").agg(F.count("*").cast("long").alias("cnt"))
    )
    exact = keys.groupBy("key").agg(F.count("*").cast("long").alias("exact_cnt"))
    # probe the planted hot key plus a deterministic background slice
    probes = exact.filter(
        (F.col("key") == "k0") | (F.expr("CAST(substring(key, 2, 10) AS BIGINT) % 25 = 1"))
    )
    probe_cells = probes.select(
        "key",
        "exact_cnt",
        F.explode(F.expr(f"sequence(0, {_CMS_D - 1})")).alias("r"),
    ).select(
        "key",
        "exact_cnt",
        "r",
        (
            F.conv(F.expr("substring(md5(key), 2 + 4 * r, 4)"), 16, 10).cast("long")
            % _CMS_W
        ).alias("bucket"),
    )
    est = (
        probe_cells.join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("key", "exact_cnt")
        .agg(F.min("cnt").alias("cms_estimate"))
    )
    return est.select(
        "key",
        "exact_cnt",
        "cms_estimate",
        F.expr("(1000 * (cms_estimate - exact_cnt)) DIV exact_cnt").alias("over_milli"),
    )


_CMS_SQL = f"""
WITH keys AS (
  SELECT 'k' || CAST(CASE WHEN j = 1 THEN 0
                          ELSE (doc_id * 7919 + j * 104729) % 997 END AS VARCHAR) AS key
  FROM documents, (SELECT unnest(generate_series(1, 40)) AS j) js
), cells AS (
  SELECT key, r,
         CAST(concat('0x', substring(md5(key), 2 + 4 * r, 4)) AS BIGINT) % {_CMS_W} AS bucket
  FROM keys, (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS r) rs
), sketch AS (
  SELECT r, bucket, CAST(count(*) AS BIGINT) AS cnt FROM cells GROUP BY r, bucket
), exact AS (
  SELECT key, CAST(count(*) AS BIGINT) AS exact_cnt FROM keys GROUP BY key
), probes AS (
  SELECT key, exact_cnt FROM exact
  WHERE key = 'k0' OR CAST(substring(key, 2, 10) AS BIGINT) % 25 = 1
), probe_cells AS (
  SELECT key, exact_cnt, r,
         CAST(concat('0x', substring(md5(key), 2 + 4 * r, 4)) AS BIGINT) % {_CMS_W} AS bucket
  FROM probes, (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS r) rs
), est AS (
  SELECT key, exact_cnt, min(cnt) AS cms_estimate
  FROM probe_cells JOIN sketch USING (r, bucket)
  GROUP BY key, exact_cnt
)
SELECT key, exact_cnt, cms_estimate,
       (1000 * (cms_estimate - exact_cnt)) // exact_cnt AS over_milli
FROM est"""


# ---------------------------------------------------------------------------
# training-sequence packing (concatenate-and-chunk)
# ---------------------------------------------------------------------------

_PACK_WINDOW = 512  # context-window length in tokens


def token_pack_frame(toks: DataFrame) -> DataFrame:
    """GPT-style sequence packing over a (doc_id, lang, tokens) frame:
    documents are concatenated in doc_id order per language shard and
    cut into _PACK_WINDOW-token context windows. Per document: its
    stream offset, the first/last window it lands in, and whether it
    crosses a window boundary. pipeline.curate_corpus chains it after
    the mix.

    Scale shape: the prefix sum is a window partitioned BY SHARD with an
    explicit rows frame — never a global single-task cumsum; everything
    else is map-only integer arithmetic."""
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    L = _PACK_WINDOW
    return (
        toks.withColumn("offset", F.sum("tokens").over(w) - F.col("tokens"))
        .withColumn("chunk_first", F.expr(f"offset DIV {L}"))
        .withColumn("chunk_last", F.expr(f"(offset + tokens - 1) DIV {L}"))
        .select(
            "doc_id",
            "lang",
            "tokens",
            "offset",
            "chunk_first",
            "chunk_last",
            (F.col("chunk_last") > F.col("chunk_first")).alias("crosses_boundary"),
        )
    )


# ---------------------------------------------------------------------------
# registrable-domain extraction (public-suffix longest match)
# ---------------------------------------------------------------------------

# PSL-lite: a fixed slice of the public suffix list (publicsuffix.org)
# sufficient for the fixture's host shapes. Multi-label entries are the
# point — naive "last two labels" grouping would fuse every *.co.uk site
# into one politeness bucket. github.io models the private-section
# entries where each user subdomain is its own registrable domain.
_PUBLIC_SUFFIXES = (
    "com", "org", "net", "io", "uk", "co.uk", "org.uk", "ac.uk",
    "au", "com.au", "jp", "co.jp", "github.io",
)
_SUFFIX_MAX_LABELS = 3


def q_registrable_domain(spark: SparkSession, sf: str) -> DataFrame:
    """Registrable-domain (eTLD+1) extraction by longest public-suffix
    match — what politeness quotas, robots caching, and per-site budgets
    key on at web scale: 'a.b.site.co.uk' must group with
    'site.co.uk', NOT with every other *.co.uk host, and each
    '<user>.github.io' is its own site. Deterministic host fixture
    cycling six shapes (plain com/org, co.uk with subdomains, github.io,
    com.au, ac.uk). Longest-match semantics with the PSL default rule as
    fallback (unknown TLD: the last label is the suffix). Pure JVM array
    expressions; the candidate suffixes per host are at most
    _SUFFIX_MAX_LABELS rows.

    Scale shape: candidate explode is map-side (<= 3 rows per host), the
    suffix set is a broadcast join (the real PSL is ~9k rules — always
    broadcastable), and the longest-match pick is one groupBy(host) max
    with map-side combine."""
    docs = load(spark, sf, "documents")
    hosts = docs.select(
        F.expr(
            "CASE CAST(doc_id % 6 AS INT)"
            " WHEN 0 THEN concat('w', doc_id, '.example.com')"
            " WHEN 1 THEN concat('sub.w', doc_id, '.example.co.uk')"
            " WHEN 2 THEN concat('w', doc_id, '.github.io')"
            " WHEN 3 THEN concat('a.b.w', doc_id, '.com.au')"
            " WHEN 4 THEN concat('w', doc_id, '.org')"
            " ELSE concat('deep.x.w', doc_id, '.ac.uk') END"
        ).alias("host")
    ).distinct()
    suffixes = spark.createDataFrame(
        [(s, len(s.split("."))) for s in _PUBLIC_SUFFIXES], "suffix string, k int"
    )
    labels = F.split(F.col("host"), "[.]")
    cands = hosts.select(
        "host",
        F.size(labels).alias("n_labels"),
        F.explode(
            F.transform(
                # a host that IS a public suffix has no registrable domain,
                # and the k filter must run BEFORE slice (start 0 errors)
                F.filter(
                    F.sequence(F.lit(1), F.lit(_SUFFIX_MAX_LABELS)),
                    lambda k: k < F.size(labels),
                ),
                lambda k: F.struct(
                    k.alias("k"),
                    F.array_join(F.slice(labels, F.size(labels) - k + 1, k), ".").alias(
                        "cand"
                    ),
                ),
            )
        ).alias("c"),
    ).select("host", "n_labels", F.col("c.k").alias("k"), F.col("c.cand").alias("cand"))
    matched = (
        cands.join(F.broadcast(suffixes), cands.cand == suffixes.suffix)
        .groupBy("host")
        .agg(F.max(cands.k).alias("best_k"))
    )
    # PSL default rule: unknown TLD -> last label is the suffix
    base = hosts.select("host", F.size(labels).alias("n_labels"))
    with_k = base.join(matched.select("host", "best_k"), "host", "left").withColumn(
        "suf_k", F.coalesce("best_k", F.lit(1)).cast("int")
    )
    lb = F.split(F.col("host"), "[.]")
    return with_k.select(
        "host",
        F.col("n_labels").cast("int").alias("n_labels"),
        F.array_join(F.slice(lb, F.size(lb) - F.col("suf_k") + 1, F.col("suf_k")), ".").alias(
            "public_suffix"
        ),
        F.array_join(F.slice(lb, F.size(lb) - F.col("suf_k"), F.col("suf_k") + 1), ".").alias(
            "registrable"
        ),
    )


def _registrable_sql() -> str:
    suffix_rows = ", ".join(
        f"('{s}', {len(s.split('.'))})" for s in _PUBLIC_SUFFIXES
    )
    return f"""
WITH hosts AS (
  SELECT DISTINCT CASE CAST(doc_id % 6 AS INT)
    WHEN 0 THEN 'w' || CAST(doc_id AS VARCHAR) || '.example.com'
    WHEN 1 THEN 'sub.w' || CAST(doc_id AS VARCHAR) || '.example.co.uk'
    WHEN 2 THEN 'w' || CAST(doc_id AS VARCHAR) || '.github.io'
    WHEN 3 THEN 'a.b.w' || CAST(doc_id AS VARCHAR) || '.com.au'
    WHEN 4 THEN 'w' || CAST(doc_id AS VARCHAR) || '.org'
    ELSE 'deep.x.w' || CAST(doc_id AS VARCHAR) || '.ac.uk' END AS host
  FROM documents
), suffixes(suffix, k) AS (VALUES {suffix_rows}),
cands AS (
  SELECT host, len(string_split(host, '.')) AS n_labels, ks.k,
         array_to_string(string_split(host, '.')[len(string_split(host, '.')) - ks.k + 1:], '.') AS cand
  FROM hosts, (SELECT unnest(generate_series(1, {_SUFFIX_MAX_LABELS})) AS k) ks
  WHERE ks.k < len(string_split(host, '.'))
), matched AS (
  SELECT host, CAST(max(c.k) AS INT) AS best_k
  FROM cands c JOIN suffixes s ON c.cand = s.suffix
  GROUP BY host
), with_k AS (
  SELECT h.host, CAST(len(string_split(h.host, '.')) AS INT) AS n_labels,
         CAST(coalesce(m.best_k, 1) AS INT) AS suf_k
  FROM hosts h LEFT JOIN matched m ON m.host = h.host
)
SELECT host, n_labels,
       array_to_string(string_split(host, '.')[n_labels - suf_k + 1:], '.') AS public_suffix,
       array_to_string(string_split(host, '.')[n_labels - suf_k:], '.') AS registrable
FROM with_k"""


# ---------------------------------------------------------------------------
# incremental crawl diff (change detection between two crawl rounds)
# ---------------------------------------------------------------------------


def q_change_detect(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental crawl diff: classify every URL across two crawl
    rounds as added / deleted / changed / unchanged by content
    fingerprint (the input to recrawl scheduling and index
    invalidation; the reference has no second-crawl concept at all —
    engine-new). Two deterministic rounds derived from documents:
    round A (previous) omits doc_id % 10 == 7 (those become "added"),
    round B (current) omits doc_id % 10 == 3 ("deleted"), and
    doc_id % 5 == 0 pages changed content in B (disjoint from both
    omission classes, so every status appears at every SF). The
    fingerprint is md5(text) — the repo-wide cross-engine hash.

    Scale shape: ONE full-outer hash join co-partitioned on the url
    key; both sides hash-partition on url_id so at 10^10 URLs this is
    the canonical snapshot-diff shuffle, no skew key (url_id is
    unique per side), everything else map-only."""
    docs = load(spark, sf, "documents")
    prev = docs.filter((F.col("doc_id") % 10) != 7).select(
        F.col("doc_id").alias("url_id"), F.md5("text").alias("fp_prev")
    )
    cur = docs.filter((F.col("doc_id") % 10) != 3).select(
        F.col("doc_id").alias("url_id"),
        F.md5(
            F.when(
                (F.col("doc_id") % 5) == 0, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text"))
        ).alias("fp_cur"),
    )
    j = prev.alias("p").join(
        cur.alias("c"), F.col("p.url_id") == F.col("c.url_id"), "full_outer"
    )
    return j.select(
        F.coalesce(F.col("p.url_id"), F.col("c.url_id")).alias("url_id"),
        "fp_prev",
        "fp_cur",
        F.when(F.col("p.url_id").isNull(), F.lit("added"))
        .when(F.col("c.url_id").isNull(), F.lit("deleted"))
        .when(F.col("fp_prev") != F.col("fp_cur"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )


_CHANGE_SQL = """
WITH prev AS (
  SELECT doc_id AS url_id, md5(text) AS fp_prev
  FROM documents WHERE doc_id % 10 <> 7
), cur AS (
  SELECT doc_id AS url_id,
         md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS fp_cur
  FROM documents WHERE doc_id % 10 <> 3
)
SELECT coalesce(p.url_id, c.url_id) AS url_id, fp_prev, fp_cur,
       CASE WHEN p.url_id IS NULL THEN 'added'
            WHEN c.url_id IS NULL THEN 'deleted'
            WHEN fp_prev <> fp_cur THEN 'changed'
            ELSE 'unchanged' END AS status
FROM prev p FULL OUTER JOIN cur c ON p.url_id = c.url_id"""


# ---------------------------------------------------------------------------
# HITS hubs & authorities (second graph-ranking signal besides PageRank)
# ---------------------------------------------------------------------------

_HITS_ITERS = 3
_HITS_OUT_DEG = 3


def q_hits_scores(spark: SparkSession, sf: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg) over the deterministic link
    graph doc_id -> base + ((doc_id-base)*17+k) % n, k=1..3 (base =
    min(doc_id), so the graph lands on real nodes whatever id block
    the corpus occupies) — the complementary
    graph signal to q_link_rank's PageRank: authorities feed index
    ranking, hubs feed seed selection for focused crawling.
    3 synchronous iterations in integer fixed-point micro-units with
    max-normalization (a = 1e6 * a_raw DIV max(a_raw)) instead of the
    usual L2 norm — max and integer sums are aggregation-order
    independent, so the unrolled-CTE DuckDB oracle hash-matches
    exactly where a float norm would drift in the last ulp.

    Scale shape: each half-iteration is one hash join (scores x edges
    on the score key) + one groupBy with map-side partial sums + a
    single-row broadcast for the max — the same canonical distributed
    step as PageRank, run alternately along in-edges and out-edges.
    The raw-score table of every half-iteration is localCheckpointed
    (same reasoning as _label_propagate: max-normalize references it
    TWICE — once for the max, once for the divide — so without lineage
    truncation the logical plan doubles per half-iteration, 2^6 by
    iteration 3; measured 93 s -> 3.5 s for the identical result).
    Edges are checkpointed once and rescanned. The remaining cost is
    O(iterations) stage-scheduling latency, not data — same analysis
    as _label_propagate."""
    docs = load(spark, sf, "documents")
    # Anchor the synthetic modular graph at min(doc_id): dst must land
    # on REAL node ids, which are dense from some base, not from 0 —
    # the unanchored (doc_id*17+k) % n produced a zero-edge graph (and
    # a divide-by-zero normalizer) the moment ids started at an offset,
    # e.g. a 10^10-scale id block (caught by the shifted-id sweep).
    stats = docs.agg(F.count("*").alias("n"), F.min("doc_id").alias("base")).first()
    n, base = stats["n"], stats["base"] or 0
    edges = docs.select(
        F.col("doc_id").alias("src"),
        F.explode(
            F.array(
                *[
                    F.lit(base) + ((F.col("doc_id") - base) * 17 + F.lit(k)) % n
                    for k in range(1, _HITS_OUT_DEG + 1)
                ]
            )
        ).alias("dst"),
    ).localCheckpoint()
    nodes = docs.select(F.col("doc_id").alias("v"))
    hubs = docs.select(F.col("doc_id").alias("v"), F.lit(1_000_000).cast("long").alias("h"))
    auths = None
    for _ in range(_HITS_ITERS):
        a_in = (
            edges.join(hubs, edges.src == hubs.v)
            .groupBy("dst")
            .agg(F.sum("h").alias("s"))
        )
        a_raw = (
            nodes.join(a_in, nodes.v == a_in.dst, "left")
            .select("v", F.coalesce(F.col("s"), F.lit(0)).cast("long").alias("raw"))
            .localCheckpoint()
        )
        amax = a_raw.agg(F.max("raw").alias("mx"))
        auths = a_raw.crossJoin(F.broadcast(amax)).select(
            "v", F.expr("(1000000 * raw) DIV greatest(mx, 1)").cast("long").alias("a")
        )
        h_out = (
            edges.join(auths, edges.dst == auths.v)
            .groupBy("src")
            .agg(F.sum("a").alias("s"))
        )
        h_raw = (
            nodes.join(h_out, nodes.v == h_out.src, "left")
            .select("v", F.coalesce(F.col("s"), F.lit(0)).cast("long").alias("raw"))
            .localCheckpoint()
        )
        hmax = h_raw.agg(F.max("raw").alias("mx"))
        hubs = h_raw.crossJoin(F.broadcast(hmax)).select(
            "v", F.expr("(1000000 * raw) DIV greatest(mx, 1)").cast("long").alias("h")
        )
    return auths.join(hubs, "v").select(
        F.col("v").alias("doc_id"),
        F.col("a").alias("auth_micro"),
        F.col("h").alias("hub_micro"),
    )


def _hits_sql() -> str:
    """The q_hits_scores recurrence unrolled as chained CTEs (DuckDB)."""
    ks = ", ".join(str(k) for k in range(1, _HITS_OUT_DEG + 1))
    parts = [
        "WITH nodes AS (SELECT doc_id AS v FROM documents),",
        "n_docs AS (SELECT count(*) AS n, min(doc_id) AS base FROM documents),",
        "edges AS (SELECT doc_id AS src, (SELECT base FROM n_docs)"
        " + ((doc_id - (SELECT base FROM n_docs)) * 17 + k)"
        " % (SELECT n FROM n_docs) AS dst"
        f" FROM documents, (SELECT unnest([{ks}]) AS k) ks),",
        "h0 AS (SELECT v, CAST(1000000 AS BIGINT) AS h FROM nodes),",
    ]
    for i in range(_HITS_ITERS):
        parts.append(
            f"a{i + 1}raw AS (SELECT nodes.v, CAST(coalesce(s.s, 0) AS BIGINT) AS raw"
            f" FROM nodes LEFT JOIN (SELECT e.dst AS v, SUM(h.h) AS s"
            f" FROM edges e JOIN h{i} h ON h.v = e.src GROUP BY e.dst) s ON s.v = nodes.v),"
        )
        parts.append(
            f"a{i + 1} AS (SELECT v, CAST((1000000 * raw)"
            f" // (SELECT greatest(max(raw), 1) FROM a{i + 1}raw)"
            f" AS BIGINT) AS a FROM a{i + 1}raw),"
        )
        parts.append(
            f"h{i + 1}raw AS (SELECT nodes.v, CAST(coalesce(s.s, 0) AS BIGINT) AS raw"
            f" FROM nodes LEFT JOIN (SELECT e.src AS v, SUM(a.a) AS s"
            f" FROM edges e JOIN a{i + 1} a ON a.v = e.dst GROUP BY e.src) s ON s.v = nodes.v),"
        )
        parts.append(
            f"h{i + 1} AS (SELECT v, CAST((1000000 * raw)"
            f" // (SELECT greatest(max(raw), 1) FROM h{i + 1}raw)"
            f" AS BIGINT) AS h FROM h{i + 1}raw),"
        )
    last = parts.pop()
    parts.append(last.rstrip(","))
    parts.append(
        f"SELECT a{_HITS_ITERS}.v AS doc_id, a{_HITS_ITERS}.a AS auth_micro,"
        f" h{_HITS_ITERS}.h AS hub_micro"
        f" FROM a{_HITS_ITERS} JOIN h{_HITS_ITERS} ON a{_HITS_ITERS}.v = h{_HITS_ITERS}.v"
    )
    return "\n".join(parts)


# ---------------------------------------------------------------------------
# sitemap coverage audit (discovery gap between sitemap and crawl log)
# ---------------------------------------------------------------------------


def q_sitemap_gap(spark: SparkSession, sf: str) -> DataFrame:
    """Sitemap coverage audit: the per-URL discovery gap between what a
    host's sitemap advertises and what the crawler actually fetched —
    'sitemap_only' rows are the enqueue backlog, 'crawled_only' rows
    are orphan pages the site forgot to list (a real crawl-ops report;
    Google Search Console's Coverage panel is exactly this join). The
    sitemap side runs the REAL container path (docs_to_sitemaps XML
    generation -> parse back), so the audit also covers the parser; the
    crawled side is a deterministic subset (doc_id % 3 != 1) plus
    orphan URLs (doc_id % 7 == 0) that no sitemap lists — all three
    statuses appear at every SF.

    Scale shape: sitemap build/parse is one bounded groupBy(host) +
    narrow Arrow parse; the audit itself is ONE full-outer hash join on
    the loc key, both sides co-partitioned."""
    from .sources.sitemap import docs_to_sitemaps, sitemaps_to_urls

    docs = load(spark, sf, "documents")
    sm = sitemaps_to_urls(docs_to_sitemaps(docs, n_hosts=50)).select("host", "loc")
    host = F.concat(
        F.lit("h"), (F.col("doc_id") % 50).cast("string"), F.lit(".example.org")
    )
    crawled = (
        docs.filter(F.col("doc_id") % 3 != 1)
        .select(
            host.alias("host"),
            F.concat(
                F.lit("https://"),
                host,
                F.lit("/doc?id="),
                F.col("doc_id").cast("string"),
                F.lit("&ref=sitemap"),
            ).alias("loc"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 7 == 0).select(
                host.alias("host"),
                F.concat(
                    F.lit("https://"),
                    host,
                    F.lit("/orphan?id="),
                    F.col("doc_id").cast("string"),
                ).alias("loc"),
            )
        )
    )
    j = sm.alias("s").join(crawled.alias("c"), F.col("s.loc") == F.col("c.loc"), "full_outer")
    return j.select(
        F.coalesce(F.col("s.host"), F.col("c.host")).alias("host"),
        F.coalesce(F.col("s.loc"), F.col("c.loc")).alias("loc"),
        F.when(F.col("s.loc").isNull(), F.lit("crawled_only"))
        .when(F.col("c.loc").isNull(), F.lit("sitemap_only"))
        .otherwise(F.lit("both"))
        .alias("status"),
    )


_SITEMAP_GAP_SQL = """
WITH sm AS (
  SELECT 'h' || CAST(doc_id % 50 AS VARCHAR) || '.example.org' AS host,
         'https://h' || CAST(doc_id % 50 AS VARCHAR) || '.example.org/doc?id='
           || CAST(doc_id AS VARCHAR) || '&ref=sitemap' AS loc
  FROM documents
), crawled AS (
  SELECT 'h' || CAST(doc_id % 50 AS VARCHAR) || '.example.org' AS host,
         'https://h' || CAST(doc_id % 50 AS VARCHAR) || '.example.org/doc?id='
           || CAST(doc_id AS VARCHAR) || '&ref=sitemap' AS loc
  FROM documents WHERE doc_id % 3 <> 1
  UNION ALL
  SELECT 'h' || CAST(doc_id % 50 AS VARCHAR) || '.example.org' AS host,
         'https://h' || CAST(doc_id % 50 AS VARCHAR) || '.example.org/orphan?id='
           || CAST(doc_id AS VARCHAR) AS loc
  FROM documents WHERE doc_id % 7 = 0
)
SELECT coalesce(s.host, c.host) AS host, coalesce(s.loc, c.loc) AS loc,
       CASE WHEN s.loc IS NULL THEN 'crawled_only'
            WHEN c.loc IS NULL THEN 'sitemap_only'
            ELSE 'both' END AS status
FROM sm s FULL OUTER JOIN crawled c ON s.loc = c.loc"""


# ---------------------------------------------------------------------------
# host-level graph collapse (weights + reciprocity)
# ---------------------------------------------------------------------------


def q_host_graph(spark: SparkSession, sf: str) -> DataFrame:
    """Host-graph collapse: aggregate the page link graph (same derived
    edges as q_link_rank: doc_id -> (doc_id*31+k) % n, k=1..3) to
    host-level edges with weights and a reciprocity flag — the
    structure link-spam detection and crawl partitioning run on (a
    10^10-page graph collapses to a ~10^8-host graph that fits
    standard graph tooling; reciprocal heavy pairs flag link farms).
    Host = id % 50, internal = same host both sides.

    Scale shape: page->host projection is map-only; ONE groupBy on the
    (src_host, dst_host) pair (bounded key space, heavy map-side
    combine — this is where 10^10 edges shrink to 10^8); reciprocity is
    a self-join of the COLLAPSED table on the reversed pair key, cost
    proportional to the host graph, never the page graph."""
    docs = load(spark, sf, "documents")
    n = docs.count()
    edges = docs.select(
        (F.col("doc_id") % 50).alias("src_host"),
        F.explode(
            F.array(*[((F.col("doc_id") * 31 + F.lit(k)) % n) for k in range(1, 4)])
        ).alias("dst"),
    ).select("src_host", (F.col("dst") % 50).alias("dst_host"))
    hg = _barrier(
        edges.groupBy("src_host", "dst_host").agg(F.count("*").cast("long").alias("weight"))
    )
    # hg is unique on the pair (it is the groupBy output), so the
    # reversed-key projection needs no distinct — and the left join can
    # never fan out
    rev = hg.select(
        F.col("src_host").alias("r_dst"),
        F.col("dst_host").alias("r_src"),
    )
    return (
        hg.join(
            rev,
            (hg.src_host == rev.r_src) & (hg.dst_host == rev.r_dst),
            "left",
        )
        .select(
            "src_host",
            "dst_host",
            "weight",
            (F.col("src_host") == F.col("dst_host")).alias("internal"),
            F.col("r_src").isNotNull().alias("reciprocal"),
        )
    )


_HOST_GRAPH_SQL = """
WITH n_docs AS (SELECT count(*) AS n FROM documents),
edges AS (
  SELECT doc_id % 50 AS src_host,
         ((doc_id * 31 + k) % (SELECT n FROM n_docs)) % 50 AS dst_host
  FROM documents, (SELECT unnest([1, 2, 3]) AS k) ks
), hg AS (
  SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS weight
  FROM edges GROUP BY src_host, dst_host
)
SELECT a.src_host, a.dst_host, a.weight,
       a.src_host = a.dst_host AS internal,
       b.src_host IS NOT NULL AS reciprocal
FROM hg a LEFT JOIN (SELECT DISTINCT src_host, dst_host FROM hg) b
  ON a.src_host = b.dst_host AND a.dst_host = b.src_host"""


# ---------------------------------------------------------------------------
# BPE merge induction (distributed tokenizer training)
# ---------------------------------------------------------------------------

_BPE_T = 8  # merge rounds to induce (production trains 30-50k; same loop)


def q_bpe_merges(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed BPE merge induction (Sennrich et al. 2016) — the
    tokenizer-TRAINING step of the pipeline (this learns the merge table
    from the corpus rather than applying a fixed tokenization).
    Classic word-frequency formulation: one pass builds the (word,
    count) table, then every merge round runs over the VOCABULARY, not
    the corpus — the property that makes BPE trainable at 100 TB (vocab
    is sublinear in corpus size; each round is one explode + one
    bounded-key groupBy with map-side combine + a TakeOrderedAndProject
    argmax, never a corpus scan). Round t: count adjacent symbol pairs
    weighted by word count (overlaps counted, zip semantics), pick the
    max (ties: count DESC, left ASC, right ASC), rewrite every word's
    symbol array by the greedy left-to-right merge — expressed as a
    fold: append, or coalesce with the previous symbol when (prev, cur)
    equals the merge pair (equivalent to the greedy scan because a
    merged symbol can never equal its own left half). The vocabulary
    table is localCheckpointed per round — T rounds of withColumn would
    otherwise stack T fold lambdas into one analyzer-hostile plan
    (same treatment as _label_propagate's jump inputs).

    Output: the learned merge table (rank, lhs, rhs, merged,
    pair_count) — T rows, assembled on the driver from the per-round
    1-row argmax collects (the merge list IS driver state; each round's
    scalar must be known before the next round's plan exists)."""
    return bpe_merge_table(load(spark, sf, "documents"))


def bpe_merge_table(docs: DataFrame, rounds: int = _BPE_T) -> DataFrame:
    """BPE merge induction over any (doc_id, text) frame; see
    q_bpe_merges for the pass and the scale shape."""
    spark = docs.sparkSession
    words = docs.select(F.explode(F.split(F.col("text"), " ")).alias("w")).filter(
        F.col("w") != ""
    )
    wf = words.groupBy("w").agg(F.count("*").cast("long").alias("cnt"))
    cur = wf.select(
        "cnt",
        F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").alias(
            "syms"
        ),
    ).localCheckpoint(eager=False)

    merges = []
    for t in range(rounds):
        pairs = (
            cur.filter(F.size("syms") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), "
                        "i -> struct(element_at(syms, i) AS l, "
                        "element_at(syms, i + 1) AS r))"
                    )
                ).alias("p"),
            )
            .select("cnt", "p.l", "p.r")
        )
        best = (
            pairs.groupBy("l", "r")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        l, r, n = best[0]["l"], best[0]["r"], int(best[0]["n"])
        merges.append((t + 1, l, r, l + r, n))
        # Spark SQL string literals process backslash escapes (\n, \t, ...)
        # unless escapedStringLiterals is on, so backslashes must be doubled
        # BEFORE quote-doubling or a token containing '\' diverges from the
        # pure-Python oracle replay (which keeps it verbatim).
        le, re, me = (
            s.replace("\\", "\\\\").replace("'", "''") for s in (l, r, l + r)
        )
        fold = (
            "aggregate(syms, CAST(array() AS array<string>), (acc, s) -> "
            f"IF(size(acc) > 0 AND element_at(acc, -1) = '{le}' AND s = '{re}', "
            f"concat(slice(acc, 1, size(acc) - 1), array('{me}')), "
            "concat(acc, array(s))))"
        )
        cur = cur.withColumn("syms", F.expr(fold)).localCheckpoint(eager=False)
    return spark.createDataFrame(
        merges, "rank bigint, lhs string, rhs string, merged string, pair_count bigint"
    )


def _bpe_oracle_sql(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """Pure-Python replay of q_bpe_merges emitted as a VALUES table.

    The merge-selection loop is inherently iterative-with-scalar-feedback
    (each round's argmax feeds the next round's rewrite), which a single
    DuckDB SQL statement cannot express; the replay reads the SAME
    parquet the driver's `documents` view points at (the correctness
    gate runs at sf0.01 per the brief) and reproduces the fold/tie-break
    rules of the Spark side exactly."""
    from collections import Counter

    import duckdb

    rows = duckdb.sql(
        f"SELECT text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    wf: Counter = Counter()
    for (text,) in rows:
        for w in text.split(" "):
            if w:
                wf[w] += 1
    vocab = {w: list(w) for w in wf}
    merges = []
    for t in range(_BPE_T):
        pc: Counter = Counter()
        for w, syms in vocab.items():
            c = wf[w]
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        (l, r), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((t + 1, l, r, l + r, n))
        for w, syms in vocab.items():
            out: list[str] = []
            for s in syms:
                if out and out[-1] == l and s == r:
                    out[-1] = l + r
                else:
                    out.append(s)
            vocab[w] = out

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    vals = ",\n  ".join(
        f"({rank}, {q(l)}, {q(r)}, {q(m)}, {n})" for rank, l, r, m, n in merges
    )
    return (
        "SELECT CAST(rank AS BIGINT) AS rank, lhs, rhs, merged,\n"
        "       CAST(pair_count AS BIGINT) AS pair_count\n"
        "FROM (VALUES\n  " + vals + "\n) AS t(rank, lhs, rhs, merged, pair_count)"
    )


# ---------------------------------------------------------------------------
# training-shard shuffle (pack -> shuffle -> shard)
# ---------------------------------------------------------------------------

_SHARD_SHUF_N = 8         # training shards (production: O(10^3-10^4) files)
_SHARD_SHUF_SALT = "epoch0"  # new salt per epoch = a fresh permutation


def shard_shuffle_frame(toks: DataFrame, n_shards: int = _SHARD_SHUF_N) -> DataFrame:
    """Deterministic hash deal of a (doc_id, tokens) frame into
    ``n_shards`` training shards: md5(salt#doc_id) picks the shard and
    the order inside it, so the permutation is reproducible and a new
    salt per epoch reshuffles. Per document: shard_id, 1-based pos, and
    shard_offset, the running token prefix sum a loader seeks by.
    pipeline.curate_corpus ends with it."""
    hashed = toks.withColumn(
        "hv",
        F.conv(
            F.substring(
                F.md5(F.concat_ws("#", F.lit(_SHARD_SHUF_SALT), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
    ).withColumn("shard_id", (F.col("hv") % n_shards).cast("long"))
    w = Window.partitionBy("shard_id").orderBy("hv", "doc_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        hashed.withColumn("pos", F.row_number().over(w).cast("long"))
        .withColumn(
            "shard_offset",
            (F.sum("tokens").over(wsum) - F.col("tokens")).cast("long"),
        )
        .select("doc_id", "shard_id", "pos", "tokens", "shard_offset")
    )


SCALE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "trap_detect": q_trap_detect,
    "recrawl_priority": q_recrawl_priority,
    "host_shards": q_host_shards,
    "anchor_agg": q_anchor_agg,
    "dedup_clusters": q_dedup_clusters,
    "tfidf_topk": q_tfidf_topk,
    "crawl_rollup": q_crawl_rollup,
    "latency_quantiles": q_latency_quantiles,
    "cms_heavy_hitters": q_cms_heavy_hitters,
    "registrable_domain": q_registrable_domain,
    "change_detect": q_change_detect,
    "hits_scores": q_hits_scores,
    "sitemap_gap": q_sitemap_gap,
    "host_graph": q_host_graph,
    "bpe_merges": q_bpe_merges,
}

SCALE_ORACLES: dict[str, str] = {
    "trap_detect": _TRAP_SQL,
    "recrawl_priority": _RECRAWL_SQL,
    "host_shards": _HRW_SQL,
    "anchor_agg": _ANCHOR_SQL,
    "dedup_clusters": _dedup_clusters_sql(),
    "tfidf_topk": _TFIDF_SQL,
    "crawl_rollup": _ROLLUP_SQL,
    "latency_quantiles": _QUANTILE_SQL,
    "cms_heavy_hitters": _CMS_SQL,
    "registrable_domain": _registrable_sql(),
    "change_detect": _CHANGE_SQL,
    "hits_scores": _hits_sql(),
    "sitemap_gap": _SITEMAP_GAP_SQL,
    "host_graph": _HOST_GRAPH_SQL,
    # bpe_merges is added by __spark_entry__.oracle_sql(): its oracle is a
    # pure-Python replay that reads parquet, which must not run at import
    # time (this module is shipped to and imported by executors)
}
