"""Web-scale crawl-operations queries (engine-new surface, round 3).

Operators a production crawler/training-pipeline runs at 100 TB that
the reference (a sequential fetch loop, backend/tasks/config.py:29 caps one
URL in flight) has no analog for:

- crawl-trap detection: URL-shape heuristics (depth, repeated path
  segments, query-param explosion) that keep calendar/loop traps from
  eating the frontier;
- connected components: hook/jump label propagation closing near-dup
  pairs into clusters (one survivor per cluster, not per pair);
- HITS, host-graph collapse, sitemap coverage audit, registrable-domain
  extraction, ROLLUP crawl reports and BPE merge induction.

Same determinism rules as queries.py: integer fixed-point only (no raw
doubles), md5 as the only cross-engine hash, every column aliased
identically on both sides.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import load, query_barrier

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
    lab = query_barrier(_label_propagate(verts, edges))
    sized_reps = sizes.select(F.col("doc_id").alias("rep_id"))
    with_sh = members.join(sized_reps, "rep_id", "left_semi")
    no_sh = members.join(sized_reps, "rep_id", "left_anti")
    doc_lab = query_barrier(
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
    hg = query_barrier(
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


SCALE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "trap_detect": q_trap_detect,
    "dedup_clusters": q_dedup_clusters,
    "crawl_rollup": q_crawl_rollup,
    "registrable_domain": q_registrable_domain,
    "hits_scores": q_hits_scores,
    "sitemap_gap": q_sitemap_gap,
    "host_graph": q_host_graph,
    "bpe_merges": q_bpe_merges,
}

SCALE_ORACLES: dict[str, str] = {
    "trap_detect": _TRAP_SQL,
    "dedup_clusters": _dedup_clusters_sql(),
    "crawl_rollup": _ROLLUP_SQL,
    "registrable_domain": _registrable_sql(),
    "hits_scores": _hits_sql(),
    "sitemap_gap": _SITEMAP_GAP_SQL,
    "host_graph": _HOST_GRAPH_SQL,
    # bpe_merges is added by __spark_entry__.oracle_sql(): its oracle is a
    # pure-Python replay that reads parquet, which must not run at import
    # time (this module is shipped to and imported by executors)
}
