"""Search-index and corpus-curation operators (engine-new surface,
round 3b).

What a production crawl feeds downstream once the frontier machinery
works: the search-engine side (BM25 ranking over the posting lists the
crawl built) and the training-data side (host-level near-mirror detection
by MinHash signatures, fastText-shaped quality-classifier inference
with broadcast weights, CCNet-style per-host boilerplate stripping).
The reference (a sequential fetch loop, backend/tasks/config.py:29 caps
one URL in flight) has no analog for any of these.

Same determinism rules as queries.py / queries_scale.py: integer
fixed-point only (no raw doubles), md5 as the only cross-engine hash,
every column aliased identically on both sides, negative divisions
avoided by positive-offset rewrites so Spark's DIV and DuckDB's //
agree.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries import load, query_barrier

__all__ = [
    "SEARCH_QUERIES",
    "SEARCH_ORACLES",
    "strip_boilerplate",
    "repeated_spans",
    "dsir_score",
]


def _md5_int(col):
    """First 15 hex digits of md5 as a non-negative BIGINT (< 2^60) —
    the repo-wide cross-engine hash idiom (DuckDB twin:
    CAST(concat('0x', substring(md5(x), 1, 15)) AS BIGINT))."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# BM25 ranked retrieval over the crawl corpus
# ---------------------------------------------------------------------------

_BM25_K = 10          # results per query
_BM25_QUERIES = 4     # deterministic query count
_BM25_QTERMS = 3      # terms per query
# k1 = 1.2, b = 0.75 in milli units: (k1+1)*1000 = 2200,
# k1*(1-b)*1000 = 300, k1*b*1000 = 900.


def q_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 top-k retrieval — the ranking function the search index
    built from the crawl actually serves (tf-idf's production sibling:
    it scores DOCUMENTS against QUERIES). Queries are derived
    deterministically from the corpus vocabulary: rank terms by (df DESC, term ASC), terms
    3q+1..3q+3 form query q (mid/high-frequency terms, so every query
    matches many docs and the length normalization matters).

    All arithmetic is integer fixed-point so the DuckDB oracle
    hash-matches bit-for-bit: idf surrogate
    (1000000 * (N - df + 1)) DIV (df + 1) (monotone in the real
    Robertson idf for fixed N), tf normalization in milli units
    (tf * 2200000) DIV (tf * 1000 + 300 + (900 * dl) DIV avgdl),
    per-term contribution (idf * norm) DIV 1000, summed per
    (query, doc).

    Scale shape: tf is the classic posting-list groupBy with map-side
    combine; df aggregates the postings by term (vocab-sized); the
    query-term table is BROADCAST (queries are always tiny next to the
    corpus) so the postings side never shuffles for the match — only
    matching postings reach the (query_id, doc_id) combine; the final
    top-k window partitions BY QUERY, never a global sort. The qterm
    derivation window runs over the VOCABULARY (a bounded lexicon),
    not the corpus."""
    docs = load(spark, sf, "documents")
    n = docs.count()
    words = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = query_barrier(
        words.groupBy("doc_id", "term").agg(F.count("*").cast("long").alias("tf"))
    )
    # avgdl from the barriered tf table — a words.count() here would
    # re-scan and re-explode the whole corpus for one scalar; floor of 1
    # so a degenerate (near-empty) corpus can't zero the norm divisor
    avgdl = max(1, (tf.agg(F.sum("tf")).first()[0] or 0) // n)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    df_tbl = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    # Top-K terms via orderBy().limit() — TakeOrderedAndProject merges
    # per-partition top-Ks on the driver. A global Window.orderBy here
    # would single-partition-sort the ENTIRE vocabulary (sublinear in
    # the corpus but still ~10^8 terms at 100 TB); the window below
    # then ranks only the K survivors.
    n_qt = _BM25_QUERIES * _BM25_QTERMS
    vocab_win = Window.orderBy(F.desc("df"), F.asc("term"))
    qterms = (
        df_tbl.orderBy(F.desc("df"), F.asc("term"))
        .limit(n_qt)
        .withColumn("rn", F.row_number().over(vocab_win))
        .select(
            F.expr(f"(rn - 1) DIV {_BM25_QTERMS}").cast("long").alias("query_id"),
            "term",
            (F.lit(1_000_000) * (F.lit(n) - F.col("df") + 1))
            .cast("long")
            .alias("idf_num"),
            (F.col("df") + 1).alias("idf_den"),
        )
        .withColumn("idf_fp", F.expr("idf_num DIV idf_den").cast("long"))
        .drop("idf_num", "idf_den")
    )
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .withColumn(
            "norm_fp",
            F.expr(f"(tf * 2200000) DIV (tf * 1000 + 300 + (900 * dl) DIV {avgdl})"),
        )
        .withColumn("contrib", F.expr("(idf_fp * norm_fp) DIV 1000"))
    )
    hits = scored.groupBy("query_id", "doc_id").agg(
        F.count("*").cast("long").alias("n_hit_terms"),
        F.sum("contrib").cast("long").alias("score"),
    )
    topk = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        hits.withColumn("rk", F.row_number().over(topk))
        .filter(F.col("rk") <= _BM25_K)
        .select(
            "query_id", "doc_id", "n_hit_terms", "score", F.col("rk").cast("int").alias("rk")
        )
    )


_BM25_SQL = f"""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), w2 AS (
  SELECT doc_id, term FROM words WHERE term <> ''
), consts AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         GREATEST(1, (SELECT count(*) FROM w2) // (SELECT count(*) FROM documents)) AS avgdl
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM w2 GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
), df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
), qterms AS (
  SELECT CAST((rn - 1) // {_BM25_QTERMS} AS BIGINT) AS query_id, term,
         CAST((1000000 * ((SELECT n FROM consts) - df + 1)) // (df + 1) AS BIGINT) AS idf_fp
  FROM (SELECT term, df, row_number() OVER (ORDER BY df DESC, term ASC) AS rn FROM df)
  WHERE rn <= {_BM25_QUERIES * _BM25_QTERMS}
), scored AS (
  SELECT q.query_id, t.doc_id,
         (q.idf_fp * ((t.tf * 2200000) // (t.tf * 1000 + 300 + (900 * dl.dl) // (SELECT avgdl FROM consts)))) // 1000 AS contrib
  FROM tf t JOIN qterms q ON t.term = q.term JOIN dl ON t.doc_id = dl.doc_id
), hits AS (
  SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_hit_terms,
         CAST(sum(contrib) AS BIGINT) AS score
  FROM scored GROUP BY query_id, doc_id
), ranked AS (
  SELECT query_id, doc_id, n_hit_terms, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INT) AS rk
  FROM hits
)
SELECT query_id, doc_id, n_hit_terms, score, rk FROM ranked WHERE rk <= {_BM25_K}"""


# ---------------------------------------------------------------------------
# host-level near-mirror detection via MinHash signatures
# ---------------------------------------------------------------------------

_HSIM_SLOTS = 16     # minhash signature length
_HSIM_BAND_ROWS = 1  # rows per band -> 16 bands; recall at J=0.8 is
# 1 - 0.2^16 (2-row bands measurably missed 4/20 planted mirrors), and
# unrelated hosts share no fingerprints so 1-row bands stay candidate-tight
_HSIM_MIRROR_FP = 300  # exact Jaccard (fixed-point /1000) to call a near-mirror
_HSIM_COPY_SKIP = 5  # planted mirror keeps docs with (doc_id DIV 20) % 5 != 0
# (source is doc_id % 20, so the skip rule must vary WITHIN a source —
# doc_id % 5 would be constant per source: 4 empty mirrors, 16 exact copies)


def q_host_similarity(spark: SparkSession, sf: str) -> DataFrame:
    """Host-level NEAR-mirror detection (exact signature equality only
    finds byte-identical mirrors; real mirrors lag their origin, so
    their page SETS overlap at J < 1). Per host, a 16-slot MinHash
    signature over the host's page content fingerprints (slot i = min over pages of
    md5int('hs' || i || ':' || fp)); candidate host pairs share at
    least one LSH band (16 bands x 1 row); candidates are then verified
    EXACTLY — intersection / union of the two hosts' distinct
    fingerprint sets in fixed-point. Planted mirrors: every source gets
    a '<source>_m' twin carrying ~80% of its docs
    ((doc_id DIV 20) % 5 != 0, varying within each source since source
    is doc_id % 20), so J ~ 0.8 — a NEAR mirror that band-blocking must
    recall without an all-pairs host join.

    Scale shape: signatures are one groupBy(host, slot) min with
    map-side combine (16 rows per host out); band keys explode from the
    signature (16 one-row bands per host); the candidate join groups by band
    value — bounded buckets, never host x host; the exact verify
    touches candidate pairs only (same candidates-then-verify contract
    as dedup_minhash_lsh). Host cardinality is site-count, orders below
    corpus size."""
    docs = load(spark, sf, "documents")
    pages = docs.select(
        F.col("source").alias("host"), F.md5(F.col("text")).alias("fp")
    ).unionByName(
        docs.filter(F.expr(f"(doc_id DIV 20) % {_HSIM_COPY_SKIP}") != 0).select(
            F.concat(F.col("source"), F.lit("_m")).alias("host"),
            F.md5(F.col("text")).alias("fp"),
        )
    )
    pages = query_barrier(pages.distinct())
    slots = pages.select(
        "host",
        F.explode(F.expr(f"sequence(0, {_HSIM_SLOTS - 1})")).alias("slot"),
        "fp",
    ).select(
        "host",
        "slot",
        _md5_int(
            F.concat(F.lit("hs"), F.col("slot").cast("string"), F.lit(":"), F.col("fp"))
        ).alias("hv"),
    )
    sig = query_barrier(
        slots.groupBy("host", "slot").agg(F.min("hv").cast("long").alias("sig"))
    )
    bands = sig.withColumn("band", F.expr(f"slot DIV {_HSIM_BAND_ROWS}")).groupBy(
        "host", "band"
    ).agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("slot", "sig"))),
                    lambda s: s.getField("sig").cast("string"),
                ),
                "-",
            )
        ).alias("bkey")
    )
    b2 = bands.select(
        F.col("host").alias("host_b"), F.col("band").alias("band_b"), F.col("bkey").alias("bkey_b")
    )
    cand = (
        bands.join(
            b2,
            (bands.band == b2.band_b)
            & (bands.bkey == b2.bkey_b)
            & (bands.host < b2.host_b),
        )
        .groupBy(F.col("host").alias("host_a"), F.col("host_b"))
        .agg(F.count("*").cast("long").alias("n_common_bands"))
    )
    s2 = sig.select(
        F.col("host").alias("sh"), F.col("slot").alias("ss"), F.col("sig").alias("sv")
    )
    # est forks into the inter join AND the final select — barrier it so
    # the band self-join + slot-match pipeline runs once, not per branch
    est = query_barrier(
        cand.join(sig, cand.host_a == sig.host)
        .join(s2, (F.col("sh") == cand.host_b) & (F.col("ss") == F.col("slot")))
        .groupBy("host_a", "host_b", "n_common_bands")
        .agg(
            F.sum((F.col("sig") == F.col("sv")).cast("long")).cast("long").alias("n_match_slots")
        )
        .withColumn("est_fp", F.expr(f"(1000 * n_match_slots) DIV {_HSIM_SLOTS}").cast("long"))
    )
    sizes = pages.groupBy("host").agg(F.count("*").cast("long").alias("sz"))
    p2 = pages.select(F.col("host").alias("ph"), F.col("fp").alias("pfp"))
    inter = (
        est.select("host_a", "host_b")
        .join(pages, F.col("host") == F.col("host_a"))
        .join(p2, (F.col("ph") == F.col("host_b")) & (F.col("pfp") == F.col("fp")))
        .groupBy("host_a", "host_b")
        .agg(F.count("*").cast("long").alias("inter"))
    )
    sizes_a = sizes.select(F.col("host").alias("host_a"), F.col("sz").alias("sz_a"))
    sizes_b = sizes.select(F.col("host").alias("host_b"), F.col("sz").alias("sz_b"))
    return (
        est.join(inter, ["host_a", "host_b"], "left")
        .na.fill({"inter": 0})
        .join(sizes_a, "host_a")
        .join(sizes_b, "host_b")
        .select(
            "host_a",
            "host_b",
            "n_common_bands",
            "est_fp",
            F.col("inter").cast("long").alias("inter"),
            (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("long").alias("union_ct"),
            F.expr("(1000 * inter) DIV (sz_a + sz_b - inter)").cast("long").alias("jaccard_fp"),
            (F.expr("(1000 * inter) DIV (sz_a + sz_b - inter)") >= _HSIM_MIRROR_FP).alias(
                "near_mirror"
            ),
        )
    )


_HSIM_SQL = f"""
WITH pages AS (
  SELECT DISTINCT host, fp FROM (
    SELECT source AS host, md5(text) AS fp FROM documents
    UNION ALL
    SELECT source || '_m' AS host, md5(text) AS fp FROM documents
    WHERE (doc_id // 20) % {_HSIM_COPY_SKIP} <> 0
  )
), slots AS (
  SELECT host, s.slot,
         CAST(concat('0x', substring(md5('hs' || CAST(s.slot AS VARCHAR) || ':' || fp), 1, 15)) AS BIGINT) AS hv
  FROM pages, (SELECT unnest(generate_series(0, {_HSIM_SLOTS - 1})) AS slot) s
), sig AS (
  SELECT host, slot, CAST(min(hv) AS BIGINT) AS sig FROM slots GROUP BY host, slot
), bands AS (
  SELECT host, slot // {_HSIM_BAND_ROWS} AS band,
         md5(string_agg(CAST(sig AS VARCHAR), '-' ORDER BY slot)) AS bkey
  FROM sig GROUP BY host, slot // {_HSIM_BAND_ROWS}
), cand AS (
  SELECT a.host AS host_a, b.host AS host_b, CAST(count(*) AS BIGINT) AS n_common_bands
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.host < b.host
  GROUP BY a.host, b.host
), est AS (
  SELECT c.host_a, c.host_b, c.n_common_bands,
         CAST(sum(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS BIGINT) AS n_match_slots
  FROM cand c
  JOIN sig sa ON sa.host = c.host_a
  JOIN sig sb ON sb.host = c.host_b AND sb.slot = sa.slot
  GROUP BY c.host_a, c.host_b, c.n_common_bands
), sizes AS (
  SELECT host, CAST(count(*) AS BIGINT) AS sz FROM pages GROUP BY host
), inter AS (
  SELECT e.host_a, e.host_b, CAST(count(*) AS BIGINT) AS inter
  FROM est e
  JOIN pages pa ON pa.host = e.host_a
  JOIN pages pb ON pb.host = e.host_b AND pb.fp = pa.fp
  GROUP BY e.host_a, e.host_b
)
SELECT e.host_a, e.host_b, e.n_common_bands,
       CAST((1000 * e.n_match_slots) // {_HSIM_SLOTS} AS BIGINT) AS est_fp,
       CAST(COALESCE(i.inter, 0) AS BIGINT) AS inter,
       CAST(za.sz + zb.sz - COALESCE(i.inter, 0) AS BIGINT) AS union_ct,
       CAST((1000 * COALESCE(i.inter, 0)) // (za.sz + zb.sz - COALESCE(i.inter, 0)) AS BIGINT) AS jaccard_fp,
       (1000 * COALESCE(i.inter, 0)) // (za.sz + zb.sz - COALESCE(i.inter, 0)) >= {_HSIM_MIRROR_FP} AS near_mirror
FROM est e
LEFT JOIN inter i ON i.host_a = e.host_a AND i.host_b = e.host_b
JOIN sizes za ON za.host = e.host_a
JOIN sizes zb ON zb.host = e.host_b"""


# ---------------------------------------------------------------------------
# fastText-shaped quality classifier inference
# ---------------------------------------------------------------------------

_QC_BUCKETS = 256   # hashed-feature dimensionality
_QC_W_RANGE = 2001  # weights uniform in [-1000, 1000]
_QC_OFFSET = 1_000_000  # positive-offset rewrite so DIV never sees a negative


def q_quality_classifier(spark: SparkSession, sf: str) -> DataFrame:
    """Hashed-feature linear classifier inference — the fastText-shaped
    quality gate every LLM-data pipeline runs (CCNet/RefinedWeb filter
    models): token -> feature bucket by hash (md5 % 256), model =
    a 256-bucket weight vector, document score = mean bucket weight
    over token occurrences, label = keep iff score >= 0 (a zero-token
    document still gets a verdict — drop — rather than silently
    emitting no decision). Weights here
    are derived deterministically from md5 so the DuckDB oracle
    reproduces the model bit-for-bit; a production model would swap in
    trained weights with the identical plan.

    Fixed-point mean with the positive-offset rewrite: Spark's DIV
    truncates toward zero while floor division is what both engines
    must agree on, so score_fp =
    ((1000 * sum_w + OFFSET * n_toks) DIV n_toks) - OFFSET with
    OFFSET = 1e6 >= 1000 * |w|_max, keeping the dividend non-negative
    (floor == trunc) on both engines.

    Scale shape: the model is BROADCAST (256 rows — model parameters
    always fit) so inference is map-side: explode tokens, hash to
    bucket, broadcast-join weights, one groupBy(doc_id) with map-side
    partial sums. This is the canonical model-inference-at-scale plan:
    no shuffle of the corpus, ever."""
    docs = load(spark, sf, "documents")
    weights = spark.range(_QC_BUCKETS).select(
        F.col("id").cast("long").alias("bucket"),
        (
            _md5_int(F.concat(F.lit("w:"), F.col("id").cast("string"))) % _QC_W_RANGE
            - (_QC_W_RANGE - 1) // 2
        )
        .cast("long")
        .alias("w"),
    )
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    feats = toks.select("doc_id", (_md5_int(F.col("term")) % _QC_BUCKETS).alias("bucket"))
    summed = (
        feats.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_toks"),
            F.sum("w").cast("long").alias("sum_w"),
        )
    )
    # left join from docs so a zero-token document still gets a verdict
    # (drop — an empty doc is bad quality, and a filter that silently
    # emits no decision for it would let it through a label-based keep)
    return (
        docs.select("doc_id")
        .join(summed, "doc_id", "left")
        .na.fill({"n_toks": 0, "sum_w": 0})
        .select(
            "doc_id",
            F.col("n_toks").cast("long").alias("n_toks"),
            F.col("sum_w").cast("long").alias("sum_w"),
            F.when(F.col("n_toks") == 0, F.lit(0))
            .otherwise(
                F.expr(f"(1000 * sum_w + {_QC_OFFSET} * n_toks) DIV n_toks") - _QC_OFFSET
            )
            .cast("long")
            .alias("score_fp"),
            F.when(F.col("n_toks") == 0, F.lit("drop"))
            .when(
                F.expr(f"(1000 * sum_w + {_QC_OFFSET} * n_toks) DIV n_toks") - _QC_OFFSET
                >= 0,
                F.lit("keep"),
            )
            .otherwise(F.lit("drop"))
            .alias("label"),
        )
    )


_QC_SQL = f"""
WITH weights AS (
  SELECT CAST(b AS BIGINT) AS bucket,
         CAST(CAST(concat('0x', substring(md5('w:' || CAST(b AS VARCHAR)), 1, 15)) AS BIGINT)
              % {_QC_W_RANGE} - {(_QC_W_RANGE - 1) // 2} AS BIGINT) AS w
  FROM (SELECT unnest(generate_series(0, {_QC_BUCKETS - 1})) AS b)
), toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), feats AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(term), 1, 15)) AS BIGINT) % {_QC_BUCKETS} AS bucket
  FROM toks WHERE term <> ''
), summed AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks, CAST(sum(w) AS BIGINT) AS sum_w
  FROM feats JOIN weights USING (bucket) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(s.n_toks, 0) AS BIGINT) AS n_toks,
       CAST(COALESCE(s.sum_w, 0) AS BIGINT) AS sum_w,
       CAST(CASE WHEN COALESCE(s.n_toks, 0) = 0 THEN 0
            ELSE (1000 * s.sum_w + {_QC_OFFSET} * s.n_toks) // s.n_toks - {_QC_OFFSET}
            END AS BIGINT) AS score_fp,
       CASE WHEN COALESCE(s.n_toks, 0) = 0 THEN 'drop'
            WHEN (1000 * s.sum_w + {_QC_OFFSET} * s.n_toks) // s.n_toks - {_QC_OFFSET} >= 0
            THEN 'keep' ELSE 'drop' END AS label
FROM documents d LEFT JOIN summed s ON d.doc_id = s.doc_id"""


# ---------------------------------------------------------------------------
# per-host boilerplate stripping
# ---------------------------------------------------------------------------

_BP_BLOCK = 5        # tokens per block (nav/header chrome is short)
_BP_NUM = 6          # boilerplate when 10 * df >= 6 * host docs (60%)
_BP_DEN = 10
_BP_MIN_DOCS = 3     # below this many pages the host has no frequency
# signal and the 60% rule degenerates (a 1-page host would strip 100%
# of its own content) — CCNet applies the same small-shard guard


def _bp_corpus(docs: DataFrame) -> DataFrame:
    """The fixture corpus both boilerplate consumers share: documents
    prefixed with a synthesized 5-token per-host nav block (chrome for
    the strip to find). One definition so q_boilerplate_strip and
    q_curation_pipeline can never diverge on the planted chrome."""
    return docs.select(
        "doc_id",
        F.col("source").alias("host"),
        F.concat(
            F.lit("nav home about contact "), F.col("source"), F.lit(" "), F.col("text")
        ).alias("text"),
    )


def q_boilerplate_strip(spark: SparkSession, sf: str) -> DataFrame:
    """Per-host boilerplate stripping — the CCNet/trafilatura pass that
    removes site chrome (nav bars, footers, cookie banners) BEFORE
    dedup and quality scoring: a text block that recurs on >= 60% of a
    host's pages is boilerplate for that host, not content. Documents
    are prefixed with a synthesized 5-token nav block
    ('nav home about contact <source>') so every host has real chrome
    to find; blocks are the same fixed 5-token grid per doc. Unlike
    q_dedup_blocks (global keep-first), the frequency threshold is PER
    HOST — the same block can be boilerplate on one host and unique
    content on another. Hosts with fewer than 3 pages have no frequency
    signal and are exempt (a 1-page host would otherwise strip 100% of
    its own content — the CCNet small-shard guard).

    Scale shape: one narrow explode, one groupBy(host, block) distinct
    doc count with map-side combine, one hash join back on
    (host, block), one groupBy(doc_id) reassemble — all bounded-key
    shuffles; the boilerplate table is host x chrome-block sized,
    orders below the corpus. The integer threshold compare
    (10 * df >= 6 * n_docs) avoids a division entirely."""
    corpus = _bp_corpus(load(spark, sf, "documents"))
    return strip_boilerplate(corpus)


def _bp_marked(corpus: DataFrame, carry_cols: tuple = ()) -> DataFrame:
    """The shared strip core: (doc_id, host, pos, block, keep) rows with
    per-host boilerplate blocks marked keep=false. ``carry_cols`` are
    extra corpus columns threaded through the explode (narrow — they
    ride the block rows) for consumers that must preserve them
    (pipeline.curate_corpus carries lang).

    Scale note: the frequency agg keys on the raw (host, block) strings
    on purpose — duplicated blocks collapse map-side before the shuffle,
    so the exchange is already small; an xxhash64-pair key variant was
    measured SLOWER at 640k docs (12.5s vs 25-40s: the hash projection
    cost exceeds the string-shuffle savings once partial aggregation has
    done its job)."""
    blocks = corpus.select(
        "doc_id", "host", *carry_cols, F.split(F.col("text"), " ").alias("toks")
    ).select(
        "doc_id",
        "host",
        *carry_cols,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST(ceil(size(toks) / {_BP_BLOCK}.0) AS INT) - 1),"
                f" i -> concat_ws(' ', slice(toks, i * {_BP_BLOCK} + 1, {_BP_BLOCK})))"
            )
        ).alias("pos", "block"),
    )
    blocks = query_barrier(blocks)
    host_docs = corpus.groupBy("host").agg(F.count("*").cast("long").alias("n_docs"))
    block_df = blocks.groupBy("host", "block").agg(
        F.countDistinct("doc_id").cast("long").alias("bdf")
    )
    boiler = (
        block_df.join(F.broadcast(host_docs), "host")
        .filter(
            (F.col("bdf") * _BP_DEN >= F.col("n_docs") * _BP_NUM)
            & (F.col("n_docs") >= _BP_MIN_DOCS)
        )
        .select("host", "block")
        .withColumn("is_boiler", F.lit(True))
    )
    return blocks.join(boiler, ["host", "block"], "left").withColumn(
        "keep", F.col("is_boiler").isNull()
    )


# Map-side strip applies while the boilerplate table stays under this many
# (host, block) rows — chrome-sized in any real corpus. Past it (an
# adversarial template corpus where most blocks clear the 60% threshold)
# the explode-join-reassemble fallback keeps memory bounded.
_BP_BROADCAST_MAX_BLOCKS = 500_000


def _bp_boiler(corpus: DataFrame) -> DataFrame:
    """(host, block) boilerplate table — the frequency side of the strip.
    Each doc's block grid is deduped IN PLACE (array_distinct) before the
    explode, so bdf is a plain count(*) instead of countDistinct(doc_id):
    the aggregation combines map-side on (host, block) and the exchange
    carries per-partition block counts, not one row per (doc, block)
    triple; output is host x chrome-block sized."""
    block_rows = corpus.select(
        "host", F.split(F.col("text"), " ").alias("toks")
    ).select(
        "host",
        F.explode(
            F.expr(
                f"array_distinct(transform(sequence(0, CAST(ceil(size(toks) / {_BP_BLOCK}.0) AS INT) - 1),"
                f" i -> concat_ws(' ', slice(toks, i * {_BP_BLOCK} + 1, {_BP_BLOCK}))))"
            )
        ).alias("block"),
    )
    host_docs = corpus.groupBy("host").agg(F.count("*").cast("long").alias("n_docs"))
    return (
        block_rows.groupBy("host", "block")
        .agg(F.count("*").cast("long").alias("bdf"))
        .join(F.broadcast(host_docs), "host")
        .filter(
            (F.col("bdf") * _BP_DEN >= F.col("n_docs") * _BP_NUM)
            & (F.col("n_docs") >= _BP_MIN_DOCS)
        )
        .select("host", "block")
    )


_BP_BLOCKS_EXPR = (
    f"transform(sequence(0, CAST(ceil(size(toks) / {_BP_BLOCK}.0) AS INT) - 1),"
    f" i -> concat_ws(' ', slice(toks, i * {_BP_BLOCK} + 1, {_BP_BLOCK})))"
)


def _bp_mapside(corpus: DataFrame, boiler: DataFrame, carry_cols: tuple) -> DataFrame:
    """Map-side strip: the per-host boiler block lists ride a broadcast
    join and each doc filters its own block grid in place — no corpus
    text ever crosses a shuffle (the 10^7-doc bench measured the
    reassembly exchange at 18.8 GB; this path eliminates it). Returns
    (doc_id, host, *carry, blocks, kept) with kept in original order."""
    per_host = boiler.groupBy("host").agg(F.collect_list("block").alias("_boiler"))
    return (
        corpus.join(F.broadcast(per_host), "host", "left")
        .withColumn("toks", F.split(F.col("text"), " "))
        .withColumn("blocks", F.expr(_BP_BLOCKS_EXPR))
        .withColumn(
            "kept",
            F.expr(
                "CASE WHEN _boiler IS NULL THEN blocks"
                " ELSE filter(blocks, b -> NOT array_contains(_boiler, b)) END"
            ),
        )
        .select("doc_id", "host", *carry_cols, "blocks", "kept")
    )


_BP_KEPT_TOKENS = "aggregate(kept, CAST(0 AS BIGINT), (a, b) -> a + size(split(b, ' ')))"


def _bp_use_mapside(boiler: DataFrame, mode: str) -> bool:
    if mode in ("mapside", "shuffle"):
        return mode == "mapside"
    # bounded probe — never a full count of an adversarial boiler table
    return (
        boiler.limit(_BP_BROADCAST_MAX_BLOCKS + 1).count() <= _BP_BROADCAST_MAX_BLOCKS
    )


def strip_boilerplate_text(
    corpus: DataFrame, carry_cols: tuple = (), mode: str = "auto"
) -> DataFrame:
    """strip_boilerplate variant that REASSEMBLES the kept text — the
    composition form pipeline.curate_corpus chains the rest of the
    curation pass onto (the stats form below fingerprints the kept text
    but does not return it).

    Delivery auto-mode (same contract as bloom/robots): while the boiler
    table is broadcast-sized, each doc strips ITS OWN block grid map-side
    and no document text crosses a shuffle; past the cap it falls back to
    the explode -> mark-join -> reassemble path. Outputs are identical in
    both modes (pinned in tests/test_queries_search.py)."""
    if _bp_use_mapside(boiler := query_barrier(_bp_boiler(corpus)), mode):
        return _bp_mapside(corpus, boiler, carry_cols).select(
            "doc_id",
            "host",
            *carry_cols,
            F.concat_ws(" ", F.col("kept")).alias("text"),
            F.expr(_BP_KEPT_TOKENS).alias("n_tokens"),
        )
    marked = _bp_marked(corpus, carry_cols)
    return marked.groupBy("doc_id", "host", *carry_cols).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("keep"), F.struct("pos", "block")))
                ),
                lambda s: s.getField("block"),
            ),
        ).alias("text"),
        F.sum(
            F.when(F.col("keep"), F.size(F.split(F.col("block"), " "))).otherwise(0)
        )
        .cast("long")
        .alias("n_tokens"),
    )


def strip_boilerplate(corpus: DataFrame, mode: str = "auto") -> DataFrame:
    """Per-host boilerplate stripping over any (doc_id, host, text)
    frame; see q_boilerplate_strip for the operator contract and
    strip_boilerplate_text for the delivery auto-mode (shared)."""
    if _bp_use_mapside(boiler := query_barrier(_bp_boiler(corpus)), mode):
        return _bp_mapside(corpus, boiler, ()).select(
            "doc_id",
            "host",
            F.size("blocks").cast("long").alias("n_blocks"),
            (F.size("blocks") - F.size("kept")).cast("long").alias("n_boiler"),
            F.expr(_BP_KEPT_TOKENS).alias("n_kept_toks"),
            F.md5(F.concat_ws(" ", F.col("kept"))).alias("kept_fp"),
        )
    marked = _bp_marked(corpus)
    return marked.groupBy("doc_id", "host").agg(
        F.count("*").cast("long").alias("n_blocks"),
        F.sum((~F.col("keep")).cast("int")).cast("long").alias("n_boiler"),
        F.sum(
            F.when(F.col("keep"), F.size(F.split(F.col("block"), " "))).otherwise(0)
        )
        .cast("long")
        .alias("n_kept_toks"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.when(F.col("keep"), F.struct("pos", "block")))
                    ),
                    lambda s: s.getField("block"),
                ),
            )
        ).alias("kept_fp"),
    )


_BP_CTES = f"""corpus AS (
  SELECT doc_id, source AS host,
         'nav home about contact ' || source || ' ' || text AS text2
  FROM documents
), toked AS (
  SELECT doc_id, host, string_split(text2, ' ') AS toks FROM corpus
), blk AS (
  SELECT doc_id, host,
         unnest(list_transform(range(0, CAST(ceil(len(toks) / {_BP_BLOCK}.0) AS BIGINT)),
           i -> {{'pos': i, 'block': array_to_string(toks[i * {_BP_BLOCK} + 1 : i * {_BP_BLOCK} + {_BP_BLOCK}], ' ')}})) AS z
  FROM toked
), blocks AS (
  SELECT doc_id, host, CAST(z.pos AS INT) AS pos, z.block AS block FROM blk
), host_docs AS (
  SELECT host, CAST(count(*) AS BIGINT) AS n_docs FROM corpus GROUP BY host
), block_df AS (
  SELECT host, block, CAST(count(DISTINCT doc_id) AS BIGINT) AS bdf
  FROM blocks GROUP BY host, block
), boiler AS (
  SELECT bd.host, bd.block FROM block_df bd JOIN host_docs h ON bd.host = h.host
  WHERE bd.bdf * {_BP_DEN} >= h.n_docs * {_BP_NUM} AND h.n_docs >= {_BP_MIN_DOCS}
), marked AS (
  SELECT b.doc_id, b.host, b.pos, b.block, o.block IS NULL AS keep
  FROM blocks b LEFT JOIN boiler o ON b.host = o.host AND b.block = o.block
), stripped AS (
  SELECT doc_id, host,
         CAST(count(*) AS BIGINT) AS n_blocks,
         CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_boiler,
         CAST(sum(CASE WHEN keep THEN len(string_split(block, ' ')) ELSE 0 END) AS BIGINT) AS n_kept_toks,
         md5(coalesce(string_agg(CASE WHEN keep THEN block END, ' ' ORDER BY pos), '')) AS kept_fp
  FROM marked GROUP BY doc_id, host
)"""

_BP_SQL = f"""
WITH {_BP_CTES}
SELECT doc_id, host, n_blocks, n_boiler, n_kept_toks, kept_fp FROM stripped"""


# ---------------------------------------------------------------------------
# image near-dup via banded pHash Hamming distance
# ---------------------------------------------------------------------------

_PHN_BANDS = 4      # 4 x 16-bit bands over the 64-bit average hash
_PHN_MAX_HAM = 6    # near-dup when hamming(phash_a, phash_b) <= 6
_PHN_CLONE_XOR = 3  # planted re-encode: clone with 2 low bits flipped


def q_phash_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Image near-duplicate detection over perceptual hashes — the
    multimodal sibling of MinHash-LSH text dedup (re-encoded / resized
    copies of an image land within a few pHash bits of the original;
    exact-byte dedup misses every one of them). pHashes come through
    the REAL media plumbing (operators/multimodal.py decode -> resize
    -> average-hash, the same pipeline q_image_phash driver-checks);
    every second image gets a planted '#v2' clone with two bits flipped
    (a re-encode stand-in, Hamming 2). Banding: a 64-bit hash splits
    into 4 x 16-bit bands; a pair whose Hamming is <= 6 must agree on
    at least one band (pigeonhole: 7+ differing bits cannot touch all
    4 bands... 6 can touch at most 3 when spread, but the guarantee is
    probabilistic for adversarial spreads — the planted clones differ
    in one band only), so candidates come from band-bucket equality,
    never an all-pairs image join; the exact bit_count(xor) verify
    touches candidates only.

    Determinism note: shiftright-and-mask band extraction and
    bit_count(xor) agree bit-for-bit between Spark and DuckDB including
    negative BIGINT hashes (two's complement on both — verified before
    this query landed).

    Scale shape: banding explodes 4 rows per image (map-side); the
    candidate join groups by (band_id, band_value) — bounded buckets;
    the verify is a per-pair integer op. At 10^10 images this is the
    exact shape image dedup runs in production pipelines."""
    from .operators.multimodal import image_resize_features
    from .queries import _image_refs

    media = spark.createDataFrame(
        [(r, "image") for r in _image_refs()], "media_ref string, kind string"
    ).withColumn("payload", F.encode(F.md5("media_ref"), "utf-8").cast("binary"))
    feats = image_resize_features(media).select("media_ref", "phash")
    corpus = feats.unionByName(
        feats.filter(F.substring(F.col("media_ref"), -5, 1).cast("int") % 2 == 0).select(
            F.concat(F.col("media_ref"), F.lit("#v2")).alias("media_ref"),
            F.expr(f"phash ^ {_PHN_CLONE_XOR}").cast("long").alias("phash"),
        )
    )
    corpus = query_barrier(corpus)
    bands = corpus.select(
        "media_ref",
        "phash",
        F.explode(F.expr(f"sequence(0, {_PHN_BANDS - 1})")).alias("band"),
    ).withColumn("bv", F.expr("shiftright(phash, 16 * band) & 65535"))
    b2 = bands.select(
        F.col("media_ref").alias("ref_b"),
        F.col("phash").alias("phash_b"),
        F.col("band").alias("band_b"),
        F.col("bv").alias("bv_b"),
    )
    cand = (
        bands.join(
            b2,
            (bands.band == b2.band_b)
            & (bands.bv == b2.bv_b)
            & (bands.media_ref < b2.ref_b),
        )
        .groupBy(
            F.col("media_ref").alias("media_a"),
            F.col("ref_b").alias("media_b"),
            F.col("phash"),
            F.col("phash_b"),
        )
        .agg(F.count("*").cast("long").alias("n_shared_bands"))
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(phash ^ phash_b)").cast("long"))
        .filter(F.col("hamming") <= _PHN_MAX_HAM)
        .select("media_a", "media_b", "n_shared_bands", "hamming")
    )


def _phash_neardup_sql() -> str:
    """Base pHashes precomputed with the same pure feature function
    (numpy runs at import, like _image_phash_sql); the banding, the
    candidate join, and the Hamming verify run relationally in DuckDB
    so the blocking logic itself is cross-checked."""
    import hashlib as _hl

    from .operators.multimodal import FakeDecodeBackend, image_features
    from .queries import _image_refs

    backend = FakeDecodeBackend()
    rows = []
    for ref in _image_refs():
        payload = _hl.md5(ref.encode()).hexdigest().encode("utf-8")
        f = image_features(ref, payload, 8, backend)
        rows.append("('%s', CAST(%d AS BIGINT))" % (ref, f["phash"]))
    return f"""
WITH feats AS (
  SELECT * FROM (VALUES
  {", ".join(rows)}
  ) AS t(media_ref, phash)
), corpus AS (
  SELECT media_ref, phash FROM feats
  UNION ALL
  SELECT media_ref || '#v2' AS media_ref, xor(phash, {_PHN_CLONE_XOR}) AS phash
  FROM feats
  WHERE CAST(substring(media_ref, length(media_ref) - 4, 1) AS INT) % 2 = 0
), bands AS (
  SELECT media_ref, phash, b.band, (phash >> (16 * b.band)) & 65535 AS bv
  FROM corpus, (SELECT unnest(generate_series(0, {_PHN_BANDS - 1})) AS band) b
), cand AS (
  SELECT a.media_ref AS media_a, x.media_ref AS media_b,
         a.phash AS pa, x.phash AS pb,
         CAST(count(*) AS BIGINT) AS n_shared_bands
  FROM bands a JOIN bands x
    ON a.band = x.band AND a.bv = x.bv AND a.media_ref < x.media_ref
  GROUP BY a.media_ref, x.media_ref, a.phash, x.phash
)
SELECT media_a, media_b, n_shared_bands,
       CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(pa, pb)) <= {_PHN_MAX_HAM}"""


# ---------------------------------------------------------------------------
# video near-dup by frame-fingerprint containment
# ---------------------------------------------------------------------------

_VND_MIN_CONT = 800  # containment (fixed-point /1000) to call a near-dup


def q_video_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Video near-duplicate detection by frame-fingerprint containment
    — the temporal member of the dedup trio (text: MinHash-LSH, image:
    banded pHash, video: shared-frame containment; a trimmed or
    re-cut upload shares most of its FRAMES with the original even
    though no whole-file hash matches). Frames come through the real
    multimodal plumbing (video_frame_sample, the pipeline
    q_video_frames driver-checks); every second video gets a planted
    '#cut' clone that drops the first sampled frame (a trim stand-in).
    Candidates = video pairs sharing at least one frame fingerprint
    (bucket join on the fingerprint, never video x video); verify =
    containment |shared| / min(|A|, |B|) in fixed-point, >= 0.8 flags
    the pair. Low-cardinality fingerprint collisions across unrelated
    videos become candidates but die at the verify (pinned in pytest).

    Scale shape: fingerprints explode one row per sampled frame
    (map-side); the bucket join groups by fingerprint value (bounded
    buckets); sizes are a per-video combine; verify touches candidate
    pairs only — the candidates-then-verify contract shared with every
    dedup operator in this engine."""
    from .operators.multimodal import video_frame_sample
    from .queries import _FRAME_EVERY_N, _video_refs

    media = spark.createDataFrame(
        [(r, "video") for r in _video_refs()], "media_ref string, kind string"
    ).withColumn("payload", F.encode(F.md5("media_ref"), "utf-8").cast("binary"))
    frames = video_frame_sample(media, every_n=_FRAME_EVERY_N).select(
        "media_ref",
        "frame_idx",
        F.floor(F.col("mean_lum") * 1000).cast("long").alias("sig"),
    )
    corpus = frames.unionByName(
        frames.filter(F.col("frame_idx") > 0).select(
            F.concat(F.col("media_ref"), F.lit("#cut")).alias("media_ref"),
            (F.col("frame_idx") - _FRAME_EVERY_N).cast("int").alias("frame_idx"),
            "sig",
        )
    )
    sigs = query_barrier(corpus.select("media_ref", "sig").distinct())
    sizes = sigs.groupBy("media_ref").agg(F.count("*").cast("long").alias("sz"))
    s2 = sigs.select(F.col("media_ref").alias("ref_b"), F.col("sig").alias("sig_b"))
    cand = (
        sigs.join(s2, (sigs.sig == s2.sig_b) & (sigs.media_ref < s2.ref_b))
        .groupBy(F.col("media_ref").alias("media_a"), F.col("ref_b").alias("media_b"))
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    za = sizes.select(F.col("media_ref").alias("media_a"), F.col("sz").alias("sz_a"))
    zb = sizes.select(F.col("media_ref").alias("media_b"), F.col("sz").alias("sz_b"))
    return (
        cand.join(za, "media_a")
        .join(zb, "media_b")
        .select(
            "media_a",
            "media_b",
            "n_shared",
            "sz_a",
            "sz_b",
            F.expr("(1000 * n_shared) DIV least(sz_a, sz_b)").cast("long").alias("containment_fp"),
            (F.expr("(1000 * n_shared) DIV least(sz_a, sz_b)") >= _VND_MIN_CONT).alias(
                "near_dup"
            ),
        )
    )


def _video_neardup_sql() -> str:
    """Frame rows precomputed with the same deterministic decode (like
    _video_frames_sql); the clone planting, bucket join, and
    containment verify run relationally in DuckDB."""
    import hashlib as _hl
    import math as _m

    from .operators.multimodal import FakeDecodeBackend
    from .queries import _FRAME_EVERY_N, _video_refs

    backend = FakeDecodeBackend()
    rows = []
    for ref in _video_refs():
        payload = _hl.md5(ref.encode()).hexdigest().encode("utf-8")
        frames = backend.decode_video_frames(payload, _FRAME_EVERY_N)
        for i, fr in enumerate(frames):
            rows.append(
                "('%s', %d, CAST(%d AS BIGINT))"
                % (ref, i * _FRAME_EVERY_N, _m.floor(float(fr.mean()) * 1000))
            )
    return f"""
WITH frames AS (
  SELECT * FROM (VALUES
  {", ".join(rows)}
  ) AS t(media_ref, frame_idx, sig)
), corpus AS (
  SELECT media_ref, frame_idx, sig FROM frames
  UNION ALL
  SELECT media_ref || '#cut', frame_idx - {_FRAME_EVERY_N}, sig
  FROM frames WHERE frame_idx > 0
), sigs AS (
  SELECT DISTINCT media_ref, sig FROM corpus
), sizes AS (
  SELECT media_ref, CAST(count(*) AS BIGINT) AS sz FROM sigs GROUP BY media_ref
), cand AS (
  SELECT a.media_ref AS media_a, b.media_ref AS media_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.media_ref < b.media_ref
  GROUP BY a.media_ref, b.media_ref
)
SELECT c.media_a, c.media_b, c.n_shared, za.sz AS sz_a, zb.sz AS sz_b,
       CAST((1000 * c.n_shared) // least(za.sz, zb.sz) AS BIGINT) AS containment_fp,
       (1000 * c.n_shared) // least(za.sz, zb.sz) >= {_VND_MIN_CONT} AS near_dup
FROM cand c
JOIN sizes za ON za.media_ref = c.media_a
JOIN sizes zb ON zb.media_ref = c.media_b"""


# ---------------------------------------------------------------------------
# audio near-dup by window-fingerprint containment
# ---------------------------------------------------------------------------

_AND_WIN = 1000      # samples per fingerprint window
_AND_MIN_CONT = 800  # containment (fixed-point /1000) to call a near-dup


def q_audio_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Audio near-duplicate detection by window-fingerprint containment
    — completes the dedup modality matrix (text: MinHash-LSH, image:
    banded pHash, video: frame containment, audio: THIS; a trimmed
    re-upload shares most of its windows with the original even though
    no whole-file hash matches — the Shazam-style constant-Q landmark
    pipeline reduced to its bucketable core). Window energies come
    through the real multimodal plumbing (audio_window_sigs, the same
    decode the driver-checked q_audio_stats exercises); every second
    clip gets a planted '#trim' clone that drops the first window.
    Candidates = clip pairs sharing at least one window fingerprint
    (bucket join on the fingerprint, never clip x clip); verify =
    containment |shared| / min(|A|, |B|) fixed-point >= 0.8. Same
    candidates-then-verify contract as every dedup operator here;
    one-window clips produce zero-window trim clones which simply never
    enter the signature stream (no degenerate division).

    Scale shape: window explode is narrow mapInPandas; the bucket join
    groups by fingerprint value (bounded buckets at micro precision);
    sizes are a per-clip combine; verify touches candidate pairs only."""
    from .operators.multimodal import audio_window_sigs
    from .queries import _audio_refs

    media = spark.createDataFrame(
        [(r, "audio") for r in _audio_refs()], "media_ref string, kind string"
    ).withColumn("payload", F.encode(F.md5("media_ref"), "utf-8").cast("binary"))
    wins = audio_window_sigs(media, win_samples=_AND_WIN).select(
        "media_ref", "win_idx", F.col("energy_micro").alias("sig")
    )
    corpus = wins.unionByName(
        wins.filter(
            (F.col("win_idx") > 0)
            & (F.substring(F.col("media_ref"), -5, 1).cast("int") % 2 == 0)
        ).select(
            F.concat(F.col("media_ref"), F.lit("#trim")).alias("media_ref"),
            (F.col("win_idx") - 1).cast("int").alias("win_idx"),
            "sig",
        )
    )
    sigs = query_barrier(corpus.select("media_ref", "sig").distinct())
    sizes = sigs.groupBy("media_ref").agg(F.count("*").cast("long").alias("sz"))
    s2 = sigs.select(F.col("media_ref").alias("ref_b"), F.col("sig").alias("sig_b"))
    cand = (
        sigs.join(s2, (sigs.sig == s2.sig_b) & (sigs.media_ref < s2.ref_b))
        .groupBy(F.col("media_ref").alias("media_a"), F.col("ref_b").alias("media_b"))
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    za = sizes.select(F.col("media_ref").alias("media_a"), F.col("sz").alias("sz_a"))
    zb = sizes.select(F.col("media_ref").alias("media_b"), F.col("sz").alias("sz_b"))
    return (
        cand.join(za, "media_a")
        .join(zb, "media_b")
        .select(
            "media_a",
            "media_b",
            "n_shared",
            "sz_a",
            "sz_b",
            F.expr("(1000 * n_shared) DIV least(sz_a, sz_b)")
            .cast("long")
            .alias("containment_fp"),
            (F.expr("(1000 * n_shared) DIV least(sz_a, sz_b)") >= _AND_MIN_CONT).alias(
                "near_dup"
            ),
        )
    )


def _audio_neardup_sql() -> str:
    """Window rows precomputed with the same pure feature function
    (audio_window_energies over the deterministic backend); the clone
    planting, bucket join, and containment verify run relationally."""
    import hashlib as _hl

    from .operators.multimodal import FakeDecodeBackend, audio_window_energies
    from .queries import _audio_refs

    backend = FakeDecodeBackend()
    rows = []
    for ref in _audio_refs():
        payload = _hl.md5(ref.encode()).hexdigest().encode("utf-8")
        for i, e in enumerate(audio_window_energies(payload, _AND_WIN, backend)):
            rows.append("('%s', %d, CAST(%d AS BIGINT))" % (ref, i, e))
    return f"""
WITH wins AS (
  SELECT * FROM (VALUES
  {", ".join(rows)}
  ) AS t(media_ref, win_idx, sig)
), corpus AS (
  SELECT media_ref, win_idx, sig FROM wins
  UNION ALL
  SELECT media_ref || '#trim', win_idx - 1, sig
  FROM wins
  WHERE win_idx > 0
    AND CAST(substring(media_ref, length(media_ref) - 4, 1) AS INT) % 2 = 0
), sigs AS (
  SELECT DISTINCT media_ref, sig FROM corpus
), sizes AS (
  SELECT media_ref, CAST(count(*) AS BIGINT) AS sz FROM sigs GROUP BY media_ref
), cand AS (
  SELECT a.media_ref AS media_a, b.media_ref AS media_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.media_ref < b.media_ref
  GROUP BY a.media_ref, b.media_ref
)
SELECT c.media_a, c.media_b, c.n_shared, za.sz AS sz_a, zb.sz AS sz_b,
       CAST((1000 * c.n_shared) // least(za.sz, zb.sz) AS BIGINT) AS containment_fp,
       (1000 * c.n_shared) // least(za.sz, zb.sz) >= {_AND_MIN_CONT} AS near_dup
FROM cand c
JOIN sizes za ON za.media_ref = c.media_a
JOIN sizes zb ON zb.media_ref = c.media_b"""


# ---------------------------------------------------------------------------
# composite curation pipeline (strip -> quality -> clean-text dedup)
# ---------------------------------------------------------------------------

_CUR_MIN_TOKS = 15  # quality gate on the DE-BOILERPLATED token count


def q_curation_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The composed curation pass a 100 TB corpus actually runs, in the
    order that makes it correct: per-host boilerplate strip FIRST, then
    the quality gate on the CLEANED token count, then exact dedup on
    the CLEANED text fingerprint. The order is the point — two copies
    of the same article on different hosts carry different chrome, so
    raw-text dedup misses them; stripped first, their fingerprints
    converge and the duplicate is caught (pinned in pytest). Each doc
    gets a first-failing disposition: boiler_only (nothing survives the
    strip) -> too_short (cleaned text under the gate) -> duplicate
    (another quality-passing doc owns the same cleaned fingerprint,
    keep-min doc_id) -> kept.

    Scale shape: the strip stages as in q_boilerplate_strip (all
    bounded-key shuffles); the quality gate is map-only; the dedup is
    one window partitioned by kept_fp (duplicate-group-sized, the exact
    shuffle an exact-dedup groupBy needs). The stripped table forks
    into the rank and the verdict join, so it sits behind a barrier."""
    corpus = _bp_corpus(load(spark, sf, "documents"))
    stripped = query_barrier(strip_boilerplate(corpus))
    quality = stripped.withColumn("quality_ok", F.col("n_kept_toks") >= _CUR_MIN_TOKS)
    dup_win = Window.partitionBy("kept_fp").orderBy("doc_id")
    ranked = (
        quality.filter(F.col("quality_ok"))
        .withColumn("rn", F.row_number().over(dup_win))
        .select("doc_id", "rn")
    )
    disposition = (
        F.when(F.col("n_kept_toks") == 0, F.lit("boiler_only"))
        .when(~F.col("quality_ok"), F.lit("too_short"))
        .when(F.col("rn") > 1, F.lit("duplicate"))
        .otherwise(F.lit("kept"))
    )
    return (
        quality.join(ranked, "doc_id", "left")
        .withColumn("disposition", disposition)
        .select(
            "doc_id",
            "host",
            "n_kept_toks",
            "kept_fp",
            "disposition",
            (F.col("disposition") == "kept").alias("is_output"),
        )
    )


_CURATION_SQL = f"""
WITH {_BP_CTES}, quality AS (
  SELECT doc_id, host, n_kept_toks, kept_fp,
         n_kept_toks >= {_CUR_MIN_TOKS} AS quality_ok
  FROM stripped
), ranked AS (
  SELECT doc_id, row_number() OVER (PARTITION BY kept_fp ORDER BY doc_id) AS rn
  FROM quality WHERE quality_ok
), verdicts AS (
  SELECT q.doc_id, q.host, q.n_kept_toks, q.kept_fp,
         CASE WHEN q.n_kept_toks = 0 THEN 'boiler_only'
              WHEN NOT q.quality_ok THEN 'too_short'
              WHEN r.rn > 1 THEN 'duplicate'
              ELSE 'kept' END AS disposition
  FROM quality q LEFT JOIN ranked r ON q.doc_id = r.doc_id
)
SELECT doc_id, host, n_kept_toks, kept_fp, disposition,
       disposition = 'kept' AS is_output
FROM verdicts"""


# ---------------------------------------------------------------------------
# FULL composed curation pipeline (all seven stages, end-to-end oracle)
# ---------------------------------------------------------------------------

_CPF_BUDGET = 100_000  # stage-5 token budget at the driver gate's fixture scale


def q_curation_pipeline_full(spark: SparkSession, sf: str) -> DataFrame:
    """The ENTIRE seven-stage curation pipeline
    (crawler_spark/pipeline.py: boilerplate strip -> quality filter ->
    MinHash-LSH near-dup dedup -> duplicated-span exposure filter ->
    temperature domain mix -> token pack -> shard shuffle) as ONE
    driver-checkable query: the returned frame is the FINAL training-shard
    assignment, so a value-hash match against the composed DuckDB oracle
    pins every stage boundary at once — which docs each stage dropped,
    the mix quotas, the pack offsets, and the shard deal. q_curation_pipeline
    above pins the 3-stage ordering argument; this pins the full
    composition the 10^7-doc benchmark (tools/pipeline_bench.py) measures.

    Stage outputs are localCheckpointed: the composed lineage (the LSH
    stage alone forks its plan four ways) otherwise grows a plan tree
    that can OOM the driver's plan printer."""
    docs = load(spark, sf, "documents")
    corpus = docs.select(
        "doc_id",
        F.col("source").alias("host"),
        "lang",
        F.concat(
            F.lit("nav home about contact "), F.col("source"), F.lit(" "), F.col("text")
        ).alias("text"),
    )
    from .pipeline import curate_corpus

    out = curate_corpus(
        corpus,
        mix_budget=_CPF_BUDGET,
        stage_cb=lambda _n, df: df.localCheckpoint(eager=True),
    )
    return out["shard_shuffle"]


def _curation_full_sql() -> str:
    """The composed seven-stage oracle: every CTE family is the already-
    proven per-operator oracle (strip: _BP_CTES shape; quality: the
    quality_filter SQL; LSH: the dedup_minhash_lsh naive formulation;
    spans: the dup_spans window shape; mix/pack/shuffle: the
    queries_scale oracles) re-pointed at the previous stage's CTE instead
    of the raw table. Built lazily so the minhash/shingle SQL fragments
    come from ONE definition (queries._SHINGLES_DUCK) and can never drift
    from the standalone dedup oracle."""
    from .queries import (
        _LSH_JAC_MIN,
        _MINHASH_COLS_DUCK,
        _SHINGLES_DUCK,
        LANG_MARKERS,
        STOPWORDS,
    )

    stop = ", ".join(f"'{w}'" for w in STOPWORDS)
    mk = {la: ", ".join(f"'{w}'" for w in ms) for la, ms in LANG_MARKERS.items()}
    B = _CPF_BUDGET
    w = _SPAN_W
    isqrt = (
        "CAST(floor(sqrt(CAST(tokens AS DOUBLE))) AS BIGINT)"
        " + CASE WHEN (CAST(floor(sqrt(CAST(tokens AS DOUBLE))) AS BIGINT) + 1)"
        " * (CAST(floor(sqrt(CAST(tokens AS DOUBLE))) AS BIGINT) + 1)"
        " <= tokens THEN 1 ELSE 0 END"
        " - CASE WHEN CAST(floor(sqrt(CAST(tokens AS DOUBLE))) AS BIGINT)"
        " * CAST(floor(sqrt(CAST(tokens AS DOUBLE))) AS BIGINT)"
        " > tokens THEN 1 ELSE 0 END"
    )
    return f"""
WITH corpus AS (
  SELECT doc_id, source AS host, lang,
         'nav home about contact ' || source || ' ' || text AS text2
  FROM documents
), toked AS (
  SELECT doc_id, host, lang, string_split(text2, ' ') AS toks FROM corpus
), blk AS (
  SELECT doc_id, host, lang,
         unnest(list_transform(range(0, CAST(ceil(len(toks) / {_BP_BLOCK}.0) AS BIGINT)),
           i -> {{'pos': i, 'block': array_to_string(toks[i * {_BP_BLOCK} + 1 : i * {_BP_BLOCK} + {_BP_BLOCK}], ' ')}})) AS z
  FROM toked
), blocks AS (
  SELECT doc_id, host, lang, CAST(z.pos AS INT) AS pos, z.block AS block FROM blk
), host_docs AS (
  SELECT host, CAST(count(*) AS BIGINT) AS n_docs FROM corpus GROUP BY host
), block_df AS (
  SELECT host, block, CAST(count(DISTINCT doc_id) AS BIGINT) AS bdf
  FROM blocks GROUP BY host, block
), boiler AS (
  SELECT bd.host, bd.block FROM block_df bd JOIN host_docs h ON bd.host = h.host
  WHERE bd.bdf * {_BP_DEN} >= h.n_docs * {_BP_NUM} AND h.n_docs >= {_BP_MIN_DOCS}
), marked AS (
  SELECT b.doc_id, b.host, b.lang, b.pos, b.block, o.block IS NULL AS keep
  FROM blocks b LEFT JOIN boiler o ON b.host = o.host AND b.block = o.block
), stripped0 AS (
  SELECT doc_id, host, lang,
         coalesce(string_agg(CASE WHEN keep THEN block END, ' ' ORDER BY pos), '') AS text,
         CAST(sum(CASE WHEN keep THEN len(string_split(block, ' ')) ELSE 0 END) AS BIGINT) AS n_tokens
  FROM marked GROUP BY doc_id, host, lang
), stripped AS (
  SELECT * FROM stripped0 WHERE n_tokens > 0
), q_s AS (
  SELECT doc_id, len(toks) AS q_n_tokens,
    CAST(floor(1000.0 * len(list_distinct(toks)) / len(toks)) AS BIGINT) AS distinct_milli,
    len(list_filter(toks, t -> t IN ({stop}))) AS stop_cnt,
    len(list_filter(toks, t -> t IN ({mk['en']}))) AS en_hits,
    len(list_filter(toks, t -> t IN ({mk['de']}))) AS de_hits,
    len(list_filter(toks, t -> t IN ({mk['fr']}))) AS fr_hits,
    len(list_filter(toks, t -> t IN ({mk['es']}))) AS es_hits,
    list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]) AS bigrams
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM stripped)
), q_bg AS (
  SELECT doc_id, unnest(bigrams) AS bg FROM q_s
), q_per AS (
  SELECT doc_id, bg, count(*) AS c FROM q_bg GROUP BY 1, 2
), q_tb AS (
  SELECT doc_id, CAST(floor(1000.0 * max(c) / sum(c)) AS BIGINT) AS top_bigram_milli
  FROM q_per GROUP BY 1
), q_r AS (
  SELECT s.doc_id,
    CASE WHEN q_n_tokens < 20 THEN 'too_short'
         WHEN NOT (en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits)
           THEN 'non_english'
         WHEN stop_cnt < 2 THEN 'low_stopword'
         WHEN distinct_milli < 350 THEN 'low_diversity'
         WHEN coalesce(tb.top_bigram_milli, 0) > 200 THEN 'repetitive'
         ELSE 'accept' END AS reject_reason
  FROM q_s s LEFT JOIN q_tb tb USING (doc_id)
), accepted AS (
  SELECT s.* FROM stripped s JOIN q_r USING (doc_id)
  WHERE q_r.reject_reason = 'accept'
), mh AS (
  SELECT doc_id, {_MINHASH_COLS_DUCK}
  FROM accepted WHERE len(string_split(text, ' ')) >= 3
), bands AS (
  SELECT doc_id, 0 AS band_idx, md5(mh0 || mh1) AS band_key FROM mh
  UNION ALL
  SELECT doc_id, 1 AS band_idx, md5(mh2 || mh3) AS band_key FROM mh
), lsh_pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
), sh AS (
  SELECT DISTINCT doc_id, unnest({_SHINGLES_DUCK}) AS s FROM accepted
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT p.doc_a, p.doc_b, count(*) AS inter_cnt
  FROM lsh_pairs p
  JOIN sh sa ON sa.doc_id = p.doc_a
  JOIN sh sb ON sb.doc_id = p.doc_b AND sb.s = sa.s
  GROUP BY 1, 2
), dups AS (
  SELECT DISTINCT i.doc_b AS doc_id
  FROM inter i
  JOIN sizes x ON x.doc_id = i.doc_a
  JOIN sizes y ON y.doc_id = i.doc_b
  WHERE CAST(floor(1000.0 * i.inter_cnt / (x.n_sh + y.n_sh - i.inter_cnt)) AS BIGINT)
        >= {_LSH_JAC_MIN}
), deduped AS (
  SELECT a.* FROM accepted a LEFT JOIN dups d USING (doc_id) WHERE d.doc_id IS NULL
), sp AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks) - {w} + 2),
           p -> array_to_string(toks[p : p + {w} - 1], ' '))) AS span
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM deduped)
  WHERE len(toks) >= {w}
), sp_g AS (
  SELECT span FROM sp GROUP BY span HAVING count(DISTINCT doc_id) >= 2
), sp_doc AS (
  SELECT sp.doc_id, count(*) AS n_windows,
         sum(CASE WHEN g.span IS NOT NULL THEN 1 ELSE 0 END) AS n_dup
  FROM sp LEFT JOIN sp_g g USING (span) GROUP BY sp.doc_id
), span_drop AS (
  SELECT doc_id FROM sp_doc WHERE (1000 * n_dup) // n_windows > 500
), span_ok AS (
  SELECT d.* FROM deduped d LEFT JOIN span_drop s USING (doc_id)
  WHERE s.doc_id IS NULL
), mtoks AS (
  SELECT doc_id, host, lang, n_tokens AS tokens FROM span_ok
), mweighted AS (
  SELECT host, {isqrt} AS weight
  FROM (SELECT host, CAST(sum(tokens) AS BIGINT) AS tokens FROM mtoks GROUP BY host)
), mtotals AS (
  SELECT CAST(sum(weight) AS BIGINT) AS w_total FROM mweighted
), mbased AS (
  SELECT w.host, ({B} * weight) // t.w_total AS base_alloc,
         ({B} * weight) % t.w_total AS rem
  FROM mweighted w, mtotals t
), mleft AS (
  SELECT {B} - sum(base_alloc) AS leftover FROM mbased
), malloc AS (
  SELECT host,
         CAST(base_alloc + CASE WHEN row_number() OVER (ORDER BY rem DESC, host ASC)
                                     <= leftover THEN 1 ELSE 0 END AS BIGINT) AS quota
  FROM mbased, mleft
), mixed AS (
  SELECT c.doc_id, c.tokens
  FROM (SELECT doc_id, host, tokens,
               sum(tokens) OVER (PARTITION BY host
                 ORDER BY md5('mix0#' || CAST(doc_id AS VARCHAR)), doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM mtoks) c
  JOIN malloc a USING (host)
  WHERE c.cum <= a.quota
), sharded AS (
  SELECT doc_id, tokens, hv, CAST(hv % 8 AS BIGINT) AS shard_id
  FROM (SELECT doc_id, tokens,
               CAST(concat('0x', substring(md5('epoch0#' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        FROM mixed)
)
SELECT doc_id, shard_id,
       CAST(row_number() OVER (PARTITION BY shard_id ORDER BY hv, doc_id) AS BIGINT) AS pos,
       tokens,
       CAST(sum(tokens) OVER (PARTITION BY shard_id ORDER BY hv, doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - tokens AS BIGINT) AS shard_offset
FROM sharded"""


# ---------------------------------------------------------------------------
# sliding-window repeated-span mining
# ---------------------------------------------------------------------------

_SPAN_W = 8  # sliding-window width in tokens (the GPT-3/Lee-et-al dedup unit)


def q_dup_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding-window repeated-span mining — the offset-insensitive
    complement of q_dedup_blocks (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better": exact substring dedup
    over the token stream). Fixed-block dedup misses a duplicated
    sentence that starts mid-block; sliding every _SPAN_W-token window
    (stride 1) catches duplication at ANY alignment — the fixed-width
    fingerprint approximation of the paper's suffix array, which is the
    shape this pass actually ships at corpus scale (a distributed
    suffix array is not a Spark-friendly structure; fixed-W shingle
    grouping is, and finds the same spans modulo the W floor). Output:
    every span occurring in >= 2 DISTINCT documents, its occurrence
    stats, and the first occurrence (min (doc_id, pos), packed into one
    BIGINT key so the argmin is a plain min() — no min_by tie ambiguity;
    the pack is doc_id * 2^32 + pos, sound for pos < 2^32 ~ a 4.3e9-token
    document and doc_id < 2^31, both beyond the table's id/doc domains).
    See repeated_spans for the operator contract and scale shape."""
    return repeated_spans(load(spark, sf, "documents"))


def _span_rows(docs: DataFrame, w: int) -> DataFrame:
    """Sliding-window explode: one (doc_id, pos, span) row per w-token
    window (stride 1). Narrow — same cost class as any tokenize pass."""
    toked = docs.select("doc_id", F.split(F.col("text"), " ").alias("toks")).filter(
        F.size("toks") >= w
    )
    return toked.select(
        "doc_id",
        F.explode(F.expr(f"sequence(1, size(toks) - {w} + 1)")).alias("pos"),
        "toks",
    ).select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.expr(f"concat_ws(' ', slice(toks, pos, {w}))").alias("span"),
    )


def repeated_spans(docs: DataFrame, w: int = _SPAN_W) -> DataFrame:
    """Sliding-window repeated-span mining over any (doc_id, text)
    frame; see q_dup_spans for the pass this implements.

    Scale shape: the window explode is narrow; the heavy shuffle carries
    ONLY (fp_hi, fp_lo, doc_id, pos) — a 128-bit xxhash64-pair group key
    (collision-safe past 10^12 distinct spans; xxhash64 is whole-stage
    codegen'd, measured 1/3 cheaper per row than an md5+conv pipeline)
    plus two ids, never the span text or a hex string. A degenerate
    span (site chrome repeated 10^6 times) lands in ONE group row,
    never a pair blowup. Winner span TEXT is reconstructed after the
    n_docs >= 2 filter by re-deriving windows for FIRST-occurrence docs
    only and joining on (doc_id, pos) — at realistic dup rates that
    second pass touches a small fraction of the corpus and never
    shuffles more than the winner set; the md5-derived span_fp the
    contract exposes (the cross-engine hash the DuckDB oracle can also
    compute) is priced per WINNER, not per span occurrence."""
    spans = _span_rows(docs, w)
    fps = spans.select(
        F.xxhash64("span").alias("fp_hi"),
        F.xxhash64(F.lit(1), F.col("span")).alias("fp_lo"),
        "doc_id",
        "pos",
    )
    winners = (
        fps.groupBy("fp_hi", "fp_lo")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_occ"),
            # struct-min is lexicographic (doc_id, then pos) in BOTH
            # engines and never overflows — the previous doc_id*2^32+pos
            # BIGINT pack overflowed at doc_id >= 2^31, i.e. exactly the
            # 10^10-doc regime (caught by the 640-copy scaling corpus
            # under ANSI mode).
            F.min(F.struct("doc_id", "pos")).alias("fk"),
        )
        .filter(F.col("n_docs") >= 2)
        .select(
            "n_docs",
            "n_occ",
            F.col("fk.doc_id").cast("long").alias("first_doc"),
            F.col("fk.pos").cast("long").alias("first_pos"),
        )
    )
    first_docs = winners.select(F.col("first_doc").alias("doc_id")).distinct()
    respans = _span_rows(docs.join(first_docs, "doc_id"), w).withColumnsRenamed(
        {"doc_id": "r_doc", "pos": "r_pos"}
    )
    return winners.join(
        respans,
        (winners["first_doc"] == respans["r_doc"])
        & (winners["first_pos"] == respans["r_pos"]),
    ).select(
        F.conv(F.substring(F.md5("span"), 1, 15), 16, 10)
        .cast("long")
        .alias("span_fp"),
        "span",
        "n_docs",
        "n_occ",
        "first_doc",
        "first_pos",
    )


def dup_span_exposure(docs: DataFrame, w: int = _SPAN_W) -> DataFrame:
    """Per-document duplicated-span EXPOSURE — the filter form of
    repeated_spans a curation pipeline composes (RefinedWeb drops docs
    whose content is mostly text that also appears elsewhere): for each
    doc, the fraction (milli, integer-exact) of its w-token sliding
    windows whose span occurs in >= 2 DISTINCT documents. Docs shorter
    than w tokens have no windows and are exempt (no row).

    Scale shape: same as repeated_spans minus the winner-text
    reconstruction — the shuffle carries only the 128-bit fingerprint
    pair + doc_id; per-doc rollups are combine-heavy groupBys. Never
    touches span text after the fingerprint projection."""
    spans = _span_rows(docs, w)
    fps = spans.select(
        F.xxhash64("span").alias("fp_hi"),
        F.xxhash64(F.lit(1), F.col("span")).alias("fp_lo"),
        "doc_id",
    )
    fps = query_barrier(fps)
    winners = (
        fps.groupBy("fp_hi", "fp_lo")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("fp_hi", "fp_lo")
    )
    dup_counts = (
        fps.join(winners, ["fp_hi", "fp_lo"], "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_dup_windows"))
    )
    totals = fps.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_windows"))
    return (
        totals.join(dup_counts, "doc_id", "left")
        .withColumn("n_dup_windows", F.coalesce("n_dup_windows", F.lit(0)).cast("long"))
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.expr("(1000 * n_dup_windows) DIV n_windows").cast("long").alias("dup_milli"),
        )
    )


_DUP_SPANS_SQL = f"""
WITH toked AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), eligible AS (
  SELECT doc_id, toks FROM toked WHERE len(toks) >= {_SPAN_W}
), exploded AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks) - {_SPAN_W} + 2),
           p -> {{'pos': p, 'span': array_to_string(toks[p : p + {_SPAN_W} - 1], ' ')}})) AS z
  FROM eligible
), spans AS (
  SELECT doc_id, CAST(z.pos AS BIGINT) AS pos, z.span AS span FROM exploded
), grouped AS (
  SELECT md5(span) AS h, min(span) AS span,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_occ,
         min({{'doc_id': doc_id, 'pos': pos}}) AS fk
  FROM spans GROUP BY md5(span)
)
SELECT CAST(concat('0x', substring(h, 1, 15)) AS BIGINT) AS span_fp,
       span, n_docs, n_occ,
       CAST(fk.doc_id AS BIGINT) AS first_doc,
       CAST(fk.pos AS BIGINT) AS first_pos
FROM grouped WHERE n_docs >= 2"""


# ---------------------------------------------------------------------------
# DSIR importance-resampling weights
# ---------------------------------------------------------------------------

_DSIR_B = 256      # hashed feature buckets (the paper's hashed n-gram space)
_DSIR_TGT_MOD = 7  # target slice: source index % 7 == 0 (~1/7 of sources)


def q_dsir_weights(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw-corpus
    document by how target-like its hashed-bigram distribution is —
    log p_target(doc) - log p_raw(doc) under two bag-of-hashed-bigrams
    unigram LMs — the selection pass that turns a 100 TB crawl into a
    domain-matched training subset. The target distribution is fitted
    on a deterministic source slice (source index % 7 == 0, a
    high-quality-domain stand-in); raw is the complement. Per-bucket
    log-probabilities use the repo's integer surrogate: surprisal =
    length(bin((1000 * (total + B)) DIV (cnt + 1))) — a floor-log2 of
    the add-one-smoothed inverse probability, so the doc's log-weight
    is an exact integer both engines agree on. selected = logw > 0 (doc looks more target- than
    raw-like); a production pipeline would Gumbel-resample on these
    weights — randomness is out of the determinism budget here, the
    weights are the operator. See dsir_score for the operator contract
    and scale shape."""
    docs = load(spark, sf, "documents")
    return dsir_score(
        docs.select(
            "doc_id",
            (F.expr("CAST(substring(source, 4) AS INT)") % _DSIR_TGT_MOD == 0).alias(
                "is_target"
            ),
            "text",
        )
    )


def dsir_score(docs: DataFrame) -> DataFrame:
    """DSIR importance weighting over any (doc_id, is_target, text)
    frame; see q_dsir_weights for the pass this implements.

    Scale shape: feature hashing is map-only (explode bigrams, md5 mod
    B); the bucket LM tables are ONE groupBy over B=256 keys (tiny,
    combine-heavy) and are BROADCAST back to the occurrence stream, so
    scoring never shuffles the corpus; the per-doc sum is a
    groupBy(doc_id) with map-side partials. At 10^10 docs the only
    corpus-sized exchange is the per-doc combine — the minimum any
    per-doc score needs."""
    ids = docs.select("doc_id", "is_target")
    toked = docs.select(
        "doc_id",
        "is_target",
        F.split(F.col("text"), " ").alias("toks"),
    ).filter(F.size("toks") >= 2)
    grams = toked.select(
        "doc_id",
        "is_target",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> concat(toks[i - 1], ' ', toks[i]))"
            )
        ).alias("bigram"),
    )
    occ = query_barrier(
        grams.withColumn(
            "bucket",
            F.conv(F.substring(F.md5("bigram"), 1, 4), 16, 10).cast("long") % _DSIR_B,
        )
    )
    stats = occ.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).cast("long").alias("cnt_t"),
        F.sum(F.when(F.col("is_target"), 0).otherwise(1)).cast("long").alias("cnt_r"),
    )
    totals = stats.agg(
        F.sum("cnt_t").cast("long").alias("tot_t"),
        F.sum("cnt_r").cast("long").alias("tot_r"),
    )
    scored = stats.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.expr(f"length(bin((1000 * (tot_t + {_DSIR_B})) DIV (cnt_t + 1)))")
        .cast("long")
        .alias("surp_t"),
        F.expr(f"length(bin((1000 * (tot_r + {_DSIR_B})) DIV (cnt_r + 1)))")
        .cast("long")
        .alias("surp_r"),
    )
    per_doc = (
        occ.join(F.broadcast(scored), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum(F.col("surp_r") - F.col("surp_t")).cast("long").alias("logw"),
        )
    )
    # every doc gets an explicit decision: a sub-2-token doc has no
    # bigram evidence, logw 0, selected false — a silent no-row here
    # would let degenerate docs through a selected=false anti-join
    # (same policy as q_quality_classifier's explicit 'drop' verdict)
    return ids.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "is_target",
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce("logw", F.lit(0)).cast("long").alias("logw"),
        (F.coalesce("logw", F.lit(0)) > 0).alias("selected"),
    )


_DSIR_SQL = f"""
WITH toked AS (
  SELECT doc_id, CAST(substring(source, 4) AS INT) % {_DSIR_TGT_MOD} = 0 AS is_target,
         string_split(text, ' ') AS toks
  FROM documents
), eligible AS (
  SELECT doc_id, is_target, toks FROM toked WHERE len(toks) >= 2
), grams AS (
  SELECT doc_id, is_target, z AS bigram
  FROM eligible, LATERAL (
    SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])) AS z
  ) t
), occ AS (
  SELECT doc_id, is_target,
         CAST(concat('0x', substring(md5(bigram), 1, 4)) AS BIGINT) % {_DSIR_B} AS bucket
  FROM grams
), stats AS (
  SELECT bucket,
         CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS cnt_t,
         CAST(sum(CASE WHEN is_target THEN 0 ELSE 1 END) AS BIGINT) AS cnt_r
  FROM occ GROUP BY bucket
), totals AS (
  SELECT CAST(sum(cnt_t) AS BIGINT) AS tot_t, CAST(sum(cnt_r) AS BIGINT) AS tot_r
  FROM stats
), scored AS (
  SELECT bucket,
         CAST(length(bin((1000 * (tot_t + {_DSIR_B})) // (cnt_t + 1))) AS BIGINT) AS surp_t,
         CAST(length(bin((1000 * (tot_r + {_DSIR_B})) // (cnt_r + 1))) AS BIGINT) AS surp_r
  FROM stats, totals
)
, per_doc AS (
  SELECT o.doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(s.surp_r - s.surp_t) AS BIGINT) AS logw
  FROM occ o JOIN scored s ON o.bucket = s.bucket
  GROUP BY o.doc_id
)
SELECT t.doc_id, t.is_target,
       CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(p.logw, 0) AS BIGINT) AS logw,
       COALESCE(p.logw, 0) > 0 AS selected
FROM toked t LEFT JOIN per_doc p ON t.doc_id = p.doc_id"""


# ---------------------------------------------------------------------------
# Corpus bigram construction (Good-Turing)
# ---------------------------------------------------------------------------

# ONE definition of "adjacent bigram" in both engines — a change to
# tokenization or pair semantics lands in the query and its oracle at
# once instead of silently diverging.
_BIGRAM_TRANSFORM = (
    "transform(sequence(1, size(toks) - 1),"
    " i -> struct(toks[i - 1] AS a, toks[i] AS b))"
)
# DuckDB twin (1-based list indexing)
_BIGRAM_SQL = "list_transform(range(1, len(toks)), i -> {'a': toks[i], 'b': toks[i + 1]})"


def _bigram_pairs(toked: DataFrame) -> DataFrame:
    """Adjacent (a, b) token pairs from a (.., toks array<string>) frame;
    callers must pre-filter size(toks) >= 2."""
    return toked.select(F.explode(F.expr(_BIGRAM_TRANSFORM)).alias("p")).select(
        "p.a", "p.b"
    )


# ---------------------------------------------------------------------------
# Good-Turing count-of-counts smoothing
# ---------------------------------------------------------------------------

_GT_MAX_R = 10  # report discounts for r <= 10 (SGT smooths the sparse tail)


def q_ngram_goodturing(spark: SparkSession, sf: str) -> DataFrame:
    """Good-Turing count-of-counts smoothing over the corpus bigram
    table — the frequency-of-frequencies statistic every classic
    smoothed LM (Katz backoff, Kneser-Ney's discount calibration) and
    vocabulary-coverage estimate is built from. For each observed count
    r <= _GT_MAX_R: N_r (how many distinct bigrams occur exactly r
    times), the discounted count r* = (r+1) * N_{r+1} / N_r in exact
    fixed-point milli (undefined when N_{r+1} = 0 — the sparse tail SGT
    smooths — reported undiscounted as r*1000), and the probability
    mass ppm that count class carries (N_r * r* / T). The r = 0 row is
    Good-Turing's signature: the UNSEEN mass estimate N_1 / T — the
    probability a fresh bigram from the same population was never seen
    in the corpus, i.e. the LM's out-of-corpus rate and the coverage
    dial a crawl-more-or-stop decision reads. The ppm divisions are
    exact SPLIT divisions — (x DIV t)*1000 + ((x % t)*1000) DIV t ==
    floor(1000*x/t) — so every intermediate stays in BIGINT for T up to
    ~9*10^15 bigram instances (the binding term is n_r*r_star_milli <=
    1000*T; a naive x*1000 staging bound 1000x earlier).

    Scale shape: the bigram groupBy is the only corpus-sized shuffle
    (combine-heavy, bigram-vocab keys); count-of-counts is a groupBy
    over DISTINCT COUNT VALUES — at most ~log-many distinct r dominate
    — so everything after the first aggregate is r-table-sized."""
    return goodturing_table(load(spark, sf, "documents"))


def goodturing_table(docs: DataFrame) -> DataFrame:
    """Good-Turing count-of-counts over any (doc_id, text) frame; see
    q_ngram_goodturing for the statistic and the scale shape."""
    spark = docs.sparkSession
    toked = docs.select("doc_id", F.split(F.col("text"), " ").alias("toks")).filter(
        F.size("toks") >= 2
    )
    counts = _bigram_pairs(toked).groupBy("a", "b").agg(
        F.count("*").cast("long").alias("r")
    )
    cofc = query_barrier(
        counts.groupBy("r").agg(F.count("*").cast("long").alias("n_r"))
    )
    scalars = cofc.agg(
        F.sum(F.col("r") * F.col("n_r")).alias("t"),
        F.sum(F.when(F.col("r") == 1, F.col("n_r")).otherwise(0)).alias("n1"),
    ).first()
    t_total = int(scalars["t"] or 1)
    n1 = int(scalars["n1"] or 0)
    nxt = cofc.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("n_next"))
    seen = (
        cofc.join(nxt, "r", "left")
        .filter(F.col("r") <= _GT_MAX_R)
        .withColumn(
            "r_star_milli",
            F.when(F.col("n_next").isNull(), F.col("r") * 1000)
            .otherwise(F.expr("(1000 * (r + 1) * n_next) DIV n_r"))
            .cast("long"),
        )
        .select(
            F.col("r").cast("long").alias("r"),
            "n_r",
            "r_star_milli",
            # exact split division: == floor(1000 * x / t) with x =
            # n_r*r_star_milli <= 1000*T, so no intermediate exceeds
            # 1000*T — BIGINT-safe to T ~ 9.2e15 (a naive x*1000
            # staging overflowed at T ~ 9.2e12, i.e. BELOW the 10^10-doc
            # target's bigram count)
            F.expr(
                f"((n_r * r_star_milli) DIV {t_total}) * 1000"
                f" + (((n_r * r_star_milli) % {t_total}) * 1000) DIV {t_total}"
            )
            .cast("long")
            .alias("mass_ppm"),
        )
    )
    zero = spark.sql(
        f"SELECT CAST(0 AS BIGINT) AS r, CAST(0 AS BIGINT) AS n_r, "
        f"CAST(NULL AS BIGINT) AS r_star_milli, "
        f"CAST({(1_000_000 * n1) // t_total} AS BIGINT) AS mass_ppm"
    )
    return seen.unionByName(zero)


_GT_SQL = f"""
WITH toked AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
  WHERE len(string_split(text, ' ')) >= 2
), big AS (
  SELECT z.a AS a, z.b AS b
  FROM (SELECT unnest({_BIGRAM_SQL}) AS z FROM toked)
), counts AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS r FROM big GROUP BY a, b
), cofc AS (
  SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM counts GROUP BY r
), tot AS (
  -- coalesce(.., 1) mirrors the Spark side's `or 1`: a corpus with no
  -- bigrams must give mass_ppm 0, not NULL, in BOTH engines
  SELECT CAST(coalesce(sum(r * n_r), 1) AS BIGINT) AS t,
         CAST(coalesce(sum(CASE WHEN r = 1 THEN n_r ELSE 0 END), 0) AS BIGINT) AS n1
  FROM cofc
), seen AS (
  SELECT c.r, c.n_r,
         CAST(CASE WHEN nx.n_r IS NULL THEN c.r * 1000
              ELSE (1000 * (c.r + 1) * nx.n_r) // c.n_r END AS BIGINT) AS r_star_milli
  FROM cofc c LEFT JOIN cofc nx ON nx.r = c.r + 1
  WHERE c.r <= {_GT_MAX_R}
)
SELECT CAST(r AS BIGINT) AS r, n_r, r_star_milli,
       CAST(((n_r * r_star_milli) // (SELECT t FROM tot)) * 1000
            + (((n_r * r_star_milli) % (SELECT t FROM tot)) * 1000)
              // (SELECT t FROM tot) AS BIGINT) AS mass_ppm
FROM seen
UNION ALL
SELECT 0, 0, NULL,
       CAST(((1000 * (SELECT n1 FROM tot)) // (SELECT t FROM tot)) * 1000
            + (((1000 * (SELECT n1 FROM tot)) % (SELECT t FROM tot)) * 1000)
              // (SELECT t FROM tot) AS BIGINT)"""


SEARCH_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "bm25_topk": q_bm25_topk,
    "host_similarity": q_host_similarity,
    "quality_classifier": q_quality_classifier,
    "boilerplate_strip": q_boilerplate_strip,
    "curation_pipeline": q_curation_pipeline,
    "curation_pipeline_full": q_curation_pipeline_full,
    "phash_neardup": q_phash_neardup,
    "video_neardup": q_video_neardup,
    "dup_spans": q_dup_spans,
    "dsir_weights": q_dsir_weights,
    "audio_neardup": q_audio_neardup,
    "ngram_goodturing": q_ngram_goodturing,
}

SEARCH_ORACLES: dict[str, str] = {
    "bm25_topk": _BM25_SQL,
    "host_similarity": _HSIM_SQL,
    "quality_classifier": _QC_SQL,
    "boilerplate_strip": _BP_SQL,
    "curation_pipeline": _CURATION_SQL,
    "curation_pipeline_full": _curation_full_sql(),
    "phash_neardup": _phash_neardup_sql(),
    "video_neardup": _video_neardup_sql(),
    "dup_spans": _DUP_SPANS_SQL,
    "dsir_weights": _DSIR_SQL,
    "audio_neardup": _audio_neardup_sql(),
    "ngram_goodturing": _GT_SQL,
}
