"""Query inventory for the driver's correctness gate (__spark_entry__.py).

Each entry pairs a Spark DataFrame builder with an ANSI-SQL oracle that
DuckDB runs over the same parquet tables (/root/testdata/sf*/). The queries
re-express the reference crawler's operator inventory (SURVEY.md §2 — semi/
anti joins J4-J8, keep-first dedups A5, first-per-group A4/A6, top-k drains
§2.5-§2.6, URL functions P1-P8/F1-F5) over the driver's relational tables,
plus the large-scale training-data-pipeline operators (dedup, similarity
search, text analysis) over the ``documents``/``embeddings`` tables.

Determinism rules (the driver hashes values):
- no raw doubles in outputs — every float is floor(x * scale) into a BIGINT
  (integer sums are order-independent; double sums are not);
- hashes shared between engines go through md5 (identical in Spark/DuckDB);
- timestamps are formatted to strings;
- every computed column is aliased identically on both sides.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions.linkextract import build_spans_html, extract_links

__all__ = ["SPARK_QUERIES", "ORACLE_SQL", "load", "query_barrier", "release_query_barriers"]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Persist barriers for multiply-consumed intermediates (forked plans).
# Without one, every downstream branch recomputes the whole upstream —
# e.g. the LSH rep corpus is shingled once but consumed by the band join,
# the shingle-size agg and BOTH sides of the intersection join. Callers
# that materialize a query (bench.py, tools/selfcheck.py) release after
# the action; a caller that never releases leaks at most a few small
# cached rep/shingle tables per LSH query, freed on session stop.
_QUERY_BARRIERS: list[DataFrame] = []


def query_barrier(df: DataFrame) -> DataFrame:
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _QUERY_BARRIERS.append(df)
    return df


def release_query_barriers() -> None:
    """Unpersist every barrier registered since the last release.
    Blocking, so callers (and tests) observe the storage as freed the
    moment this returns instead of racing the async cleaner."""
    while _QUERY_BARRIERS:
        _QUERY_BARRIERS.pop().unpersist(blocking=True)


# ---------------------------------------------------------------------------
# deterministic shared constants (computed once, embedded in BOTH engines)
# ---------------------------------------------------------------------------

EMB_DIM = 64
N_PLANES = 8
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
LANG_MARKERS = {
    "en": ("the", "a", "is"),
    "de": ("der", "die", "das"),
    "fr": ("le", "la", "et"),
    "es": ("el", "los", "que"),
}


def _plane_sign(j: int, i: int) -> int:
    """Hyperplane sign matrix for LSH bucketing: ±1 from md5 parity.
    Uses md5 so the Spark and DuckDB sides can regenerate it identically;
    here it is precomputed and embedded as literals in both."""
    h = hashlib.md5(f"{j}-{i}".encode()).hexdigest()
    return 1 if ord(h[0]) % 2 == 0 else -1


PLANES = [[_plane_sign(j, i) for i in range(EMB_DIM)] for j in range(N_PLANES)]


# ---------------------------------------------------------------------------
# relational operator shapes (SURVEY.md §2.3-§2.6) over the TPC-H-ish tables
# ---------------------------------------------------------------------------


def q_semi_join_open_orders(spark: SparkSession, sf: str) -> DataFrame:
    """J4/J8 shape (left-semi EXISTS view, repositories.py:131-167)."""
    customer, orders = load(spark, sf, "customer"), load(spark, sf, "orders")
    return customer.join(
        orders.filter(F.col("o_orderstatus") == "O"),
        customer.c_custkey == orders.o_custkey,
        "left_semi",
    ).select("c_custkey", "c_name", "c_mktsegment")


def q_anti_join_no_orders(spark: SparkSession, sf: str) -> DataFrame:
    """J7 shape (discovered-but-never-crawled anti-join, repositories.py:264-285)."""
    customer, orders = load(spark, sf, "customer"), load(spark, sf, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def q_first_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """A4/A6 shape (first job per page, entities.py:217-226)."""
    orders = load(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("first_orderkey"),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("first_price_cents"),
        )
    )


def q_topk_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """The scheduler's per-host top-K drain window (SURVEY.md §2.5)."""
    orders = load(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter("rk <= 3")
        .select("o_custkey", "o_orderkey", "rk")
    )


def q_keepfirst_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """A5 shape (keep-first-occurrence dedup, entities.py:248-261)."""
    events = load(spark, sf, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "event_type", F.col("event_id").alias("first_event_id"))
    )


def q_crawl_counters(spark: SparkSession, sf: str) -> DataFrame:
    """A1/A2 shape (pages_crawled / total_pages_found counters)."""
    orders = load(spark, sf, "orders")
    return orders.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("sum_price_cents"),
    )


def q_concat_agg(spark: SparkSession, sf: str) -> DataFrame:
    """A7 shape (per-source ordered concat of summaries, chatbot_service.py:42-109)."""
    docs = load(spark, sf, "documents")
    return docs.groupBy("lang").agg(
        F.array_join(
            F.array_sort(F.collect_list(F.lpad(F.col("doc_id").cast("string"), 8, "0"))), "|"
        ).alias("doc_ids_concat"),
        F.count("*").alias("n_docs"),
    )


def q_recent_topn(spark: SparkSession, sf: str) -> DataFrame:
    """O4 shape (recent-jobs listing, repl_helper.py:96-98)."""
    orders = load(spark, sf, "orders")
    return (
        orders.orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
        .limit(20)
        .select(
            "o_orderkey",
            "o_custkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
    )


def q_budget_limit(spark: SparkSession, sf: str) -> DataFrame:
    """O2 shape (max_pages budget: first 3 pops per source, entities.py:157)."""
    events = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter("rn <= 3")
        .select("user_id", "event_id", "rn")
    )


def q_events_tumbling(spark: SparkSession, sf: str) -> DataFrame:
    """Micro-batch metrics rollup: tumbling 1h windows over the event stream."""
    events = load(spark, sf, "events")
    return (
        events.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
        )
    )


# ---------------------------------------------------------------------------
# URL functions (P1-P8, F1-F5) over synthesized URL columns
# ---------------------------------------------------------------------------

_URL_CASE = """CASE CAST(o_orderkey % 4 AS INT)
  WHEN 0 THEN concat('https://h', CAST(o_custkey % 50 AS STRING), '.example.org/o/', CAST(o_orderkey AS STRING), '///')
  WHEN 1 THEN concat('http://insecure.example.org/o/', CAST(o_orderkey AS STRING))
  WHEN 2 THEN concat('https://h', CAST(o_custkey % 50 AS STRING), '.example.org/o/', CAST(o_orderkey AS STRING), '#frag')
  ELSE concat('https://h', CAST(o_custkey % 50 AS STRING), '.example.org/o/', CAST(o_orderkey AS STRING))
END"""


def q_url_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """P1/P2: reference URL normalization (domain/types.py:11-24) via the
    engine's actual Arrow UDF over synthesized dirty URLs."""
    from .functions.udfs import normalize_url_udf

    orders = load(spark, sf, "orders")
    return (
        orders.withColumn("dirty_url", F.expr(_URL_CASE))
        .withColumn("norm_url", normalize_url_udf("dirty_url"))
        .filter(F.col("norm_url").isNotNull())
        .select("o_orderkey", "norm_url")
    )


def q_url_strip_fragment(spark: SparkSession, sf: str) -> DataFrame:
    """P3: fragment stripping (entities.py:28-34) via the engine's Arrow UDF."""
    from .functions.udfs import strip_fragment_udf

    orders = load(spark, sf, "orders")
    return (
        orders.withColumn("dirty_url", F.expr(_URL_CASE))
        .filter(F.col("dirty_url").startswith("https://"))
        .withColumn("url_nofrag", strip_fragment_udf("dirty_url"))
        .select("o_orderkey", "url_nofrag")
    )


_CLASSIFY_SCHEMA = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("category", T.StringType()),
        T.StructField("url", T.StringType()),
    ]
)

_HREF_CASE = """CASE CAST(l_linenumber % 5 AS INT)
  WHEN 0 THEN concat('https://base.example.org/files/f', CAST(l_orderkey AS STRING), '.pdf')
  WHEN 1 THEN concat('https://base.example.org/p/', CAST(l_orderkey AS STRING))
  WHEN 2 THEN concat('https://other.example.net/x/', CAST(l_orderkey AS STRING))
  WHEN 3 THEN concat('/rel/p', CAST(l_orderkey AS STRING))
  ELSE 'mailto:team@example.com'
END"""


def _classify_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from .functions.linkextract import classify_href

    base = "https://base.example.org"
    for pdf in it:
        cats, urls = [], []
        for href in pdf["href"]:
            c, u = classify_href(href, base)
            cats.append(c)
            urls.append(u)
        yield pd.DataFrame(
            {
                "l_orderkey": pdf["l_orderkey"].values,
                "l_linenumber": pdf["l_linenumber"].values,
                "category": cats,
                "url": urls,
            }
        )


def q_url_classify(spark: SparkSession, sf: str) -> DataFrame:
    """P5-P8: href classification pipeline (manual_link_extractor.py:44-58,
    exclusion + file-suffix + internal/external) via the engine's classifier."""
    lineitem = load(spark, sf, "lineitem")
    return (
        lineitem.select("l_orderkey", "l_linenumber", F.expr(_HREF_CASE).alias("href"))
        .mapInPandas(_classify_batches, _CLASSIFY_SCHEMA)
        .filter(F.col("category").isNotNull())
    )


# ---------------------------------------------------------------------------
# link extraction + interleaved spans (F3, S2-S3, input_hint payload)
# ---------------------------------------------------------------------------


def _doc_html(doc_id: str, text: str, with_links: bool) -> str:
    k = int(doc_id) % 7
    if with_links:
        return (
            f"<p>{text}</p>"
            f'<a href="https://h{k}.example.org/p{doc_id}">x</a>'
            f'<a href="/rel/{doc_id}">r</a>'
            f'<a href="#">skip</a>'
            f'<a href="https://ext.example.net/e{doc_id}">e</a>'
            f'<a href="https://h{k}.example.org/f{doc_id}.pdf">f</a>'
        )
    return (
        f"<p>{text}</p>"
        f'<a href="https://files.example.org/d{doc_id}.pdf"></a>'
        f"<p>tail{doc_id}</p>"
    )


_LINKS_SCHEMA = "doc_id long, category string, pos int, link string"


def _extract_links_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        rows = {"doc_id": [], "category": [], "pos": [], "link": []}
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            base = f"https://h{int(doc_id) % 7}.example.org"
            links = extract_links(_doc_html(str(doc_id), text, True), base)
            for cat, lst in (("internal", links.internal), ("external", links.external), ("file", links.file)):
                for pos, link in enumerate(lst):
                    rows["doc_id"].append(doc_id)
                    rows["category"].append(cat)
                    rows["pos"].append(pos)
                    rows["link"].append(link)
        yield pd.DataFrame(rows)


def q_link_extract(spark: SparkSession, sf: str) -> DataFrame:
    """F3/UDTF shape: href harvest + classify + order-preserving dedup
    (manual_link_extractor.py:60-104) via the engine's Arrow extractor
    over HTML synthesized from the documents table."""
    docs = load(spark, sf, "documents")
    return docs.select("doc_id", "text").mapInPandas(_extract_links_batches, _LINKS_SCHEMA)


_SPANS_FLAT_SCHEMA = (
    "doc_id long, pos int, kind string, text string, media_ref string, offset int"
)


def _spans_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        rows = {"doc_id": [], "pos": [], "kind": [], "text": [], "media_ref": [], "offset": []}
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            spans, _links = build_spans_html(
                _doc_html(str(doc_id), text, False), "https://files.example.org"
            )
            for pos, s in enumerate(spans):
                rows["doc_id"].append(doc_id)
                rows["pos"].append(pos)
                rows["kind"].append(s.kind)
                rows["text"].append(s.text)
                rows["media_ref"].append(s.media_ref)
                rows["offset"].append(s.offset)
        yield pd.DataFrame(rows)


def q_spans_parse(spark: SparkSession, sf: str) -> DataFrame:
    """The input_hint payload: interleaved text+media span extraction
    (BASELINE.json; reference order semantics manual_link_extractor.py:62-71 +
    pdf_scraper.py:21-24) via the engine's Arrow span parser, exploded flat."""
    docs = load(spark, sf, "documents")
    return docs.select("doc_id", "text").mapInPandas(_spans_batches, _SPANS_FLAT_SCHEMA)


# ---------------------------------------------------------------------------
# deduplication suite over documents (training-data pipeline operators)
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup: hash-groupBy on a canonicalized content key."""
    docs = load(spark, sf, "documents")
    key = F.md5(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 5)))
    return docs.groupBy(key.alias("content_key")).agg(
        F.count("*").alias("n_copies"), F.min("doc_id").alias("keep_doc_id")
    )


_SHINGLES = "transform(sequence(0, size(split(text, ' ')) - 3), i -> concat_ws(' ', slice(split(text, ' '), i + 1, 3)))"

# Shingles via 3 shifted slices zipped together — O(n) instead of one
# slice per index; value-identical to _SHINGLES (oracle unchanged).
_SHINGLES_FAST = (
    "transform("
    " arrays_zip(slice(toks, 1, size(toks) - 2), slice(toks, 2, size(toks) - 2), slice(toks, 3, size(toks) - 2)),"
    " z -> concat(z['0'], ' ', z['1'], ' ', z['2']))"
)


def _with_shingles(docs: DataFrame) -> DataFrame:
    return (
        docs.withColumn("toks", F.split("text", " "))
        .filter(F.size("toks") >= 3)
        .withColumn("sh", F.expr(_SHINGLES_FAST))
    )


# MinHash-LSH end-to-end near-dup dedup: the blocking shape that survives
# 100 TB. Signatures -> band buckets -> in-bucket candidate pairs -> exact
# Jaccard verify -> keep-min per duplicate. Planted near-dups (a mutated
# copy of every 10th doc at doc_id + _LSH_OFFSET) guarantee the pipeline
# exercises non-trivially: the planted pairs are NON-consecutive, so
# blocking on consecutive doc ids cannot find them by design.

_LSH_OFFSET = 1_000_000
_LSH_BANDS = ((0, 1), (2, 3))  # b=2 bands x r=2 rows over mh0..mh3
_LSH_JAC_MIN = 500  # milli-Jaccard verify threshold


def _lsh_corpus(docs: DataFrame) -> DataFrame:
    """documents plus a deterministic near-dup: every 10th doc re-appears
    with one appended token (shingle sets differ by exactly one)."""
    mutated = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + _LSH_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(mutated)


def _lsh_expand_groups(members: DataFrame, edges: DataFrame) -> DataFrame:
    """Lossless expansion of group-level verified pairs back to members.

    ``members``: (doc_id, rep_id); ``edges``: directed rows
    (rep_id, partner_min, score) meaning "every member of group rep_id is
    a verified near-dup of every member of group partner_min", where
    partner_min is that group's MINIMUM doc_id (= its rep). Exactness:
    for member b, the naive all-members output is
    min/max over qualifying partners a < b; within one partner group the
    smallest member IS partner_min, so min(doc_a) = min of the partner
    mins below b, and max(score) ranges over exactly the partner groups
    whose min is below b. Row count is members x partner-groups — linear
    in members, never quadratic in a group's size."""
    return (
        members.join(edges, "rep_id")
        .filter(F.col("partner_min") < F.col("doc_id"))
        .groupBy(F.col("doc_id").alias("dup_id"))
        .agg(F.min("partner_min").alias("keep_id"), F.max("score").alias("score"))
    )


def _bands_from_shingled(shingled: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_key) LSH band rows from a pre-shingled
    frame (_with_shingles output): 4 minhash families sliced from ONE
    md5 per shingle, banded per _LSH_BANDS."""
    mh = shingled.withColumn("hs", F.expr("transform(sh, s -> md5(s))")).select(
        "doc_id",
        *[
            F.expr(f"array_min(transform(hs, h -> substring(h, {j * 8 + 1}, 8)))").alias(f"mh{j}")
            for j in range(4)
        ],
    )
    return mh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.md5(F.concat(F.col(f"mh{lo}"), F.col(f"mh{hi}"))).alias("band_key"),
                    )
                    for i, (lo, hi) in enumerate(_LSH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.band_idx").alias("band_idx"), F.col("b.band_key").alias("band_key"))


def _minhash_rep_pairs(docs: DataFrame):
    """Candidate generation with the HOT-BUCKET GUARD: exact-duplicate
    texts collapse to one representative (min doc_id per md5(text))
    BEFORE the band self-join, so a degenerate bucket of N identical docs
    contributes ONE rep instead of N^2/2 in-bucket pairs — the classic
    LSH skew failure (boilerplate-heavy corpora) is structurally
    impossible for identical payloads, with zero recall loss (the
    expansion in _lsh_expand_groups is exact, nothing is capped or
    dropped). Returns (members, groups, sizes, scored_rep_pairs).

    Shuffle budget (the 10^7-doc pipeline stage was dominated by this
    function): every text in an md5(text) group is IDENTICAL, so the
    rep's text rides the groupBy as any_value — partial aggregation
    combines map-side and the full-corpus rep semi-join shuffle is gone;
    shingle-set sizes come from F.size on the array (no explode/groupBy);
    the exact-Jaccard verify joins candidate PAIRS against packed shingle
    ARRAYS and intersects per row (array_intersect), so the shuffle
    carries one array row per rep instead of one row per shingle and the
    per-pair groupBy disappears. Zero-intersection candidates now score
    jac_milli=0 instead of being absent — every consumer filters
    >= _LSH_JAC_MIN, so the verified pair set is unchanged."""
    keyed = query_barrier(docs.withColumn("ekey", F.md5("text")))
    groups_full = keyed.groupBy("ekey").agg(
        F.min("doc_id").alias("rep_id"),
        F.count("*").alias("grp_n"),
        F.any_value("text").alias("rep_text"),
    )
    groups = groups_full.select("ekey", "rep_id", "grp_n")
    members = keyed.join(groups.select("ekey", "rep_id"), "ekey").select("doc_id", "rep_id")
    reps = groups_full.select(
        F.col("rep_id").alias("doc_id"), F.col("rep_text").alias("text")
    )
    shingled = query_barrier(_with_shingles(reps))
    bands = _bands_from_shingled(shingled)
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # shingles ride the verify as 64-bit xxhash64 ints, not strings: the
    # array_intersect scan is memory-bandwidth-bound and the pair join
    # replicates each candidate's set, so 8-byte elements cut both ~5x.
    # A within-pair collision (P ~ |set|^2 / 2^64, ~1e-15 at 200
    # shingles) is the only way this diverges from the string oracle.
    shd = query_barrier(
        shingled.select(
            "doc_id",
            F.expr("array_distinct(transform(sh, s -> xxhash64(s)))").alias("shd"),
        )
    )
    sizes = shd.select("doc_id", F.size("shd").alias("n_sh"))
    scored = (
        pairs.join(shd.alias("x"), F.col("x.doc_id") == F.col("doc_a"))
        .join(shd.alias("y"), F.col("y.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect(F.col("x.shd"), F.col("y.shd"))).alias("inter_cnt"),
            F.size(F.col("x.shd")).alias("na"),
            F.size(F.col("y.shd")).alias("nb"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.floor(
                1000.0
                * F.col("inter_cnt")
                / (F.col("na") + F.col("nb") - F.col("inter_cnt"))
            ).cast("long").alias("jac_milli"),
        )
    )
    return members, groups, sizes, scored


def minhash_dedup_map(docs: DataFrame) -> DataFrame:
    """(dup_doc_id, keep_doc_id, jac_milli) MinHash-LSH dedup map over
    any (doc_id, text) frame — q_dedup_minhash_lsh without the planted
    fixture corpus; the composition form pipeline.curate_corpus
    anti-joins against. Same stages, same scale shape (see the query
    docstring below)."""
    members, groups, sizes, scored = _minhash_rep_pairs(docs)
    ok_pairs = scored.filter(F.col("jac_milli") >= _LSH_JAC_MIN)
    edges = ok_pairs.select(
        F.col("doc_a").alias("rep_id"),
        F.col("doc_b").alias("partner_min"),
        F.col("jac_milli").alias("score"),
    ).unionByName(
        ok_pairs.select(
            F.col("doc_b").alias("rep_id"),
            F.col("doc_a").alias("partner_min"),
            F.col("jac_milli").alias("score"),
        )
    )
    # within-group edges: identical shingle sets have Jaccard exactly
    # 1000; the sizes inner join gates on >= 1 shingle (empty-shingle
    # docs never share a band bucket in the naive pipeline either)
    self_edges = (
        groups.filter(F.col("grp_n") >= 2)
        .join(sizes, groups.rep_id == sizes.doc_id, "left_semi")
        .select(
            "rep_id",
            F.col("rep_id").alias("partner_min"),
            F.lit(1000).cast("long").alias("score"),
        )
    )
    return _lsh_expand_groups(members, edges.unionByName(self_edges)).select(
        F.col("dup_id").alias("dup_doc_id"),
        F.col("keep_id").alias("keep_doc_id"),
        F.col("score").alias("jac_milli"),
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end MinHash-LSH near-dup dedup. At 10^10-doc scale every
    stage is a hash shuffle on a bounded key (band bucket / doc pair) —
    never an all-pairs comparison: candidate generation touches only
    docs sharing a band bucket, the exact-Jaccard verify runs only on
    those candidates, and the hot-bucket guard (_minhash_rep_pairs)
    collapses identical texts to one representative so degenerate
    buckets stay linear (tests/test_dedup_lsh.py::test_degenerate_bucket
    plants 10^3 identical docs and counts candidate pairs)."""
    return minhash_dedup_map(_lsh_corpus(load(spark, sf, "documents")))


def q_dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental near-dup dedup: a NEWLY INGESTED batch checked against
    an already-indexed corpus — the production ingest shape at 100 TB,
    where re-deduping the whole corpus per batch is impossible. Index =
    docs with doc_id % 5 != 4; batch = the rest, plus a PLANTED one-token
    mutation of every 10th index doc (so the batch genuinely contains
    near-dups of the index, not just of itself). Emits one row per batch
    doc that near-duplicates the index: (new_doc_id, keep_doc_id = min
    qualifying index doc, jac_milli = max verified score).

    Scale shape: batch bands join INDEX bands — cross-side only, never a
    self-join, so cost is O(batch x collisions), independent of corpus
    size once the index band table exists (in production it is a bucketed
    table keyed on band_key; here it is built inline from the same
    corpus). Shingle-explode for the exact verify touches CANDIDATE reps
    only (left-semi pruned)."""
    docs = load(spark, sf, "documents")
    index = docs.filter(F.col("doc_id") % 5 != 4).select("doc_id", "text")
    batch = (
        docs.filter(F.col("doc_id") % 5 == 4)
        .select("doc_id", "text")
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + _LSH_OFFSET).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zz")).alias("text"),
            )
        )
    )
    return incremental_dedup(index, batch)


def incremental_dedup(index: DataFrame, batch: DataFrame) -> DataFrame:
    """Near-dups of ``batch`` docs against ``index`` docs (both
    (doc_id, text) frames); see q_dedup_incremental for the contract.

    Hot-bucket guard: each side collapses exact-duplicate texts to one
    representative (min doc_id per md5(text)) before banding, so a
    boilerplate-heavy side contributes one rep per distinct text instead
    of a quadratic in-bucket blowup. Losslessness: band keys are a pure
    function of text, so the rep's collisions are exactly every member's
    collisions, and expanding batch members through their rep recovers
    the naive answer (the DuckDB oracle IS the naive all-docs band join —
    the driver hash-checks the equivalence). Intra-batch duplicates are
    deliberately NOT reported: dedup-within-batch is the existing
    q_dedup_minhash_lsh pass; this operator answers only "is this new
    doc already in the corpus?"."""
    def side(df: DataFrame):
        # rep text rides the groupBy (identical within an md5 group), so
        # no second full-side semi-join shuffle — same shuffle-budget
        # rework as _minhash_rep_pairs
        keyed = query_barrier(df.withColumn("ekey", F.md5("text")))
        groups = keyed.groupBy("ekey").agg(
            F.min("doc_id").alias("rep_id"), F.any_value("text").alias("rep_text")
        )
        members = keyed.join(groups.select("ekey", "rep_id"), "ekey").select("doc_id", "rep_id")
        reps = groups.select(F.col("rep_id").alias("doc_id"), F.col("rep_text").alias("text"))
        return members, query_barrier(_with_shingles(reps))

    idx_members, idx_sh = side(index)
    new_members, new_sh = side(batch)
    pairs = (
        _bands_from_shingled(idx_sh)
        .alias("i")
        .join(
            _bands_from_shingled(new_sh).alias("n"),
            (F.col("i.band_idx") == F.col("n.band_idx"))
            & (F.col("i.band_key") == F.col("n.band_key")),
        )
        .select(F.col("i.doc_id").alias("idx_rep"), F.col("n.doc_id").alias("new_rep"))
        .distinct()
    )

    def cand_arrays(shingled: DataFrame, ids: DataFrame) -> DataFrame:
        # candidate reps only (left-semi pruned), shingle set packed as
        # one array of xxhash64 ints per rep — the verify intersects
        # arrays per pair instead of shuffling exploded shingle rows
        # (see _minhash_rep_pairs on the 64-bit collision bound)
        return shingled.join(ids, "doc_id", "left_semi").select(
            "doc_id",
            F.expr("array_distinct(transform(sh, s -> xxhash64(s)))").alias("shd"),
        )

    shd_i = cand_arrays(idx_sh, pairs.select(F.col("idx_rep").alias("doc_id")))
    shd_n = cand_arrays(new_sh, pairs.select(F.col("new_rep").alias("doc_id")))
    edges = (
        pairs.join(shd_i.alias("x"), F.col("x.doc_id") == F.col("idx_rep"))
        .join(shd_n.alias("y"), F.col("y.doc_id") == F.col("new_rep"))
        .select(
            "idx_rep",
            "new_rep",
            F.size(F.array_intersect(F.col("x.shd"), F.col("y.shd"))).alias("inter_cnt"),
            F.size(F.col("x.shd")).alias("na"),
            F.size(F.col("y.shd")).alias("nb"),
        )
        .select(
            "idx_rep",
            "new_rep",
            F.floor(
                1000.0
                * F.col("inter_cnt")
                / (F.col("na") + F.col("nb") - F.col("inter_cnt"))
            ).cast("long").alias("jac_milli"),
        )
        .filter(F.col("jac_milli") >= _LSH_JAC_MIN)
    )
    return (
        new_members.join(edges, new_members.rep_id == edges.new_rep)
        .groupBy(F.col("doc_id").alias("new_doc_id"))
        .agg(F.min("idx_rep").alias("keep_doc_id"), F.max("jac_milli").alias("jac_milli"))
    )


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------

_DOT_Q = (
    "aggregate(zip_with(embedding, qe, (x, y) -> "
    "CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) * CAST(floor(CAST(y AS DOUBLE) * 1000) AS BIGINT)), "
    "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)
_NORM_SQ = (
    "aggregate(transform({col}, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)), "
    "CAST(0 AS BIGINT), (acc, v) -> acc + v * v)"
)
# the shared fixed-point quantization (floor(x*1000) as BIGINT) as a
# standalone transform, for paths that reuse a vector's quantized form
# across many comparisons instead of re-quantizing per pair
_QUANT = "transform({col}, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"


def q_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-k ANN baseline: integer-exact fixed-point dot
    products (order-independent), deterministic tie-break by vec_id."""
    emb = load(spark, sf, "embeddings")
    q = emb.orderBy("vec_id").limit(1).select(F.col("embedding").alias("qe"))
    pair = emb.crossJoin(F.broadcast(q))
    scored = pair.select(
        "vec_id",
        F.expr(_DOT_Q).alias("dot"),
        F.expr(_NORM_SQ.format(col="embedding")).alias("nv"),
        F.expr(_NORM_SQ.format(col="qe")).alias("nq"),
    ).select(
        "vec_id",
        F.when((F.col("nv") == 0) | (F.col("nq") == 0), F.lit(None))
        .otherwise(
            F.floor(
                1000.0 * F.col("dot") / F.sqrt(F.col("nv").cast("double") * F.col("nq").cast("double"))
            )
        )
        .cast("long")
        .alias("cos_milli"),
    )
    # orderBy().limit() plans TakeOrderedAndProject — per-partition top-k
    # merged on the driver, never a single-partition sort of the corpus
    # (a global Window.orderBy would funnel every scored row through one
    # task; plan asserted in test_plans_sources_streaming.py). rk is then
    # ranked over the k surviving rows only.
    top = scored.orderBy(F.desc("cos_milli"), F.asc("vec_id")).limit(10)
    w = Window.orderBy(F.desc("cos_milli"), F.asc("vec_id"))
    return top.withColumn("rk", F.row_number().over(w))


def _bucket_expr_spark() -> str:
    bits = []
    for j, signs in enumerate(PLANES):
        arr = ",".join(str(s) for s in signs)
        dot = (
            f"aggregate(zip_with(embedding, array({arr}), (x, s) -> "
            f"CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) * CAST(s AS BIGINT)), "
            f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        )
        bits.append(f"(CASE WHEN ({dot}) > 0 THEN {2 ** j} ELSE 0 END)")
    return "CAST(" + " + ".join(bits) + " AS BIGINT)"


def _cos_milli_col(va: str, vb: str):
    """Integer-exact fixed-point cosine (milli) between two array<float>
    columns — order-independent, so Spark and DuckDB agree bit-for-bit.
    A zero-norm vector (failed encoder output, padding row — present in
    any 10^10-vector corpus) has no defined cosine: the guard yields
    NULL, which every consumer already handles (threshold filters drop
    it, DESC orderings put it last on both engines) — pre-ANSI Spark
    returned NULL here implicitly; ANSI mode raised DIVIDE_BY_ZERO
    (caught by the degenerate-corpus sweep)."""
    na = F.expr(_NORM_SQ.format(col=va))
    nb = F.expr(_NORM_SQ.format(col=vb))
    return _cos_milli_pre(va, vb, na, nb)


def _cos_milli_pre(va: str, vb: str, na, nb):
    """_cos_milli_col with the two norm-squares precomputed per SIDE
    (columns na/nb, from _NORM_SQ — bit-identical either way) instead of
    per pair: a verify stage that joins candidate pairs computes each
    side's norm once per ROW upstream and the per-pair work drops from
    three interpreted lambda passes over the arrays to the single fused
    dot pass. Same zero-norm NULL guard, same double math."""
    dot = (
        f"aggregate(zip_with({va}, {vb}, (x, y) -> "
        "CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) * CAST(floor(CAST(y AS DOUBLE) * 1000) AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    return (
        F.when((na == 0) | (nb == 0), F.lit(None))
        .otherwise(
            F.floor(
                1000.0
                * F.expr(dot)
                / F.sqrt(na.cast("double") * nb.cast("double"))
            )
        )
        .cast("long")
    )


_EMB_LSH_COS_MIN = 900  # milli-cosine verify threshold for near-dup


def q_dedup_embedding_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-dup dedup, LSH-bucketed END-TO-END (the scale path
    that replaces linear blocking on consecutive ids): hyperplane
    sign bucket -> in-bucket candidate pairs -> exact fixed-point cosine
    verify -> keep min(vec_id) per duplicate. Planted dups (every 10th
    vector re-appears at vec_id + 1e6) are NON-consecutive by construction,
    so only bucket blocking can find them. At 10^10 scale each stage is a
    hash shuffle on the bucket/pair key — candidate generation never
    compares across buckets, and identical vectors provably share a bucket."""
    emb = load(spark, sf, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + _LSH_OFFSET).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(planted)
    # hot-bucket guard, same shape as _minhash_rep_pairs: identical
    # vectors collapse to one representative before the bucket self-join,
    # then _lsh_expand_groups restores member-level results losslessly
    keyed = query_barrier(corpus.withColumn("ekey", F.md5(F.col("embedding").cast("string"))))
    groups = keyed.groupBy("ekey").agg(
        F.min("vec_id").alias("rep_id"), F.count("*").alias("grp_n")
    )
    members = keyed.join(groups.select("ekey", "rep_id"), "ekey").select(
        F.col("vec_id").alias("doc_id"), "rep_id"
    )
    reps = query_barrier(
        keyed.withColumnRenamed("vec_id", "doc_id")
        .join(groups.select(F.col("rep_id").alias("doc_id")), "doc_id", "left_semi")
        .select("doc_id", "embedding")
        .withColumn("bucket", F.expr(_bucket_expr_spark()))
        # norm-sq once per REP (an 8-byte scalar riding the bucket join)
        # so the per-pair verify below is the single-pass _cos_milli_pre
        .withColumn("nsq", F.expr(_NORM_SQ.format(col="embedding")))
    )
    a = reps.select(
        F.col("doc_id").alias("id_a"), F.col("embedding").alias("ea"),
        F.col("nsq").alias("na"), "bucket",
    )
    b = reps.select(
        F.col("doc_id").alias("id_b"), F.col("embedding").alias("eb"),
        F.col("nsq").alias("nb"), "bucket",
    )
    pairs = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    scored = pairs.select(
        "id_a", "id_b",
        _cos_milli_pre("ea", "eb", F.col("na"), F.col("nb")).alias("cos_milli"),
    )
    ok_pairs = scored.filter(F.col("cos_milli") >= _EMB_LSH_COS_MIN)
    edges = ok_pairs.select(
        F.col("id_a").alias("rep_id"),
        F.col("id_b").alias("partner_min"),
        F.col("cos_milli").alias("score"),
    ).unionByName(
        ok_pairs.select(
            F.col("id_b").alias("rep_id"),
            F.col("id_a").alias("partner_min"),
            F.col("cos_milli").alias("score"),
        )
    )
    # within-group score via the SAME fixed-point formula (self-cosine:
    # exactly what the naive pipeline computes for an identical pair —
    # not hardcoded, so sqrt rounding matches bit-for-bit; zero vectors
    # yield NULL and drop, as in the naive pipeline)
    self_edges = (
        groups.filter(F.col("grp_n") >= 2)
        .join(reps.withColumnRenamed("doc_id", "rep_id").select("rep_id", "embedding"), "rep_id")
        .select(
            "rep_id",
            F.col("rep_id").alias("partner_min"),
            _cos_milli_col("embedding", "embedding").alias("score"),
        )
        .filter(F.col("score") >= _EMB_LSH_COS_MIN)
    )
    return _lsh_expand_groups(members, edges.unionByName(self_edges)).select(
        F.col("dup_id").alias("dup_vec_id"),
        F.col("keep_id").alias("keep_vec_id"),
        F.col("score").alias("cos_milli"),
    )


_IVF_NLIST = 8  # coarse centroids; nlist ~ sqrt(N) and nprobe>1 at scale
_SEMDEDUP_NLIST = 64  # FLOOR of the semdedup quantizer (finer than the
# search one: dedup pays quadratic in-cluster pair cost where search pays
# a probe). Production nlist ∝ N — _semdedup_nlist scales it.
_SEMDEDUP_TARGET_CLUSTER = 1_000  # mean members per cluster the quantizer
# aims for: nlist = max(floor, n // target), the paper's nlist-∝-N rule
# (Abbas et al. pick 50k clusters for LAION) with a small-corpus floor so
# fixture-scale output is unchanged (n <= 64k -> nlist = 64).
_SEMDEDUP_CLUSTER_CAP = 4_096  # members above which a cluster's pair
# generation switches from all-pairs to anchor probing (see semdedup_dups)
_SEMDEDUP_ANCHORS = 8  # anchor rows probed per oversized cluster


def _semdedup_nlist(n_emb: int) -> int:
    """Corpus-size-derived cluster count: bounds EXPECTED cluster size at
    _SEMDEDUP_TARGET_CLUSTER so in-cluster all-pairs cost stays
    ~n*target instead of (n/nlist_const)^2 — the nlist-∝-N rule the
    paper applies, with a floor for tiny corpora. The DuckDB oracle
    (_semdedup_sql) computes the same formula from count(embeddings)."""
    return max(_SEMDEDUP_NLIST, n_emb // _SEMDEDUP_TARGET_CLUSTER)


def _ivf_assign(vectors: DataFrame, cents: DataFrame) -> DataFrame:
    """Assign every (vec_id, embedding) row to its max-cosine coarse
    centroid, MAP-ONLY (ties break on cent_id asc): the centroid set is
    collected into ONE broadcast row — a cent_id-sorted array of
    (cid, quantized vector, norm-sq) structs — and each vector scores
    the whole array in a single projection (transform computes each
    cosine once, a cheap fold arg-maxes), so assignment is zero-shuffle
    and emits exactly one output row per input row. The previous
    row_number() formulation broadcast-joined then SHUFFLED n x nlist
    rows (embedding arrays included) into a per-vector sort — the
    assignment bottleneck at 10^10 vectors; output is identical
    (bit-equal cosines — same quantization, same double math; parity
    with the window formulation pinned in
    tests/test_embedding_lsh_ivf.py::test_ivf_assignment_covers_corpus_once).
    Fold order is cent_id asc with a strictly-greater update, so ties
    keep the lowest cent_id and a zero-norm vector (all cosines NULL)
    keeps the first centroid — exactly the old desc(cos) NULLS LAST,
    asc(cent_id) contract. The assignment RULE is shared by
    q_ann_ivfpq_search and q_semdedup; their centroid SETS differ
    (_IVF_NLIST=8 for search, nlist-∝-N for dedup), so cent_id values
    are not comparable across the two queries. Returns (vec_id,
    embedding, cent_id, nv); nv is the vector's _NORM_SQ — free here,
    reused by pair-verify consumers via _cos_milli_pre."""
    packed = query_barrier(
        cents.select(
            F.struct(
                F.col("cent_id").alias("cid"),
                F.expr(_QUANT.format(col="ce")).alias("qc"),
                F.expr(_NORM_SQ.format(col="ce")).alias("nc"),
            ).alias("c")
        ).agg(F.sort_array(F.collect_list("c")).alias("cents"))
    )  # 1 row; persisted so multi-branch consumers quantize the set once
    scored = (
        "transform(cents, c -> named_struct("
        "'cid', c.cid, "
        "'cos', CASE WHEN nv = 0 OR c.nc = 0 THEN CAST(NULL AS BIGINT) ELSE "
        "CAST(FLOOR(1000.0 * aggregate(zip_with(qv, c.qc, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (a, v) -> a + v) "
        "/ SQRT(CAST(nv AS DOUBLE) * CAST(c.nc AS DOUBLE))) AS BIGINT) END))"
    )
    best = (
        f"aggregate({scored}, "
        "named_struct('cid', CAST(NULL AS BIGINT), 'cos', CAST(NULL AS BIGINT)), "
        "(acc, s) -> IF(acc.cid IS NULL OR (s.cos IS NOT NULL AND "
        "(acc.cos IS NULL OR s.cos > acc.cos)), s, acc))"
    )
    return (
        vectors.crossJoin(F.broadcast(packed))
        .withColumn("qv", F.expr(_QUANT.format(col="embedding")))
        .withColumn("nv", F.expr("aggregate(qv, CAST(0 AS BIGINT), (acc, v) -> acc + v * v)"))
        .withColumn("cent_id", F.expr(best + ".cid"))
        .filter(F.col("cent_id").isNotNull())
        .select("vec_id", "embedding", "cent_id", "nv")
    )


# -- IVF-PQ: product quantization over the IVF coarse index ----------------

_PQ_M = 4                     # subspaces (EMB_DIM/_PQ_M dims each)
_PQ_SUB = EMB_DIM // _PQ_M    # dims per subspace
_PQ_K = 16                    # codes per sub-codebook (8 bits would be 256)


def _dot_milli_expr(va: str, vb: str) -> str:
    """Integer-exact fixed-point dot product (milli^2 units) between two
    array<float> columns/slices — the PQ lookup-table entry."""
    return (
        f"aggregate(zip_with({va}, {vb}, (x, y) -> "
        "CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) * "
        "CAST(floor(CAST(y AS DOUBLE) * 1000) AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def _l2sq_milli_expr(va: str, vb: str) -> str:
    """Integer-exact fixed-point squared-L2 (milli^2 units) between two
    array<float> columns/slices — the PQ encode argmin metric."""
    diff = (
        "(CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) - "
        "CAST(floor(CAST(y AS DOUBLE) * 1000) AS BIGINT))"
    )
    return (
        f"aggregate(zip_with({va}, {vb}, (x, y) -> {diff} * {diff}), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def q_ann_ivfpq_search(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-PQ ANN search (Jégou et al. 2011, "Product Quantization for
    Nearest Neighbor Search") — the index shape a 10^10-vector corpus
    actually ships: the IVF coarse quantizer routes the query to one
    inverted list (_ivf_assign), and inside the list every vector is
    represented by _PQ_M sub-codebook codes (here 4x16; production uses
    8-16x256) instead of its raw floats, so list storage shrinks
    EMB_DIM*4 bytes -> _PQ_M bytes and scoring is _PQ_M table lookups via
    ADC (asymmetric distance computation) — the query stays full
    precision, candidates are approximated.

    Deterministic stand-ins for the trained parts, same policy as the
    IVF coarse centroids: sub-codebook m = the m-th subvector of the
    first _PQ_K vectors by vec_id. All arithmetic fixed-point BIGINT
    (floor(x*1000)), so the DuckDB oracle hash-matches bit-for-bit.

    Scale shape: encode is a BROADCAST join (codebook is _PQ_M*_PQ_K
    rows) + one (vec_id, m) combine with map-side partial argmin; the
    query-time LUT is _PQ_M*_PQ_K entries broadcast to the probed list;
    ADC is a per-candidate sum of _PQ_M lookups, then
    TakeOrderedAndProject top-5 — no stage ever touches raw floats of
    more than one inverted list."""
    emb = load(spark, sf, "embeddings").select("vec_id", "embedding")
    cents = (
        emb.orderBy("vec_id")
        .limit(_IVF_NLIST)
        .select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("ce"))
    )
    assigned = query_barrier(_ivf_assign(emb, cents))

    ms = F.explode(F.expr(f"sequence(0, {_PQ_M - 1})")).alias("m")
    codebook = (
        emb.orderBy("vec_id")
        .limit(_PQ_K)
        .select(F.col("vec_id").alias("code_id"), F.col("embedding").alias("cemb"))
        .select("code_id", ms, "cemb")
        .select(
            "m",
            "code_id",
            F.expr(f"slice(cemb, m * {_PQ_SUB} + 1, {_PQ_SUB})").alias("csub"),
        )
    )

    # encode: argmin_k L2^2(subvector, sub-centroid) per (vec, m); ties
    # break on code_id asc via the lexicographic struct-min, which keeps
    # the whole argmin inside map-side partial aggregation
    subvecs = assigned.select(
        "vec_id", ms, "embedding"
    ).select(
        "vec_id",
        "m",
        F.expr(f"slice(embedding, m * {_PQ_SUB} + 1, {_PQ_SUB})").alias("vsub"),
    )
    codes = (
        subvecs.join(F.broadcast(codebook), "m")
        .select(
            "vec_id",
            "m",
            F.struct(
                F.expr(_l2sq_milli_expr("vsub", "csub")).alias("d2"),
                F.col("code_id").alias("code_id"),
            ).alias("cand"),
        )
        .groupBy("vec_id", "m")
        .agg(F.min("cand").alias("best"))
        .select("vec_id", "m", F.col("best.code_id").alias("code_id"))
    )

    q = (
        assigned.orderBy("vec_id")
        .limit(1)
        .select(F.col("embedding").alias("qe"), F.col("cent_id").alias("qcent"))
    )
    lut = (
        codebook.crossJoin(F.broadcast(q))
        .select(
            "m",
            "code_id",
            F.expr(
                _dot_milli_expr(f"slice(qe, m * {_PQ_SUB} + 1, {_PQ_SUB})", "csub")
            ).alias("dmk"),
        )
    )

    probe = assigned.join(F.broadcast(q), F.col("cent_id") == F.col("qcent")).select(
        "vec_id", "cent_id"
    )
    adc = (
        codes.join(probe, "vec_id")
        .join(F.broadcast(lut), ["m", "code_id"])
        .groupBy("vec_id")
        .agg(F.max("cent_id").alias("cent_id"), F.sum("dmk").cast("long").alias("adc_dot"))
    )
    top = adc.orderBy(F.desc("adc_dot"), F.asc("vec_id")).limit(5)
    w = Window.orderBy(F.desc("adc_dot"), F.asc("vec_id"))
    return top.withColumn("rk", F.row_number().over(w))


_SEMDEDUP_COS_MIN = 900  # milli-cosine within-cluster dedup threshold


def q_semdedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023: cluster the
    embedding space, then remove near-duplicates WITHIN each cluster
    only — the blocking that makes semantic dedup tractable at corpus
    scale). Clusters reuse the IVF ASSIGNMENT RULE
    (_ivf_assign: broadcast max-cosine) over semdedup's own, finer
    centroid set (first _SEMDEDUP_NLIST vectors — see the nlist note
    below; cluster_id here is not comparable to ann_ivfpq_search's
    cent_id); candidate pairs form inside a cluster only; exact
    fixed-point cosine >= 0.9 verifies; keep = min(vec_id) per dup.
    Planted dups (every 10th vector re-appears at vec_id + 1e6) share
    their original's embedding, hence provably its cluster, so recall
    is testable. Same keep-min output contract as dedup_embedding_lsh.

    Scale shape: assignment is a broadcast join (map-side, no
    shuffle) shared with q_ann_ivfpq_search (_ivf_assign); the pair join
    is hash-partitioned on the cluster id, so candidate generation
    never compares across clusters. The in-cluster pair count is
    quadratic in CLUSTER size, which is why production SemDeDup picks
    nlist ∝ N to bound clusters (the paper's 50k clusters for LAION;
    _SEMDEDUP_NLIST=64 here, finer than the search quantizer's 8,
    because dedup pays quadratic pair cost where search pays only a
    probe; finer blocking can drop a near-dup pair whose members split
    across clusters — the inherent SemDeDup approximation, identical on
    both engines — while planted identical copies always share their
    original's cluster; measured at sf0.1: 12.8 s -> 5.5 s isolated,
    7.0 s on the board) — and
    why identical vectors are collapsed to one representative before
    the pair join (same guard as dedup_embedding_lsh; the planted
    copies would otherwise double hot-cluster pair counts), then
    expanded back losslessly via _lsh_expand_groups.

    Two guards bound the quadratic (VERDICT r3 watch item #3):
    - nlist = _semdedup_nlist(count(embeddings)) — ∝ N past the floor,
      mirrored exactly by the DuckDB oracle;
    - a per-cluster pair cap (semdedup_dups) for clusters the quantizer
      still fails to split: past _SEMDEDUP_CLUSTER_CAP members, pair
      generation probes only the cluster's _SEMDEDUP_ANCHORS lowest-id
      members against everyone (anchors*n pairs, not n^2/2). Exact for
      the degenerate single-blob cluster the cap exists for (every
      member hits anchor #1 = the cluster min, so keep-min output
      equals full pairwise — tests/test_embedding_lsh_ivf.py pins it);
      approximate for a genuinely diverse oversized cluster (a member
      pair can be missed if neither is near an anchor) — which is the
      regime nlist-∝-N prevents. semdedup_cap_report() surfaces which
      clusters were capped."""
    emb = load(spark, sf, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + _LSH_OFFSET).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(planted)
    nlist = _semdedup_nlist(emb.count())
    cents = (
        emb.orderBy("vec_id")
        .limit(nlist)
        .select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("ce"))
    )
    return semdedup_dups(corpus, cents)


def _semdedup_assign(corpus: DataFrame, cents: DataFrame):
    """Shared front half: identical-vector rep collapse (hot-cluster
    guard — only group representatives are assigned and paired; members
    share their rep's embedding, hence provably its cluster and all its
    cosines) + broadcast centroid assignment of the reps.
    Returns (members, groups, assigned)."""
    keyed = query_barrier(corpus.withColumn("ekey", F.md5(F.col("embedding").cast("string"))))
    groups = keyed.groupBy("ekey").agg(
        F.min("vec_id").alias("rep_id"), F.count("*").alias("grp_n")
    )
    members = keyed.join(groups.select("ekey", "rep_id"), "ekey").select(
        F.col("vec_id").alias("doc_id"), "rep_id"
    )
    reps_vec = keyed.join(
        groups.select(F.col("rep_id").alias("vec_id")), "vec_id", "left_semi"
    ).select("vec_id", "embedding")
    assigned = query_barrier(_ivf_assign(reps_vec, cents))
    return members, groups, assigned


def semdedup_cap_report(
    corpus: DataFrame, cents: DataFrame, cluster_cap: int = _SEMDEDUP_CLUSTER_CAP
) -> DataFrame:
    """(cluster_id, size, capped) per cluster — the 'log what was capped'
    surface for semdedup_dups: any capped=true row means that cluster's
    dedup ran in anchor-probe (bounded, possibly lossy) mode. Warns on
    the driver when any cluster is capped."""
    import logging

    _, _, assigned = _semdedup_assign(corpus, cents)
    report = assigned.groupBy(F.col("cent_id").alias("cluster_id")).agg(
        F.count("*").alias("size")
    ).withColumn("capped", F.col("size") > cluster_cap)
    n_capped = report.filter("capped").count()
    if n_capped:
        logging.getLogger(__name__).warning(
            "semdedup: %d cluster(s) exceed cap=%d -> anchor-probe mode", n_capped, cluster_cap
        )
    return report


def _semdedup_candidate_pairs(
    assigned: DataFrame, cluster_cap: int, anchors: int
) -> DataFrame:
    """Scored in-cluster candidate pairs (id_a, id_b, cos_milli), id_a <
    id_b. The LEFT side keeps only rows with (cluster_size <= cap) OR
    (rank-in-cluster <= anchors): an oversized cluster contributes
    anchors*n pairs instead of n^2/2, bounded declaratively in one plan
    — both windows ride the same hash shuffle on cent_id as the join.
    Each side's norm-sq (nv, free on `assigned` from _ivf_assign) rides
    the join as an 8-byte scalar so the per-pair cosine is the
    single-pass _cos_milli_pre, not three interpreted array passes."""
    w_rank = Window.partitionBy("cent_id").orderBy("vec_id")
    w_size = Window.partitionBy("cent_id")
    ranked = assigned.withColumn("crank", F.row_number().over(w_rank)).withColumn(
        "csize", F.count(F.lit(1)).over(w_size)
    )
    a = ranked.filter(
        (F.col("csize") <= F.lit(cluster_cap)) | (F.col("crank") <= F.lit(anchors))
    ).select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("ea"),
        F.col("nv").alias("na"),
        "cent_id",
    )
    b = assigned.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"),
        F.col("nv").alias("nb"),
        "cent_id",
    )
    return (
        a.join(b, "cent_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            _cos_milli_pre("ea", "eb", F.col("na"), F.col("nb")).alias("cos_milli"),
        )
    )


def semdedup_dups(
    corpus: DataFrame,
    cents: DataFrame,
    cluster_cap: int = _SEMDEDUP_CLUSTER_CAP,
    anchors: int = _SEMDEDUP_ANCHORS,
) -> DataFrame:
    """SemDeDup core over any (vec_id, embedding) corpus and (cent_id,
    ce) centroid set; see q_semdedup for semantics and the two scale
    guards. The pair join's LEFT side is pre-filtered to
    (cluster_size <= cluster_cap) OR (rank-in-cluster <= anchors), so an
    oversized cluster contributes anchors*n candidate pairs instead of
    n^2/2 — the bound is declarative (one plan, no driver decision) and
    both windows ride the same hash shuffle on the cluster id."""
    members, groups, assigned = _semdedup_assign(corpus, cents)
    ok_pairs = _semdedup_candidate_pairs(assigned, cluster_cap, anchors).filter(
        F.col("cos_milli") >= _SEMDEDUP_COS_MIN
    )
    edges = ok_pairs.select(
        F.col("id_a").alias("rep_id"),
        F.col("id_b").alias("partner_min"),
        F.col("cos_milli").alias("score"),
    ).unionByName(
        ok_pairs.select(
            F.col("id_b").alias("rep_id"),
            F.col("id_a").alias("partner_min"),
            F.col("cos_milli").alias("score"),
        )
    )
    # identical-copy pairs score at the rep's self-cosine (same
    # fixed-point formula the naive pipeline computes for them)
    self_edges = (
        groups.filter(F.col("grp_n") >= 2)
        .join(
            assigned.withColumnRenamed("vec_id", "rep_id").select("rep_id", "embedding"),
            "rep_id",
        )
        .select(
            "rep_id",
            F.col("rep_id").alias("partner_min"),
            _cos_milli_col("embedding", "embedding").alias("score"),
        )
        .filter(F.col("score") >= _SEMDEDUP_COS_MIN)
    )
    expanded = _lsh_expand_groups(members, edges.unionByName(self_edges))
    # a dup's cluster is its rep's cluster (identical embedding)
    dup_cluster = members.join(
        assigned.select(F.col("vec_id").alias("rep_id"), "cent_id"), "rep_id"
    ).select(F.col("doc_id").alias("dup_id"), "cent_id")
    return expanded.join(dup_cluster, "dup_id").select(
        F.col("dup_id").alias("dup_vec_id"),
        F.col("cent_id").alias("cluster_id"),
        F.col("keep_id").cast("long").alias("keep_vec_id"),
        F.col("score").cast("long").alias("cos_milli"),
    )


def q_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization: per-user session ids from >30-minute inactivity
    gaps (lag + cumulative sum window), with per-session aggregates —
    the standard event-pipeline op the crawl metrics stream also needs."""
    events = load(spark, sf, "events")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ: cast to instant first (session tz is UTC);
    # only gap differences matter, so the epoch origin cancels anyway
    epoch = F.col("ts").cast("timestamp").cast("long")
    gapped = events.withColumn(
        "new_sess",
        F.when(epoch - F.lag(epoch).over(w_user) > 1800, 1).otherwise(0),
    )
    w_cum = w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = gapped.withColumn("session_id", F.sum("new_sess").over(w_cum))
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
    )


# ---------------------------------------------------------------------------
# multimodal: image decode -> resize -> phash over the media plumbing
# ---------------------------------------------------------------------------

N_IMAGES = 64


def _image_refs() -> list[str]:
    return [f"https://img.example.org/i{k}.png" for k in range(N_IMAGES)]


def q_image_phash(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal feature pipeline through the REAL Spark plumbing
    (operators/multimodal.py): a media table of opaque binary payloads ->
    Arrow-batched decode (FakeDecodeBackend — deterministic pure-numpy
    synthesis; this container has no PIL/ffmpeg) -> mean-pool resize ->
    channel means + 64-bit average-hash. The oracle precomputes the same
    rows with the same pure function (image_features), PLANES-style."""
    from .operators.multimodal import image_resize_features

    media = spark.createDataFrame(
        [(r, "image") for r in _image_refs()], "media_ref string, kind string"
    ).withColumn("payload", F.encode(F.md5("media_ref"), "utf-8").cast("binary"))
    feats = image_resize_features(media)
    return feats.select(
        "media_ref",
        "width",
        "height",
        "phash",
        F.floor(F.col("mean_r") * 1000).cast("long").alias("mean_r_milli"),
        F.floor(F.col("mean_g") * 1000).cast("long").alias("mean_g_milli"),
        F.floor(F.col("mean_b") * 1000).cast("long").alias("mean_b_milli"),
    )


def _image_phash_sql() -> str:
    """Expected rows via the SAME pure feature function, embedded as
    literals (numpy runs here at import, not in DuckDB)."""
    import math

    from .operators.multimodal import FakeDecodeBackend, image_features

    backend = FakeDecodeBackend()
    rows = []
    for ref in _image_refs():
        payload = hashlib.md5(ref.encode()).hexdigest().encode("utf-8")
        f = image_features(ref, payload, 8, backend)
        rows.append(
            "('%s', %d, %d, %d, %d, %d, %d)"
            % (
                ref,
                f["width"],
                f["height"],
                f["phash"],
                math.floor(f["mean_r"] * 1000),
                math.floor(f["mean_g"] * 1000),
                math.floor(f["mean_b"] * 1000),
            )
        )
    return (
        "SELECT media_ref, CAST(width AS INT) AS width, CAST(height AS INT) AS height,\n"
        "       CAST(phash AS BIGINT) AS phash, CAST(mean_r_milli AS BIGINT) AS mean_r_milli,\n"
        "       CAST(mean_g_milli AS BIGINT) AS mean_g_milli, CAST(mean_b_milli AS BIGINT) AS mean_b_milli\n"
        "FROM (VALUES\n  " + ",\n  ".join(rows) + "\n) AS t(media_ref, width, height, "
        "phash, mean_r_milli, mean_g_milli, mean_b_milli)"
    )


N_VIDEOS = 32
_FRAME_EVERY_N = 4


def _video_refs() -> list[str]:
    return [f"https://vid.example.org/v{k}.mp4" for k in range(N_VIDEOS)]


def q_video_frames(spark: SparkSession, sf: str) -> DataFrame:
    """Video frame-sampling through the real multimodal plumbing
    (operators/multimodal.py::video_frame_sample): binary payloads ->
    Arrow-batched decode (FakeDecodeBackend) -> every-Nth-frame sample ->
    one row per sampled frame with its mean luminance (UDTF shape:
    1 video -> F frame rows). Oracle = the same pure function as VALUES
    literals, like image_phash."""
    from .operators.multimodal import video_frame_sample

    media = spark.createDataFrame(
        [(r, "video") for r in _video_refs()], "media_ref string, kind string"
    ).withColumn("payload", F.encode(F.md5("media_ref"), "utf-8").cast("binary"))
    frames = video_frame_sample(media, every_n=_FRAME_EVERY_N)
    return frames.select(
        "media_ref",
        "frame_idx",
        F.floor(F.col("mean_lum") * 1000).cast("long").alias("mean_lum_milli"),
    )


def _video_frames_sql() -> str:
    """Expected frame rows via the SAME deterministic decode, embedded as
    literals (numpy runs here at import, not in DuckDB)."""
    import math

    from .operators.multimodal import FakeDecodeBackend

    backend = FakeDecodeBackend()
    rows = []
    for ref in _video_refs():
        payload = hashlib.md5(ref.encode()).hexdigest().encode("utf-8")
        frames = backend.decode_video_frames(payload, _FRAME_EVERY_N)
        for i, fr in enumerate(frames):
            rows.append(
                "('%s', %d, %d)"
                % (ref, i * _FRAME_EVERY_N, math.floor(float(fr.mean()) * 1000))
            )
    return (
        "SELECT media_ref, CAST(frame_idx AS INT) AS frame_idx,\n"
        "       CAST(mean_lum_milli AS BIGINT) AS mean_lum_milli\n"
        "FROM (VALUES\n  " + ",\n  ".join(rows) + "\n) AS t(media_ref, frame_idx, mean_lum_milli)"
    )


# ---------------------------------------------------------------------------
# text analysis over documents
# ---------------------------------------------------------------------------


N_ROBOTS = 40


def _robots_body(k: int) -> str:
    """Deterministic synthetic robots.txt body #k — covers plain
    prefixes, Allow precedence, crawl-delay, wildcard rules, and an
    agent-specific trailing group the '*' selection must skip."""
    lines = ["# synthetic robots", "User-agent: *", f"Disallow: /private{k}"]
    if k % 3 == 0:
        lines.append(f"Allow: /private{k}/pub")
    if k % 4 == 0:
        lines.append("Crawl-delay: 2")
    if k % 6 == 0:
        lines.append("Disallow: /*.tmp$")
    if k % 5 == 0:
        lines += ["", "User-agent: specialbot", "Disallow: /"]
    # Sitemap directives (record-independent per sitemaps.org; ignored
    # by the rule parser, extracted by parse_robots_sitemaps): k%2 hosts
    # advertise one, k%8 hosts add a second plus a duplicate (keep-first)
    # and a relative URL the extractor must refuse
    if k % 2 == 0:
        lines.append(f"Sitemap: https://h{k}.example.org/sitemap.xml")
    if k % 8 == 0:
        lines.append(f"Sitemap: https://h{k}.example.org/sitemap-news.xml")
        lines.append(f"Sitemap: https://h{k}.example.org/sitemap.xml")
        lines.append("Sitemap: /relative-sitemap.xml")
    return "\n".join(lines)


def q_robots_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed robots.txt parsing through the real politeness
    plumbing (operators/politeness.py::robots_rules_from_bodies):
    (host, body) rows -> per-host disallow/allow prefix lists +
    crawl-delay, flattened to '|'-joined strings for the hash compare.
    Oracle = the same pure parse function as VALUES literals."""
    from .operators.politeness import robots_rules_from_bodies

    bodies = spark.createDataFrame(
        [(f"h{k}.example.org", _robots_body(k)) for k in range(N_ROBOTS)],
        "host string, robots_txt string",
    )
    rules = robots_rules_from_bodies(bodies)
    return rules.select(
        "host",
        F.concat_ws("|", "disallow_prefixes").alias("disallow"),
        F.concat_ws("|", "allow_prefixes").alias("allow"),
        "crawl_delay_ms",
    )


def _robots_rules_sql() -> str:
    from .operators.politeness import parse_robots_txt

    rows = []
    for k in range(N_ROBOTS):
        dis, allow, delay = parse_robots_txt(_robots_body(k))
        rows.append(
            "('h%d.example.org', '%s', '%s', %d)"
            % (k, "|".join(dis), "|".join(allow), delay)
        )
    return (
        "SELECT host, disallow, allow, CAST(crawl_delay_ms AS INT) AS crawl_delay_ms\n"
        "FROM (VALUES\n  " + ",\n  ".join(rows) + "\n) AS t(host, disallow, allow, crawl_delay_ms)"
    )


def q_robots_sitemaps(spark: SparkSession, sf: str) -> DataFrame:
    """Sitemap discovery from robots.txt (the sitemaps.org directive —
    a crawler gets each host's sitemap URLs from the robots fetch it
    already makes; the extracted URLs feed sources/sitemap.py for
    frontier seeding). Runs the distributed extractor over the same
    synthetic bodies as robots_rules, covering: hosts with zero/one/
    multiple directives, duplicate directives (keep-first), and a
    relative URL the extractor refuses. Oracle = the same pure
    function as VALUES literals. Map-only narrow stage."""
    from .operators.politeness import robots_sitemaps_from_bodies

    bodies = spark.createDataFrame(
        [(f"h{k}.example.org", _robots_body(k)) for k in range(N_ROBOTS)],
        "host string, robots_txt string",
    )
    return robots_sitemaps_from_bodies(bodies)


def _robots_sitemaps_sql() -> str:
    from .operators.politeness import parse_robots_sitemaps

    rows = []
    for k in range(N_ROBOTS):
        for i, sm in enumerate(parse_robots_sitemaps(_robots_body(k))):
            rows.append("('h%d.example.org', %d, '%s')" % (k, i, sm))
    return (
        "SELECT host, CAST(rank AS INT) AS rank, sitemap_url\n"
        "FROM (VALUES\n  " + ",\n  ".join(rows) + "\n) AS t(host, rank, sitemap_url)"
    )


N_AUDIO = 32


def _audio_refs() -> list[str]:
    return [f"https://aud.example.org/a{k}.wav" for k in range(N_AUDIO)]


def q_audio_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Audio feature extraction through the real multimodal plumbing
    (operators/multimodal.py::audio_feature_stats): binary payloads ->
    Arrow-batched decode -> duration / amplitude / zero-crossing stats.
    Completes the image/video/audio driver-checked trio; oracle = same
    pure function as VALUES literals."""
    from .operators.multimodal import audio_feature_stats

    media = spark.createDataFrame(
        [(r, "audio") for r in _audio_refs()], "media_ref string, kind string"
    ).withColumn("payload", F.encode(F.md5("media_ref"), "utf-8").cast("binary"))
    return audio_feature_stats(media).select(
        "media_ref", "sample_rate", "n_samples", "duration_ms",
        F.col("mean_abs_milli").cast("long").alias("mean_abs_milli"),
        "zero_crossings",
    )


def _audio_stats_sql() -> str:
    from .operators.multimodal import FakeDecodeBackend, audio_features

    backend = FakeDecodeBackend()
    rows = []
    for ref in _audio_refs():
        payload = hashlib.md5(ref.encode()).hexdigest().encode("utf-8")
        f = audio_features(ref, payload, backend)
        rows.append(
            "('%s', %d, %d, %d, %d, %d)"
            % (ref, f["sample_rate"], f["n_samples"], f["duration_ms"],
               f["mean_abs_milli"], f["zero_crossings"])
        )
    return (
        "SELECT media_ref, CAST(sample_rate AS INT) AS sample_rate,\n"
        "       CAST(n_samples AS INT) AS n_samples, CAST(duration_ms AS INT) AS duration_ms,\n"
        "       CAST(mean_abs_milli AS BIGINT) AS mean_abs_milli,\n"
        "       CAST(zero_crossings AS INT) AS zero_crossings\n"
        "FROM (VALUES\n  " + ",\n  ".join(rows) + "\n) AS t(media_ref, sample_rate, "
        "n_samples, duration_ms, mean_abs_milli, zero_crossings)"
    )


def q_text_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Quality scoring: stopword ratio + short-token ratio (length/punct
    heuristics of a training-data filter)."""
    docs = load(spark, sf, "documents")
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    n_tok = F.size(F.split("text", " "))
    stop_cnt = F.expr(f"size(filter(split(text, ' '), t -> t IN ({stop_list})))")
    short_cnt = F.expr("size(filter(split(text, ' '), t -> length(t) <= 2))")
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        stop_cnt.alias("stop_cnt"),
        F.floor(1000.0 * stop_cnt / n_tok).cast("long").alias("stop_milli"),
        F.floor(1000.0 * short_cnt / n_tok).cast("long").alias("short_milli"),
    )


def q_text_langid(spark: SparkSession, sf: str) -> DataFrame:
    """Language-ID heuristic: marker-stopword hit counts with a
    deterministic priority tie-break (en > de > fr > es)."""
    docs = load(spark, sf, "documents")
    hits = {}
    for lang, markers in LANG_MARKERS.items():
        lst = ", ".join(f"'{w}'" for w in markers)
        hits[lang] = F.expr(f"size(filter(split(text, ' '), t -> t IN ({lst})))")
    guess = (
        F.when(
            (hits["en"] >= hits["de"]) & (hits["en"] >= hits["fr"]) & (hits["en"] >= hits["es"]),
            "en",
        )
        .when((hits["de"] >= hits["fr"]) & (hits["de"] >= hits["es"]), "de")
        .when(hits["fr"] >= hits["es"], "fr")
        .otherwise("es")
    )
    return docs.select(
        "doc_id",
        hits["en"].alias("en_hits"),
        hits["de"].alias("de_hits"),
        hits["fr"].alias("fr_hits"),
        hits["es"].alias("es_hits"),
        guess.alias("lang_guess"),
    )


_RANK_ITERS = 5
_RANK_OUT_DEG = 3  # every node emits exactly 3 edges by construction


def q_link_rank(spark: SparkSession, sf: str) -> DataFrame:
    """Iterative PageRank for frontier prioritization (the score a
    production crawler feeds into schedule_batch's priority column; the
    reference crawls FIFO only — engine-new surface). Deterministic link
    graph derived from the documents table (doc_id -> (doc_id*31+k) % n,
    k=1..3), 5 synchronous iterations in FIXED-POINT micro-units:
    r' = 150000 + (85 * sum(r_in DIV outdeg)) DIV 100. Integer
    arithmetic makes the result independent of partial-aggregation
    order, so the DuckDB oracle (the same recurrence unrolled as CTEs)
    hash-matches exactly — float PageRank would differ in the last ulp
    per shuffle schedule.

    Scale shape: each iteration is one join (ranks x edges, both
    hash-partitioned on the join key) + one groupBy(dst) with map-side
    partial sums — the canonical distributed PageRank step. Edges are
    scanned from the persisted barrier, not recomputed per iteration."""
    docs = load(spark, sf, "documents")
    n = docs.count()
    edges = query_barrier(
        docs.select(
            F.col("doc_id").alias("src"),
            F.explode(
                F.array(*[((F.col("doc_id") * 31 + F.lit(k)) % n) for k in range(1, _RANK_OUT_DEG + 1)])
            ).alias("dst"),
        )
    )
    ranks = docs.select(F.col("doc_id").alias("v"), F.lit(1_000_000).cast("long").alias("r"))
    nodes = docs.select(F.col("doc_id").alias("v"))
    for _ in range(_RANK_ITERS):
        contrib = (
            edges.join(ranks, edges.src == ranks.v)
            .select("dst", F.expr(f"r DIV {_RANK_OUT_DEG}").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("c"))
        )
        ranks = nodes.join(contrib, nodes.v == contrib.dst, "left").select(
            "v",
            (F.lit(150_000) + F.expr("(85 * coalesce(c, 0)) DIV 100")).cast("long").alias("r"),
        )
    return ranks.select(F.col("v").alias("doc_id"), F.col("r").alias("rank_micro"))


def _link_rank_sql() -> str:
    """The q_link_rank recurrence unrolled as chained CTEs (DuckDB)."""
    parts = [
        "WITH nodes AS (SELECT doc_id AS v FROM documents),",
        "n_docs AS (SELECT count(*) AS n FROM documents),",
        "edges AS (SELECT doc_id AS src, (doc_id * 31 + k) % (SELECT n FROM n_docs) AS dst"
        f" FROM documents, (SELECT unnest([1, 2, 3]) AS k) ks),",
        "r0 AS (SELECT v, CAST(1000000 AS BIGINT) AS r FROM nodes),",
    ]
    for i in range(_RANK_ITERS):
        parts.append(
            f"r{i + 1} AS (SELECT nodes.v,"
            f" CAST(150000 + (85 * COALESCE(s.c, 0)) // 100 AS BIGINT) AS r"
            f" FROM nodes LEFT JOIN (SELECT e.dst AS v, SUM(r.r // {_RANK_OUT_DEG}) AS c"
            f" FROM edges e JOIN r{i} r ON r.v = e.src GROUP BY e.dst) s ON s.v = nodes.v),"
        )
    last = parts.pop()
    parts.append(last.rstrip(","))
    parts.append(f"SELECT v AS doc_id, r AS rank_micro FROM r{_RANK_ITERS}")
    return "\n".join(parts)


_REDIRECT_HOPS = 4


def q_redirect_resolve(spark: SparkSession, sf: str) -> DataFrame:
    """Redirect-chain resolution (engine-new: HTTP 3xx chains are
    ubiquitous at web scale and feed canonical-URL dedup — two frontier
    entries that 301 to the same terminal are ONE page; the reference
    fetches with redirects unhandled). Deterministic redirect table
    derived from documents (doc_id % 3 == 1 redirects to (doc_id*7+1)
    % n — chosen because n is not a multiple of 3, so the wrap scrambles
    the source class and yields the full chain spectrum: hops 0-4
    including over-depth rows at both test SFs), resolved by following
    up to 4 hops; ``terminal`` marks rows whose final URL is
    not itself a redirect source (false = cycle/over-depth, which a
    crawler must park, not refetch forever). All-integer columns so the
    unrolled LEFT-JOIN DuckDB oracle hash-matches exactly.

    Scale shape: each hop is one hash join of the live set against the
    redirect table on the current URL key — the redirect table is tiny
    relative to the corpus (broadcastable in production) and the live
    set shrinks as chains terminate; no iteration reads the full corpus
    twice."""
    docs = load(spark, sf, "documents")
    n = docs.count()
    redirects = query_barrier(
        docs.filter(F.col("doc_id") % 3 == 1).select(
            F.col("doc_id").alias("src"), ((F.col("doc_id") * 7 + 1) % n).alias("dst")
        )
    )
    cur = docs.select(
        F.col("doc_id").alias("start_id"),
        F.col("doc_id").alias("cur"),
        F.lit(0).cast("int").alias("n_hops"),
    )
    for _ in range(_REDIRECT_HOPS):
        cur = cur.join(redirects, cur.cur == redirects.src, "left").select(
            "start_id",
            F.coalesce("dst", "cur").alias("cur"),
            (F.col("n_hops") + F.when(F.col("dst").isNotNull(), 1).otherwise(0))
            .cast("int")
            .alias("n_hops"),
        )
    return cur.join(redirects, cur.cur == redirects.src, "left").select(
        "start_id",
        F.col("cur").alias("final_id"),
        "n_hops",
        F.col("src").isNull().alias("terminal"),
    )


def _redirect_resolve_sql() -> str:
    parts = [
        "WITH n_docs AS (SELECT count(*) AS n FROM documents),",
        "redirects AS (SELECT doc_id AS src, (doc_id * 7 + 1) % (SELECT n FROM n_docs) AS dst"
        " FROM documents WHERE doc_id % 3 = 1),",
        "c0 AS (SELECT doc_id AS start_id, doc_id AS cur, 0 AS n_hops FROM documents),",
    ]
    for i in range(_REDIRECT_HOPS):
        parts.append(
            f"c{i + 1} AS (SELECT start_id, COALESCE(r.dst, c.cur) AS cur,"
            f" n_hops + CASE WHEN r.dst IS NULL THEN 0 ELSE 1 END AS n_hops"
            f" FROM c{i} c LEFT JOIN redirects r ON r.src = c.cur),"
        )
    last = parts.pop()
    parts.append(last.rstrip(","))
    parts.append(
        f"SELECT start_id, c.cur AS final_id, CAST(n_hops AS INT) AS n_hops,"
        f" r.src IS NULL AS terminal"
        f" FROM c{_REDIRECT_HOPS} c LEFT JOIN redirects r ON r.src = c.cur"
    )
    return "\n".join(parts)


def q_sitemap_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Sitemap sink+source roundtrip (sources/sitemap.py, sitemaps.org
    protocol): build one <urlset> per deterministic host from the
    documents table — every loc carries a query string with '&' so XML
    entity escaping is exercised on every row — then parse back to flat
    URL rows. The oracle derives the same rows directly from documents;
    an unescape bug or a regex drift breaks the loc column hash."""
    from .sources.sitemap import docs_to_sitemaps, sitemaps_to_urls

    docs = load(spark, sf, "documents")
    return sitemaps_to_urls(docs_to_sitemaps(docs, n_hosts=50))


def q_warc_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """WARC sink+source roundtrip (sources/warc.py, ISO 28500): encode
    the documents table into deterministic 100-doc WARC/1.0 segments
    (warcinfo + response records, Content-Length framing), then parse the
    segments back and emit per-record fields. The oracle derives the same
    fields directly from documents — any framing error (offset drift,
    header corruption, payload truncation) shifts payload bytes and
    breaks the md5 column, so the hash check verifies the full container
    encode/decode path, not just row counts."""
    from .sources.warc import docs_to_warc_segments, warc_segments_to_records

    docs = load(spark, sf, "documents")
    return warc_segments_to_records(docs_to_warc_segments(docs, docs_per_segment=100))


def q_wet_export(spark: SparkSession, sf: str) -> DataFrame:
    """WET export roundtrip (the Common Crawl text-extraction sidecar,
    sources/warc.py::docs_to_wet_segments): encode the documents table
    into conversion-record segments whose WARC-Refers-To header carries
    the deterministic record id of the corresponding WARC response
    capture, then parse the segments back. The oracle recomputes the
    refers-to urn:uuid from md5(target_uri) in SQL, so the hash check
    verifies the WET container framing AND the cross-archive id chain
    (a WET row can be joined back to its WARC capture without parsing
    the archive). Scale shape identical to warc_roundtrip: one hash
    shuffle to build segments, narrow Arrow parse back."""
    from .sources.warc import docs_to_wet_segments, wet_segments_to_records

    docs = load(spark, sf, "documents")
    return wet_segments_to_records(docs_to_wet_segments(docs, docs_per_segment=100))


def q_warc_cdx(spark: SparkSession, sf: str) -> DataFrame:
    """CDX capture index over the WARC segments (sources/warc.py): byte
    offset + record length per response record — random access into a
    100 TB archive. The Spark side gets offsets from the PARSER's
    position tracking while the oracle re-derives them purely from
    record-length arithmetic (fixed framing = 198 bytes + uri + the
    Content-Length digits + payload; warcinfo header record = 279), so
    writer framing and parser accounting are cross-checked byte-exactly.
    tests/test_warc.py additionally proves slice-fetch: blob[offset :
    offset+length] parses as exactly that record."""
    from .sources.warc import docs_to_warc_segments, warc_cdx

    docs = load(spark, sf, "documents")
    return warc_cdx(docs_to_warc_segments(docs, docs_per_segment=100))


# Block size for span-level dedup: a "paragraph" in the space-tokenized
# synthetic corpus is a fixed 20-token block (the corpus has no newline
# paragraph marks; C4 uses 3-sentence spans — same operator shape).
_BLOCK_TOKENS = 20


def q_dedup_blocks(spark: SparkSession, sf: str) -> DataFrame:
    """Span-level exact dedup (the C4/RefinedWeb pass that removes
    duplicated paragraphs ACROSS documents, not just whole-doc dups):
    split every doc into fixed 20-token blocks, keep the globally FIRST
    occurrence of each block (ordered by doc_id, block pos), and report
    per doc how much survives plus a fingerprint of the deduped text.

    Scale shape: one explode (narrow), one hash-partitioned window on
    the block text (the dedup key — same shuffle an exact-dup groupBy
    needs), one groupBy(doc_id) to reassemble. No all-pairs stage; at
    100 TB both shuffles are bounded-key hash exchanges. A degenerate
    block value (boilerplate repeated millions of times) lands in one
    partition but the window only ranks it — no quadratic pair blowup,
    unlike a self-join."""
    return block_dedup(load(spark, sf, "documents"))


def block_dedup(docs: DataFrame) -> DataFrame:
    """Span-level keep-first dedup over any (doc_id, text) frame; see
    q_dedup_blocks for the operator contract and scale shape."""
    blocks = docs.select("doc_id", F.split("text", " ").alias("toks")).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST(ceil(size(toks) / {_BLOCK_TOKENS}.0) AS INT) - 1),"
                f" i -> concat_ws(' ', slice(toks, i * {_BLOCK_TOKENS} + 1, {_BLOCK_TOKENS})))"
            )
        ).alias("pos", "block"),
    )
    w = Window.partitionBy("block").orderBy("doc_id", "pos")
    ranked = blocks.withColumn("keep", F.row_number().over(w) == 1)
    return ranked.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_blocks"),
        F.sum(F.col("keep").cast("int")).cast("long").alias("n_kept"),
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


# Benchmark-contamination probe: 8-token n-grams (the GPT-3/PaLM
# decontamination unit is a 8-13-gram); probe docs stand in for a
# benchmark set whose items leaked into the training corpus.
_PROBE_N = 8
_PROBE_MOD = 97
_PROBE_OFFSET = 5_000_000  # planted leaked copies live above this id


def q_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark-contamination check: flag every corpus document that
    shares an 8-token n-gram with the probe set (docs with
    doc_id % 97 == 0 stand in for benchmark items). The corpus gets a
    PLANTED leaked copy of each probe doc (prefix-padded, so it is not
    an exact dup yet shares every interior 8-gram) — the detector must
    find those, not just the probes matching themselves. Returns the
    contaminated docs with their distinct-probe-hit counts.

    Scale shape: the probe set is benchmark-sized (tiny), so it is
    broadcast — the corpus side never shuffles for the join; the only
    wide exchange is the final groupBy(doc_id) over matching grams,
    bounded by hits, not corpus size. Exactly the 100 TB
    decontamination shape: one narrow shingling pass + map-side
    semi-join against the broadcast benchmark n-grams."""
    base = load(spark, sf, "documents")
    corpus = base.select("doc_id", "text").unionByName(
        base.filter(F.col("doc_id") % _PROBE_MOD == 0).select(
            (F.col("doc_id") + _PROBE_OFFSET).alias("doc_id"),
            F.concat(F.lit("leaked copy "), F.col("text")).alias("text"),
        )
    )
    return contamination_hits(corpus, corpus.filter(F.col("doc_id") % _PROBE_MOD == 0))


def contamination_hits(corpus: DataFrame, probe_docs: DataFrame) -> DataFrame:
    """Distinct probe-n-gram hit counts per corpus doc; see
    q_contamination for the operator contract and scale shape.
    probe_docs must be a subset-shaped (doc_id, text) frame — its
    distinct n-grams form the broadcast probe set.

    The join key is a 64-bit gram hash, not the gram string: each token
    is xxhash64'd ONCE, each 8-gram key is one xxhash64 over the 8
    token hashes (no per-gram string building), and the broadcast probe
    set carries 8-byte longs instead of ~50-byte strings — at a
    benchmark set of millions of n-grams that is the difference between
    an 8 MB and a 50+ MB broadcast. Count parity with the string-gram
    oracle holds absent a 64-bit collision (the driver's value-hash
    compare would surface one)."""
    combine = ", ".join(f"element_at(th, i + {j + 1})" for j in range(_PROBE_N))

    def grams_of(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id", F.expr("transform(split(text, ' '), t -> xxhash64(t))").alias("th")
        ).select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"CASE WHEN size(th) < {_PROBE_N} THEN array()"
                        f" ELSE transform(sequence(0, size(th) - {_PROBE_N}),"
                        f" i -> xxhash64({combine})) END"
                    )
                )
            ).alias("gram_h"),
        )

    probe = grams_of(probe_docs).select("gram_h").distinct()
    return (
        grams_of(corpus)
        .join(F.broadcast(probe), "gram_h")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_probe_hits"))
    )


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect; tables pre-registered as views)
# ---------------------------------------------------------------------------

_URL_CASE_DUCK = """CASE CAST(o_orderkey % 4 AS INT)
  WHEN 0 THEN 'https://h' || CAST(o_custkey % 50 AS VARCHAR) || '.example.org/o/' || CAST(o_orderkey AS VARCHAR) || '///'
  WHEN 1 THEN 'http://insecure.example.org/o/' || CAST(o_orderkey AS VARCHAR)
  WHEN 2 THEN 'https://h' || CAST(o_custkey % 50 AS VARCHAR) || '.example.org/o/' || CAST(o_orderkey AS VARCHAR) || '#frag'
  ELSE 'https://h' || CAST(o_custkey % 50 AS VARCHAR) || '.example.org/o/' || CAST(o_orderkey AS VARCHAR)
END"""

_SHINGLES_DUCK = (
    "list_transform(range(1, len(string_split(text, ' ')) - 1), "
    "i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])"
)


# 4 hash families from ONE md5 per shingle: disjoint 8-hex-char (32-bit)
# slices of the digest are independent uniform hashes, so the corpus is
# hashed once instead of once per family — at 10^10 docs that is 4x less
# hashing for identical minhash statistics. Lexicographic min over equal-
# length hex = numeric min, identical in both engines.
_MINHASH_COLS_DUCK = ", ".join(
    f"list_min(list_transform({_SHINGLES_DUCK}, s -> substr(md5(s), {j * 8 + 1}, 8))) AS mh{j}"
    for j in range(4)
)

_STOP_LIST = ", ".join(f"'{w}'" for w in STOPWORDS)


def _langid_sql() -> str:
    hit_cols = []
    for lang, markers in LANG_MARKERS.items():
        lst = ", ".join(f"'{w}'" for w in markers)
        hit_cols.append(
            f"len(list_filter(string_split(text, ' '), t -> t IN ({lst}))) AS {lang}_hits"
        )
    return f"""
WITH h AS (SELECT doc_id, {', '.join(hit_cols)} FROM documents)
SELECT doc_id, en_hits, de_hits, fr_hits, es_hits,
  CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits THEN 'en'
       WHEN de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
       WHEN fr_hits >= es_hits THEN 'fr'
       ELSE 'es' END AS lang_guess
FROM h"""


ORACLE_SQL: dict[str, str] = {
    "semi_join_open_orders": """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')""",
    "anti_join_no_orders": """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    "first_per_group": """
SELECT o_custkey, o_orderkey AS first_orderkey,
       CAST(floor(o_totalprice * 100) AS BIGINT) AS first_price_cents
FROM orders
QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) = 1""",
    "topk_per_group": """
SELECT o_custkey, o_orderkey,
       CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rk
FROM orders
QUALIFY rk <= 3""",
    "keepfirst_dedup": """
SELECT user_id, event_type, event_id AS first_event_id FROM events
QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1""",
    "crawl_counters": """
SELECT o_custkey, count(*) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents
FROM orders GROUP BY o_custkey""",
    "concat_agg": """
SELECT lang,
       string_agg(lpad(CAST(doc_id AS VARCHAR), 8, '0'), '|' ORDER BY lpad(CAST(doc_id AS VARCHAR), 8, '0')) AS doc_ids_concat,
       count(*) AS n_docs
FROM documents GROUP BY lang""",
    "recent_topn": """
SELECT o_orderkey, o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date
FROM orders ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 20""",
    "budget_limit": """
SELECT user_id, event_id,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS rn
FROM events QUALIFY rn <= 3""",
    "events_tumbling": """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start, event_type,
       count(*) AS n_events, CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events GROUP BY 1, 2""",
    "url_normalize": f"""
SELECT o_orderkey, regexp_replace({_URL_CASE_DUCK}, '/+$', '') AS norm_url
FROM orders WHERE CAST(o_orderkey % 4 AS INT) <> 1""",
    "url_strip_fragment": f"""
SELECT o_orderkey, regexp_replace({_URL_CASE_DUCK}, '#.*$', '') AS url_nofrag
FROM orders WHERE CAST(o_orderkey % 4 AS INT) <> 1""",
    "url_classify": """
SELECT l_orderkey, l_linenumber,
  CASE CAST(l_linenumber % 5 AS INT)
    WHEN 0 THEN 'file' WHEN 1 THEN 'internal' WHEN 2 THEN 'external' ELSE 'internal' END AS category,
  CASE CAST(l_linenumber % 5 AS INT)
    WHEN 0 THEN 'https://base.example.org/files/f' || CAST(l_orderkey AS VARCHAR) || '.pdf'
    WHEN 1 THEN 'https://base.example.org/p/' || CAST(l_orderkey AS VARCHAR)
    WHEN 2 THEN 'https://other.example.net/x/' || CAST(l_orderkey AS VARCHAR)
    ELSE 'https://base.example.org/rel/p' || CAST(l_orderkey AS VARCHAR) END AS url
FROM lineitem WHERE CAST(l_linenumber % 5 AS INT) <> 4""",
    "link_extract": """
WITH d AS (SELECT doc_id, CAST(doc_id % 7 AS VARCHAR) AS k FROM documents)
SELECT doc_id, 'internal' AS category, 0 AS pos,
       'https://h' || k || '.example.org/p' || CAST(doc_id AS VARCHAR) AS link FROM d
UNION ALL SELECT doc_id, 'internal', 1, 'https://h' || k || '.example.org/rel/' || CAST(doc_id AS VARCHAR) FROM d
UNION ALL SELECT doc_id, 'external', 0, 'https://ext.example.net/e' || CAST(doc_id AS VARCHAR) FROM d
UNION ALL SELECT doc_id, 'file', 0, 'https://h' || k || '.example.org/f' || CAST(doc_id AS VARCHAR) || '.pdf' FROM d""",
    "spans_parse": """
SELECT doc_id, 0 AS pos, 'text' AS kind,
       trim(regexp_replace(text, ' +', ' ', 'g')) AS text, '' AS media_ref, 0 AS "offset"
FROM documents
UNION ALL
SELECT doc_id, 1, 'media', '',
       'https://files.example.org/d' || CAST(doc_id AS VARCHAR) || '.pdf',
       CAST(length(text) + 7 AS INT)
FROM documents
UNION ALL
SELECT doc_id, 2, 'text', 'tail' || CAST(doc_id AS VARCHAR), '', CAST(length(text) + 7 AS INT)
FROM documents""",
    "dedup_exact": """
SELECT md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS content_key,
       count(*) AS n_copies, min(doc_id) AS keep_doc_id
FROM documents GROUP BY 1""",
    "dedup_minhash_lsh": f"""
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
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sh AS (SELECT DISTINCT doc_id, unnest({_SHINGLES_DUCK}) AS s FROM corpus),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, count(*) AS inter_cnt
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.doc_a
  JOIN sh sb ON sb.doc_id = p.doc_b AND sb.s = sa.s
  GROUP BY 1, 2
),
scored AS (
  SELECT i.doc_a, i.doc_b,
    CAST(floor(1000.0 * i.inter_cnt / (x.n_sh + y.n_sh - i.inter_cnt)) AS BIGINT) AS jac_milli
  FROM inter i
  JOIN sizes x ON x.doc_id = i.doc_a
  JOIN sizes y ON y.doc_id = i.doc_b
)
SELECT doc_b AS dup_doc_id, CAST(min(doc_a) AS BIGINT) AS keep_doc_id,
       CAST(max(jac_milli) AS BIGINT) AS jac_milli
FROM scored WHERE jac_milli >= {_LSH_JAC_MIN} GROUP BY doc_b""",
    "dedup_incremental": f"""
WITH idx AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4),
newb AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 4
  UNION ALL
  SELECT doc_id + {_LSH_OFFSET}, text || ' zz' FROM documents WHERE doc_id % 10 = 0
),
mh_i AS (SELECT doc_id, {_MINHASH_COLS_DUCK} FROM idx WHERE len(string_split(text, ' ')) >= 3),
mh_n AS (SELECT doc_id, {_MINHASH_COLS_DUCK} FROM newb WHERE len(string_split(text, ' ')) >= 3),
bands_i AS (
  SELECT doc_id, 0 AS band_idx, md5(mh0 || mh1) AS band_key FROM mh_i
  UNION ALL SELECT doc_id, 1, md5(mh2 || mh3) FROM mh_i
),
bands_n AS (
  SELECT doc_id, 0 AS band_idx, md5(mh0 || mh1) AS band_key FROM mh_n
  UNION ALL SELECT doc_id, 1, md5(mh2 || mh3) FROM mh_n
),
pairs AS (
  SELECT DISTINCT i.doc_id AS idx_id, n.doc_id AS new_id
  FROM bands_i i JOIN bands_n n ON i.band_idx = n.band_idx AND i.band_key = n.band_key
),
sh_i AS (SELECT DISTINCT doc_id, unnest({_SHINGLES_DUCK}) AS s FROM idx),
sh_n AS (SELECT DISTINCT doc_id, unnest({_SHINGLES_DUCK}) AS s FROM newb),
sizes_i AS (SELECT doc_id, count(*) AS n_sh FROM sh_i GROUP BY doc_id),
sizes_n AS (SELECT doc_id, count(*) AS n_sh FROM sh_n GROUP BY doc_id),
inter AS (
  SELECT p.idx_id, p.new_id, count(*) AS inter_cnt
  FROM pairs p
  JOIN sh_i sa ON sa.doc_id = p.idx_id
  JOIN sh_n sb ON sb.doc_id = p.new_id AND sb.s = sa.s
  GROUP BY 1, 2
),
scored AS (
  SELECT i.idx_id, i.new_id,
    CAST(floor(1000.0 * i.inter_cnt / (x.n_sh + y.n_sh - i.inter_cnt)) AS BIGINT) AS jac
  FROM inter i
  JOIN sizes_i x ON x.doc_id = i.idx_id
  JOIN sizes_n y ON y.doc_id = i.new_id
)
SELECT new_id AS new_doc_id, CAST(min(idx_id) AS BIGINT) AS keep_doc_id,
       CAST(max(jac) AS BIGINT) AS jac_milli
FROM scored WHERE jac >= {_LSH_JAC_MIN} GROUP BY new_id""",
    "cosine_topk": f"""
WITH q AS (
  SELECT embedding AS qe FROM embeddings ORDER BY vec_id LIMIT 1
),
scored AS (
  SELECT vec_id,
    list_sum(list_transform(range(1, {EMB_DIM + 1}),
      i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) * CAST(floor(CAST(qe[i] AS DOUBLE) * 1000) AS BIGINT))) AS dot,
    list_sum(list_transform(range(1, {EMB_DIM + 1}),
      i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) * CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT))) AS nv,
    list_sum(list_transform(range(1, {EMB_DIM + 1}),
      i -> CAST(floor(CAST(qe[i] AS DOUBLE) * 1000) AS BIGINT) * CAST(floor(CAST(qe[i] AS DOUBLE) * 1000) AS BIGINT))) AS nq
  FROM embeddings, q
)
SELECT vec_id,
       CAST(CASE WHEN nv = 0 OR nq = 0 THEN NULL
            ELSE floor(1000.0 * dot / sqrt(CAST(nv AS DOUBLE) * CAST(nq AS DOUBLE))) END AS BIGINT) AS cos_milli,
       CAST(row_number() OVER (ORDER BY CASE WHEN nv = 0 OR nq = 0 THEN NULL
            ELSE floor(1000.0 * dot / sqrt(CAST(nv AS DOUBLE) * CAST(nq AS DOUBLE))) END DESC, vec_id ASC) AS INT) AS rk
FROM scored QUALIFY rk <= 10""",
    "image_phash": _image_phash_sql(),
    "video_frames": _video_frames_sql(),
    "audio_stats": _audio_stats_sql(),
    "robots_rules": _robots_rules_sql(),
    "robots_sitemaps": _robots_sitemaps_sql(),
    "sessionize": """
WITH gapped AS (
  SELECT user_id, event_id, ts, value,
    CASE WHEN CAST(epoch(ts) AS BIGINT)
            - lag(CAST(epoch(ts) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
         THEN 1 ELSE 0 END AS new_sess
  FROM events
),
sess AS (
  SELECT user_id, event_id, ts, value,
    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM gapped
)
SELECT user_id, session_id, count(*) AS n_events,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM sess GROUP BY user_id, session_id""",
    "text_quality": f"""
WITH t AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
         len(list_filter(string_split(text, ' '), t -> t IN ({_STOP_LIST}))) AS stop_cnt,
         len(list_filter(string_split(text, ' '), t -> length(t) <= 2)) AS short_cnt
  FROM documents
)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, CAST(stop_cnt AS INT) AS stop_cnt,
       CAST(floor(1000.0 * stop_cnt / n_tokens) AS BIGINT) AS stop_milli,
       CAST(floor(1000.0 * short_cnt / n_tokens) AS BIGINT) AS short_milli
FROM t""",
    "dedup_blocks": f"""
WITH toked AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), blocks AS (
  SELECT doc_id,
         unnest(list_transform(range(0, CAST(ceil(len(toks) / {_BLOCK_TOKENS}.0) AS BIGINT)),
           i -> {{'pos': i, 'block': array_to_string(toks[i * {_BLOCK_TOKENS} + 1 : i * {_BLOCK_TOKENS} + {_BLOCK_TOKENS}], ' ')}})) AS z
  FROM toked
), flat AS (
  SELECT doc_id, CAST(z.pos AS INT) AS pos, z.block AS block FROM blocks
), ranked AS (
  SELECT doc_id, pos, block,
         row_number() OVER (PARTITION BY block ORDER BY doc_id, pos) = 1 AS keep
  FROM flat
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(coalesce(string_agg(CASE WHEN keep THEN block END, ' ' ORDER BY pos), '')) AS kept_fp
FROM ranked GROUP BY doc_id""",
    "contamination": f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_PROBE_OFFSET}, 'leaked copy ' || text
  FROM documents WHERE doc_id % {_PROBE_MOD} = 0
), toked AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM corpus
), g AS (
  SELECT DISTINCT doc_id,
         unnest(CASE WHEN len(toks) < {_PROBE_N} THEN []::VARCHAR[]
                ELSE list_transform(range(0, len(toks) - {_PROBE_N} + 1),
                       i -> array_to_string(toks[i + 1 : i + {_PROBE_N}], ' ')) END) AS gram
  FROM toked
), probe AS (
  SELECT DISTINCT gram FROM g WHERE doc_id % {_PROBE_MOD} = 0
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_probe_hits
FROM g JOIN probe USING (gram)
GROUP BY doc_id""",
    "text_langid": _langid_sql(),
}


def _cos_milli_duck(va: str, vb: str) -> str:
    """DuckDB spelling of _cos_milli_col (same fixed-point integers,
    same zero-norm -> NULL guard)."""
    fixed = "CAST(floor(CAST({v}[i] AS DOUBLE) * 1000) AS BIGINT)"
    rng = f"range(1, {EMB_DIM + 1})"
    dot = f"list_sum(list_transform({rng}, i -> {fixed.format(v=va)} * {fixed.format(v=vb)}))"
    na = f"list_sum(list_transform({rng}, i -> {fixed.format(v=va)} * {fixed.format(v=va)}))"
    nb = f"list_sum(list_transform({rng}, i -> {fixed.format(v=vb)} * {fixed.format(v=vb)}))"
    return (
        f"CAST(CASE WHEN ({na}) = 0 OR ({nb}) = 0 THEN NULL"
        f" ELSE floor(1000.0 * {dot} / sqrt(CAST({na} AS DOUBLE) * CAST({nb} AS DOUBLE))) END AS BIGINT)"
    )


def _bucket_sql_duck(col: str = "embedding") -> str:
    """DuckDB spelling of _bucket_expr_spark (hyperplane sign bits)."""
    bits = []
    for j, signs in enumerate(PLANES):
        arr = "[" + ",".join(str(s) for s in signs) + "]"
        dot = (
            f"list_sum(list_transform(range(1, {EMB_DIM + 1}), "
            f"i -> CAST(floor(CAST({col}[i] AS DOUBLE) * 1000) AS BIGINT) * ({arr}::BIGINT[])[i]))"
        )
        bits.append(f"(CASE WHEN ({dot}) > 0 THEN {2 ** j} ELSE 0 END)")
    return "CAST(" + " + ".join(bits) + " AS BIGINT)"


def _dedup_embedding_lsh_sql() -> str:
    return f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {_LSH_OFFSET} AS vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0
),
bucketed AS (SELECT vec_id, embedding, {_bucket_sql_duck()} AS bucket FROM corpus),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS ea, b.embedding AS eb
  FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
),
scored AS (SELECT id_a, id_b, {_cos_milli_duck("ea", "eb")} AS cos_milli FROM pairs)
SELECT id_b AS dup_vec_id, CAST(min(id_a) AS BIGINT) AS keep_vec_id,
       CAST(max(cos_milli) AS BIGINT) AS cos_milli
FROM scored WHERE cos_milli >= {_EMB_LSH_COS_MIN} GROUP BY id_b"""


def _ann_ivfpq_sql() -> str:
    cosc = _cos_milli_duck("embedding", "ce")
    sub = _PQ_SUB

    def milli(e: str) -> str:
        return f"CAST(floor(CAST({e} AS DOUBLE) * 1000) AS BIGINT)"

    da = milli(f"a.embedding[ms.m * {sub} + i]")
    dc = milli(f"cb.cemb[ms.m * {sub} + i]")
    d2 = (
        f"list_sum(list_transform(range(1, {sub + 1}), "
        f"i -> ({da} - {dc}) * ({da} - {dc})))"
    )
    dq = milli(f"q.qe[ms.m * {sub} + i]")
    dot = f"list_sum(list_transform(range(1, {sub + 1}), i -> {dq} * {dc}))"
    return f"""
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS ce FROM embeddings ORDER BY vec_id LIMIT {_IVF_NLIST}
),
assigned AS (
  SELECT vec_id, embedding, cent_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY {cosc} DESC, cent_id ASC) AS ark
  FROM embeddings, cents
  QUALIFY ark = 1
),
cb AS (SELECT vec_id AS code_id, embedding AS cemb FROM embeddings ORDER BY vec_id LIMIT {_PQ_K}),
ms AS (SELECT unnest(range(0, {_PQ_M})) AS m),
enc AS (
  SELECT vec_id, m, code_id FROM (
    SELECT a.vec_id, ms.m, cb.code_id,
           row_number() OVER (PARTITION BY a.vec_id, ms.m
                              ORDER BY {d2} ASC, cb.code_id ASC) AS rn
    FROM assigned a, ms, cb) WHERE rn = 1
),
q AS (SELECT embedding AS qe, cent_id AS qcent FROM assigned ORDER BY vec_id LIMIT 1),
lut AS (SELECT ms.m, cb.code_id, CAST({dot} AS BIGINT) AS dmk FROM cb, ms, q),
probe AS (SELECT a.vec_id, a.cent_id FROM assigned a, q WHERE a.cent_id = q.qcent),
adc AS (
  SELECT e.vec_id, max(p.cent_id) AS cent_id, CAST(sum(l.dmk) AS BIGINT) AS adc_dot
  FROM enc e JOIN probe p ON e.vec_id = p.vec_id
       JOIN lut l ON e.m = l.m AND e.code_id = l.code_id
  GROUP BY e.vec_id
)
SELECT vec_id, cent_id, adc_dot,
       CAST(row_number() OVER (ORDER BY adc_dot DESC, vec_id ASC) AS INT) AS rk
FROM adc QUALIFY rk <= 5"""


def _semdedup_sql() -> str:
    cosc = _cos_milli_duck("embedding", "ce")
    cosp = _cos_milli_duck("ea", "eb")
    return f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {_LSH_OFFSET} AS vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0
), cents AS (
  -- nlist mirrors _semdedup_nlist: max(floor, count(embeddings) // target)
  SELECT vec_id AS cent_id, embedding AS ce
  FROM (SELECT vec_id, embedding,
               row_number() OVER (ORDER BY vec_id) AS rn,
               count(*) OVER () AS n_emb
        FROM embeddings)
  WHERE rn <= GREATEST({_SEMDEDUP_NLIST}, n_emb // {_SEMDEDUP_TARGET_CLUSTER})
), assigned AS (
  SELECT vec_id, embedding, cent_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY {cosc} DESC, cent_id ASC) AS ark
  FROM corpus, cents
  QUALIFY ark = 1
), pairs AS (
  SELECT a.cent_id, a.vec_id AS id_a, b.vec_id AS id_b,
         a.embedding AS ea, b.embedding AS eb
  FROM assigned a JOIN assigned b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
), scored AS (SELECT cent_id, id_a, id_b, {cosp} AS cos_milli FROM pairs)
SELECT id_b AS dup_vec_id, cent_id AS cluster_id,
       CAST(min(id_a) AS BIGINT) AS keep_vec_id,
       CAST(max(cos_milli) AS BIGINT) AS cos_milli
FROM scored WHERE cos_milli >= {_SEMDEDUP_COS_MIN} GROUP BY id_b, cent_id"""


ORACLE_SQL["dedup_embedding_lsh"] = _dedup_embedding_lsh_sql()
ORACLE_SQL["ann_ivfpq_search"] = _ann_ivfpq_sql()
ORACLE_SQL["semdedup"] = _semdedup_sql()


SPARK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "semi_join_open_orders": q_semi_join_open_orders,
    "anti_join_no_orders": q_anti_join_no_orders,
    "first_per_group": q_first_per_group,
    "topk_per_group": q_topk_per_group,
    "keepfirst_dedup": q_keepfirst_dedup,
    "crawl_counters": q_crawl_counters,
    "concat_agg": q_concat_agg,
    "recent_topn": q_recent_topn,
    "budget_limit": q_budget_limit,
    "events_tumbling": q_events_tumbling,
    "url_normalize": q_url_normalize,
    "url_strip_fragment": q_url_strip_fragment,
    "url_classify": q_url_classify,
    "link_extract": q_link_extract,
    "spans_parse": q_spans_parse,
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_incremental": q_dedup_incremental,
    "cosine_topk": q_cosine_topk,
    "dedup_embedding_lsh": q_dedup_embedding_lsh,
    "ann_ivfpq_search": q_ann_ivfpq_search,
    "semdedup": q_semdedup,
    "sessionize": q_sessionize,
    "text_quality": q_text_quality,
    "dedup_blocks": q_dedup_blocks,
    "contamination": q_contamination,
    "text_langid": q_text_langid,
    "image_phash": q_image_phash,
    "video_frames": q_video_frames,
    "audio_stats": q_audio_stats,
    "robots_rules": q_robots_rules,
    "robots_sitemaps": q_robots_sitemaps,
    "warc_roundtrip": q_warc_roundtrip,
    "wet_export": q_wet_export,
    "link_rank": q_link_rank,
    "sitemap_roundtrip": q_sitemap_roundtrip,
    "redirect_resolve": q_redirect_resolve,
    "warc_cdx": q_warc_cdx,
}

ORACLE_SQL["warc_cdx"] = """
WITH r AS (
  SELECT doc_id, doc_id // 100 AS segment_id,
         'https://corpus.example.org/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
         octet_length(encode(text)) AS payload_len
  FROM documents
), sized AS (
  SELECT *, 198 + length(target_uri) + length(CAST(payload_len AS VARCHAR)) + payload_len AS reclen
  FROM r
)
SELECT segment_id, target_uri,
       CAST(279 + COALESCE(SUM(reclen) OVER (
         PARTITION BY segment_id ORDER BY doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset",
       CAST(reclen AS INT) AS length
FROM sized"""

ORACLE_SQL["redirect_resolve"] = _redirect_resolve_sql()

ORACLE_SQL["sitemap_roundtrip"] = """
SELECT 'h' || CAST(doc_id % 50 AS VARCHAR) || '.example.org' AS host,
       'https://h' || CAST(doc_id % 50 AS VARCHAR)
         || '.example.org/doc?id=' || CAST(doc_id AS VARCHAR) || '&ref=sitemap' AS loc,
       '2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS lastmod,
       CAST((doc_id * 7) % 1001 AS INT) AS priority_milli
FROM documents"""

ORACLE_SQL["link_rank"] = _link_rank_sql()
ORACLE_SQL["warc_roundtrip"] = """
SELECT doc_id // 100 AS segment_id,
       'https://corpus.example.org/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
       CAST(octet_length(encode(text)) AS INT) AS content_length,
       md5(text) AS payload_md5
FROM documents"""

ORACLE_SQL["wet_export"] = """
WITH u AS (
  SELECT doc_id, text,
         'https://corpus.example.org/doc/' || CAST(doc_id AS VARCHAR) AS target_uri
  FROM documents
), h AS (
  SELECT *, md5(target_uri) AS hh FROM u
)
SELECT doc_id // 100 AS segment_id, target_uri,
       'urn:uuid:' || substr(hh, 1, 8) || '-' || substr(hh, 9, 4) || '-'
         || substr(hh, 13, 4) || '-' || substr(hh, 17, 4) || '-'
         || substr(hh, 21, 12) AS refers_to,
       CAST(octet_length(encode(text)) AS INT) AS content_length,
       md5(text) AS payload_md5
FROM h"""
