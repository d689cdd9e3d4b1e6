"""Round benchmark: headline queries at $SPARK_GRAFT_SF_DIR plus the
north-rule headline metric — frontier drain throughput (URLs
scheduled+deduped/sec) over a synthetic Zipf-skewed frontier.

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "frontier_rows": N,
   "frontier_urls_per_sec": X, "cores": C}

The synthetic frontier is derived purely from row ids (xxhash64-based
log-uniform host skew), so the SAME input is produced at any
parallelism — required for the N-vs-4N scaling-efficiency evidence
(tools/scaling.py runs this drain at local[8] and local[32]).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

HEADLINE = [
    "spans_parse",
    "link_extract",
    "dedup_minhash_lsh",
    "dedup_blocks",
    "contamination",
    "dedup_incremental",
    "cosine_topk",
    "dedup_embedding_lsh",
    "sessionize",
    "text_quality",
    "warc_roundtrip",
    "warc_cdx",
    "sitemap_roundtrip",
    "link_rank",
    "redirect_resolve",
    "image_phash",
    "video_frames",
    "audio_stats",
    "topk_per_group",
    "semi_join_open_orders",
    "crawl_counters",
    "events_tumbling",
    "trap_detect",
    "crawl_rollup",
    "hits_scores",
    "wet_export",
    "sitemap_gap",
    "host_graph",
    "semdedup",
    "robots_sitemaps",
    "dedup_clusters",
    "registrable_domain",
    "bm25_topk",
    "host_similarity",
    "quality_classifier",
    "boilerplate_strip",
    "curation_pipeline",
    "phash_neardup",
    "video_neardup",
    "dup_spans",
    "dsir_weights",
    "audio_neardup",
    "ann_ivfpq_search",
    "bpe_merges",
    "ngram_goodturing",
]

N_HOSTS = 10_000
SEEN_EVERY = 3  # every 3rd URL is already seen


def make_frontier(spark: SparkSession, n_rows: int, start: int = 0, dup_back: int = 0):
    """Deterministic Zipf-ish frontier: host = log-uniform in [0, N_HOSTS)
    (density ~ 1/rank), plus 10% of rows on one mega-host to exercise
    salting. Pure function of the row id — partitioning-independent.

    start offsets the id range (micro-batched drains slice one logical
    frontier into [start, start+n) windows). dup_back > 0 makes every
    5th row re-discover a batch-0-family URL (eff = id mod dup_back):
    the 20% cross-batch duplication a real crawl loop's accumulated
    URL-seen state must absorb. The target must be the FIXED-POINT
    batch-0 family, not id-dup_back: a batch-(i-1) row at id-dup_back
    was itself shifted (it emitted a different URL), so the chained
    form re-discovers URLs that were never emitted — measured as dup
    pressure collapsing to 0 for every batch >= 2. Batch-0 rows are
    unshifted (id < dup_back), so their URLs were genuinely emitted and
    every batch >= 1 now carries a real 20% seen-state re-probe load.
    seq/priority stay keyed on the ORIGINAL id (a rediscovered URL is a
    new frontier entry), and 10^8 % 10 == 0 keeps the mega-host rule
    identical under the id shift. Defaults (0, 0) reproduce the
    single-shot bench frontier bit-for-bit."""
    eff = F.col("id")
    if dup_back > 0:
        eff = F.when(
            (F.pmod(F.col("id"), F.lit(5)) == 1) & (F.col("id") >= dup_back),
            F.pmod(F.col("id"), F.lit(dup_back)),
        ).otherwise(F.col("id"))
    u = (F.pmod(F.xxhash64(eff), F.lit(1_000_000)) / 1_000_000.0)
    host_id = F.when(
        F.pmod(eff, F.lit(10)) == 0, F.lit(0)
    ).otherwise(F.floor(F.exp(F.log(F.lit(float(N_HOSTS))) * u)).cast("int"))
    return (
        spark.range(start, start + n_rows)
        .select(
            F.concat(F.lit("h"), host_id.cast("string"), F.lit(".example.org")).alias("host"),
            F.col("id").alias("seq"),
            F.pmod(F.col("id"), F.lit(10)).cast("int").alias("priority"),
            F.concat(
                F.lit("https://h"), host_id.cast("string"), F.lit(".example.org/p/"),
                eff.cast("string"),
            ).alias("url"),
        )
        .withColumn("url_hash", F.xxhash64("url"))
    )


_SYNTH_WORDS = ("data web crawl spark frontier queue host link page index archive "
                "report dataset analysis summary figure quote fact study survey").split()
# para depends on doc_id only through doc_id % len(words): 21 variants,
# built once — the synthesizer is harness scaffolding and its string
# assembly should not be charged to the measured parse stage
_SYNTH_PARAS = [
    " ".join(_SYNTH_WORDS[(r + k) % len(_SYNTH_WORDS)] for k in range(90))
    for r in range(len(_SYNTH_WORDS))
]


def synth_fetch(url: str) -> str:
    """Deterministic stand-in for the HTTP fetch: a realistic ~6 KB page
    derived purely from the URL (15 internal/external/file links amid
    paragraph text), so the parse stage does real work at real page size."""
    tail = url.rsplit("/", 1)[-1]
    doc_id = int("".join(c for c in tail if c.isdigit()) or "0")
    host = url.split("/")[2]
    para = _SYNTH_PARAS[doc_id % len(_SYNTH_WORDS)]
    parts = [f"<html><head><title>{tail}</title></head><body><h1>doc {doc_id}</h1>"]
    for j in range(15):
        t = (doc_id * 31 + j * 7) % 100_000
        if j % 5 == 4:
            href = f"https://ext{t % 13}.example.net/r/{t}"
        elif j % 7 == 6:
            href = f"/files/f{t}.pdf"
        else:
            href = f"/p/{t}"
        parts.append(f'<a href="{href}">link {j}</a><p>{para[: 300 + (t % 100)]}</p>')
    parts.append('<a href="#">top</a><a href="mailto:x@y.z">m</a></body></html>')
    return "".join(parts)


def run_frontier_drain(
    spark: SparkSession, n_rows: int, default_k: int = 1000, do_parse: bool = True
) -> dict:
    from crawler_spark.operators.politeness import broadcast_robots, host_quotas
    from crawler_spark.operators.scheduler import (
        build_bloom,
        drain_ordered,
        fetch_parse_digest,
        release_barrier,
        schedule_batch,
    )

    # materialize inputs once — the drain measures scheduling work, not
    # synthetic-frontier regeneration (which a forked plan would repeat)
    frontier = make_frontier(spark, n_rows).persist()
    frontier.count()
    seen = frontier.filter(F.pmod("seq", F.lit(SEEN_EVERY)) == 0).select("url").persist()
    seen.count()
    robots_rows = [
        (f"h{i}.example.org", ["/private", "/login"], 100 if i % 2 else 0)
        for i in range(50)
    ]
    robots_df = spark.createDataFrame(
        robots_rows, "host string, disallow_prefixes array<string>, crawl_delay_ms int"
    )
    robots_b = broadcast_robots(spark, robots_df)
    quotas = host_quotas(spark, robots_b, default_k=default_k)

    t0 = time.monotonic()
    bloom = build_bloom(seen).persist()
    bloom.count()
    t_bloom = time.monotonic() - t0

    t1 = time.monotonic()
    scheduled, barrier = schedule_batch(
        frontier,
        seen=seen,
        bloom=bloom,
        robots_bcast=robots_b,
        quotas=quotas,
        default_k=default_k,
        salt_span=250,
        max_quota=default_k,  # host_quotas caps at default_k; skip the probe job
    )
    drained = drain_ordered(scheduled, n_buckets=spark.sparkContext.defaultParallelism * 4).persist()
    n_scheduled = drained.count()
    release_barrier(barrier)  # drained is materialized; drop the fork cache
    t_drain = time.monotonic() - t1

    # fetch+parse the drained batch: the engine's real span/link extraction
    # over realistic synthesized payloads (the compute that dominates an
    # actual crawl; only digests are materialized here)
    t_parse = agg = None
    if do_parse:
        t2 = time.monotonic()
        parsed = fetch_parse_digest(
            drained,
            synth_fetch,
            n_tasks=spark.sparkContext.defaultParallelism * 4,
        )
        agg = parsed.agg(
            F.count("*").alias("docs"),
            F.sum("n_internal").alias("links"),
            F.sum("n_spans").alias("spans"),
        ).collect()[0]
        t_parse = time.monotonic() - t2

    for df in (bloom, frontier, seen, drained):
        df.unpersist()
    out = {
        "frontier_rows": n_rows,
        "n_scheduled": n_scheduled,
        "bloom_build_sec": round(t_bloom, 2),
        "drain_sec": round(t_drain, 2),
        "urls_per_sec": round(n_rows / t_drain, 1),
    }
    if do_parse:
        out.update(
            parse_sec=round(t_parse, 2),
            parsed_docs_per_sec=round(n_scheduled / t_parse, 1),
            links_extracted=int(agg.links),
            spans_built=int(agg.spans),
            e2e_urls_per_sec=round(n_rows / (t_drain + t_parse), 1),
        )
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    n_rows = int(os.environ.get("SPARK_GRAFT_FRONTIER_ROWS", "2000000"))

    from crawler_spark.queries import SPARK_QUERIES as _BASE_QUERIES
    from crawler_spark.queries import release_query_barriers
    from crawler_spark.queries_scale import SCALE_QUERIES
    from crawler_spark.queries_search import SEARCH_QUERIES
    from crawler_spark.session import get_spark

    SPARK_QUERIES = {**_BASE_QUERIES, **SCALE_QUERIES, **SEARCH_QUERIES}

    spark = get_spark("crawler_spark_bench", cores=cpus)
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = None

    # warm-up (untimed), same discipline as the drain below: JVM JIT,
    # the Python worker pool, the parquet reader, and the shipped
    # package's in-worker import otherwise all land on whichever query
    # happens to run FIRST (measured: 4.6 s cold vs 0.58 s warm for the
    # identical spans_parse job) — that is session cold-start, not that
    # query's cost. One untimed pass of the first headline query pays it.
    SPARK_QUERIES[HEADLINE[0]](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    release_query_barriers()

    # best-of-N per query, same discipline as the drain below: the
    # sandbox host's co-tenant noise puts a 1.5-3x spread on single-shot
    # timings of the shingle/dedup suite (measured: dedup_minhash_lsh
    # 2.7-7.2 s for identical code), so a capability measure needs reps.
    q_reps = int(os.environ.get("SPARK_GRAFT_QUERY_REPS", "2"))
    queries: dict[str, float] = {}
    for name in HEADLINE:
        best = float("inf")
        for _ in range(q_reps):
            t0 = time.monotonic()
            df = SPARK_QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.monotonic() - t0)
            # outside the timing window: the blocking unpersist is cache
            # housekeeping between queries, not part of the query's cost
            release_query_barriers()
        queries[name] = round(best, 3)

    # warm-up: JIT + python worker pool spin-up for the drain's stages,
    # then best-of-N timed runs (same discipline as tools/scaling.py —
    # single-JVM local mode has high run-to-run JIT/GC variance, and the
    # sandbox host adds co-tenant noise: measured spread on IDENTICAL
    # code is 5-12 s for the same drain, so a capability measure needs
    # multiple reps)
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    run_frontier_drain(spark, 100_000)
    drain = min(
        (run_frontier_drain(spark, n_rows) for _ in range(reps)),
        key=lambda r: r["drain_sec"] + r["parse_sec"],
    )
    queries["frontier_drain"] = round(drain["drain_sec"] + drain["parse_sec"], 3)

    total = round(sum(queries.values()), 3)
    out = {
        "metric": "frontier drain throughput (URLs scheduled+deduped/sec) + headline query latencies",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "cores": int(cpus) if str(cpus).isdigit() else cpus,
        **drain,
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
