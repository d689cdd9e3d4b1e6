"""The scale-path frontier scheduler (SURVEY.md §7.2 M4, Axis A).

``frontier.CrawlEngine`` is the reference-parity drain (one pop per source
per batch — exact loop equality). This module is the 10^10-frontier path
the north rule benchmarks: schedule+dedup a micro-batch from a massive
Zipf-skewed frontier.

Pipeline per micro-batch:
1. politeness — robots disallow (broadcast trie UDF) + per-host crawl-delay
   quotas (broadcast-joined tiny table);
2. dedup — with a resolver (``SeenState.anti_join``), one bucket-ordered
   pass probes each bucket's cuckoo filter part and checks only the
   maybe-seen rows against that bucket's seen files; the stateless path
   routes the maybe-seen fraction of a Bloom prefilter through the exact
   ``left_anti`` vs the seen table;
3. priority drain — ``row_number`` over (host ordered by priority, seq)
   capped at the host's quota: the single most load-bearing window;
4. hot-host salting — a drained host's rows are split into seq-contiguous
   subgroups of ``salt_span`` rows (order preserved inside each subgroup,
   subgroup id monotone in seq, so concatenating salted groups in salt
   order reproduces the per-host FIFO exactly);
5. per-host ordered fetch — ``groupBy(host, salt).applyInPandas`` sorts by
   (priority, seq) inside the group and emits ``fetch_order``: Spark
   guarantees the whole group in one pane; order is enforced inside.

Shuffle accounting (design point at 1000 executors): step 1 is narrow,
step 2 shuffles only the candidates (by seen bucket); step 3 is ONE
shuffle on host; the salted repartition reuses the same key family so
AQE can coalesce.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .bloom import bloom_prefilter, build_bloom
from .politeness import robots_filter

__all__ = [
    "schedule_batch",
    "release_barrier",
    "drain_ordered",
    "build_bloom",
    "route_retries",
    "fetch_parse_digest",
]


def schedule_batch(
    frontier: DataFrame,
    seen: DataFrame | None = None,
    bloom: DataFrame | None = None,
    robots_bcast=None,
    quotas: DataFrame | None = None,
    default_k: int = 100,
    salt_span: int = 1000,
    n_bloom_parts: int = 64,
    canonicalize: bool = False,
    seen_filter: str = "bloom",
    max_quota: int | None = None,
    refuse_traps: bool = False,
    quotas_broadcast: bool = True,
    exact_anti_join=None,
) -> tuple[DataFrame, DataFrame | None]:
    """Select this micro-batch's fetch set from the frontier.

    frontier: (url, url_hash, host, priority, seq, ...).
    Returns ``(scheduled, barrier)``: the scheduled rows + (rank, salt) —
    per-host order preserved: rank is the host-FIFO position,
    salt = (rank-1) // salt_span — plus the persisted plan-fork barrier
    (or None). Pass the barrier to ``release_barrier`` once the batch's
    downstream action completes; returning it explicitly (instead of a
    private attribute on the DataFrame) survives any transformation of
    the result and makes the release obligation visible at the call site.

    canonicalize=True runs the RFC 3986 canonicalizer first (north rule:
    canonicalize -> xxhash64 -> seen filter), dropping invalid URLs and
    re-deriving url_hash/host from the canonical form. Off by default —
    the engine canonicalizes at enqueue time, so drain-time input is
    normally already canonical.

    refuse_traps=True drops crawl-trap-shaped URLs (calendar depth,
    repeated-segment loops, query-param explosion — the
    functions/traps.py cascade, oracle-checked by the trap_detect driver
    query) before politeness. Off by default: refusing URLs is a
    behavior change a caller must opt into, and trap thresholds are
    corpus policy, not engine semantics. Map-only JVM array expressions,
    so the filter rides the frontier scan for free.

    seen_filter selects the prefilter blob kind carried in ``bloom``:
    'bloom' (default) or 'cuckoo' (operators/cuckoo.py — same partition
    contract, supports deletion so delete_source need not rebuild it).
    Either way the exact anti-join resolves maybe-seens, so the scheduled
    set is identical (test_schedule_with_cuckoo_filter_matches_bloom).

    exact_anti_join, when given, resolves seen for ALL candidates — a
    callable DataFrame -> DataFrame returning the not-seen subset with
    the same schema. The resolver owns its prefilter
    (``SeenState.anti_join`` probes the cuckoo filter bucket by bucket
    and reads each bucket's committed files directly, so neither the
    seen nor the filter table is shuffled), so ``seen``, ``bloom``,
    ``seen_filter`` and ``n_bloom_parts`` are then ignored and the
    barrier is None.
    """
    cand = frontier
    if canonicalize:
        from ..functions.udfs import canonicalize_rfc3986_udf, host_udf

        cand = (
            cand.withColumn("url", canonicalize_rfc3986_udf("url"))
            .filter(F.col("url").isNotNull())
            .withColumn("url_hash", F.xxhash64("url"))
            .withColumn("host", host_udf("url"))
        )
        # distinct frontier rows can canonicalize to the SAME url; the
        # seen-table anti-join below only removes already-crawled urls,
        # so without this within-batch keep-first (min priority, seq —
        # the same order the top-K drain uses) one canonical url would
        # be scheduled, fetched, and seen-inserted twice in one batch
        wdup = Window.partitionBy("url").orderBy("priority", "seq")
        cand = (
            cand.withColumn("_c_rn", F.row_number().over(wdup))
            .filter(F.col("_c_rn") == 1)
            .drop("_c_rn")
        )

    if refuse_traps:
        from ..functions.traps import trap_reason

        cand = cand.filter(trap_reason(F.col("url")).isNull())

    # 1. politeness — robots_bcast accepts a raw broadcast handle or a
    # RobotsIndex; join-mode indexes key on the frontier's own canonical
    # host column (same host_of() the rules tables use), so the robots
    # shuffle shares the host key family with the top-K window below.
    if robots_bcast is not None:
        cand = robots_filter(cand, robots_bcast, host_col="host")

    # 2. dedup: the resolver, or prefilter -> exact anti-join on the
    # maybe-seen slice. The union FORKS the plan on `tagged`; without a
    # materialization barrier Spark would recompute the prefilter (and
    # everything upstream) once per branch — persist+count pins it. The
    # cached blocks are released by release_barrier(barrier) — call it
    # once the batch's downstream action has completed, or a long
    # multi-batch drain accumulates one leaked cache per batch.
    barrier = None
    if exact_anti_join is not None:
        cand = exact_anti_join(cand)
    elif bloom is not None and seen is None:
        # the prefilter only TAGS maybe-seens; without the exact anti-join
        # side it would silently schedule every already-crawled URL again
        raise ValueError(
            "schedule_batch: bloom/cuckoo prefilter requires `seen` (or "
            "`exact_anti_join`) for the exact anti-join"
        )
    elif bloom is not None:
        if seen_filter == "cuckoo":  # deletable variant, same blob contract
            from .cuckoo import cuckoo_prefilter as _prefilter
        else:
            _prefilter = bloom_prefilter
        barrier = tagged = _prefilter(cand, bloom, n_parts=n_bloom_parts).persist()
        tagged.count()
        definitely_new = tagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
        maybe = tagged.filter(F.col("maybe_seen")).drop("maybe_seen")
        cand = definitely_new.unionByName(maybe.join(seen.select("url"), "url", "left_anti"))
    elif seen is not None:
        cand = cand.join(seen.select("url"), "url", "left_anti")

    # 3. per-host priority top-K (quota-aware). The CONSTANT rank filter
    # comes first so Catalyst plans a WindowGroupLimit (top-K pruned
    # map-side BEFORE the shuffle+sort — at 10^8+ rows this is the
    # difference between shuffling K rows per host per map partition and
    # shuffling the whole frontier); the per-host quota (a column, not
    # pushable) then tightens within that K. The constant is
    # max(default_k, max quota), so a caller-supplied quota above
    # default_k is honored instead of silently truncated. Deriving that
    # bound from the quotas table is an EAGER driver action (one Spark
    # job per call — per micro-batch in a drain loop), so callers that
    # already know it (host_quotas output is capped at default_k) pass
    # ``max_quota`` and skip the job.
    k_cap = default_k
    if quotas is not None:
        if max_quota is None:
            max_quota = quotas.agg(F.max("quota")).first()[0]
        if max_quota is not None:
            k_cap = max(default_k, int(max_quota))
    w = Window.partitionBy("host").orderBy("priority", "seq")
    ranked = cand.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k_cap
    )
    if quotas is not None:
        # quotas_broadcast=False for web-scale quota tables (join-mode
        # host_quotas is O(hosts-with-rules) — past the broadcast ceiling
        # it must hash-join on host, reusing the window's key family)
        q = F.broadcast(quotas) if quotas_broadcast else quotas
        ranked = ranked.join(q, "host", "left").withColumn(
            "quota", F.coalesce("quota", F.lit(default_k))
        )
        ranked = ranked.filter(F.col("rank") <= F.col("quota")).drop("quota")

    # 4. hot-host salting: seq-contiguous subgroups
    result = ranked.withColumn("salt", ((F.col("rank") - 1) / salt_span).cast("int"))
    return result, barrier


def release_barrier(barrier: DataFrame | None) -> None:
    """Unpersist the plan-fork barrier returned by schedule_batch. Call
    after the batch's downstream action completes (the cache must stay
    alive while the scheduled DataFrame is still being computed from).
    None (no prefilter configured) is a no-op."""
    if barrier is not None:
        barrier.unpersist()


_DRAIN_SUFFIX = ", fetch_order int, content_hash long"


def _drain_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """``drain_ordered``'s per-group body. Module level, so the worker
    unpickles it by reference and imports the package (see
    ``crawler_spark/__init__.py``) instead of receiving it by value."""
    pdf = pdf.sort_values(["host", "priority", "seq"], kind="mergesort").reset_index(drop=True)
    pdf["fetch_order"] = pdf.groupby("host", sort=False).cumcount().astype("int32")
    # cheap deterministic stand-in for fetch+parse (vectorized)
    pdf["content_hash"] = pd.util.hash_array(pdf["url"].to_numpy(dtype=object)).astype("int64")
    return pdf


def drain_ordered(scheduled: DataFrame, n_buckets: int | None = None) -> DataFrame:
    """Per-host ordered fetch stage via applyInPandas.

    Each group is sorted by (host, priority, seq) and walked in order —
    ``fetch_order`` is the position at which a sequential per-host fetcher
    issues the request within its salted slice. ``content_hash`` stands in
    for the fetch+parse work in the bench (the real engine joins vs
    web_graph / HTTP here).

    Grouping granularity:
    - n_buckets=None: one group per (host, salt) — a hot host's salted
      subgroups land on different executors (groupBy hash-partitions on
      both keys); intra-host order is reconstructed by (salt, fetch_order).
    - n_buckets=B: groups are (pmod(xxhash64(host), B), salt) — a fetcher
      task owns MANY hosts and drains each host's slice in order, exactly
      like a real multi-host politeness worker. Cuts per-group Arrow
      overhead ~100x when there are tens of thousands of small hosts
      (measured 13.3s -> ~1s at 700k rows / 10k hosts on local[32]).
    Both give identical rows; only task granularity differs.

    Partitioning note: groupBy hash-partitions on (host-hash bucket,
    salt) — the same co-location + hot-host-splitting a manual
    ``repartitionByRange(xxhash64(host), salt)`` would buy, but in ONE
    shuffle fused with the applyInPandas exchange instead of a separate
    range-sampling pass (range partitioning needs a sample job to pick
    bounds; hash needs none and balances Zipf hosts just as well once
    salted).
    """
    schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in scheduled.schema.fields)
        + _DRAIN_SUFFIX
    )
    if n_buckets:
        keyed = scheduled.withColumn(
            "fetch_group", F.pmod(F.xxhash64("host"), F.lit(n_buckets)).cast("int")
        )
        return (
            keyed.groupBy("fetch_group", "salt")
            .applyInPandas(_drain_group, schema + ", fetch_group int")
            .drop("fetch_group")
        )
    return scheduled.groupBy("host", "salt").applyInPandas(_drain_group, schema)


def route_retries(
    results: DataFrame, max_attempts: int = 3, retry_priority_penalty: int = 1
) -> tuple[DataFrame, DataFrame]:
    """Failed-fetch routing (T5 — the reference's 3-attempt/120 s retry,
    /root/reference/backend/nlp_processing/structured_completion.py:19-36,
    generalized to the frontier): rows with ok=false re-enter the frontier
    with attempt+1 and a priority penalty (drained later than fresh work,
    seq preserved so per-host order among retries is stable); rows out of
    attempts go to a dead-letter table for the metrics surface.

    Returns (retry_frontier_rows, dead_letters)."""
    failed = results.filter(~F.col("ok"))
    cols = ["url", "url_hash", "host", "priority", "seq", "attempt"]
    bumped = failed.select(
        "url",
        "url_hash",
        "host",
        (F.col("priority") + retry_priority_penalty).alias("priority"),
        "seq",
        (F.col("attempt") + 1).alias("attempt"),
    )
    retry = bumped.filter(F.col("attempt") < max_attempts).select(cols)
    dead = bumped.filter(F.col("attempt") >= max_attempts).select(cols)
    return retry, dead


PARSE_DIGEST_SCHEMA = (
    "url string, host string, seq long, n_internal int, n_external int, "
    "n_file int, n_spans int, md_len int"
)


def fetch_parse_digest(
    drained: DataFrame, fetcher, n_tasks: int | None = None
) -> DataFrame:
    """Fetch+parse stage over a drained batch: for every scheduled URL,
    fetch the payload (``fetcher(url) -> html str`` — an HTTP client in
    production, a deterministic synthesizer in the bench) and run the
    engine's REAL span/link extraction (functions.linkextract — the same
    code the parity-tested parse path uses). Emits per-doc digests; the
    engine variant lands full span rows in the docs table instead.

    mapInArrow, not mapInPandas: the URL strings cross the boundary as
    Arrow buffers without pandas object materialization (measured: pandas
    string columns anti-scale past ~8 workers on allocator contention).

    ``n_tasks``: round-robin repartition the batch to this many tasks
    before the map. The drained batch arrives partitioned for the FETCH
    stage (host-bucket hash — co-location politeness needs), but parse
    cost is per-row Python compute (~340 us/doc), so the right layout is
    uniform ROW balance at several waves per core — host-hash partitions
    carry the Zipf host skew straight into a straggler tail, and AQE's
    coalescing sizes partitions by bytes, blind to downstream Python
    cost. Per-doc work is independent and the digest is order-free, so
    re-ordering is semantics-free. Measured on a 685k-doc batch at
    local[32]: ~11.5-13.5 s host-hash inherited vs ~10 s round-robin at
    4 waves/core; the (url,host,seq)-only shuffle is ~50 MB. Default
    None keeps the input layout (engine per-batch calls are small)."""
    import pyarrow as pa

    from ..functions.linkextract import build_spans_html

    if n_tasks:
        drained = drained.select("url", "host", "seq").repartition(n_tasks)

    def _fp(it):
        for b in it:
            urls = b.column("url").to_pylist()
            hosts = b.column("host").to_pylist()
            out = {k: [] for k in ("n_internal", "n_external", "n_file", "n_spans", "md_len")}
            for u, h in zip(urls, hosts):
                html = fetcher(u)
                # base = the DOCUMENT url, matching the engine's real parse
                # path (udfs.py/oracle.py): path-relative hrefs on
                # /dir/page must resolve under /dir/, not the host root
                spans, links = build_spans_html(html, u)
                out["n_internal"].append(len(links.internal))
                out["n_external"].append(len(links.external))
                out["n_file"].append(len(links.file))
                out["n_spans"].append(len(spans))
                out["md_len"].append(sum(len(s.text) for s in spans))
            yield pa.record_batch(
                [
                    b.column("url"),
                    b.column("host"),
                    b.column("seq"),
                    pa.array(out["n_internal"], pa.int32()),
                    pa.array(out["n_external"], pa.int32()),
                    pa.array(out["n_file"], pa.int32()),
                    pa.array(out["n_spans"], pa.int32()),
                    pa.array(out["md_len"], pa.int32()),
                ],
                names=["url", "host", "seq", "n_internal", "n_external", "n_file", "n_spans", "md_len"],
            )

    return drained.select("url", "host", "seq").mapInArrow(_fp, PARSE_DIGEST_SCHEMA)
