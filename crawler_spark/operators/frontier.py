"""The micro-batched frontier drain — the reference's sequential crawl loop
(/root/reference/backend/domain/entities.py:135-237) re-expressed as a
BSP-style Spark job.

Execution model: the reference crawls ONE source at a time with ONE URL in
flight (Celery solo pool, backend/tasks/config.py:29). Within a source the
loop is inherently sequential — page k+1's choice depends on page k's
extract — so the engine parallelizes ACROSS sources/hosts: each micro-batch
pops the head of every active source's queue, fetches and parses them all
in one distributed stage, then advances every source's state by one step.
Per-host crawl order is therefore byte-identical to the reference (a source
crawls only its own host — internal links share the seed's netloc), which
is exactly the equality the north rule asks for; cross-host interleaving is
free parallelism.

Same-host multi-source rule (pinned by
tests/test_engine_parity.py::test_two_sources_same_host_parity and
tests/test_scheduler.py::test_two_sources_one_host_single_politeness_stream):
the reference runs two sources sharing one host as independent SEQUENTIAL
tasks (≤1 URL in flight globally), so each source's crawl order, URL-seen
set, counters, and spans are functions of that source alone. The engine
preserves all four EXACTLY per source — state keys on source_url
throughout, so a URL both sources reach is fetched once per source, as the
reference does. The ONLY divergence is timing: within a micro-batch the
engine pops every active source's head, so a shared host sees both
sources' fetches in the same batch instead of serialized across tasks.
That is a politeness question, not a correctness one, and the scale path
answers it per HOST: scheduler.drain_ordered emits a single serialized
fetch_order per host covering every source's URLs, so crawl-delay is
honored for the host no matter how many sources map onto it.

Every micro-batch is one atomic snapshot commit of
{frontier, source_state} (full) + {url_seen, candidates, docs, crawl_log,
page_links} (append deltas) with lineage + metrics — a killed run resumes
exactly (test: tests/test_resume.py).

Scale shape: all joins key on (source_url / url); the fetch-join always
broadcasts ``web_graph`` (the engine runs fixture-sized graphs); the
parse stage is a single Arrow ``mapInPandas`` pass; the per-source
head-pick and the policy step are windows/groupBy over the (tiny)
per-source state, NOT driver loops. The high-volume scale path (top-K
per host, Bloom prefilter, salting) lives in ``operators/scheduler.py``.

Where Python runs in a step. Each Python pass costs a worker start and an
Arrow round trip — on a fixture-sized batch far more than its work — so a
step has exactly three, each doing work only Python can:

1. parse (``parse_documents``): markdown, spans, classified links, and the
   fragment-stripped ``url_nofrag`` / ``internal_nofrag`` the seen and
   candidate tables key on;
2. the next-link policy (``_next_link_udf``): the oracle's policy plus the
   chosen link's host;
3. page-job rows (``jobs.build_page_jobs``).

A robots table, when given, adds its trie walk. Everything else is JVM
built-ins; seed hosts come from ``host_of`` on the driver, and seed rows
travel as an Arrow ``LocalRelation``. Empty frames never come from Python:
an absent table reads as ``state.empty_frame`` (zero partitions, folded
away by the optimizer), and the store records an empty delta without
writing it.
"""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import schemas
from ..functions.udfs import PARSED_SCHEMA, parse_documents
from ..functions.urlnorm import host_of
from ..oracle import make_policy
from ..state import SnapshotParquetStore, empty_frame

__all__ = ["CrawlEngine"]

_DELTA_TABLES = (
    "url_seen", "candidates", "docs", "crawl_log", "page_links", "jobs", "deleted_sources"
)


_SEEDS = T.StructType(
    [
        T.StructField("source_url", T.StringType()),
        T.StructField("max_pages", T.IntegerType()),
        T.StructField("host", T.StringType()),
    ]
)


def _next_link_udf(policy_name: str):
    """Vectorized policy evaluation: (current_url, ordered candidates) ->
    (next_link, next_host). The SAME pure function the oracle uses
    (oracle.make_policy), so engine/oracle equality is by construction;
    the enqueued link's host is derived in the same Python pass."""

    @F.pandas_udf("next_link string, next_host string")
    def next_link(current_url: pd.Series, candidates: pd.Series) -> pd.DataFrame:
        policy = make_policy(policy_name)
        links = [
            policy(u, list(c) if c is not None else [])
            for u, c in zip(current_url, candidates)
        ]
        return pd.DataFrame(
            {
                "next_link": links,
                "next_host": [host_of(u) if u is not None else None for u in links],
            }
        )

    return next_link


class CrawlEngine:
    """Reference-parity crawl over a ``web_graph`` table (FIXTURES.md §1)."""

    def __init__(
        self,
        spark: SparkSession,
        web_graph: DataFrame,
        state_dir: str,
        policy: str = "lexmin",
        robots: DataFrame | None = None,
    ):
        """robots: optional (host, disallow_prefixes, crawl_delay_ms) rules
        table (FIXTURES.md §3). The reference has no robots handling
        (SURVEY.md §0 — README claim only); when given, the engine drops
        disallowed URLs from the policy's candidate list (so the policy
        picks the best ALLOWED candidate) and disallowed seeds at init;
        reference-parity runs simply omit it."""
        self.spark = spark
        self.web_graph = web_graph
        self.store = SnapshotParquetStore(spark, state_dir)
        self.policy_name = policy
        self.robots_bcast = None
        if robots is not None:
            from .politeness import robots_index

            # auto: broadcast compiled tries at fixture scale, switch to
            # the co-partitioned join past BROADCAST_ROBOTS_MAX_HOSTS
            self.robots_bcast = robots_index(spark, robots, mode="auto")

    def _robots_ok(self, df: DataFrame, url_col: str = "url") -> DataFrame:
        if self.robots_bcast is None:
            return df
        from .politeness import robots_filter

        return robots_filter(df, self.robots_bcast, url_col=url_col)

    # -- state bootstrap ------------------------------------------------------

    def _seed_frame(self, seeds: list[tuple[str, int]]) -> DataFrame:
        """(source_url, max_pages, host) seed rows. Hosts come from
        ``host_of`` on the driver, and a pandas frame becomes an Arrow
        ``LocalRelation`` — scanning it starts no Python worker."""
        if not seeds:
            return empty_frame(self.spark, _SEEDS)
        pdf = pd.DataFrame(
            {
                "source_url": [u for u, _ in seeds],
                "max_pages": [int(mp) for _, mp in seeds],
                "host": [host_of(u) for u, _ in seeds],
            }
        )
        return self.spark.createDataFrame(pdf, _SEEDS)

    def _seed_rows(self, seed_df: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(frontier_rows, source_state_rows) for fresh seed sources —
        the ONE definition of the seed-row shape, shared by init_state
        and add_sources so the two paths cannot drift. Duplicate
        source_urls collapse to one row (a repeated seed would otherwise
        fan out every broadcast join and double-emit finalize jobs), and
        the robots gate applies to BOTH tables: a disallowed seed gets no
        source_state row either, so it can never linger as a perpetually
        in-progress source with a bogus 0-page crawl job."""
        seed_df = seed_df.dropDuplicates(["source_url"])
        frontier_rows = self._robots_ok(
            seed_df.select(
                F.col("source_url"),
                F.col("source_url").alias("url"),
                F.xxhash64("source_url").alias("url_hash"),
                "host",
                F.lit(0).alias("priority"),
                F.lit(0).cast("long").alias("seq"),
                F.lit(0).alias("attempt"),
            )
        )
        state_rows = (
            seed_df.join(frontier_rows.select("source_url"), "source_url", "left_semi")
            .select(
                "source_url",
                "host",
                "max_pages",
                F.lit(0).alias("pages_crawled"),
                F.lit(1).cast("long").alias("total_pages_found"),
                F.lit(1).cast("long").alias("next_enqueue_seq"),
            )
        )
        return frontier_rows, state_rows

    def init_state(self, seeds: list[tuple[str, int]]) -> None:
        """Seed the frontier. seeds = [(normalized_seed_url, max_pages)].
        Refuses to run on an already-initialized store — the batch-0
        commit would be idempotently swallowed and the caller would
        silently proceed against stale state; use add_sources to merge."""
        if self.store.head() is not None:
            raise ValueError("state already initialized; use add_sources() to merge seeds")
        frontier, source_state = self._seed_rows(self._seed_frame(seeds))
        # recorded in the manifest without a write (is_empty_plan)
        empty = {
            name: empty_frame(self.spark, getattr(schemas, name.upper()))
            for name in _DELTA_TABLES
        }
        self.store.commit(
            batch_id=0,
            full_tables={"frontier": frontier, "source_state": source_state},
            delta_tables=empty,
            metrics={"event": "init", "sources": len(seeds)},
        )

    def add_sources(self, seeds: list[tuple[str, int]]) -> int:
        """MERGE-style source add to EXISTING state (J9,
        /root/reference/backend/service/services.py:28-39,304-311):
        sources already present are skipped; new ones are seeded into the
        frontier + source_state in one commit. Re-adding a previously
        DELETED source is supported: the batch-scoped deleted_sources
        mark hides only its old rows, so the new life crawls from a clean
        slate (test_jobs.py::test_delete_then_readd_recrawls_cleanly).
        Returns the number of sources actually added."""
        head = self.store.head()
        if head is None:
            self.init_state(seeds)
            return self.store.read("source_state").count()
        batch_id = head.batch_id + 1
        seed_df = self._seed_frame(seeds)
        state = self.store.read("source_state")
        new = seed_df.join(state.select("source_url"), "source_url", "left_anti").persist()
        state_new = None
        try:
            if new.count() == 0:
                return 0
            frontier_new, state_new = self._seed_rows(new)
            state_new = state_new.persist()
            n_added = state_new.count()  # post-dedup, post-robots
            if n_added == 0:
                return 0
            self.store.commit(
                batch_id=batch_id,
                full_tables={
                    "frontier": self.store.read("frontier").unionByName(frontier_new),
                    "source_state": state.unionByName(state_new),
                },
                metrics={"event": "add_sources", "sources": n_added},
            )
            return n_added
        finally:
            new.unpersist()
            if state_new is not None:
                state_new.unpersist()

    def _read_or_empty(self, table: str) -> DataFrame:
        df = self.store.read(table)
        if df is None:
            df = empty_frame(self.spark, getattr(schemas, table.upper()))
        return df

    # -- one micro-batch ------------------------------------------------------

    def step(self, batch_id: int) -> int:
        """Advance every active source by one pop. Returns #popped (0 = done)."""
        store = self.store
        t0 = time.monotonic()

        frontier = store.read("frontier")
        source_state = store.read("source_state")
        # delete-RESOLVED reads: a re-added source must not be blocked by
        # the stale seen/candidate rows of its deleted former life
        url_seen = self.url_seen()
        candidates = self.candidates()

        active = source_state.filter(F.col("pages_crawled") < F.col("max_pages"))

        # head of each active source's queue (FIFO = min enqueue seq)
        w_head = Window.partitionBy("source_url").orderBy("seq")
        heads = (
            frontier.join(
                F.broadcast(active.select("source_url", "pages_crawled")), "source_url"
            )
            .withColumn("rn", F.row_number().over(w_head))
            .filter(F.col("rn") == 1)
            .drop("rn")
            .withColumn("pop_seq", F.col("pages_crawled").cast("long"))
            .persist()
        )
        # every persisted frame registers here; the finally releases them
        # even when the fetch/parse/commit path throws mid-batch (a disk-
        # full or parse error must not leak cached blocks across retries)
        persisted = [heads]
        try:
            n_popped = heads.count()
            if n_popped == 0:
                return 0
            return self._step_body(
                batch_id, t0, n_popped, heads, frontier, source_state,
                url_seen, candidates, active, persisted,
            )
        finally:
            for df in persisted:
                df.unpersist()

    def _step_body(
        self, batch_id, t0, n_popped, heads, frontier, source_state,
        url_seen, candidates, active, persisted,
    ) -> int:
        # pop: remove heads from the frontier
        frontier2 = frontier.join(
            heads.select("source_url", "seq"), ["source_url", "seq"], "left_anti"
        )

        # fetch (join vs web_graph — the sandbox's network) + Arrow parse
        fetched = heads.select("source_url", "url", "host", F.col("pop_seq").alias("seq")).join(
            F.broadcast(self.web_graph).select("url", "kind", "payload", "status"), "url", "left"
        )
        parsed = fetched.mapInPandas(parse_documents, PARSED_SCHEMA).persist()
        persisted.append(parsed)

        # mark processed at pop time (entities.py:158-159), incl. failures
        # (parse emits a row per pop, ok or not); the seen table is exact —
        # new (source,url) pairs only. url_hash is xxhash64(url), as in
        # every frontier row (_seed_rows, enqueue). Persisted: the policy
        # pass below and the commit's write both read it.
        seen_new = (
            parsed.select(
                "source_url",
                "url",
                "url_nofrag",
                F.xxhash64("url").alias("url_hash"),
                F.col("seq").alias("first_seq"),
                F.lit(batch_id).cast("long").alias("batch_id"),
            )
            .join(url_seen.select("source_url", "url"), ["source_url", "url"], "left_anti")
            .persist()
        )
        persisted.append(seen_new)
        url_seen2 = url_seen.unionByName(seen_new)

        ok = parsed.filter("ok")

        # merge new internal links into per-source candidate lists
        # (append-if-absent, order-preserving: entities.py:176-179)
        exploded = ok.select(
            "source_url",
            F.posexplode(F.arrays_zip("internal_links", "internal_nofrag")).alias("pos", "z"),
        ).select(
            "source_url",
            "pos",
            F.col("z.internal_links").alias("link"),
            F.col("z.internal_nofrag").alias("link_nofrag"),
        )
        w_first = Window.partitionBy("source_url", "link").orderBy("pos")
        page_new = (
            exploded.withColumn("rn", F.row_number().over(w_first))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        cand_new = page_new.join(
            candidates.select("source_url", F.col("url").alias("link")),
            ["source_url", "link"],
            "left_anti",
        )
        prev_max = candidates.groupBy("source_url").agg(F.max("cand_seq").alias("max_seq"))
        w_rank = Window.partitionBy("source_url").orderBy("pos")
        cand_delta = (
            cand_new.join(prev_max, "source_url", "left")
            .withColumn("rank", F.row_number().over(w_rank))
            .select(
                "source_url",
                F.col("link").alias("url"),
                F.col("link_nofrag").alias("url_nofrag"),
                (F.coalesce(F.col("max_seq"), F.lit(-1)) + F.col("rank")).alias("cand_seq"),
                F.lit(batch_id).cast("long").alias("batch_id"),
            )
            .persist()
        )
        persisted.append(cand_delta)
        candidates2 = candidates.unionByName(cand_delta)

        # filtered candidates: anti-join vs fragment-stripped seen set
        # (entities.py:181-186; nofrag key subsumes the exact-match clause).
        # Robots filtering applies HERE — before the policy — so a
        # disallowed best candidate makes the policy pick the next-best
        # allowed one instead of silently ending the source's crawl.
        # Restricted to the batch's popped sources first: completed
        # sources' accumulated candidates would otherwise flow through
        # the robots UDF + anti-join + sorted collect_list every batch
        # only to be discarded by the chosen join (with 1000 sources of
        # which 10 remain active, that is 99% wasted candidate work).
        filtered = self._robots_ok(
            candidates2.join(heads.select("source_url").distinct(), "source_url", "left_semi")
            .join(
                url_seen2.select("source_url", "url_nofrag"),
                ["source_url", "url_nofrag"],
                "left_anti",
            )
        )

        cand_lists = filtered.groupBy("source_url").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("cand_seq", "url"))),
                lambda s: s.getField("url"),
            ).alias("cand_list")
        )

        # policy: pick next link (and its host) per successfully-scraped
        # page (at most ONE enqueue per page, entities.py:196-201)
        chosen = (
            ok.select("source_url", "url", "seq")
            .join(cand_lists, "source_url", "left")
            .withColumn(
                "pick",
                _next_link_udf(self.policy_name)(
                    "url", F.coalesce("cand_list", F.array().cast("array<string>"))
                ),
            )
            .withColumn("next_link", F.col("pick.next_link"))
            .withColumn("next_host", F.col("pick.next_host"))
            # oracle guard (oracle.py: `next_link and next_link in
            # filtered`): a policy returning '' or a URL outside its
            # candidate list — legal under the NextLinkPolicy contract
            # even though no built-in policy does it — must not enqueue
            .withColumn(
                "next_link",
                F.when(
                    F.col("next_link").isNotNull()
                    & (F.col("next_link") != "")
                    & F.array_contains(
                        F.coalesce("cand_list", F.array().cast("array<string>")),
                        F.col("next_link"),
                    ),
                    F.col("next_link"),
                ),
            )
            .select("source_url", "seq", "next_link", "next_host")
            .persist()
        )
        persisted.append(chosen)

        # next_link comes from the robots-filtered candidate list, so no
        # second robots pass is needed at enqueue time.
        enqueue = (
            chosen.filter(F.col("next_link").isNotNull())
            .join(F.broadcast(active.select("source_url", "next_enqueue_seq")), "source_url")
            .select(
                "source_url",
                F.col("next_link").alias("url"),
                F.xxhash64("next_link").alias("url_hash"),
                F.col("next_host").alias("host"),
                F.lit(0).alias("priority"),
                F.col("next_enqueue_seq").alias("seq"),
                F.lit(0).alias("attempt"),
            )
        )
        frontier3 = frontier2.unionByName(enqueue)

        # source_state advance: pages_crawled++ for every pop (failures too,
        # entities.py:202); total_pages_found += new candidates (:176-179)
        new_found = cand_delta.groupBy("source_url").agg(F.count("*").alias("n_new"))
        enq_count = chosen.filter(F.col("next_link").isNotNull()).groupBy("source_url").agg(
            F.count("*").alias("n_enq")
        )
        popped_sources = heads.select("source_url").distinct().withColumn("popped", F.lit(1))
        source_state2 = (
            source_state.join(popped_sources, "source_url", "left")
            .join(new_found, "source_url", "left")
            .join(enq_count, "source_url", "left")
            .select(
                "source_url",
                "host",
                "max_pages",
                (F.col("pages_crawled") + F.coalesce(F.col("popped"), F.lit(0))).alias(
                    "pages_crawled"
                ),
                (F.col("total_pages_found") + F.coalesce(F.col("n_new"), F.lit(0))).alias(
                    "total_pages_found"
                ),
                (F.col("next_enqueue_seq") + F.coalesce(F.col("n_enq"), F.lit(0))).alias(
                    "next_enqueue_seq"
                ),
            )
        )

        # output deltas
        docs_delta = ok.select(
            F.col("url").alias("doc_id"), "source_url", "seq", "host", "spans",
            F.lit(batch_id).cast("long").alias("batch_id"),
        )
        crawl_log_delta = (
            heads.select("source_url", F.col("pop_seq").alias("seq"), "url", "host")
            .join(parsed.select("source_url", "seq", "ok"), ["source_url", "seq"], "left")
            .join(chosen, ["source_url", "seq"], "left")
            .select(
                "source_url", "seq", "url", "host",
                F.coalesce("ok", F.lit(False)).alias("ok"),
                "next_link",
                F.lit(batch_id).cast("long").alias("batch_id"),
            )
        )
        page_links_delta = (
            ok.select(
                "source_url",
                "url",
                "seq",
                F.explode(
                    F.array(
                        F.struct(F.lit("internal").alias("category"), F.col("internal_links").alias("links")),
                        F.struct(F.lit("external").alias("category"), F.col("external_links").alias("links")),
                        F.struct(F.lit("file").alias("category"), F.col("file_links").alias("links")),
                    )
                ).alias("z"),
            )
            .select(
                "source_url",
                "url",
                "seq",
                F.col("z.category").alias("category"),
                F.posexplode("z.links").alias("pos", "link"),
            )
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
        )

        # job rows for this batch: scrape (+error) / extract per pop,
        # derived by the SAME pure field policies the oracle simulation
        # uses (jobs.py) — tagged-union payload as nullable structs.
        from ..jobs import build_page_jobs

        jobs_delta = (
            parsed.join(
                chosen.select("source_url", "seq", "next_link"), ["source_url", "seq"], "left"
            )
            .select(
                "source_url", "url", "seq", "ok", "markdown",
                "internal_links", "external_links", "file_links", "next_link",
            )
            .mapInPandas(build_page_jobs(batch_id), schemas.JOBS)
        )

        # fetched_ok / new_candidates are NOT counted here — they come free
        # from the manifest's per-table delta row counts (parquet footers),
        # read back by metrics(); two fewer Spark jobs per batch.
        # batch_sec must cover the batch's real work: the metrics dict is
        # evaluated BEFORE commit runs the writes, so force the persisted
        # stages first. chosen sits downstream of parsed, seen_new and
        # cand_delta, so one barrier fills all four caches — the commit's
        # writes then reuse the blocks, no duplicate compute. Parquet
        # write time itself is visible in the store's commit latency
        # (tools/lifecycle_smoke.py), not here.
        chosen.count()
        self.store.commit(
            batch_id=batch_id,
            full_tables={"frontier": frontier3, "source_state": source_state2},
            delta_tables={
                "url_seen": seen_new,
                "candidates": cand_delta,
                "docs": docs_delta,
                "crawl_log": crawl_log_delta,
                "page_links": page_links_delta,
                "jobs": jobs_delta,
            },
            metrics={
                "popped": n_popped,
                "batch_sec": round(time.monotonic() - t0, 3),
            },
        )
        return n_popped

    # -- full run -------------------------------------------------------------

    def run(self, seeds: list[tuple[str, int]] | None = None, max_batches: int = 10_000) -> int:
        """Drain until every source is done. Resumes from HEAD if state
        exists; seeds given on top of existing state are MERGED via
        add_sources (already-present sources skipped) rather than
        silently ignored. Returns number of batches executed."""
        head = self.store.head()
        if head is None:
            if seeds is None:
                raise ValueError("no existing state and no seeds given")
            self.init_state(seeds)
            head = self.store.head()
        elif seeds is not None:
            self.add_sources(seeds)
            head = self.store.head()
        batch_id = head.batch_id
        batches = 0
        done = False
        while batches < max_batches:
            batch_id += 1
            if self.step(batch_id) == 0:
                done = True
                break
            batches += 1
        if done:
            # reference emits CrawlJobResult + summarize job when the loop
            # ends (entities.py:204-231) — only on completion, never on a
            # max_batches cap mid-crawl
            self._finalize_jobs()
        return batches

    def _finalize_jobs(self) -> None:
        """End-of-crawl jobs per source (crawl counters + summarize with
        the keep-first top-5 external links). Idempotent: sources that
        already have a crawl job are skipped, so a resumed run never
        double-emits (the reference's ``if source.jobs: return`` guard,
        services.py:291-292)."""
        from ..jobs import build_source_jobs, jobs_current
        from ..views import external_links_keepfirst

        head = self.store.head()
        batch_id = head.batch_id + 1
        source_state = self.store.read("source_state")
        # jobs_current, not raw: a deleted source's tombstoned crawl job
        # must not suppress finalize jobs for its re-added successor
        have_crawl = (
            jobs_current(self._read_or_empty("jobs"))
            .filter(F.col("kind") == "crawl")
            .select("source_url")
            .distinct()
        )
        ext_agg = (
            external_links_keepfirst(self.crawl_log(), self.page_links())
            .groupBy("source_url")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("first_seq", "seq", "pos", "link"))),
                    lambda s: s.getField("link"),
                ).alias("ext_links")
            )
        )
        fin = (
            source_state.join(have_crawl, "source_url", "left_anti")
            .join(ext_agg, "source_url", "left")
            .select(
                "source_url", "pages_crawled", "total_pages_found", "max_pages", "ext_links"
            )
            # persisted: the count() guard and the jobs write would each
            # re-run the keep-first window + collect_list pipeline above
            .persist()
        )
        try:
            if fin.count() == 0:
                return  # already finalized (resume of a completed crawl)
            jobs_fin = fin.mapInPandas(build_source_jobs(batch_id), schemas.JOBS)
            self.store.commit(
                batch_id=batch_id,
                full_tables={},
                delta_tables={"jobs": jobs_fin},
                metrics={"event": "finalize_jobs"},
            )
        finally:
            fin.unpersist()

    # -- result accessors ------------------------------------------------------

    def _minus_deleted(self, df: DataFrame) -> DataFrame:
        """Merge-on-read delete resolution for the append-only tables: a
        delete_source commit adds a deleted_sources mark instead of
        rewriting history; readers resolve it (broadcast — the mark table
        is O(deletes)). The mark is BATCH-SCOPED: it hides only rows
        written at or before the delete (row.batch_id <= mark.batch_id),
        so a source deleted and later re-added (add_sources) keeps its
        new life's rows visible while the old life stays tombstoned."""
        dels = self.store.read("deleted_sources")
        if dels is None:
            return df
        cutoff = dels.groupBy("source_url").agg(F.max("batch_id").alias("_del_batch"))
        return (
            df.join(F.broadcast(cutoff), "source_url", "left")
            .filter(F.col("_del_batch").isNull() | (F.col("batch_id") > F.col("_del_batch")))
            .drop("_del_batch")
        )

    def crawl_log(self) -> DataFrame:
        return self._minus_deleted(self._read_or_empty("crawl_log"))

    def url_seen(self) -> DataFrame:
        return self._minus_deleted(self._read_or_empty("url_seen"))

    def docs(self) -> DataFrame:
        return self._minus_deleted(self._read_or_empty("docs"))

    def candidates(self) -> DataFrame:
        return self._minus_deleted(self._read_or_empty("candidates"))

    def source_state(self) -> DataFrame:
        return self.store.read("source_state")

    def page_links(self) -> DataFrame:
        return self._minus_deleted(self._read_or_empty("page_links"))

    def jobs_all(self) -> DataFrame:
        """Raw jobs rows including superseded revisions and tombstones."""
        return self._read_or_empty("jobs")

    def jobs(self) -> DataFrame:
        """Current job rows (latest revision, tombstones dropped)."""
        from ..jobs import jobs_current

        return jobs_current(self.jobs_all())

    def metrics(self) -> DataFrame:
        """Per-batch fetch/dedup metrics from the snapshot lineage (T6:
        the reference's polled job-state view becomes a queryable table),
        as an Arrow ``LocalRelation``: scanning it starts no Python worker."""
        rows = [
            (
                m.snapshot_id,
                m.batch_id,
                int(m.metrics.get("popped", 0)),
                int(m.tables.get("docs", {}).get("delta_rows", 0)),
                int(m.tables.get("candidates", {}).get("delta_rows", 0)),
                float(m.metrics.get("batch_sec", 0.0)),
            )
            for m in self.store.history()
        ]
        schema = T.StructType.fromDDL(
            "snapshot_id long, batch_id long, popped long, fetched_ok long, "
            "new_candidates long, batch_sec double"
        )
        if not rows:
            return empty_frame(self.spark, schema)
        return self.spark.createDataFrame(pd.DataFrame(rows, columns=schema.names), schema)
