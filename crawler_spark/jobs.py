"""Job-result payload + review workflow over the engine state tables.

Models the reference's job aggregate faithfully on Spark:

- the tagged union of outcome tables (JobError / Scrape / Extract /
  Summarize / Crawl results, /root/reference/backend/domain/values.py:60-121,
  persisted as 5 separate SQLite tables selected via a hybrid property,
  backend/database/entities.py:90-116) becomes nullable struct columns on
  ONE wide ``jobs`` table (schemas.JOBS) — the reference's J10 eager-load
  joins disappear by design;
- LLM metadata (input/output tokens, prompt, model, review_status —
  values.py:66-72) rides inside the extract/summarize structs, making A8
  token accounting per-job columns;
- the LLM calls themselves are replaced by the deterministic field
  policies below (``extract_fields`` / ``summarize_fields``) — the same
  pluggable-pure-function trick as ``oracle.NextLinkPolicy``, so the Spark
  engine and the pure-Python oracle derive byte-identical job rows and
  equality is decidable (SURVEY.md §5.2);
- mutations (approve_job_review_status / edit_job_outcome_summary /
  delete_source — backend/service/services.py:317-357) are snapshot
  commits that APPEND a higher-revision copy of the affected rows
  (merge-on-read, Iceberg-style): commit cost stays O(change), never
  O(job history); readers resolve through ``jobs_current``.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import schemas

__all__ = [
    "extract_fields",
    "summarize_fields",
    "simulate_jobs",
    "build_page_jobs",
    "build_source_jobs",
    "jobs_current",
    "unreviewed_job_sources",
    "chat_source_listing",
    "chat_read_sources",
    "approve_job_review_status",
    "edit_job_outcome_summary",
    "delete_source",
    "JobNotFoundError",
    "InvalidJobTypeError",
    "InvalidSummaryValueError",
    "SourceNotFoundError",
]

# enum domains, verbatim from /root/reference/backend/domain/values.py:9-52
RELEVANCY = ("High", "Medium", "Low", "Not Relevant")
DATA_ORIGIN = ("Academic", "Government", "News", "Blog", "Non-Profit")
SOURCE_FORMAT = (
    "Research Paper", "Article", "Data Repository", "Historical Info", "Policy",
    "Law", "Narrative", "Data Visualization", "Letter", "Government Source",
)
FOCUS_AREA = ("Non-Human Animals", "Humans", "Environment", "Community", "Business")
DATASET_PRESENCE = ("Present", "Absent")
REVIEW_UNREVIEWED = "Unreviewed"
REVIEW_APPROVED = "Approved"

_MODEL = "deterministic-policy-v1"  # stands in for the LLM model id


class JobNotFoundError(KeyError):
    pass


class InvalidJobTypeError(TypeError):
    pass


class InvalidSummaryValueError(ValueError):
    pass


class SourceNotFoundError(KeyError):
    pass


# ---------------------------------------------------------------------------
# deterministic field policies (pure Python — shared by engine and oracle)
# ---------------------------------------------------------------------------


def _pick(options: tuple[str, ...], key: str) -> str:
    """Deterministic enum choice: md5 of a role-tagged key mod domain size."""
    return options[int(hashlib.md5(key.encode()).hexdigest()[:8], 16) % len(options)]


def _ntok(s: str) -> int:
    return len(s.split(" "))


def job_id_page(source_url: str, kind: str, seq: int) -> str:
    """Deterministic job id (the reference's uuid4, entities.py:39, is
    nondeterminism-quarantined per SURVEY.md §7.5)."""
    return hashlib.md5(f"{source_url}|{kind}|{seq}".encode()).hexdigest()


def job_id_source(source_url: str, kind: str) -> str:
    return hashlib.md5(f"{source_url}|{kind}".encode()).hexdigest()


def extract_fields(url: str, markdown: str, next_internal_link: str | None) -> dict:
    """ExtractJobResult fields (values.py:83-96) from page content —
    deterministic stand-in for the page_summarizer LLM call."""
    summary = markdown[:200]
    return {
        "summary": summary,
        "key_facts": markdown[:80],
        "key_quotes": markdown[80:160],
        "key_figures": str(len(markdown)),
        "trustworthiness": _pick(("high", "medium", "low"), "trust:" + url),
        "relevancy": _pick(RELEVANCY, "rel:" + url),
        "next_internal_link": next_internal_link,
        "input_tokens": _ntok(markdown),
        "output_tokens": _ntok(summary),
        "prompt": "extract-v1",
        "model": _MODEL,
        "review_status": REVIEW_UNREVIEWED,
    }


def summarize_fields(
    source_url: str,
    pages_crawled: int,
    total_pages_found: int,
    max_pages: int,
    ext_links: list[str],
) -> dict:
    """SummarizeJobResult fields (values.py:99-114) — deterministic
    stand-in for the source_analyzer LLM call. relevant_external_links
    keeps the reference's up-to-5 rule (O3, source_analyzer.py:97)."""
    summary = (
        f"{source_url}: crawled {pages_crawled}/{max_pages} pages, "
        f"found {total_pages_found}"
    )
    return {
        "summary": summary,
        "key_facts": f"pages={pages_crawled}; found={total_pages_found}",
        "key_quotes": "",
        "key_figures": str(total_pages_found),
        "data_origin": _pick(DATA_ORIGIN, "origin:" + source_url),
        "source_format": _pick(SOURCE_FORMAT, "format:" + source_url),
        "focus_area": _pick(FOCUS_AREA, "focus:" + source_url),
        "dataset_presence": _pick(DATASET_PRESENCE, "dataset:" + source_url),
        "relevant_external_links": list(ext_links[:5]),
        "input_tokens": pages_crawled + len(ext_links),
        "output_tokens": _ntok(summary),
        "prompt": "summarize-v1",
        "model": _MODEL,
        "review_status": REVIEW_UNREVIEWED,
    }


_EMPTY = {
    "error": None,
    "scrape_result": None,
    "extract_result": None,
    "summarize_result": None,
    "crawl_result": None,
}


def _page_job_rows(
    source_url: str,
    url: str,
    seq: int,
    ok: bool,
    markdown: str,
    internal_links: list,
    external_links: list,
    file_links: list,
    next_link: str | None,
    batch_id: int,
) -> list[dict]:
    """Jobs for one frontier pop, mirroring the reference loop's yields
    (entities.py:161-202): a scrape job (error outcome on fetch failure,
    :84-88) and — only on success — an extract job."""
    base = {
        "source_url": source_url,
        "page_url": url,
        "seq": int(seq),
        "batch_id": int(batch_id),
        "revision": 0,
        "deleted": False,
        **_EMPTY,
    }
    if not ok:
        return [
            {
                **base,
                "job_id": job_id_page(source_url, "scrape", seq),
                "kind": "scrape",
                "status": "error",
                "error": {"message": f"failed to scrape {url}"},
            }
        ]
    return [
        {
            **base,
            "job_id": job_id_page(source_url, "scrape", seq),
            "kind": "scrape",
            "status": "ok",
            "scrape_result": {
                "markdown": markdown,
                "internal_links": list(internal_links),
                "external_links": list(external_links),
                "file_links": list(file_links),
            },
        },
        {
            **base,
            "job_id": job_id_page(source_url, "extract", seq),
            "kind": "extract",
            "status": "ok",
            "extract_result": extract_fields(url, markdown, next_link),
        },
    ]


def _source_job_rows(
    source_url: str,
    pages_crawled: int,
    total_pages_found: int,
    max_pages: int,
    ext_links: list[str],
    batch_id: int,
) -> list[dict]:
    """End-of-crawl jobs per source: CrawlJobResult counters
    (entities.py:204-208) then the summarize job (:230-231)."""
    base = {
        "source_url": source_url,
        "page_url": None,
        "seq": -1,
        "status": "ok",
        "batch_id": int(batch_id),
        "revision": 0,
        "deleted": False,
        **_EMPTY,
    }
    return [
        {
            **base,
            "job_id": job_id_source(source_url, "crawl"),
            "kind": "crawl",
            "crawl_result": {
                "pages_crawled": int(pages_crawled),
                "total_pages_found": int(total_pages_found),
                "max_pages_limit": int(max_pages),
            },
        },
        {
            **base,
            "job_id": job_id_source(source_url, "summarize"),
            "kind": "summarize",
            "summarize_result": summarize_fields(
                source_url, pages_crawled, total_pages_found, max_pages, ext_links
            ),
        },
    ]


def _rows_to_pdf(rows: list[dict]) -> pd.DataFrame:
    cols = [f.name for f in schemas.JOBS.fields]
    return pd.DataFrame({c: [r[c] for r in rows] for c in cols})


def build_page_jobs(batch_id: int):
    """mapInPandas stage over parsed-join-chosen rows -> JOBS rows."""

    def _build(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: list[dict] = []
            for r in pdf.itertuples(index=False):
                rows.extend(
                    _page_job_rows(
                        r.source_url, r.url, r.seq, bool(r.ok), r.markdown,
                        r.internal_links, r.external_links, r.file_links,
                        r.next_link, batch_id,
                    )
                )
            yield _rows_to_pdf(rows)

    return _build


def build_source_jobs(batch_id: int):
    """mapInPandas stage over finalize rows
    (source_url, pages_crawled, total_pages_found, max_pages, ext_links)."""

    def _build(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: list[dict] = []
            for r in pdf.itertuples(index=False):
                ext = list(r.ext_links) if r.ext_links is not None else []
                rows.extend(
                    _source_job_rows(
                        r.source_url, r.pages_crawled, r.total_pages_found,
                        r.max_pages, ext, batch_id,
                    )
                )
            yield _rows_to_pdf(rows)

    return _build


def simulate_jobs(source_crawls) -> list[dict]:
    """Pure-Python expected jobs table from an oracle run
    (oracle.crawl_many output) — byte-identical to the engine's because
    both sides call the same field policies. batch_id/seq mapping follows
    the engine: page jobs land in batch seq+1, source jobs in the
    finalize batch (max batch + 1)."""
    out: list[dict] = []
    max_batch = 0
    for sc in source_crawls:
        for rec in sc.records:
            out.extend(
                _page_job_rows(
                    sc.source_url, rec.url, rec.seq, rec.ok, rec.markdown,
                    rec.internal_links, rec.external_links, rec.file_links,
                    rec.next_link, rec.seq + 1,
                )
            )
            max_batch = max(max_batch, rec.seq + 1)
    for sc in source_crawls:
        out.extend(
            _source_job_rows(
                sc.source_url, sc.pages_crawled, sc.total_pages_found,
                sc.max_pages, sc.unique_external_links, max_batch + 1,
            )
        )
    return out


# ---------------------------------------------------------------------------
# views (J4 for real + the chat-service aggregations over real job rows)
# ---------------------------------------------------------------------------


def jobs_current(jobs: DataFrame) -> DataFrame:
    """Merge-on-read resolution: latest (batch_id, revision) per job_id,
    tombstones dropped. One window shuffle on job_id — the key is
    unique-per-job so never skewed. batch_id leads the ordering so a
    re-added source's fresh revision-0 jobs (written at a later batch)
    shadow the old life's delete tombstones — job ids are deterministic
    (md5 of source|kind|seq) and therefore collide across lives."""
    w = Window.partitionBy("job_id").orderBy(F.desc("batch_id"), F.desc("revision"))
    return (
        jobs.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .drop("_rn")
        .filter(~F.col("deleted"))
    )


def unreviewed_job_sources(source_state: DataFrame, jobs: DataFrame) -> DataFrame:
    """J4, over real state: sources having an unreviewed page-level
    extract job OR an unreviewed source-level summarize job — the exact
    disjunction of EXISTS subqueries at
    /root/reference/backend/database/repositories.py:131-154, as ONE
    left-semi join on a disjunctive predicate (SURVEY.md §2.7)."""
    cur = jobs_current(jobs)
    unrev = cur.filter(
        (
            F.col("page_url").isNotNull()
            & (F.col("extract_result.review_status") == REVIEW_UNREVIEWED)
        )
        | (
            F.col("page_url").isNull()
            & (F.col("summarize_result.review_status") == REVIEW_UNREVIEWED)
        )
    ).select("source_url")
    return source_state.join(unrev, "source_url", "left_semi")


def chat_source_listing(jobs: DataFrame) -> DataFrame:
    """A6 faithful: (source_url, summary, data_origin, source_format,
    focus_area, dataset_presence) from each source's first summarize job
    (chatbot_service.py:13-40)."""
    cur = jobs_current(jobs).filter(F.col("kind") == "summarize")
    w = Window.partitionBy("source_url").orderBy("job_id")
    return (
        cur.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .select(
            "source_url",
            F.col("summarize_result.summary").alias("summary"),
            F.col("summarize_result.data_origin").alias("data_origin"),
            F.col("summarize_result.source_format").alias("source_format"),
            F.col("summarize_result.focus_area").alias("focus_area"),
            F.col("summarize_result.dataset_presence").alias("dataset_presence"),
        )
    )


def chat_read_sources(jobs: DataFrame) -> DataFrame:
    """A7 faithful: per source, the labeled '\\n\\n'-joined concat of
    key_facts / key_quotes / key_figures from the source-level summarize
    job ('Source Summary:') followed by per-page extract jobs
    ('Page (url):') in crawl order — chatbot_service.py:42-109. Empty
    fields are skipped exactly like the reference's .strip() gates."""
    cur = jobs_current(jobs)

    def labeled(col: str) -> DataFrame:
        src = cur.filter(F.col("kind") == "summarize").select(
            "source_url",
            F.lit(-1).cast("long").alias("ord_seq"),
            F.when(
                F.trim(F.col(f"summarize_result.{col}")) != "",
                F.concat(F.lit("Source Summary:\n"), F.col(f"summarize_result.{col}")),
            ).alias("part"),
        )
        pages = cur.filter(F.col("kind") == "extract").select(
            "source_url",
            F.col("seq").alias("ord_seq"),
            F.when(
                F.trim(F.col(f"extract_result.{col}")) != "",
                F.format_string(
                    "Page (%s):\n%s", F.col("page_url"), F.col(f"extract_result.{col}")
                ),
            ).alias("part"),
        )
        return (
            src.unionByName(pages)
            .filter(F.col("part").isNotNull())
            .groupBy("source_url")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("ord_seq", "part"))),
                        lambda s: s.getField("part"),
                    ),
                    "\n\n",
                ).alias(col)
            )
        )

    base = cur.select("source_url").distinct()
    out = base
    for col in ("key_facts", "key_quotes", "key_figures"):
        out = out.join(labeled(col), "source_url", "left")
    return out.select(
        "source_url",
        F.coalesce("key_facts", F.lit("No key facts found")).alias("key_facts"),
        F.coalesce("key_quotes", F.lit("No key quotes found")).alias("key_quotes"),
        F.coalesce("key_figures", F.lit("No key figures found")).alias("key_figures"),
    )


# ---------------------------------------------------------------------------
# mutations — snapshot commits (services.py:317-357)
# ---------------------------------------------------------------------------


def _next_batch(engine) -> int:
    head = engine.store.head()
    return (head.batch_id if head else 0) + 1


def _one_job(engine, job_id: str):
    rows = jobs_current(engine.jobs_all()).filter(F.col("job_id") == job_id).collect()
    if not rows:
        raise JobNotFoundError(job_id)
    return rows[0]


def _append_revision(engine, updated: DataFrame, event: str, job_id: str) -> None:
    engine.store.commit(
        batch_id=_next_batch(engine),
        full_tables={},
        delta_tables={"jobs": updated},
        metrics={"event": event, "job_id": job_id},
    )


def approve_job_review_status(engine, job_id: str) -> None:
    """services.py:326-341: flip review_status to Approved on an
    extract/summarize outcome; other kinds raise InvalidJobTypeError.
    Appends a revision+1 copy of the single affected row."""
    row = _one_job(engine, job_id)
    if row.kind not in ("extract", "summarize"):
        raise InvalidJobTypeError(f"{job_id}: {row.kind}")
    cur = jobs_current(engine.jobs_all()).filter(F.col("job_id") == job_id)
    field = "extract_result" if row.kind == "extract" else "summarize_result"
    upd = cur.withColumn("revision", F.col("revision") + 1).withColumn(
        field, F.col(field).withField("review_status", F.lit(REVIEW_APPROVED))
    )
    _append_revision(engine, upd, "approve_job", job_id)


def edit_job_outcome_summary(engine, job_id: str, summary: str) -> None:
    """services.py:343-357: replace the outcome summary (stripped);
    empty/whitespace summaries raise InvalidSummaryValueError."""
    if not summary or not summary.strip():
        raise InvalidSummaryValueError(repr(summary))
    row = _one_job(engine, job_id)
    if row.kind not in ("extract", "summarize"):
        raise InvalidJobTypeError(f"{job_id}: {row.kind}")
    cur = jobs_current(engine.jobs_all()).filter(F.col("job_id") == job_id)
    field = "extract_result" if row.kind == "extract" else "summarize_result"
    upd = cur.withColumn("revision", F.col("revision") + 1).withColumn(
        field, F.col(field).withField("summary", F.lit(summary.strip()))
    )
    _append_revision(engine, upd, "edit_summary", job_id)


def delete_source(engine, source_url: str) -> None:
    """services.py:317-324 (cascade delete of a source and its pages +
    jobs) as ONE snapshot commit: the small full tables (frontier,
    source_state) are rewritten without the source; the append-only
    tables get merge-on-read delete marks — jobs via revision+1
    tombstones, url_seen/docs/crawl_log/page_links/candidates via a
    deleted_sources row the read path anti-joins. Resume-safe like any
    other commit."""
    state = engine.source_state()
    if state is None or state.filter(F.col("source_url") == source_url).count() == 0:
        raise SourceNotFoundError(source_url)
    spark = engine.spark
    frontier = engine.store.read("frontier").filter(F.col("source_url") != source_url)
    source_state = state.filter(F.col("source_url") != source_url)
    tombstones = (
        jobs_current(engine.jobs_all())
        .filter(F.col("source_url") == source_url)
        .withColumn("revision", F.col("revision") + 1)
        .withColumn("deleted", F.lit(True))
    )
    batch = _next_batch(engine)
    dels = spark.createDataFrame(
        pd.DataFrame({"source_url": [source_url], "batch_id": [batch]}), schemas.DELETED_SOURCES
    )
    engine.store.commit(
        batch_id=batch,
        full_tables={"frontier": frontier, "source_state": source_state},
        delta_tables={"jobs": tombstones, "deleted_sources": dels},
        metrics={"event": "delete_source", "source_url": source_url},
    )
