"""Physical-plan inspection helpers — the engine's plan-quality contract.

Imported by the plan-shape tests (tests/test_embedding_lsh_ivf.py,
test_pipeline_curate.py, test_pipeline_ops.py, test_plan_audit.py,
test_plans_sources_streaming.py, test_queries_scale.py,
test_queries_search.py and test_seen_state.py) to assert, from the
formatted explain output, that the plans Catalyst produces are the plans
the 100 TB design needs: filters pushed into the parquet scan, scans
column-pruned, small sides broadcast, whole-stage codegen covering the
relational spine.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame

__all__ = ["formatted_plan", "pushed_filters", "read_schema_columns", "has_broadcast_join", "codegen_stage_count"]


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters: [...] line(s) of the scan nodes."""
    return "\n".join(
        ln.strip() for ln in formatted_plan(df).splitlines() if "PushedFilters" in ln
    )


def read_schema_columns(df: DataFrame) -> list[str]:
    """Union of column names in all scan ReadSchema entries."""
    cols: list[str] = []
    for ln in formatted_plan(df).splitlines():
        ln = ln.strip()
        if ln.startswith("ReadSchema"):
            inner = ln.split("struct<", 1)[-1].rstrip(">")
            cols.extend(part.split(":", 1)[0] for part in inner.split(",") if ":" in part)
    return cols


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def codegen_stage_count(df: DataFrame) -> int:
    """Distinct whole-stage-codegen ids in the formatted plan (AQE plans
    may show none before execution)."""
    ids = set()
    for ln in formatted_plan(df).splitlines():
        if "codegen id :" in ln:
            ids.add(ln.rsplit("codegen id :", 1)[-1].strip(" ]"))
    return len(ids)
