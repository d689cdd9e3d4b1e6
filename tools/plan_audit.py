"""Repo-wide physical-plan lint over every registered board query.

Round-3's review verified by hand that no query plans a CartesianProduct,
a row-at-a-time Python UDF (BatchEvalPython), or an unexpected
nested-loop join; this tool makes those claims EXECUTABLE so they can't
silently regress as the board grows. For each `__spark_entry__.queries()`
entry it captures the formatted physical plan and flags:

- ``CartesianProduct``            — never acceptable (all-pairs blowup)
- ``BatchEvalPython``             — row-at-a-time Python UDF in the plan
                                    (Arrow/pandas paths show ArrowEvalPython
                                    / FlatMapGroupsInPandas etc., which are
                                    fine and NOT flagged)
- ``BroadcastNestedLoopJoin``     — reported per query; legitimate ONLY for
                                    broadcast single-row scalar joins
                                    (argmax/query-vector/packed-centroid
                                    rows), so the audit records the count
                                    and the verdict below asserts the
                                    repo-wide set matches the documented
                                    allowlist
- global-sort ``Window``          — a Window whose partition spec is empty
                                    AND whose input is an
                                    Exchange SinglePartition of unbounded
                                    rows funnels the corpus through one
                                    task; queries that rank a bounded
                                    top-k slice (TakeOrderedAndProject
                                    upstream) are fine and detected as such

Writes BENCH/plan_audit.json: per-query flags plus a repo-wide summary.
Exit 1 if any hard rule (cartesian, row-at-a-time UDF) fires.

    python tools/plan_audit.py [sf_dir]    # default /root/testdata/sf0.01
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def audit_plan(plan: str) -> dict:
    flags: dict = {}
    if "CartesianProduct" in plan:
        flags["cartesian_product"] = True
    if "BatchEvalPython" in plan:
        flags["row_at_a_time_python_udf"] = True
    n_bnlj = plan.count("BroadcastNestedLoopJoin")
    if n_bnlj:
        flags["broadcast_nested_loop_joins"] = n_bnlj
    # global Window directly over a single-partition exchange with no
    # bounding TakeOrderedAndProject between them
    for m in re.finditer(r"Window", plan):
        seg = plan[m.start() : m.start() + 400]
        if "PartitionBy: []" in seg or re.search(r"Window \[[^\]]*\], \[\]", seg):
            before = plan[: m.start()]
            if (
                "TakeOrderedAndProject" not in before.split("Exchange")[-1]
                and "Exchange SinglePartition" in before
            ):
                flags.setdefault("global_windows", 0)
                flags["global_windows"] += 1
    return flags


# Plan nodes that say nothing about an entry's operator shape: data
# movement, the projections/filters/sorts nearly every plan carries, the
# cache wrappers and the AQE stage wrappers.
SHAPE_NEUTRAL = frozenset(
    {
        "Exchange",
        "BroadcastExchange",
        "ReusedExchange",
        "Project",
        "Filter",
        "Sort",
        "ColumnarToRow",
        "InMemoryRelation",
        "InMemoryTableScan",
        "AdaptiveSparkPlan",
        "ResultQueryStage",
        "ShuffleQueryStage",
        "BroadcastQueryStage",
        "TableCacheQueryStage",
        "AQEShuffleRead",
    }
)

# a node line of a formatted plan tree: "   :  +- * HashAggregate (12)",
# "+- BroadcastHashJoin LeftSemi BuildRight (7)", "Scan parquet  (1)"
_TREE_NODE = re.compile(r"^[\s:+\-*]*([A-Za-z][\w ]*?)\s*\(\d+\)")


def operator_set(plan: str) -> frozenset:
    """The physical operators in a formatted plan's trees (subquery and
    cached-relation trees included), each join tagged by its join type
    ("SortMergeJoin LeftAnti"), without the SHAPE_NEUTRAL nodes. An
    entry whose set is contained in another's runs no kind of operator
    the other does not."""
    ops = set()
    for line in plan.splitlines():
        m = _TREE_NODE.match(line)
        if not m:
            continue
        words = [w for w in m.group(1).split() if not w.startswith("Build")]
        if words[0] not in SHAPE_NEUTRAL:
            ops.add(" ".join(words))
    return frozenset(ops)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as entrymod
    from crawler_spark.plans.inspect import formatted_plan
    from crawler_spark.queries import release_query_barriers
    from crawler_spark.session import get_spark

    spark = get_spark("plan_audit", cores="8")
    report: dict = {}
    hard_failures: list[str] = []
    for name, fn in entrymod.queries().items():
        t0 = time.monotonic()
        try:
            plan = formatted_plan(fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001 — record, keep auditing
            report[name] = {"error": str(e)[:200]}
            hard_failures.append(name)
            continue
        finally:
            release_query_barriers()
        flags = audit_plan(plan)
        report[name] = flags
        if flags.get("cartesian_product") or flags.get("row_at_a_time_python_udf"):
            hard_failures.append(name)
        print(
            f"{'FLAG' if flags else 'ok  '} {name}: "
            f"{flags if flags else ''} ({time.monotonic()-t0:.1f}s)"
        )
    spark.stop()

    summary = {
        "date": time.strftime("%Y-%m-%d"),
        "sf_dir": sf_dir,
        "n_queries": len(report),
        "cartesian_product": sorted(
            k for k, v in report.items() if v.get("cartesian_product")
        ),
        "row_at_a_time_python_udf": sorted(
            k for k, v in report.items() if v.get("row_at_a_time_python_udf")
        ),
        "bnlj_queries": {
            k: v["broadcast_nested_loop_joins"]
            for k, v in sorted(report.items())
            if v.get("broadcast_nested_loop_joins")
        },
        "global_windows": sorted(
            k for k, v in report.items() if v.get("global_windows")
        ),
        "errors": sorted(k for k, v in report.items() if "error" in v),
    }
    out = {"summary": summary, "queries": report}
    path = os.path.join(REPO, "BENCH", "plan_audit.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(summary, indent=1))
    print(f"wrote {path}")
    return 1 if hard_failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
