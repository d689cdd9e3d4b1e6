"""Repo-wide plan-lint invariants (tools/plan_audit.py made a test).

Round-3's review hand-verified that no board query plans a
CartesianProduct or a row-at-a-time Python UDF and that every
BroadcastNestedLoopJoin is a broadcast single-row scalar join
(argmax / query-vector / packed-centroid / total rows). This test runs
the same audit over EVERY queries() entry at sf0.001 so those claims
cannot silently regress as the board grows: a new query that plans a
cartesian, a BatchEvalPython, or an unlisted nested-loop join fails
here by name.

The same plan pass guards the catalogue against regrowth: an entry past
the driver's 50-entry cap whose operator set (tools/plan_audit.py
operator_set) is contained in a driver-checked entry's set adds no plan
shape the driver does not already check, so it fails here unless
PINNED_ON_PURPOSE names why it stays.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

# Queries whose plans legitimately contain BroadcastNestedLoopJoin: every
# one is a broadcast join against a SINGLE-ROW (or single-value) frame —
# a scalar argmax/total/query-vector/packed-centroid-array — never a
# data-sized side. Adding a query to this set requires checking that its
# BNLJ is of the same single-row kind.
BNLJ_ALLOWED = {
    "ann_ivfpq_search",
    "cosine_topk",
    "dsir_weights",
    "hits_scores",
    "semdedup",
}

# Past-cap entries whose operator set a driver-checked entry contains,
# kept because the set is not all they check.
PINNED_ON_PURPOSE = {
    "recent_topn": "only check of SURVEY §2 row O4 (recent-jobs listing)",
    "url_strip_fragment": "only check of SURVEY §2 row P3; kernel is functions.udfs.strip_fragment_udf",
    "trap_detect": "kernel is functions.traps.trap_reason, the scheduler's refuse_traps filter",
    "robots_sitemaps": "kernel is operators.politeness.robots_sitemaps_from_bodies",
    "wet_export": "kernel is the sources.warc WET writer and reader",
    "sitemap_roundtrip": "kernel is the sources.sitemap writer and reader",
    "video_frames": "kernel is operators.multimodal.video_frame_sample",
    "audio_stats": "kernel is operators.multimodal.audio_feature_stats",
}


def test_every_board_query_plan_is_lint_clean(spark):
    import __spark_entry__ as entrymod
    from crawler_spark.plans.inspect import formatted_plan
    from crawler_spark.queries import release_query_barriers
    from tools.plan_audit import audit_plan, operator_set

    offenders = {}
    bnlj = set()
    ops = {}
    for name, fn in entrymod.queries().items():
        try:
            plan = formatted_plan(fn(spark, SF))
        finally:
            release_query_barriers()
        ops[name] = operator_set(plan)
        flags = audit_plan(plan)
        if flags.get("cartesian_product") or flags.get("row_at_a_time_python_udf") or flags.get("global_windows"):
            offenders[name] = flags
        if flags.get("broadcast_nested_loop_joins"):
            bnlj.add(name)
    assert not offenders, offenders

    checked = entrymod.DRIVER_CHECK_ORDER
    past_cap = [n for n in ops if n not in checked]
    assert set(PINNED_ON_PURPOSE) <= set(past_cap)
    pinned = {}
    for name in past_cap:
        if name in PINNED_ON_PURPOSE:
            continue
        pin = next((c for c in checked if ops[name] <= ops[c]), None)
        if pin is not None:
            pinned[name] = pin
    assert not pinned, (
        "past-cap entries whose operator set a driver-checked entry already "
        f"contains (entry: checked entry): {pinned}"
    )

    unexpected = bnlj - BNLJ_ALLOWED
    assert not unexpected, (
        f"queries planning an unreviewed BroadcastNestedLoopJoin: {sorted(unexpected)} "
        "— verify the joined side is a single scalar row, then extend BNLJ_ALLOWED"
    )
