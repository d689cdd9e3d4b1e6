"""Model-based check of SeenState against a Python ``set``.

A Hypothesis state machine drives a tiny store (2 filter partitions, 4
url_seen buckets, a filter sized for a few hundred keys) through commits,
redeliveries, deletes, compactions, expiries, reopens and crashes inside
the store commit of a ``commit_batch`` or a ``delete_urls``. A crash must
raise and leave HEAD, the staging area and the model as they were. After
every step the store must agree with the model: ``seen()`` is the model
set, ``anti_join`` drops exactly the model's URLs, the cuckoo prefilter
gives no false negative for a live URL, and the logical cursor is the
last committed batch id. Every run starts through both triggers of
``commit_batch``'s one rebuild path: a first batch that overflows the
fresh filter's kick walk, then one that finds the rebuilt filter loaded
past ``rebuild_fill``; then through one crash inside each call. The run
is derandomized, so every tier-1 run replays the same steps.

Tier-1 runs 3 examples of 5 steps. A longer profile runs off tier-1:

    pytest tests/test_seen_state_model.py --hypothesis-profile=seen-state-long

(registered in ``tests/conftest.py``; it sets examples and steps, and
this test keeps the rest of its settings).
"""

import os
import tempfile

import pytest
from hypothesis import HealthCheck, Phase, settings
from hypothesis import strategies as hs
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    invariant,
    rule,
    run_state_machine_as_test,
)
from pyspark.sql import functions as F

from crawler_spark.operators.cuckoo import cuckoo_prefilter
from crawler_spark.operators.seen_state import SeenState, SeenStateMismatch

N_PARTS, BUCKETS = 2, 4
UNIVERSE = 4_000
# range starts on a coarse grid, so commits and deletes overlap often
STARTS = hs.integers(0, 15).map(lambda k: k * 250)
# a fresh filter has 2 x 1024 slots; rebuild_fill is not part of the layout
LAYOUT = dict(
    n_parts=N_PARTS, bucketed_parts=BUCKETS, expected_keys=500, write_tasks=2, rebuild_fill=0.25
)


def _url(i: int) -> str:
    return f"https://s{i % 7}.example.org/p/{i}"


class SeenStateMachine(RuleBasedStateMachine):
    spark = None  # the session and a scratch directory, set by the test
    base = None

    def __init__(self):
        super().__init__()
        self.root = tempfile.mkdtemp(dir=self.base)
        self.st = SeenState(self.spark, self.root, **LAYOUT)
        self.model: set[str] = set()
        self.touched: set[str] = set()
        self.batches: list[list[str]] = []  # logical id i+1 -> its urls

    def _df(self, urls):
        return self.spark.createDataFrame([(u,) for u in urls], "url string")

    # -- rules -----------------------------------------------------------------

    @initialize(lo=STARTS.filter(lambda lo: lo <= UNIVERSE - 2_400), lo2=STARTS)
    def first_commits(self, lo, lo2):
        # ~1200 keys per partition cannot fit 1024 slots: the kick walk fails
        assert self._commit(lo, 2_400).get("rebuilt")
        # the rebuilt filter holds them at load ~0.29, past rebuild_fill
        assert self._commit(lo2, 40).get("rebuilt")
        # a run of a few steps may never draw the crash rule: take it once
        # per call here, so every run covers both
        self.crash_inside_commit("commit_batch", lo2)
        self.crash_inside_commit("delete_urls", lo)

    @rule(lo=STARTS, size=hs.sampled_from([40, 400, 1_200]))
    def commit(self, lo, size):
        self._commit(lo, size)

    def _commit(self, lo, size):
        # a scheduler commits only what it found not seen
        urls = [_url(i) for i in range(lo, min(lo + size, UNIVERSE))]
        new = [u for u in urls if u not in self.model]
        _, info = self.st.commit_batch(self._df(new), batch_id=len(self.batches) + 1)
        assert not info.get("redelivered")
        self.batches.append(new)
        self.model.update(new)
        self.touched.update(new)
        return info

    @rule(data=hs.data())
    def redeliver(self, data):
        i = data.draw(hs.integers(0, len(self.batches) - 1))
        snap = self.st.store.head().snapshot_id
        _, info = self.st.commit_batch(self._df(self.batches[i]), batch_id=i + 1)
        assert info.get("redelivered") is True
        assert self.st.store.head().snapshot_id == snap

    @rule(lo=STARTS, size=hs.sampled_from([10, 150, 600]))
    def delete(self, lo, size):
        # seen and never-seen urls alike; only the seen ones are evicted
        urls = [_url(i) for i in range(lo, min(lo + size, UNIVERSE))]
        self.st.delete_urls(self._df(urls))
        self.model.difference_update(urls)
        self.touched.update(urls)

    @rule(call=hs.sampled_from(["commit_batch", "delete_urls"]), lo=STARTS)
    def crash_inside_commit(self, call, lo):
        # every row of the input fails when a write evaluates it, so the
        # call gets as far as store.commit and fails there, as a write
        # whose executor died does
        boom = F.expr("CAST(assert_true(url IS NULL, 'injected crash') AS STRING)")
        urls = self._df([_url(i) for i in range(lo, lo + 40)]).select(
            F.coalesce(boom, F.col("url")).alias("url")
        )
        snap = self.st.store.head().snapshot_id
        with pytest.raises(Exception) as err:
            if call == "commit_batch":
                self.st.commit_batch(urls, batch_id=len(self.batches) + 1)
            else:
                self.st.delete_urls(urls)
        assert "injected crash" in str(err.value)
        assert self.st.store.head().snapshot_id == snap
        snaps = os.listdir(os.path.join(self.root, "snapshots"))
        assert not [d for d in snaps if d.startswith("_tmp_")]
        # the model is left as it was: the invariant checks the store is too

    @rule()
    def compact(self):
        self.st.compact(n_files=2)

    @rule()
    def expire(self):
        self.st.expire(keep_last=2)

    @rule()
    def reopen(self):
        self.st = SeenState(self.spark, self.root, **LAYOUT)

    @rule()
    def reopen_with_other_n_parts(self):
        snap = self.st.store.head().snapshot_id
        with pytest.raises(SeenStateMismatch):
            SeenState(self.spark, self.root, **{**LAYOUT, "n_parts": 4})
        assert self.st.store.head().snapshot_id == snap

    # -- the model check, after every step ----------------------------------------

    @invariant()
    def agrees_with_the_model(self):
        assert self.st.last_logical() == len(self.batches)
        assert {r.url for r in self.st.seen().select("url").collect()} == self.model
        probe = sorted(self.touched | {_url(UNIVERSE + i) for i in range(20)})
        kept = {r.url for r in self.st.anti_join(self._df(probe)).collect()}
        assert kept == set(probe) - self.model
        if self.model:
            tagged = cuckoo_prefilter(self._df(sorted(self.model)), self.st.blobs(), N_PARTS)
            missed = [r.url for r in tagged.collect() if not r.maybe_seen]
            assert not missed, f"prefilter false negatives: {missed[:5]}"


def test_seen_state_agrees_with_a_set_model(spark, tmp_path, request):
    SeenStateMachine.spark = spark
    SeenStateMachine.base = tmp_path
    if request.config.getoption("hypothesis_profile"):
        size = settings.default  # the loaded profile's examples and steps
    else:
        size = settings(max_examples=3, stateful_step_count=5)
    run_state_machine_as_test(
        SeenStateMachine,
        settings=settings(
            size,
            derandomize=True,
            database=None,
            deadline=None,
            suppress_health_check=list(HealthCheck),
            # no shrinking: each replay costs Spark jobs, so a failure is
            # reported as generated, with its full step list
            phases=(Phase.explicit, Phase.reuse, Phase.generate),
        ),
    )
