"""Planned run: ``CdcPipeline.run`` computes every window's batch facts in
one pass and each window's quarantine write overlaps its merge.

Pins that the planned loop is indistinguishable from windows that plan
themselves (per-window ``MergeStats``, state, offsets, quarantine), its
host-independent Spark job count, and the failure semantics of the
overlapped quarantine write.
"""

import dataclasses
import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from polardbx_tools_spark.changelog.generator import ChangelogSpec, generate_changelog
from polardbx_tools_spark.lake.table import LakeTable
from polardbx_tools_spark.pipeline import CdcPipeline


def _malformed_changelog(spark, n_events=600, seed=23):
    """Changelog with about 1 event in 37 malformed (bad op or NULL key);
    LSN and source partition stay valid, so every window quarantines
    some and they still advance offsets."""
    cl = generate_changelog(spark, ChangelogSpec(n_events=n_events, n_convs=40, seed=seed))
    lsn = F.col("source_lsn")
    bad = lsn % 37 == 5
    return cl.withColumn(
        "op", F.when(bad & (lsn % 2 == 0), F.lit("X")).otherwise(F.col("op"))
    ).withColumn(
        "conv_id",
        F.when(bad & (lsn % 2 == 1), F.lit(None).cast("string")).otherwise(F.col("conv_id")),
    )


def _recorded(pipe, self_planning):
    """Record every window's facts argument; with ``self_planning`` the
    window drops them, so apply_batch computes its own."""
    seen = []
    real = pipe.apply_batch

    def apply(batch, batch_id, facts=None, **kw):
        seen.append(facts)
        return real(batch, batch_id, facts=None if self_planning else facts, **kw)

    pipe.apply_batch = apply
    return seen


def _fields(stats):
    return [{k: v for k, v in dataclasses.asdict(s).items() if k != "wall_ms"} for s in stats]


def _errors_rows(spark, pipe):
    return spark.read.parquet(os.path.join(pipe.table.path, "_errors")).count()


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_planned_run_equals_self_planning_windows(spark, tmp_path, mode):
    """A run killed after two 150-LSN windows restarts with 200-LSN
    windows, so its first window resumes mid-window (the run-start
    offsets filter drops [200, 300) and keeps [300, 400)), then replays
    the changelog once more (``circle=2``). The planned run and the same
    run whose windows compute their own facts must agree on every
    window's stats (all fields but ``wall_ms``), the final state, the
    offsets and the quarantine."""
    cl = _malformed_changelog(spark)
    out = {}
    for name, self_planning in (("planned", False), ("self", True)):
        pipe = CdcPipeline(spark, str(tmp_path / name), bucket_count=4,
                           max_errors=1000, merge_mode=mode)
        seen = _recorded(pipe, self_planning)
        first = pipe.run(cl, batch_lsns=150, stop_after_batches=2, with_tool=True)
        second = pipe.run(cl, batch_lsns=200, with_tool=True, circle=2)
        assert all(f is not None for f in seen), "run must hand every window its facts"
        out[name] = {
            "batches": (first.batches, second.batches),
            "stats": _fields(first.stats + second.stats),
            "state": sorted(tuple(r) for r in pipe.read_transcripts().collect()),
            "offsets": pipe.table.offsets(),
            "errors": _errors_rows(spark, pipe),
            "quarantined": first.events_quarantined + second.events_quarantined,
        }
    planned, ref = out["planned"], out["self"]
    assert planned["batches"] == (2, 2 + 3)
    # the resumed window really is partial: its events exclude [200, 300)
    assert 0 < planned["stats"][2]["batch_events"] < planned["stats"][-2]["batch_events"]
    assert planned["stats"] == ref["stats"]
    assert planned["state"] == ref["state"]
    assert planned["offsets"] == ref["offsets"]
    assert planned["errors"] == ref["errors"] == planned["quarantined"] > 0


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_planned_run_job_count_pinned(spark, tmp_path, mode):
    """Host-independent cost pin for a 3-window run with malformed rows
    in every window: 2 jobs for the run's LSN bounds, 2 for the one
    facts pass, then per window the merge's 2 jobs plus the overlapped
    quarantine write's 1 (a per-window stats pass would add 2 per
    window: 17 in all). The jobs are counted by job group, which reaches
    the quarantine thread only if it inherits the caller's local
    properties, so this also pins that inheritance."""
    cl = _malformed_changelog(spark)
    pipe = CdcPipeline(spark, str(tmp_path / "t"), bucket_count=4,
                       max_errors=1000, merge_mode=mode)
    pipe.ensure_table(with_tool=True)
    sc = spark.sparkContext
    group = f"planned-run-job-count-{mode}"
    sc.setJobGroup(group, "pinned job count")
    try:
        res = pipe.run(cl, batch_lsns=200, with_tool=True)
    finally:
        sc.setJobGroup("", "")
    assert res.batches == 3
    assert all(s.invalid_events for s in res.stats)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2 + 2 + 3 * (2 + 1)


def test_quarantine_thread_joined_when_merge_fails(spark, tmp_path, monkeypatch):
    """A failed commit surfaces from apply_batch as itself, only after
    the concurrent quarantine write has finished, and leaves the offsets
    where they were; the window's malformed rows are already in
    ``_errors`` (a retry appends them again)."""
    cl = _malformed_changelog(spark)
    window = cl.filter(F.col("source_lsn") < 200)
    n_bad = window.filter(F.col("source_lsn") % 37 == 5).count()
    pipe = CdcPipeline(spark, str(tmp_path / "t"), bucket_count=4, max_errors=1000)
    pipe.ensure_table(with_tool=True)

    commit_failed, finished = threading.Event(), threading.Event()
    real_quarantine = CdcPipeline._quarantine

    def slow_quarantine(self, *a):
        # still writing when the commit fails
        commit_failed.wait(60)
        time.sleep(0.5)
        real_quarantine(self, *a)
        finished.set()

    def failing_commit(self, *a, **k):
        commit_failed.set()
        raise RuntimeError("simulated commit failure")

    monkeypatch.setattr(CdcPipeline, "_quarantine", slow_quarantine)
    monkeypatch.setattr(LakeTable, "commit", failing_commit)
    with pytest.raises(RuntimeError, match="simulated commit failure"):
        pipe.apply_batch(window, batch_id=0)
    assert finished.is_set(), "apply_batch returned before joining the quarantine thread"
    assert pipe.table.offsets() == {}
    assert _errors_rows(spark, pipe) == n_bad > 0


def test_quarantine_write_error_propagates(spark, tmp_path, monkeypatch):
    """A failing quarantine write fails the batch even though its merge
    succeeded, and a merge failure wins over it when both fail."""
    cl = _malformed_changelog(spark)
    window = cl.filter(F.col("source_lsn") < 200)

    def failing_quarantine(self, *a):
        raise OSError("simulated quarantine write failure")

    monkeypatch.setattr(CdcPipeline, "_quarantine", failing_quarantine)
    pipe = CdcPipeline(spark, str(tmp_path / "t"), bucket_count=4, max_errors=1000)
    pipe.ensure_table(with_tool=True)
    with pytest.raises(OSError, match="simulated quarantine write failure"):
        pipe.apply_batch(window, batch_id=0)

    def failing_commit(self, *a, **k):
        raise RuntimeError("simulated commit failure")

    monkeypatch.setattr(LakeTable, "commit", failing_commit)
    with pytest.raises(RuntimeError, match="simulated commit failure"):
        pipe.apply_batch(cl.filter(F.col("source_lsn") >= 200), batch_id=1)


@pytest.mark.parametrize("shift", [-350, (1 << 60) + 7], ids=["negative", "past_2_53"])
def test_plan_window_ids_are_integer_floor(spark, tmp_path, shift):
    """The plan keys each window by ``lsn // batch_lsns`` exactly as the
    loop does: floor division for negative LSNs, and no float rounding
    for LSNs past 2**53."""
    cl = generate_changelog(spark, ChangelogSpec(n_events=600, n_convs=40, seed=3))
    shifted = cl.withColumn("source_lsn", F.col("source_lsn") + F.lit(shift))
    pipe = CdcPipeline(spark, str(tmp_path / "t"), bucket_count=4)
    pipe.ensure_table(with_tool=True)
    lsns = [r[0] for r in shifted.select("source_lsn").collect()]
    lo, hi = min(lsns) // 200 * 200, max(lsns)
    plan = pipe._plan(shifted, lo, hi, 200, replay_pass=False)
    want: dict = {}
    for x in lsns:
        want[x // 200] = want.get(x // 200, 0) + 1
    assert {w: f.events for w, f in plan.items()} == want
