"""Circle (loop) replay and the per-batch wall timeout.

Reference: frodo ``--circle`` replays the workload repeatedly at max
pressure (``frodo/README.md:144-145``); ``--sql-timeout`` bounds each
statement (``MysqlWrapper.java:53-126``) — here the unit of work is the
microbatch, so the guard cancels the batch's Spark job group.
"""

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from polardbx_tools_spark.changelog.generator import ChangelogSpec, generate_changelog
from polardbx_tools_spark.pipeline import CdcPipeline


def _final_state(pipe):
    return sorted(
        tuple(r) for r in pipe.read_transcripts().collect()
    )


def test_circle_replay_converges_to_identical_state(spark, tmp_path):
    cl = generate_changelog(
        spark, ChangelogSpec(n_events=600, n_convs=40, seed=91)
    )
    once = CdcPipeline(spark, str(tmp_path / "once"), bucket_count=4)
    r1 = once.run(cl, batch_lsns=200, with_tool=True)

    looped = CdcPipeline(spark, str(tmp_path / "loop"), bucket_count=4)
    r3 = looped.run(cl, batch_lsns=200, with_tool=True, circle=3)

    assert r1.circles == 1 and r3.circles == 3
    # every pass re-drives the same window count at max pressure
    assert r3.batches == 3 * r1.batches
    # replayed events are exact-tie losers: applied but merged as no-ops,
    # so the final state is identical to the single pass
    assert _final_state(looped) == _final_state(once)
    # offsets did not move past the changelog head on replay passes
    assert looped.table.offsets() == once.table.offsets()


def test_circle_replay_passes_are_noops(spark, tmp_path):
    """On replay passes every source event must LOSE last-writer-wins
    (exact ties go to the target): conflicts == events, no upserts."""
    cl = generate_changelog(spark, ChangelogSpec(n_events=300, n_convs=20, seed=17))
    pipe = CdcPipeline(spark, str(tmp_path / "t"), bucket_count=4)
    res = pipe.run(cl, batch_lsns=300, with_tool=True, circle=2)
    first_pass, replay = res.stats[0], res.stats[-1]
    assert first_pass.upserts + first_pass.deletes > 0
    assert replay.batch_events == first_pass.batch_events
    assert replay.upserts == 0 and replay.deletes == 0
    assert replay.conflicts_resolved == replay.batch_events


def test_batch_timeout_fires_and_quarantines(spark, tmp_path):
    """An artificially slowed batch must be cancelled at the wall budget,
    recorded in _errors/timeout_batches.jsonl, and abort the run without
    advancing offsets."""
    cl = generate_changelog(spark, ChangelogSpec(n_events=200, n_convs=10, seed=5))

    @F.udf("int")
    def slow(x):
        time.sleep(1.0)
        return x

    crawling = cl.withColumn("source_partition", slow("source_partition"))
    path = str(tmp_path / "t")
    pipe = CdcPipeline(spark, path, bucket_count=4)
    t0 = time.time()
    with pytest.raises(RuntimeError, match="batch_timeout"):
        pipe.run(crawling, batch_lsns=200, max_lsn=200, with_tool=True,
                 batch_timeout=3.0)
    wall = time.time() - t0
    assert wall < 60, f"watchdog did not cancel promptly ({wall:.0f}s)"
    qfile = os.path.join(path, "_errors", "timeout_batches.jsonl")
    assert os.path.exists(qfile)
    rec = json.loads(open(qfile).readline())
    assert rec["batch_id"] == 0 and rec["timeout_sec"] == 3.0
    # offsets never advanced: the aborted window replays cleanly
    assert pipe.table.offsets() == {}
    res = pipe.run(cl, batch_lsns=200, max_lsn=200, with_tool=True,
                   batch_timeout=120.0)
    assert res.events_applied == 200


def test_plan_pass_is_under_batch_timeout(spark, tmp_path):
    """The run's one facts pass, which plans every window before the
    first merge, runs under the same watchdog, attributed to the first
    window: at 2 s per row the crawling changelog would keep an
    unguarded pass busy for about 100 s on 4 cores."""
    cl = generate_changelog(spark, ChangelogSpec(n_events=200, n_convs=10, seed=5))

    @F.udf("int")
    def slower(x):
        time.sleep(2.0)
        return x

    crawling = cl.withColumn("source_partition", slower("source_partition"))
    path = str(tmp_path / "t")
    pipe = CdcPipeline(spark, path, bucket_count=4)
    t0 = time.time()
    with pytest.raises(RuntimeError, match="batch_timeout"):
        pipe.run(crawling, batch_lsns=200, max_lsn=200, with_tool=True,
                 batch_timeout=3.0)
    wall = time.time() - t0
    assert wall < 60, f"watchdog did not cancel the plan pass promptly ({wall:.0f}s)"
    qfile = os.path.join(path, "_errors", "timeout_batches.jsonl")
    rec = json.loads(open(qfile).readline())
    assert rec["batch_id"] == 0 and "committed" not in rec
    assert pipe.table.offsets() == {}
