"""Resume suite: kill after batch k, restart, final state byte-equal to
an uninterrupted run (reference: history-file checkpoint + INSERT IGNORE,
``exec/BaseExecutor.java:326-331``; here: offsets inside the snapshot)."""

import os

import pandas.testing as pdt

from polardbx_tools_spark.changelog.generator import ChangelogSpec, generate_changelog
from polardbx_tools_spark.lake.table import LakeTable
from polardbx_tools_spark.pipeline import CdcPipeline

from tests.oracle import normalize

PAYLOAD = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
SPEC = ChangelogSpec(n_events=1500, n_convs=80, seed=11)


def final_state(spark, path, cl, stop_after=None, batch_lsns=300):
    pipe = CdcPipeline(spark, path, bucket_count=8)
    pipe.run(cl, batch_lsns=batch_lsns, stop_after_batches=stop_after, with_tool=True)
    return pipe


def test_kill_and_restart_equals_uninterrupted(spark, tmp_path):
    cl = generate_changelog(spark, SPEC)

    # uninterrupted reference run
    p_ref = str(tmp_path / "ref")
    ref = final_state(spark, p_ref, cl)
    want = normalize(ref.read_transcripts().toPandas(), PAYLOAD)

    # killed after 2 of 5 batches, then restarted from checkpointed offsets
    p_res = str(tmp_path / "resumed")
    final_state(spark, p_res, cl, stop_after=2)
    mid_offsets = LakeTable(p_res).offsets()
    assert mid_offsets, "offsets must be committed mid-run"
    pipe2 = CdcPipeline(spark, p_res, bucket_count=8)
    res2 = pipe2.run(cl, batch_lsns=300, with_tool=True)
    assert res2.batches >= 3
    got = normalize(pipe2.read_transcripts().toPandas(), PAYLOAD)
    pdt.assert_frame_equal(got, want, check_dtype=False)


def test_crash_between_staging_and_commit_is_invisible(spark, tmp_path, monkeypatch):
    """Simulate a crash after data files are staged but before the
    snapshot pointer flips: the table must still read as the old version
    and a restart must converge to the uninterrupted state."""
    cl = generate_changelog(spark, SPEC)
    p_ref = str(tmp_path / "ref")
    want = normalize(
        final_state(spark, p_ref, cl).read_transcripts().toPandas(), PAYLOAD
    )

    p_crash = str(tmp_path / "crash")
    pipe = CdcPipeline(spark, p_crash, bucket_count=8)
    pipe.run(cl, batch_lsns=300, stop_after_batches=2, with_tool=True)
    v_before = pipe.table.current_version()

    # crash injection: commit raises after staging has happened
    real_commit = LakeTable.commit

    def exploding_commit(self, *a, **k):
        raise RuntimeError("simulated crash before pointer flip")

    monkeypatch.setattr(LakeTable, "commit", exploding_commit)
    try:
        pipe.run(cl, batch_lsns=300, with_tool=True)
        raise AssertionError("expected simulated crash")
    except RuntimeError:
        pass
    monkeypatch.setattr(LakeTable, "commit", real_commit)

    # staged orphan files exist but the snapshot is unchanged (staging
    # dirs carry a unique suffix so racing writers can never collide)
    import glob as _glob

    assert pipe.table.current_version() == v_before
    staged = _glob.glob(
        os.path.join(p_crash, "data", f"v{v_before + 1:08d}-*")
    )
    assert staged, "orphan staging dir should exist"

    pipe3 = CdcPipeline(spark, p_crash, bucket_count=8)
    pipe3.run(cl, batch_lsns=300, with_tool=True)
    got = normalize(pipe3.read_transcripts().toPandas(), PAYLOAD)
    pdt.assert_frame_equal(got, want, check_dtype=False)


def test_time_travel_versions_monotone(spark, tmp_path):
    cl = generate_changelog(spark, SPEC)
    p = str(tmp_path / "tt")
    pipe = final_state(spark, p, cl)
    versions = pipe.table.snapshots()
    assert versions == sorted(versions)
    # earlier snapshot has fewer-or-equal rows applied and fewer offsets
    early = pipe.table.snapshot(versions[1])
    late = pipe.table.snapshot(versions[-1])
    assert sum(map(int, early.offsets.values())) <= sum(map(int, late.offsets.values()))


def test_split_run_starts_at_changelog_first_window(spark, tmp_path):
    """A run over the post-evolution half of a split changelog starts its
    window cursor at the window holding that half's first event, not at
    the resume floor below it: the window between the floor and the
    split is fully consumed already, and replaying it would be an empty
    apply (an empty stats query for nothing). State still equals each
    half applied as one batch."""
    from polardbx_tools_spark.changelog.generator import split_for_evolution

    cl = generate_changelog(spark, SPEC)
    pre, post = split_for_evolution(cl, 750)
    ref = CdcPipeline(spark, str(tmp_path / "ref"), bucket_count=8)
    ref.ensure_table()
    ref.apply_batch(pre, 0)
    ref.apply_batch(post, 1)
    want = normalize(ref.read_transcripts().toPandas(), PAYLOAD)
    pipe = CdcPipeline(spark, str(tmp_path / "split"), bucket_count=8)
    pipe.run(pre, batch_lsns=375)
    # the resume floor alone would restart at window [375, 750)
    assert min(pipe.table.offsets().values()) + 1 < 750
    applied: list[int] = []
    real = pipe.apply_batch

    def spy(batch, batch_id, **kw):
        applied.append(batch_id)
        return real(batch, batch_id, **kw)

    pipe.apply_batch = spy
    res = pipe.run(post, batch_lsns=375, with_tool=True)
    assert applied == [2, 3]
    assert all(s.batch_events for s in res.stats)
    got = normalize(pipe.read_transcripts().toPandas(), PAYLOAD)
    pdt.assert_frame_equal(got, want, check_dtype=False)
