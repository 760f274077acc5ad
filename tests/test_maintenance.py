"""Maintenance suite: compaction preserves state, expiry bounds time
travel, vacuum reclaims orphans without touching live data."""

import glob
import os

import pandas.testing as pdt

from polardbx_tools_spark.changelog.generator import ChangelogSpec, generate_changelog
from polardbx_tools_spark.lake.maintenance import compact, expire_snapshots, vacuum
from polardbx_tools_spark.pipeline import CdcPipeline

from tests.oracle import normalize

PAYLOAD = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def loaded_pipe(spark, path):
    cl = generate_changelog(spark, ChangelogSpec(n_events=1500, n_convs=80, seed=55))
    pipe = CdcPipeline(spark, path, bucket_count=8)
    pipe.run(cl, batch_lsns=300, with_tool=True)
    return pipe


def test_compact_preserves_state_and_shrinks_files(spark, tmp_table_path):
    pipe = loaded_pipe(spark, tmp_table_path)
    before = normalize(pipe.read_transcripts().toPandas(), PAYLOAD)
    n_files_before = len(pipe.table.snapshot().all_files())

    res = compact(spark, pipe.table, target_file_rows=10_000)
    after = normalize(pipe.read_transcripts().toPandas(), PAYLOAD)
    pdt.assert_frame_equal(before, after, check_dtype=False)
    # at toy scale files are already near-minimal; compaction must never grow
    assert res["files_after"] <= n_files_before
    assert len(pipe.table.snapshot().all_files()) == res["files_after"]


def test_compact_drop_tombstones(spark, tmp_table_path):
    pipe = loaded_pipe(spark, tmp_table_path)
    live_before = pipe.read_transcripts().count()
    raw_before = pipe.table.read(spark, include_deleted=True).count()
    assert raw_before > live_before  # D events left tombstones

    compact(spark, pipe.table, drop_tombstones=True)
    assert pipe.table.read(spark, include_deleted=True).count() == live_before
    assert pipe.read_transcripts().count() == live_before
    # offsets survive compaction (resume still safe)
    assert pipe.table.offsets()


def test_expire_and_vacuum(spark, tmp_table_path):
    pipe = loaded_pipe(spark, tmp_table_path)
    compact(spark, pipe.table)  # creates superseded versions
    all_parquet_before = len(
        glob.glob(os.path.join(tmp_table_path, "data", "**", "*.parquet"),
                  recursive=True)
    )

    expired = expire_snapshots(pipe.table, keep_last=2)
    assert expired and len(pipe.table.snapshots()) == 2

    # default grace window protects freshly-staged files (all files here
    # are seconds old, so nothing may be reclaimed yet)
    assert vacuum(pipe.table) == []

    removed = vacuum(pipe.table, grace_seconds=0)
    assert removed, "expired versions' files must be reclaimed"
    live = set(pipe.table.snapshot().all_files())
    remaining = {
        os.path.relpath(p, tmp_table_path)
        for p in glob.glob(
            os.path.join(tmp_table_path, "data", "**", "*.parquet"), recursive=True
        )
    }
    for v in pipe.table.snapshots():
        live.update(pipe.table.snapshot(v).all_files())
    assert remaining == live
    assert len(remaining) < all_parquet_before
    # table still reads fine after vacuum
    assert pipe.read_transcripts().count() > 0


def test_vacuum_grace_protects_young_staging_dirs(spark, tmp_table_path):
    """A concurrent merge creates its staging dir moments before any
    part file lands; vacuum's grace window must protect that EMPTY young
    directory (an age-blind rmtree would fail the in-flight writer), and
    data_root itself is never removed even when empty."""
    import time

    pipe = loaded_pipe(spark, tmp_table_path)
    staging = os.path.join(tmp_table_path, "data", "v99999999")
    os.makedirs(staging)
    vacuum(pipe.table)  # default grace: young empty dir survives
    assert os.path.isdir(staging)
    old = time.time() - 3600
    os.utime(staging, (old, old))
    vacuum(pipe.table, grace_seconds=600)  # now older than the window
    assert not os.path.exists(staging)
    data_root = os.path.join(tmp_table_path, "data")
    assert os.path.isdir(data_root)


def test_compact_footer_sizing_keeps_file_layout(spark, tmp_table_path):
    """Compaction sizes its files-per-bucket from the parquet footers of
    the buckets' files (no count query) and reports ``rows`` from an
    Observation on the write. On a copy-on-write table the footer rows
    equal the merged row count, so a target small enough to force ≥2
    files per bucket yields exactly the layout the count-based sizing
    wrote: 754 rows / 8 buckets / 40 rows per file -> 3 salts per bucket,
    which land in 2-3 of the 8 shuffle partitions."""
    pipe = loaded_pipe(spark, tmp_table_path)
    before = normalize(pipe.read_transcripts().toPandas(), PAYLOAD)
    n_rows = pipe.table.read(spark, include_bookkeeping=True,
                             include_deleted=True).count()
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    # AQE would fold this toy shuffle into one task -> one file per bucket
    spark.conf.set(key, "false")
    try:
        res = compact(spark, pipe.table, target_file_rows=40)
    finally:
        spark.conf.set(key, prev)
    layout = {int(b): len(f) for b, f in pipe.table.snapshot().files.items()}
    assert layout == {0: 3, 1: 2, 2: 2, 3: 3, 4: 3, 5: 2, 6: 3, 7: 3}
    assert res["rows"] == n_rows == 754
    assert res["files_after"] == sum(layout.values())
    after = normalize(pipe.read_transcripts().toPandas(), PAYLOAD)
    pdt.assert_frame_equal(before, after, check_dtype=False)
