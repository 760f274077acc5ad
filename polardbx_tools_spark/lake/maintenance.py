"""Lake table maintenance: compaction, snapshot expiry, orphan vacuum.

Copy-on-write merges accumulate files (one set per touched bucket per
microbatch) and superseded versions keep their data dirs on disk. These
are the standard lake-housekeeping ops (Iceberg: rewrite_data_files /
expire_snapshots / remove_orphan_files) rebuilt for :class:`LakeTable`.

Reference analog: the reference rotates/limits export files
(``worker/export/DirectExportWorker.java:250-332``) and its ring-buffer
sizing bounds in-flight state; a lake loader's equivalent steady-state
concern is file-count growth, handled here.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from polardbx_tools_spark.lake.table import BOOKKEEPING_COLS, DELETED, LakeTable


def compact(
    spark: SparkSession,
    table: LakeTable,
    target_file_rows: int = 1_000_000,
    buckets: list[int] | None = None,
    drop_tombstones: bool = False,
) -> dict:
    """Rewrite each (selected) bucket's files into few key-sorted files.

    Merge-on-read DELTA files fold into the new base here: the read
    below applies the key-level merge, and committing the rewrite as
    ``replaced_buckets`` clears the bucket's delta list — this is the
    MOR counterpart of Iceberg's rewrite_data_files compacting delete
    files away.

    ``drop_tombstones=True`` physically removes delete markers — only
    safe once no source can still deliver events older than the
    tombstones (the reference's analog: a finished replay). Committed as
    a normal atomic snapshot; readers never see a half-compacted table.
    """
    snap = table.snapshot()
    if buckets is None:
        todo = sorted({int(b) for b in snap.files} | {int(b) for b in snap.deltas})
    else:
        todo = sorted(buckets)
    # a bucket with ONLY merge-on-read deltas still needs compaction —
    # folding them into a base file is exactly this op's job
    todo = [b for b in todo
            if snap.files.get(str(b)) or snap.deltas.get(str(b))]
    if not todo:
        return {"buckets": 0, "files_before": 0, "files_after": 0}

    files_before = sum(
        len(snap.files.get(str(b), [])) + len(snap.deltas.get(str(b), []))
        for b in todo
    )
    df = table.read(
        spark, buckets=todo, include_bookkeeping=True, include_deleted=True
    )
    if drop_tombstones:
        df = df.filter(~F.coalesce(F.col(DELETED), F.lit(False)))

    bucket = table.bucket_expr(snapshot=snap)
    next_version = snap.version + 1
    staging = table.staging_dir(next_version)
    # size from the parquet footers of the buckets' base + delta files —
    # an upper bound taken before the read-side dedup, at no Spark job
    # (an exact count would run the whole MOR merge a second time)
    footer_rows = sum(
        pq.ParquetFile(os.path.join(table.path, f)).metadata.num_rows
        for f in snap.base_files(todo) + snap.delta_files(todo)
    )
    per_bucket_files = max(1, (footer_rows // len(todo)) // target_file_rows + 1)
    salt = F.pmod(F.xxhash64(F.col(snap.bucket_key)), F.lit(per_bucket_files))
    out_cols = [f.name for f in snap.schema.fields] + list(BOOKKEEPING_COLS)
    obs = Observation()
    (
        df.withColumn("b", bucket)
        .repartition(F.col("b"), salt)
        .sortWithinPartitions(snap.bucket_key)
        .select(*out_cols, "b")
        .observe(obs, F.count(F.lit(1)).alias("rows"))
        .write.partitionBy("b")
        .mode("overwrite")
        .parquet(staging)
    )

    replaced: dict[int, list[str]] = {b: [] for b in todo}
    rel = os.path.relpath(staging, table.path)
    if os.path.isdir(staging):
        for d in os.listdir(staging):
            if d.startswith("b="):
                bb = int(d.split("=", 1)[1])
                replaced[bb] = sorted(
                    os.path.join(rel, d, fn)
                    for fn in os.listdir(os.path.join(staging, d))
                    if fn.endswith(".parquet")
                )
    # expected_version guards the MANIFEST against a merge committing
    # between compact's snapshot read and this commit (the compacted
    # file lists would silently revert the merge's buckets while its
    # offsets stayed advanced). The merge's DATA files are safe
    # regardless: staging dirs are unique per write attempt (see
    # LakeTable.staging_dir), so this overwrite can never touch another
    # writer's files. On conflict the caller just retries compaction.
    table.commit(replaced_buckets=replaced, offsets_updates={},
                 properties={"op": "compact"},
                 expected_version=snap.version)
    files_after = sum(len(v) for v in replaced.values())
    return {"buckets": len(todo), "files_before": files_before,
            "files_after": files_after, "rows": int(obs.get["rows"])}


def compact_if_needed(
    spark: SparkSession,
    table: LakeTable,
    max_delta_files: int = 8,
    max_delta_bytes: int | None = None,
    target_file_rows: int = 1_000_000,
) -> dict | None:
    """DELTA-PRESSURE compaction: fold merge-on-read deltas back into
    the base for exactly the buckets whose delta backlog crossed a
    threshold — ``max_delta_files`` delta files and/or
    ``max_delta_bytes`` total delta bytes per bucket.

    This bounds MOR read amplification on a long tail: ``merge_into(
    mode="mor")`` appends ~batch-sized deltas forever, and every read of
    a delta-carrying bucket pays a union + key-window over ALL its
    deltas (round-3 finding: read cost grows without bound between
    manual compactions; the reference's point-write DB does this
    housekeeping itself). With a file-count trigger of K, a reader
    merges at most K deltas per bucket and each delta row is rewritten
    O(1) amortized times per K batches — compaction work stays ∝ the
    hot buckets' data, not the table (cold buckets are never touched).

    Sizes come from the filesystem metadata of the manifest's delta
    paths (a listing, no data read). Returns :func:`compact`'s stats
    for the compacted buckets, or ``None`` when no bucket is over
    threshold. Safe to call after every microbatch; concurrent-commit
    conflicts surface as ``compact``'s expected_version error."""
    snap = table.snapshot()
    over: list[int] = []
    for b, files in snap.deltas.items():
        if len(files) > max_delta_files:
            over.append(int(b))
            continue
        if max_delta_bytes is not None:
            total = 0
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(table.path, f))
                except OSError:
                    pass
            if total > max_delta_bytes:
                over.append(int(b))
    if not over:
        return None
    return compact(
        spark, table, target_file_rows=target_file_rows, buckets=sorted(over)
    )


def expire_snapshots(table: LakeTable, keep_last: int = 2) -> list[int]:
    """Drop old snapshot manifests (time travel horizon). Data files are
    NOT touched here — vacuum() reclaims unreferenced ones."""
    versions = table.snapshots()
    current = table.current_version()
    expire = [v for v in versions if v < current][:-max(0, keep_last - 1) or None]
    expire = [v for v in expire if v != current]
    for v in expire:
        os.remove(table._meta_path(f"v{v:08d}.json"))
    return expire


def vacuum(table: LakeTable, grace_seconds: float = 300.0) -> list[str]:
    """Delete data files referenced by NO remaining snapshot (orphans
    from crashed commits + files of expired versions).

    ``grace_seconds`` protects in-flight commits: files younger than the
    grace window are skipped even if unreferenced, because a concurrent
    merge stages its files under ``data/v<next>`` BEFORE the pointer flip
    (the same reason Iceberg's ``remove_orphan_files`` uses an age
    cutoff). Pass 0 only when no writer can be running."""
    import time as _time

    from polardbx_tools_spark.lake.table import DATA_DIR

    live: set[str] = set()
    for v in table.snapshots():
        live.update(table.snapshot(v).all_files())
    removed: list[str] = []
    cutoff = _time.time() - grace_seconds
    data_root = os.path.join(table.path, DATA_DIR)
    for dirpath, _dirnames, filenames in os.walk(data_root, topdown=False):
        for fn in filenames:
            full = os.path.join(dirpath, fn)
            rel = os.path.relpath(full, table.path)
            if rel not in live and fn.endswith(".parquet"):
                try:
                    if os.path.getmtime(full) > cutoff:
                        continue  # possibly staged by an in-flight commit
                except OSError:
                    continue
                os.remove(full)
                removed.append(rel)
        # the grace window must protect DIRECTORIES too: a concurrent
        # merge creates its staging dir moments before the part files
        # land, and an age-blind rmtree of the empty dir would fail that
        # writer; data_root itself is never removed
        if dirpath != data_root and not os.listdir(dirpath):
            try:
                if os.path.getmtime(dirpath) <= cutoff:
                    shutil.rmtree(dirpath, ignore_errors=True)
            except OSError:
                pass
    return removed
