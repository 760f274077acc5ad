"""The two CDC workloads: ``bulk_cow`` (a copy-on-write backfill through
``CdcPipeline.run``) and ``tail_mor_multi`` (a two-table merge-on-read
streaming tail through ``start_multi_table_cdc_stream``).

Each unit generates its changelog from the run's seed, applies it in a
closed loop (the next window or trigger starts when the previous one
ends), then reads the final state and checks it, outside the timed
region, against a DuckDB last-writer-wins oracle over the generated
parquet.
"""

from __future__ import annotations

import glob
import os
import time
from contextlib import nullcontext
from datetime import datetime

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench.common import Unit, Workload

KEYS = ["conv_id", "turn_idx"]
VALID = ("op IN ('I','U','D') AND conv_id IS NOT NULL AND turn_idx IS NOT NULL "
         "AND ts IS NOT NULL AND source_lsn IS NOT NULL AND source_partition IS NOT NULL")


# ------------------------------------------------------------------ inputs


def generate(spark, tracer, out: str, seed: int, n_events: int, n_convs: int,
             evolution_lsn: int | None = None, malformed_per_mille: int = 0,
             schema_routes: int = 0):
    """Write the changelog to ``out`` and return its DataFrame schema.

    ``malformed_per_mille`` events get an invalid op, a NULL key or a NULL
    ``ts`` (LSN and partition stay valid, so they must advance offsets
    and land in quarantine). ``schema_routes`` > 0 adds a ``schema``
    column routing one conversation in ``schema_routes`` to ``beta``, the
    rest to ``alpha``."""
    from pyspark.sql import functions as F

    from polardbx_tools_spark.changelog.generator import ChangelogSpec, generate_changelog

    with tracer.span("changelog.generate") if tracer else nullcontext():
        spec = ChangelogSpec(n_events=n_events, n_convs=n_convs, seed=seed,
                             evolution_lsn=evolution_lsn)
        cl = generate_changelog(spark, spec)
        if malformed_per_mille:
            h = F.pmod(F.xxhash64("source_lsn", F.lit(seed), F.lit(99)), F.lit(3000))
            bad = h < F.lit(3 * malformed_per_mille)
            cl = cl.select(
                F.when(bad & (h % 3 == 0), F.lit("X")).otherwise(F.col("op")).alias("op"),
                F.when(bad & (h % 3 == 1), F.lit(None).cast("string"))
                .otherwise(F.col("conv_id")).alias("conv_id"),
                "turn_idx", "role", "text", "tool",
                F.when(bad & (h % 3 == 2), F.lit(None).cast("timestamp"))
                .otherwise(F.col("ts")).alias("ts"),
                "source_lsn", "source_partition",
            )
        if schema_routes:
            cl = cl.drop("tool").withColumn(
                "schema",
                F.when(F.pmod(F.xxhash64("conv_id"), F.lit(schema_routes)) == 0, "beta")
                .otherwise("alpha"),
            )
        if evolution_lsn is not None:
            from polardbx_tools_spark.changelog.generator import split_for_evolution

            pre, post = split_for_evolution(cl, evolution_lsn)
            pre.coalesce(1).write.parquet(os.path.join(out, "pre"))
            post.coalesce(1).write.parquet(os.path.join(out, "post"))
        else:
            cl.coalesce(1).write.parquet(os.path.join(out, "all"))
    return cl.schema


# ------------------------------------------------------------------ oracle


def oracle_state(con, changelog_sql: str) -> pd.DataFrame:
    """Last writer per key by (ts, source_lsn, source_partition) desc over
    the valid events; deletes drop the key."""
    return con.execute(f"""
        WITH cl_events AS ({changelog_sql}),
        ranked AS (
          SELECT *, row_number() OVER (
                   PARTITION BY conv_id, turn_idx
                   ORDER BY ts DESC, source_lsn DESC, source_partition DESC) AS rn
          FROM cl_events WHERE {VALID})
        SELECT * EXCLUDE (rn, op, source_lsn, source_partition) FROM ranked
        WHERE rn = 1 AND op <> 'D'
    """).df()


def canon_state(df: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    df = df[cols].copy()
    df["ts"] = pd.to_datetime(df["ts"], utc=True).dt.as_unit("us").astype("int64")
    df["turn_idx"] = df["turn_idx"].astype("int64")
    for c in cols:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(KEYS, kind="mergesort").reset_index(drop=True)


def same_state(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    cols = sorted(want.columns)
    if sorted(got.columns) != cols or len(got) != len(want):
        return False
    return canon_state(got, cols).equals(canon_state(want, cols))


def committed_offsets_ok(con, table, changelog_sql: str) -> bool:
    want = dict(con.execute(f"""
        SELECT source_partition, max(source_lsn) FROM ({changelog_sql}) ev
        WHERE source_partition IS NOT NULL GROUP BY 1""").fetchall())
    return table.offsets() == {int(k): int(v) for k, v in want.items()}


# ------------------------------------------------------- table accounting


def new_files(table, version: int) -> tuple[int, int]:
    """Count and bytes of the data files ``version`` references that its
    parent did not: what that commit wrote."""
    new = set(table.snapshot(version).all_files()) - set(table.snapshot(version - 1).all_files())
    return len(new), sum(os.path.getsize(os.path.join(table.path, f)) for f in new)


def table_bytes(table, since_version: int) -> dict:
    """Bytes of data files newly referenced by the snapshots after
    ``since_version``, and bytes and files live in the last one."""
    from polardbx_tools_spark.lake.table import META_DIR

    snap = table.snapshot()
    live = snap.all_files()
    manifest = os.path.join(table.path, META_DIR, f"v{snap.version:08d}.json")
    return {
        "write_bytes": sum(new_files(table, v)[1]
                           for v in range(since_version + 1, snap.version + 1)),
        "live_bytes": sum(os.path.getsize(os.path.join(table.path, f)) for f in live),
        "live_files": len(live),
        "live_delta_files": len(snap.delta_files()),
        "manifest_bytes": os.path.getsize(manifest),
    }


def _merge_facts(parts: list[dict]) -> dict:
    return {k: sum(p[k] for p in parts) for k in parts[0]}


# --------------------------------------------------------------- bulk_cow


class BulkCow(Workload):
    """Backfill: a skewed changelog with duplicates, out-of-order ``ts``, a
    mid-stream ``tool`` column and about 0.1% malformed events, applied by
    ``CdcPipeline.run`` in a few large LSN windows, copy-on-write."""

    N_EVENTS = 40_000
    WINDOWS = 4
    N_CONVS = 2_000
    BUCKETS = 16
    WARMUP_EVENTS = 4_000

    def _apply(self, unit_dir: str, n_events: int):
        from polardbx_tools_spark.pipeline import CdcPipeline

        w = n_events // self.WINDOWS
        pipe = CdcPipeline(self.spark, os.path.join(unit_dir, "table"),
                           bucket_count=self.BUCKETS, max_errors=n_events, merge_mode="cow")
        pre = self.spark.read.parquet(os.path.join(unit_dir, "pre"))
        post = self.spark.read.parquet(os.path.join(unit_dir, "post"))
        t0 = time.time()
        r1 = pipe.run(pre, batch_lsns=w)
        r2 = pipe.run(post, batch_lsns=w)
        t1 = time.time()
        return pipe, t0, t1, r1.events_quarantined + r2.events_quarantined

    def _generate(self, unit_dir: str, n_events: int, seed: int) -> None:
        generate(self.spark, self.tracer, unit_dir, seed, n_events, self.N_CONVS,
                 evolution_lsn=n_events // 2, malformed_per_mille=1)

    def warmup(self) -> None:
        d = self.fresh_dir("warmup")
        self._generate(d, self.WARMUP_EVENTS, self.seed + 1)
        pipe, _, _, _ = self._apply(d, self.WARMUP_EVENTS)
        pipe.table.read(self.spark).toPandas()

    def unit(self, i: int) -> Unit:
        d = self.fresh_dir(f"unit{i}")
        t_setup = time.time()
        self._generate(d, self.N_EVENTS, self.seed)
        setup_s = time.time() - t_setup
        attempted = self.WINDOWS
        with self.work_span(i):
            pipe, t0, t1, quarantined = self._apply(d, self.N_EVENTS)
        table = pipe.table
        # closed-loop window latency: the interval between successive
        # snapshot commits (the first from the start of the run)
        stamps = [t0] + [table.snapshot(v).committed_at for v in table.snapshots()[1:]]
        ops = [b - a for a, b in zip(stamps, stamps[1:])]
        t_read = time.time()
        got = table.read(self.spark).toPandas()
        read_s = time.time() - t_read

        con = duckdb.connect()
        src = (f"SELECT * FROM read_parquet('{d}/pre/*.parquet') UNION ALL BY NAME "
               f"SELECT * FROM read_parquet('{d}/post/*.parquet')")
        want = oracle_state(con, src)
        n_valid = con.execute(f"SELECT count(*) FROM ({src}) WHERE {VALID}").fetchone()[0]
        n_bad = con.execute(f"SELECT count(*) FROM ({src}) WHERE NOT ({VALID})").fetchone()[0]
        errs = glob.glob(os.path.join(table.path, "_errors", "*.parquet"))
        n_quarantined = con.execute(
            f"SELECT count(*) FROM read_parquet({errs!r})").fetchone()[0] if errs else 0
        checks = {
            "state": same_state(got, want),
            "quarantine": n_bad == n_quarantined == quarantined and n_bad > 0,
            "offsets": committed_offsets_ok(con, table, src),
        }
        con.close()
        facts = table_bytes(table, 0)
        facts.update(events=n_valid, read_s=read_s, live_rows=len(got))
        ok = all(checks.values())
        return Unit(setup_s, t1 - t0, ops, attempted, 0 if ok else attempted, checks, facts)


# ---------------------------------------------------------- tail_mor_multi


class TailMorMulti(Workload):
    """Streaming tail: a mixed changelog routed 3:1 by its ``schema``
    column to two COW-preloaded tables, landed as small LSN-ordered files
    and drained one file per trigger in merge-on-read mode with
    delta-pressure compaction."""

    N_PRELOAD = 5_000
    N_FILES = 4
    PER_FILE = 500
    N_CONVS = 2_000
    BUCKETS = 8
    COMPACT_OVER = 2

    def _setup(self, d: str):
        from pyspark.sql import functions as F

        from polardbx_tools_spark.lake.multi import apply_multi_table
        from polardbx_tools_spark.lake.table import LakeTable
        from pyspark.sql.types import StructType

        n = self.N_PRELOAD + self.N_FILES * self.PER_FILE
        schema = generate(self.spark, self.tracer, d, self.seed, n, self.N_CONVS, schema_routes=4)
        meta = {"op", "source_lsn", "source_partition", "schema"}
        payload = StructType([f for f in schema.fields if f.name not in meta])
        paths = {name: os.path.join(d, name) for name in ("alpha", "beta")}
        tables = {name: LakeTable.create(p, payload, bucket_key="conv_id",
                                         bucket_count=self.BUCKETS, key_cols=tuple(KEYS))
                  for name, p in paths.items()}
        cl = self.spark.read.parquet(os.path.join(d, "all"))
        apply_multi_table(self.spark, tables, cl.filter(F.col("source_lsn") < self.N_PRELOAD),
                          mode="cow")
        # land the tail as LSN-ordered files with strictly increasing
        # mtimes: the file source orders new files by modification time
        tab = pq.read_table(os.path.join(d, "all"))
        ts_i = tab.schema.get_field_index("ts")
        tab = tab.set_column(ts_i, "ts", tab.column("ts").cast(pa.timestamp("us", tz="UTC")))
        src = os.path.join(d, "src")
        os.makedirs(src)
        lsn = tab.column("source_lsn")
        base = time.time() - 10 * self.N_FILES
        for k in range(self.N_FILES):
            lo = self.N_PRELOAD + k * self.PER_FILE
            part = tab.filter(pc.and_(pc.greater_equal(lsn, lo), pc.less(lsn, lo + self.PER_FILE)))
            dst = os.path.join(src, f"w{k:05d}.parquet")
            pq.write_table(part, dst)
            os.utime(dst, (base + k, base + k))
        return schema, paths, tables

    def _drain(self, d: str, schema, paths):
        from polardbx_tools_spark.streaming import start_multi_table_cdc_stream

        t0 = time.time()
        q = start_multi_table_cdc_stream(
            self.spark, os.path.join(d, "src"), schema, paths, os.path.join(d, "ckpt"),
            bucket_count=self.BUCKETS, max_files_per_trigger=1, available_now=True,
            merge_mode="mor", compact_deltas_over=self.COMPACT_OVER,
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()
        return q, t0, time.time()

    def warmup(self) -> None:
        """None beyond the unit's own COW preload, which warms the merge
        path; the cold first trigger stays in the drain, where the median
        trigger latency discounts it."""

    def unit(self, i: int) -> Unit:
        d = self.fresh_dir(f"unit{i}")
        t_setup = time.time()
        schema, paths, tables = self._setup(d)
        setup_s = time.time() - t_setup
        base_versions = {n: t.current_version() for n, t in tables.items()}
        with self.work_span(i):
            q, t0, t1 = self._drain(d, schema, paths)
        progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        ops = [p["durationMs"]["triggerExecution"] / 1000 for p in progress]
        add = [p["durationMs"].get("addBatch", 0) / 1000 for p in progress]
        starts = [datetime.fromisoformat(p["timestamp"]).timestamp() for p in progress]
        t_read = time.time()
        got = {n: t.read(self.spark).toPandas() for n, t in tables.items()}
        read_s = time.time() - t_read

        con = duckdb.connect()
        src = f"SELECT * FROM read_parquet('{d}/all/*.parquet')"
        checks = {"triggers": len(progress) == self.N_FILES}
        for n, t in tables.items():
            want = oracle_state(con, f"SELECT * EXCLUDE (schema) FROM ({src}) WHERE schema = '{n}'")
            checks[f"state.{n}"] = same_state(got[n], want)
            checks[f"offsets.{n}"] = committed_offsets_ok(con, t, src)
        n_tail = con.execute(
            f"SELECT count(*) FROM ({src}) WHERE source_lsn >= {self.N_PRELOAD}").fetchone()[0]
        con.close()
        facts = _merge_facts([table_bytes(t, base_versions[n]) for n, t in tables.items()])
        facts.update(
            events=n_tail, read_s=read_s, live_rows=sum(len(g) for g in got.values()),
            add_batch=add, overhead=[a - b for a, b in zip(ops, add)],
            triggers=[(a, a + dur) for a, dur in zip(starts, ops)],
        )
        ok = all(checks.values())
        attempted = max(len(ops), self.N_FILES)
        return Unit(setup_s, t1 - t0, ops, attempted, 0 if ok else attempted, checks, facts)
