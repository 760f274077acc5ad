"""CDC apply pipeline: changelog → dedup → MERGE → offsets+lineage.

This is the engine's equivalent of the reference's full ingest loop
(SURVEY.md §3.1): producer block-readers → ring buffer → INSERT/REPLACE/
DELETE consumers → 60s history-file checkpoint
(``exec/BaseExecutor.java:232-345``, ``exec/WriteDbExecutor.java:161-200``,
``model/ProducerExecutionContext.java:200-247``). On Spark the whole
threaded apparatus collapses to a microbatch loop:

    plan    = batch_facts(changelog minus committed offsets, by window)
    for each LSN window:
        batch   = changelog ∩ window, minus already-committed offsets
        concurrently:
            quarantine malformed rows to _errors/ (a thread; only when
                plan[window] counts any, ref ``-maxError``:
                ``worker/insert/DirectImportWorker.java:107-128``)
            merge_into(table, batch, facts=plan[window])  # COW/MOR merge
            (offsets advance inside the same atomic snapshot commit)
        error budget gate
        append lineage metrics

The stats are planned ONCE per run (one groupBy by window id), so the
only Spark work on a window's critical path is its merge, with the
quarantine write overlapping it — the reference overlaps its stages the
same way (producers fill the ring buffer while consumers apply,
``exec/BaseExecutor.java:232-345``; bad lines are logged as they are
skipped, not in an extra pass).

Exactly-once: offsets live *inside* the table snapshot, so "merge
applied" and "offsets advanced" are one atomic pointer flip. A crash
anywhere leaves the old snapshot; restart re-selects from the committed
offsets and the idempotent merge absorbs any overlap. This is the
stronger version of the reference's resume-requires-INSERT-IGNORE
coupling (``cmd/FlagOption.java:47-48``).
"""

from __future__ import annotations

import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import cached_property

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polardbx_tools_spark.changelog.generator import transcripts_schema
from polardbx_tools_spark.lake.merge import (
    KEY_COLS,
    LSN_COL,
    OP_COL,
    PART_COL,
    TS_COL,
    BatchFacts,
    MergeStats,
    batch_facts,
    merge_into,
)
from polardbx_tools_spark.lake.table import LakeTable

VALID_OPS = ("I", "U", "D")


@dataclass
class RunResult:
    batches: int = 0
    events_applied: int = 0
    events_quarantined: int = 0
    circles: int = 1  # replay passes completed (frodo --circle analog)
    stats: list[MergeStats] = field(default_factory=list)
    # rate-factor replay delay gauge (seconds behind the event-time
    # schedule after each batch; ref frodo MonitorThread.java:92-95)
    replay_delays: list[float] = field(default_factory=list)

    def replay_delay_summary(self) -> dict:
        d = self.replay_delays
        if not d:
            return {}
        return {"min": min(d), "max": max(d), "avg": sum(d) / len(d)}


@dataclass
class _Guard:
    committed: bool = False  # the guarded step's merge has committed


class CdcPipeline:
    #: default merge mode for new pipelines; "cow" rewrites touched
    #: buckets, "mor" appends per-batch delta files (see lake.merge)
    DEFAULT_MERGE_MODE = "cow"

    def __init__(
        self,
        spark: SparkSession,
        table_path: str,
        bucket_count: int = 16,
        key_cols: tuple[str, ...] = KEY_COLS,
        max_errors: int = 0,
        merge_mode: str | None = None,
    ):
        self.spark = spark
        self.table = LakeTable(table_path)
        self.bucket_count = bucket_count
        self.key_cols = key_cols
        self.max_errors = max_errors
        self.merge_mode = merge_mode or self.DEFAULT_MERGE_MODE
        self._errors_dir = os.path.join(os.path.abspath(table_path), "_errors")

    # ----------------------------------------------------------- lifecycle

    def ensure_table(self, with_tool: bool = False) -> LakeTable:
        if not self.table.exists():
            LakeTable.create(
                self.table.path,
                transcripts_schema(with_tool),
                bucket_key=self.key_cols[0],
                bucket_count=self.bucket_count,
                key_cols=self.key_cols,
            )
        return self.table

    # ------------------------------------------------------------- filters

    def _offsets_filter(self, df: DataFrame) -> DataFrame:
        """Drop events at-or-below the committed offset of their source
        partition (resume). Offsets are tiny (one per source partition) →
        literal map pushed into the scan filter, no join/shuffle."""
        offsets = self.table.offsets()
        if not offsets:
            return df
        pairs: list[F.Column] = []
        for p, lsn in offsets.items():
            pairs += [F.lit(p), F.lit(lsn)]
        m = F.create_map(*pairs)
        committed = F.coalesce(
            m[F.col(PART_COL)], F.lit(-(1 << 62)).cast("long")
        )
        # NOTE: a coarse `lsn > min(offsets)` bound would push down to the
        # scan, but is only safe if every source partition already has a
        # committed offset — an unseen partition's early events would be
        # dropped. The LSN *window* predicate (pushed, verified in the
        # plan audit) does the coarse pruning instead.
        # NULL-LSN rows pass THROUGH the resume filter (NULL > x is NULL
        # → filtered): they carry no offset so "already committed" can
        # never be true of them, and dropping them here would bypass the
        # quarantine write, the _errors record, and the max_errors gate
        # on every batch after the first offset commits.
        return df.filter(
            (F.col(LSN_COL) > committed) | F.col(LSN_COL).isNull()
        )

    @cached_property
    def _invalid(self) -> F.Column:
        """Malformed-event predicate, built once per pipeline (each
        Column costs a py4j round trip; every window reuses it)."""
        # NULL source_partition / ts are malformed too: such events would
        # merge but escape offset accounting and lineage, so they would be
        # idempotently re-merged on every resume (and never counted).
        bad = (
            F.col(OP_COL).isNull()
            | ~F.col(OP_COL).isin(*VALID_OPS)
            | F.col(LSN_COL).isNull()
            | F.col(PART_COL).isNull()
            | F.col(TS_COL).isNull()
        )
        for k in self.key_cols:
            bad = bad | F.col(k).isNull()
        return bad

    def _quarantine_reason(self) -> F.Column:
        """First matching malformation cause — persisted with each
        quarantined row (the reference logs its skip causes per bad line,
        ``DirectImportWorker.java:107-128``)."""
        reason = (
            F.when(F.col(OP_COL).isNull() | ~F.col(OP_COL).isin(*VALID_OPS),
                   F.lit("invalid_op"))
            .when(F.col(LSN_COL).isNull(), F.lit("null_lsn"))
            .when(F.col(PART_COL).isNull(), F.lit("null_source_partition"))
            .when(F.col(TS_COL).isNull(), F.lit("null_ts"))
        )
        for k in self.key_cols:
            reason = reason.when(F.col(k).isNull(), F.lit(f"null_key:{k}"))
        return reason.otherwise(F.lit("unknown"))

    def _facts(self, batch: DataFrame, route: F.Column | None = None) -> dict:
        """This table's :class:`BatchFacts` of ``batch`` per ``route``
        value: the same :func:`batch_facts` pass a merge runs itself."""
        return batch_facts(batch, self.table.bucket_expr(), self._invalid, route)

    def _quarantine(self, batch: DataFrame, batch_id: int) -> None:
        batch.filter(self._invalid).withColumn(
            "_error_reason", self._quarantine_reason()
        ).withColumn("_batch_id", F.lit(batch_id)).write.mode("append").parquet(
            self._errors_dir
        )

    # --------------------------------------------------------------- apply

    def apply_batch(
        self,
        batch: DataFrame,
        batch_id: int,
        skip_offsets_filter: bool = False,
        timeout: float | None = None,
        facts: BatchFacts | None = None,
    ) -> MergeStats:
        """Apply one already-windowed changelog slice.

        ``skip_offsets_filter`` re-applies already-committed events —
        only meaningful for circle replay, where the idempotent merge
        absorbs them as exact-tie no-ops.

        ``timeout`` (seconds) is the per-batch wall guard (frodo's
        ``--sql-timeout``, ``MysqlWrapper.java:53-126``, applied at the
        engine's unit of work — the microbatch): see
        :meth:`_batch_guard`. It covers the whole step, quarantine write
        and merge, so a timeout cancels both.

        ``facts``: the slice's :class:`BatchFacts` (after the offsets
        filter), as :meth:`run` plans them for every window in one pass.
        Without them (the streaming ``foreachBatch``, direct callers)
        they are computed here with the same :func:`batch_facts`, so
        there is one stats definition.

        When the facts count malformed events, the quarantine write
        (``_errors/``, one row per event with its ``_error_reason`` and
        ``_batch_id``) runs in a thread alongside the merge, and is
        joined before the ``max_errors`` gate. A merge error surfaces
        first, once the thread is joined; a quarantine-write error
        propagates too. So after a FAILED merge this window's quarantine
        rows may already be in ``_errors``, and the retry appends them
        again under the same ``_batch_id``. The thread inherits this
        call's local properties (job group, tracing span), so its jobs
        are attributed to this step.
        """
        if not skip_offsets_filter:
            batch = self._offsets_filter(batch)
        with self._batch_guard(batch_id, timeout) as guard:
            if facts is None:
                facts = self._facts(batch).get(None, BatchFacts())
            # leaving the pool joins the quarantine thread, so a merge
            # error surfaces only after it (and the guard's cancel
            # reaches both)
            with ThreadPoolExecutor(1) as pool:
                quarantine = (
                    pool.submit(
                        inheritable_thread_target(self.spark)(self._quarantine),
                        batch, batch_id,
                    )
                    if facts.invalid_events
                    else None
                )
                stats = merge_into(
                    self.spark,
                    self.table,
                    batch,
                    batch_id=batch_id,
                    key_cols=self.key_cols,
                    invalid_cond=self._invalid,
                    mode=self.merge_mode,
                    facts=facts,
                )
                guard.committed = stats.committed_version is not None
            if quarantine is not None:
                quarantine.result()
        if stats.invalid_events > self.max_errors:
            raise RuntimeError(
                f"batch {batch_id}: {stats.invalid_events} malformed events "
                f"exceed maxErrors={self.max_errors} "
                f"(quarantined at {self._errors_dir}; valid events of this "
                f"window were merged idempotently before the gate fired)"
            )

        self.table.append_lineage(
            self.spark,
            [
                {
                    "batch_id": batch_id,
                    "source_partition": p,
                    "offsets_applied": v["max_lsn"],
                    "rows_merged": v["winners"],
                    "conflicts_resolved": v["conflicts"],
                    "events_per_sec": (
                        v["events"] / (stats.wall_ms / 1000.0) if stats.wall_ms else 0.0
                    ),
                    "wall_ms": stats.wall_ms,
                }
                for p, v in sorted(stats.per_partition.items())
            ],
        )
        return stats

    @contextmanager
    def _batch_guard(self, batch_id: int, timeout: float | None):
        """The ONE per-batch wall guard around a batch's Spark work: a
        watchdog cancels the batch's job group on expiry, the batch id
        is recorded in ``_errors/timeout_batches.jsonl`` and a
        ``RuntimeError`` aborts the run. Offsets commit with the data, so
        a batch cancelled before its commit did not advance them and a
        resumed run retries it. The body sets ``committed`` once its
        merge has committed: an overrun after that (the merge's
        driver-side tail, or the overlapped quarantine write) is
        recorded as committed and the run resumes AFTER the batch.
        ``timeout=None`` guards nothing."""
        guard = _Guard()
        if timeout is None:
            yield guard
            return
        sc = self.spark.sparkContext
        group = f"cdc-batch-{batch_id}"
        fired = threading.Event()

        def _cancel() -> None:
            fired.set()
            sc.cancelJobGroup(group)

        watchdog = threading.Timer(timeout, _cancel)
        sc.setJobGroup(group, f"cdc microbatch {batch_id} (timeout {timeout}s)")
        watchdog.start()
        try:
            yield guard
        except Exception as e:
            # attribute to the timeout ONLY when the watchdog fired AND
            # the error is the cancellation it caused — a genuine merge
            # failure (expected_version conflict, disk full) racing the
            # watchdog by microseconds must surface as itself, or the
            # operator retries with a bigger timeout instead of fixing
            # the real fault (Spark's cancelled-job errors all carry
            # "cancelled"/"cancel" in their message)
            if not fired.is_set() or "cancel" not in str(e).lower():
                raise
            raise self._timed_out(batch_id, timeout, guard.committed, str(e)) from e
        finally:
            watchdog.cancel()
            sc.setJobGroup("", "")
        if fired.is_set():
            # the watchdog fired while no Spark job was active (a
            # driver-side tail: file listing, commit), so cancelJobGroup
            # had nothing to cancel
            raise self._timed_out(batch_id, timeout, guard.committed)

    def _timed_out(
        self, batch_id: int, timeout: float, committed: bool, error: str | None = None
    ) -> RuntimeError:
        """Record a batch's overrun and build the error that aborts the run."""
        rec: dict = {"batch_id": batch_id, "timeout_sec": timeout}
        if committed:
            rec["committed"] = True
        if error is not None:
            rec["error"] = error[:500]
        os.makedirs(self._errors_dir, exist_ok=True)
        with open(
            os.path.join(self._errors_dir, "timeout_batches.jsonl"),
            "a",
            encoding="utf-8",
        ) as f:
            f.write(json.dumps(rec) + "\n")
        if committed:
            # it cannot be quarantined — offsets advanced atomically
            # with the data — so abort the RUN instead of silently
            # blowing the budget
            return RuntimeError(
                f"batch {batch_id} exceeded batch_timeout={timeout}s during "
                f"its commit tail and had already committed when the "
                f"watchdog fired; run aborted (overrun recorded at "
                f"{self._errors_dir}/timeout_batches.jsonl; a resumed run "
                f"continues AFTER this batch)"
            )
        return RuntimeError(
            f"batch {batch_id} exceeded batch_timeout={timeout}s and was "
            f"cancelled (quarantined at {self._errors_dir}/"
            f"timeout_batches.jsonl; offsets did not advance — a resumed "
            f"run retries this window)"
        )

    def _plan(
        self,
        changelog: DataFrame,
        lo: int,
        max_lsn: int,
        batch_lsns: int,
        replay_pass: bool,
    ) -> dict[int, BatchFacts]:
        """:class:`BatchFacts` of every window from ``lo`` on, keyed by
        window id ``lsn // batch_lsns``, in ONE groupBy pass.

        The first pass plans over the changelog minus the run-start
        offsets, and that is exact: windows are disjoint and increasing,
        and window k's commit raises an offset only to an LSN below the
        start of window k+1, so for every row of window k+1 the filter
        at window time keeps exactly what the run-start filter keeps.
        Replay passes bypass the filter and share one unfiltered plan.
        NULL-LSN rows fall outside every window, as they do in the
        window filters."""
        lsn = F.col(LSN_COL)
        end = (max_lsn // batch_lsns + 1) * batch_lsns
        src = changelog.filter((lsn >= lo) & (lsn < end))
        if not replay_pass:
            src = self._offsets_filter(src)
        # floor division in integer arithmetic (Spark's `div` truncates
        # toward zero): equals the loop's lo // batch_lsns for negative
        # LSNs too, and stays exact past 2**53
        window = F.expr(
            f"({LSN_COL} - pmod({LSN_COL}, {batch_lsns})) div {batch_lsns}"
        )
        return self._facts(src, route=window)

    def run(
        self,
        changelog: DataFrame,
        batch_lsns: int = 10_000,
        max_lsn: int | None = None,
        stop_after_batches: int | None = None,
        with_tool: bool = False,
        max_events_per_sec: float | None = None,
        rate_factor: float | None = None,
        monitor: bool = False,
        compact_every: int | None = None,
        compact_deltas_over: int | None = None,
        circle: int = 1,
        batch_timeout: float | None = None,
    ) -> RunResult:
        """Microbatch the changelog by LSN windows and apply each.

        ``stop_after_batches`` simulates a kill for the resume suite: the
        loop stops mid-stream; a fresh ``run`` on the same table resumes
        from committed offsets and must converge to the same final state.

        ``max_events_per_sec`` paces the loop (reference TPS limiting,
        Guava RateLimiter per consumer ``BaseWorkHandler.java:64-81``).

        ``rate_factor`` is frodo's EVENT-TIME replay pacing
        (``JSConsumerThreadV2.java:146-162``): batch k is not allowed to
        finish before ``(batch_max_ts - first_ts) * rate_factor`` wall
        seconds have elapsed — factor 1.0 replays the changelog at its
        original production speed, 2.0 at half speed, 0.5 at double
        speed. The per-batch schedule lag is recorded in
        ``RunResult.replay_delays`` and printed by the monitor
        (min/max/avg delay gauge, ``thread/MonitorThread.java:92-95``).
        ``monitor`` prints per-batch QPS/progress like frodo's
        MonitorThread (``thread/MonitorThread.java:35-114``).
        ``compact_every`` compacts the table after every N batches
        (steady-state file-count control for long tails).
        ``compact_deltas_over`` is the merge-on-read DELTA-PRESSURE
        trigger: after each batch, any bucket holding more than this
        many delta files is selectively compacted
        (``maintenance.compact_if_needed``) — bounds read amplification
        on a long MOR tail without rewriting cold buckets. Typical:
        ``CdcPipeline(..., merge_mode="mor")`` +
        ``run(compact_deltas_over=8)``.

        ``circle`` replays the whole changelog ``circle`` times (frodo
        ``--circle``, ``frodo/README.md:144-145``): passes after the
        first run at MAX PRESSURE — event-time pacing and TPS caps are
        forced off and the committed-offsets filter is bypassed, so
        every window re-drives the full merge path and the idempotent
        last-writer-wins order absorbs each event as an exact-tie no-op.
        The final table state is identical to a single pass (tested).

        ``batch_timeout`` aborts + quarantines a batch whose wall time
        exceeds the budget (see :meth:`apply_batch`). The pass that plans
        a pass's windows runs under the same guard, attributed to its
        first window.

        The batch facts (event counts, offsets, ts bounds, touched
        buckets) of every window are planned in ONE pass per run — one
        more for the replay passes of ``circle``, which share it — and
        each window hands its facts to :meth:`apply_batch`. A window the
        plan has no rows for gets empty facts: it launches no Spark job
        and commits nothing, but still counts in ``batches``.
        """
        self.ensure_table(with_tool=with_tool)
        # window cursor origin: the window holding the changelog's first
        # event — a changelog that starts past LSN 0 (the post-evolution
        # half of a split stream) must not run empty windows below it
        origin = 0
        if max_lsn is None:
            lo_lsn, max_lsn = changelog.agg(
                F.min(LSN_COL), F.max(LSN_COL)
            ).collect()[0]
            if max_lsn is None:
                return RunResult()
            origin = lo_lsn // batch_lsns * batch_lsns
        result = RunResult()
        result.circles = 0
        run_t0 = time.time()
        first_ts = None  # event-time origin for rate-factor replay
        batch_id = None
        plans: dict[bool, dict[int, BatchFacts]] = {}  # by replay_pass
        for pass_i in range(max(1, circle)):
            replay_pass = pass_i > 0
            lo = origin
            if not replay_pass:
                # resume: don't re-scan windows fully below the min offset
                offsets = self.table.offsets()
                if offsets:
                    lo = max(lo, (min(offsets.values()) + 1) // batch_lsns * batch_lsns)
                batch_id = lo // batch_lsns
            if lo <= max_lsn and replay_pass not in plans:
                with self._batch_guard(batch_id, batch_timeout):
                    plans[replay_pass] = self._plan(
                        changelog, lo, max_lsn, batch_lsns, replay_pass
                    )
            plan = plans.get(replay_pass, {})
            while lo <= max_lsn:
                hi = lo + batch_lsns
                window = changelog.filter(
                    (F.col(LSN_COL) >= lo) & (F.col(LSN_COL) < hi)
                )
                stats = self.apply_batch(
                    window,
                    batch_id=batch_id,
                    skip_offsets_filter=replay_pass,
                    timeout=batch_timeout,
                    facts=plan.get(lo // batch_lsns, BatchFacts()),
                )
                result.batches += 1
                result.events_applied += stats.batch_events
                result.events_quarantined += stats.invalid_events
                result.stats.append(stats)
                delay_txt = ""
                if rate_factor and not replay_pass and stats.max_ts is not None:
                    if first_ts is None and stats.min_ts is not None:
                        first_ts = stats.min_ts
                    if first_ts is not None:
                        # pace to the event-time schedule: this batch may not
                        # complete before (max_ts - first_ts) * factor wall
                        target = (stats.max_ts - first_ts).total_seconds() * rate_factor
                        lag = target - (time.time() - run_t0)
                        if lag > 0:
                            time.sleep(lag)
                        delay = max(0.0, (time.time() - run_t0) - target)
                        result.replay_delays.append(delay)
                        delay_txt = f" replay_delay={delay:.2f}s"
                if monitor:
                    elapsed = max(1e-9, time.time() - run_t0)
                    print(
                        f"[cdc b{batch_id}] events={stats.batch_events} "
                        f"merged={stats.upserts + stats.deletes} "
                        f"conflicts={stats.conflicts_resolved} "
                        f"buckets={len(stats.affected_buckets)} "
                        f"batch_ev/s={stats.batch_events / max(1e-9, stats.wall_ms / 1000):.0f} "
                        f"run_ev/s={result.events_applied / elapsed:.0f} "
                        f"progress={min(100, 100 * hi // (max_lsn + 1))}%"
                        + (f" circle={pass_i + 1}" if replay_pass else "")
                        + delay_txt,
                        flush=True,
                    )
                if max_events_per_sec and not replay_pass:
                    # pace like the reference's RateLimiter: sleep until the
                    # cumulative rate drops to the target
                    min_elapsed = result.events_applied / max_events_per_sec
                    lag = min_elapsed - (time.time() - run_t0)
                    if lag > 0:
                        time.sleep(lag)
                if compact_every and result.batches % compact_every == 0:
                    from polardbx_tools_spark.lake.maintenance import compact

                    compact(self.spark, self.table)
                if compact_deltas_over:
                    from polardbx_tools_spark.lake.maintenance import (
                        compact_if_needed,
                    )

                    compact_if_needed(
                        self.spark, self.table,
                        max_delta_files=compact_deltas_over,
                    )
                lo, batch_id = hi, batch_id + 1
                if stop_after_batches is not None and result.batches >= stop_after_batches:
                    result.circles = pass_i + 1
                    return result
            result.circles = pass_i + 1
        return result

    # ---------------------------------------------------------------- read

    def read_transcripts(self, order: bool = True) -> DataFrame:
        """Final-state view: tombstones filtered, stable turn ordering
        (the input_hint per-turn-equality invariant is checked over this)."""
        df = self.table.read(self.spark)
        if order:
            df = df.orderBy("conv_id", "turn_idx")
        return df
