"""Per-layer metrics of a traced run: which engine functions get a span,
and how spans, the reduced event log and the units' facts become the
``per_layer`` metrics of BENCHMARK.json.

Every metric is reported on every workload; a layer a workload does not
reach reads 0. Counts are per timed unit (units of one run see identical
inputs), so host-independent counters repeat exactly across runs.
"""

from __future__ import annotations

import statistics

from perfbench.common import Unit
from perfbench.suite import ENTRIES, median_entry_times
from perfbench.trace import EventLog, Span, StageTotals, self_times, task_skew, totals_by_span


def _units() -> dict[str, str]:
    u = {
        "pipeline.apply_batch_calls": "count", "pipeline.self_s": "s",
        "pipeline.quarantined_events": "count",
        "merge.calls": "count", "merge.busy_s": "s", "merge.self_s": "s",
        "merge.jobs_per_call": "1/call", "merge.exchanges_per_call": "1/call",
        "merge.shuffle_records_per_event": "1/event", "merge.shuffle_bytes_per_event": "B/event",
        "merge.files_written_per_call": "1/call", "merge.task_skew": "ratio",
        "merge.gc_share": "ratio", "merge.spill_bytes": "B", "merge.winners_per_event": "ratio",
        "table.commit_calls": "count", "table.commit_s": "s", "table.lineage_s": "s",
        "table.manifest_bytes": "B", "table.live_files": "count",
        "table.live_delta_files": "count", "table.read_s": "s",
        "table.write_bytes_per_event": "B/event", "table.bytes_per_row": "B/row",
        "maintenance.compactions": "count", "maintenance.compact_s": "s",
        "maintenance.bytes_rewritten": "B", "maintenance.stalled_triggers": "count",
        "multi.apply_calls": "count", "multi.self_s": "s",
        "stream.triggers": "count", "stream.add_batch_p50_s": "s",
        "stream.overhead_p50_s": "s",
        "changelog.generate_s": "s",
    }
    u.update({f"query.{e}_s": "s" for e in ENTRIES})
    u.update({
        "operators.plan_build_s": "s", "operators.python_worker_s": "s",
        "operators.python_bytes": "B",
        "spark.tasks": "count", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
        "spark.gc_s": "s", "spark.shuffle_write_bytes": "B", "spark.output_bytes": "B",
        "spark.jvm_peak_rss_mb": "MB",
        "traced.work_s": "s", "traced.op_p50_s": "s",
    })
    return u


#: every per-layer metric with its unit, in report order
UNITS = _units()


def install(tracer) -> None:
    """Wrap each layer entry point at the name its callers look up."""
    from polardbx_tools_spark import pipeline
    from polardbx_tools_spark.lake import maintenance, multi, table

    def merge_attrs(args, kwargs, r):
        return {"events": r.batch_events, "winners": r.batch_events - r.conflicts_resolved}

    tracer.install(pipeline.CdcPipeline, "apply_batch", "pipeline.apply_batch",
                   lambda a, k, r: {"quarantined": r.invalid_events})
    tracer.install(pipeline, "merge_into", "merge.merge_into", merge_attrs)
    tracer.install(multi, "merge_into", "merge.merge_into", merge_attrs)
    tracer.install(table.LakeTable, "commit", "table.commit",
                   lambda a, k, r: {"table": a[0].path, "version": r.version})
    tracer.install(table.LakeTable, "append_lineage", "table.append_lineage")
    tracer.install(maintenance, "compact", "maintenance.compact")
    tracer.install(maintenance, "compact_if_needed", "maintenance.compact_if_needed")
    tracer.install(multi, "apply_multi_table", "multi.apply_multi_table")


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _sum_totals(totals: dict, ids) -> StageTotals:
    acc = StageTotals()
    for i in ids:
        if str(i) in totals:
            acc.add(totals[str(i)])
    return acc


def compute(spans: list[Span], log: EventLog, units: list[Unit],
            snapshot_bytes: dict[tuple[str, int], tuple[int, int]],
            traced_e2e: dict[str, float]) -> dict:
    """``snapshot_bytes`` maps (table path, version) to the count and bytes
    of the data files that version newly references."""
    n = len(units)
    windows = [(s.start, s.end) for s in spans if s.name == "bench.work"]

    def timed(s: Span) -> bool:
        return any(a <= s.start <= b for a, b in windows)

    work = [s for s in spans if timed(s)]
    by_id = {s.id: s for s in spans}
    own = self_times(spans)
    totals = totals_by_span(log)

    def named(name: str) -> list[Span]:
        return [s for s in work if s.name == name]

    def parent_name(s: Span) -> str | None:
        p = by_id.get(s.parent)
        return p.name if p else None

    applies, merges = named("pipeline.apply_batch"), named("merge.merge_into")
    commits, compacts = named("table.commit"), named("maintenance.compact")
    multis = named("multi.apply_multi_table")
    calls = max(len(merges), 1)
    events = sum(s.attrs.get("events", 0) for s in merges)

    merge_ids = {str(s.id) for s in merges}
    merge_stages = [st for st in log.stages.values() if st.span in merge_ids]
    merge_jobs = [j for j in log.jobs.values() if j["span"] in merge_ids]
    mt = _sum_totals(totals, merge_ids)
    skews = []
    for s in merges:
        writes = [st for st in log.stages.values() if st.span == str(s.id) and st.output_bytes]
        if writes:
            skews.append(task_skew(max(writes, key=lambda st: st.output_bytes).task_ms))

    def commit_bytes(parent: str) -> tuple[int, int]:
        """New data files, and their bytes, of the commits made by ``parent``."""
        got = [snapshot_bytes.get((c.attrs["table"], c.attrs["version"]), (0, 0))
               for c in commits if parent_name(c) == parent]
        return sum(f for f, _ in got), sum(b for _, b in got)

    merge_files, _ = commit_bytes("merge.merge_into")
    _, rewritten = commit_bytes("maintenance.compact")
    # a trigger stalls on maintenance when a compaction ran inside it
    stalled = [w for u in units for w in u.facts.get("triggers", [])
               if any(w[0] <= c.start <= w[1] for c in compacts)]

    last = units[-1].facts if units else {}
    out = {
        "pipeline.apply_batch_calls": len(applies) / n,
        "pipeline.self_s": sum(own[s.id] for s in applies) / n,
        "pipeline.quarantined_events": sum(s.attrs.get("quarantined", 0) for s in applies) / n,
        "merge.calls": len(merges) / n,
        "merge.busy_s": sum(s.duration for s in merges) / n,
        "merge.self_s": sum(own[s.id] for s in merges) / n,
        "merge.jobs_per_call": len(merge_jobs) / calls,
        "merge.exchanges_per_call": sum(1 for st in merge_stages if st.shuffle_write_records) / calls,
        "merge.shuffle_records_per_event": mt.shuffle_write_records / events if events else 0.0,
        "merge.shuffle_bytes_per_event": mt.shuffle_write_bytes / events if events else 0.0,
        "merge.files_written_per_call": merge_files / calls,
        "merge.task_skew": _med(skews),
        "merge.gc_share": mt.gc_ms / mt.run_ms if mt.run_ms else 0.0,
        "merge.spill_bytes": mt.spill_bytes / n,
        "merge.winners_per_event": (sum(s.attrs.get("winners", 0) for s in merges) / events
                                    if events else 0.0),
        "table.commit_calls": len(commits) / n,
        "table.commit_s": sum(s.duration for s in commits) / n,
        "table.lineage_s": sum(s.duration for s in named("table.append_lineage")) / n,
        "table.manifest_bytes": last.get("manifest_bytes", 0),
        "table.live_files": last.get("live_files", 0),
        "table.live_delta_files": last.get("live_delta_files", 0),
        "table.read_s": _med(u.facts.get("read_s", 0.0) for u in units),
        "table.write_bytes_per_event": _ratio(last, "write_bytes", "events"),
        "table.bytes_per_row": _ratio(last, "live_bytes", "live_rows"),
        "maintenance.compactions": len(compacts) / n,
        "maintenance.compact_s": sum(s.duration for s in compacts) / n,
        "maintenance.bytes_rewritten": rewritten / n,
        "maintenance.stalled_triggers": len(stalled) / n,
        "multi.apply_calls": len(multis) / n,
        "multi.self_s": sum(own[s.id] for s in multis) / n,
        "stream.triggers": sum(len(u.ops) for u in units if "add_batch" in u.facts) / n,
        "stream.add_batch_p50_s": _med(x for u in units for x in u.facts.get("add_batch", [])),
        "stream.overhead_p50_s": _med(x for u in units for x in u.facts.get("overhead", [])),
        "changelog.generate_s": _med(s.duration for s in spans if s.name == "changelog.generate"),
    }
    suite_units = [u for u in units if "entry_s" in u.facts]
    entry_s = median_entry_times(suite_units) if suite_units else {e: 0.0 for e in ENTRIES}
    for e in ENTRIES:
        out[f"query.{e}_s"] = entry_s[e]
    query_ids = {str(s.id) for s in work if s.name.startswith("query.")}
    qt = _sum_totals(totals, query_ids)
    out.update({
        "operators.plan_build_s": _med(u.facts["plan_build_s"] for u in suite_units),
        "operators.python_worker_s": qt.python_worker_ms / 1000 / n,
        "operators.python_bytes": qt.python_bytes / n,
    })
    # the Spark substrate: every job submitted while a unit's work ran
    in_work = {j_id for j_id, j in log.jobs.items()
               if any(a * 1000 <= j["submitted_ms"] <= b * 1000 for a, b in windows)}
    st_ids = {sid for j in in_work for sid in log.jobs[j]["stages"]}
    sub = StageTotals()
    for sid in st_ids & set(log.stages):
        sub.add(log.stages[sid])
    out.update({
        "spark.tasks": sub.tasks / n,
        "spark.executor_run_s": sub.run_ms / 1000 / n,
        "spark.executor_cpu_s": sub.cpu_ns / 1e9 / n,
        "spark.gc_s": sub.gc_ms / 1000 / n,
        "spark.shuffle_write_bytes": sub.shuffle_write_bytes / n,
        "spark.output_bytes": sub.output_bytes / n,
        "spark.jvm_peak_rss_mb": log.peak_rss_bytes / 2**20,
    })
    out.update({f"traced.{k}": v for k, v in traced_e2e.items()})
    return out


def _ratio(facts: dict, num: str, den: str) -> float:
    return facts[num] / facts[den] if facts.get(den) else 0.0
