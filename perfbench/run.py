"""Benchmark of the CDC engine and its operator suite.

    python3 perfbench/run.py --workload bulk_cow --seed 1 --seconds 10 --trace 0

Run from the repository root. One process runs one workload in one
``local[<nproc>]`` Spark session: set-up, a warm-up, then closed-loop
units of timed work until ``--seconds`` of work are measured, each unit
checked against an independent oracle outside the timer. The last line
of stdout is the JSON result; with ``--trace 0`` its metrics are the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of
BENCHMARK.json. Lines before it record the environment and print the
workload's own figures by name and unit.

End-to-end metrics (every workload):

* ``setup_s``: process start to session ready, plus the warm-up, plus the
  median set-up of the run's units (generate inputs, preload, land files).
* ``work_s``: median over units of the wall time of one unit's work: the
  whole backfill (``bulk_cow``), the drain of the landed files
  (``tail_mor_multi``), the sum of per-entry times (``query_suite``).
* ``op_p50_s``: median operation latency over the run: the interval
  between successive snapshot commits (``bulk_cow`` windows), Spark's
  ``triggerExecution`` (``tail_mor_multi``), entry build + delivery
  (``query_suite``).

A traced run (``--trace 1``) wraps the engine's layer entry points
(``perfbench/layers.py``), writes Spark's event log, and reports the
per-layer metrics; its ``traced.work_s`` and ``traced.op_p50_s`` against
an untraced run of the same seed give the tracing overhead.

Every read and write stays under the checkout: inputs, tables, Spark's
local and temp dirs and the event log live in ``.bench_work/`` (removed
at exit); span dumps go to ``.bench_out/``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("bulk_cow", "tail_mor_multi", "query_suite")
END_TO_END = {"setup_s": "s", "work_s": "s", "op_p50_s": "s"}
# stop starting units after this long, so a slow host still ends the run
# well inside its time limit
DEADLINE_S = 110.0


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _environment(work: str) -> None:
    for sub in ("scratch", "local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _git_sha() -> str:
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, env=env, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _session(work: str, trace: bool):
    from polardbx_tools_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.executor.processTreeMetrics.enabled": "true",
        })
    spark = get_spark(master=f"local[{_nproc()}]", app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _workload(name: str, spark, work: str, seed: int, tracer):
    from perfbench import cdc, suite

    if name == "bulk_cow":
        return cdc.BulkCow(spark, work, seed, tracer)
    if name == "tail_mor_multi":
        return cdc.TailMorMulti(spark, work, seed, tracer)
    return suite.QuerySuite(spark, work, seed, tracer)


def _quantile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def _report(name: str, units, setup_s: float) -> dict[str, tuple[float, str]]:
    """The workload's own figures, by the names users know them by, for a
    run in which every operation succeeded."""
    figures = {"setup_s": (setup_s, "s")}
    if name == "query_suite":
        figures["suite_s"] = (statistics.median(u.work_s for u in units), "s")
        return figures
    ops = [x for u in units for x in u.ops]
    figures.update({
        "events_per_s": (statistics.median(u.facts["events"] / u.work_s for u in units), "1/s"),
        "read_s": (statistics.median(u.facts["read_s"] for u in units), "s"),
        "write_bytes_per_event": (units[-1].facts["write_bytes"] / units[-1].facts["events"], "B"),
        "table_bytes_per_row": (units[-1].facts["live_bytes"] / units[-1].facts["live_rows"], "B"),
    })
    if name == "tail_mor_multi":
        figures["latency_p50_s"] = (statistics.median(ops), f"s(n={len(ops)})")
        figures["latency_p80_s"] = (_quantile(ops, 0.8), f"s(n={len(ops)})")
    return figures


def _snapshot_bytes(spans) -> dict:
    """(table, version) -> what each traced commit wrote."""
    from perfbench.cdc import new_files
    from polardbx_tools_spark.lake.table import LakeTable

    return {(s.attrs["table"], s.attrs["version"]):
            new_files(LakeTable(s.attrs["table"]), s.attrs["version"])
            for s in spans if s.name == "table.commit"}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("polardbx_tools_spark/__init__.py", "__spark_entry__.py", "tools/check_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            _fail(f"{need} not found under {ROOT}: run from a full checkout")
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    sys.path.insert(0, ROOT)
    try:
        import pyspark
    except ImportError as e:
        _fail(f"cannot import pyspark: {e}")

    spark = _session(work, bool(args.trace))
    try:
        session_s = time.time() - T_START
        env = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": args.trace, "nproc": _nproc(), "pyspark": pyspark.__version__,
               "java": spark.sparkContext._jvm.System.getProperty("java.version"),
               "git_sha": _git_sha(), "master": spark.sparkContext.master}
        print("env " + json.dumps(env), flush=True)
        from perfbench.common import Unit

        tracer = None
        if args.trace:
            from perfbench import layers
            from perfbench.trace import Tracer

            tracer = Tracer.for_spark(spark, f"{args.workload}-{args.seed}-{os.getpid()}")
            layers.install(tracer)
        wl = _workload(args.workload, spark, os.path.join(work, "data"), args.seed, tracer)
        t0 = time.time()
        wl.warmup()
        warmup_s = time.time() - t0
        units = []
        while True:
            t_unit = time.time()
            try:
                u = wl.unit(len(units))
            except Exception:  # a broken engine is reported, not crashed on
                traceback.print_exc()
                u = Unit(0.0, time.time() - t_unit, [time.time() - t_unit], 1, 1,
                         {"raised": False})
            units.append(u)
            print(f"unit {len(units) - 1}: setup {u.setup_s:.3f} s, work {u.work_s:.3f} s, "
                  f"{len(u.ops)} ops, failed {u.failed}/{u.attempted}, checks {u.checks}",
                  flush=True)
            if (u.failed or sum(x.work_s for x in units) >= args.seconds
                    or time.time() - T_START > DEADLINE_S):
                break
        ops = [x for u in units for x in u.ops]
        setup_s = session_s + warmup_s + statistics.median(u.setup_s for u in units)
        e2e = {"setup_s": setup_s,
               "work_s": statistics.median(u.work_s for u in units),
               "op_p50_s": statistics.median(ops)}
        attempted = sum(u.attempted for u in units)
        failed = sum(u.failed for u in units)
        print(f"metric failed_share = {failed / attempted:.6g} 1", flush=True)
        if not failed:
            for k, (v, unit) in _report(args.workload, units, setup_s).items():
                print(f"metric {k} = {v:.6g} {unit}", flush=True)
        if tracer is not None:
            tracer.uninstall()
            snap_bytes = _snapshot_bytes(tracer.spans)
    finally:
        _stop(spark)

    if args.trace:
        from perfbench import layers
        from perfbench.trace import read_eventlog

        (log_file,) = [os.path.join(work, "eventlog", f)
                       for f in os.listdir(os.path.join(work, "eventlog"))]
        per_layer = layers.compute(tracer.spans, read_eventlog(log_file), units, snap_bytes,
                                   {"work_s": e2e["work_s"], "op_p50_s": e2e["op_p50_s"]})
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"{tracer.run_id}.spans.json"))
        metrics = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    shutil.rmtree(work, ignore_errors=True)
    if not os.listdir(os.path.dirname(work)):
        os.rmdir(os.path.dirname(work))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(1)
