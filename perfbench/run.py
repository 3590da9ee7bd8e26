"""Benchmark of the scraper_db_refine_merge_spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload catalog_read --seed 1 --seconds 5 --trace 0

Workloads (perfbench/workloads.py): ``catalog_read`` (seven of the timed
catalog queries over generated tables) and ``ingest_upsert`` (streaming
upserts of generated raw rows through refine and the whole-table merge, then
one stateful streaming replay). Inputs are made from ``--seed``; every output
is checked (DuckDB oracles, or the ingest generator's ground truth).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records spans
around each layer and prints the per-layer metrics. Either way the last
stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The line before it is a report with the workload's own figures and the run's
environment; ``--out FILE`` also writes the report (with span trees when
traced) to a file.

Everything the run writes goes under ``.perfbench_work/`` at the repository
root and is removed at exit. The session is pinned to ``local[nproc]`` with
nproc shuffle partitions and a 2 GiB driver heap.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "scraper_db_refine_merge_spark"
CATALOG_SF = 0.002  # 12,000 lineitem rows

E2E_UNITS = {"setup_s": "s", "op_cpu_s": "s", "peak_rss_mb": "MiB"}
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "sources.load_table_s": "s",
    "sources.scan_bytes": "B",
    "sources.scan_max_tasks": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.busy_share": "ratio",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.stage_skew": "ratio",
    "cache.persisted_after": "count",
    "cache.storage_mb_peak": "MiB",
    "refine.build_s": "s",
    "refine.calls": "count",
    "merge.commit_s": "s",
    "merge.jobs": "count",
    "merge.write_amp": "ratio",
    "merge.space_amp": "ratio",
    "merge.live_files": "count",
    "stream.trigger_s": "s",
    "stream.add_batch_s": "s",
    "stream.query_planning_s": "s",
    "stream.latest_offset_s": "s",
    "stream.wal_commit_s": "s",
    "stream.commit_offsets_s": "s",
    "stream.start_s": "s",
    "state.rows_total": "count",
    "state.memory_bytes": "B",
    "state.commit_s": "s",
    "state.rows_dropped_by_watermark": "count",
    "state.batches": "count",
    "trace.overhead_share": "ratio",
}


def isolate(work: str, cpus: int) -> None:
    """Point every writer of the program, Spark and the JVM into ``work``
    and pin the session's size, before pyspark starts."""
    for sub in ("tmp", "spark-local", "warehouse", "cache"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # shuffle and state-store partitions too: with the session's default of
    # 32 on a few cores, the stateful replay spends most of its time on 32
    # state-store commits per batch (q60 on 4 cores: about 13 s at 32
    # partitions, 5.6 s at 4)
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_GRAFT_CACHE_DIR"] = os.path.join(work, "cache")
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # every JVM (the launcher too): temp files into work, no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--conf spark.local.dir={os.path.join(work, 'spark-local')}",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )


def environment() -> dict:
    """Versions and host facts recorded with every run; call while the JVM
    is up."""
    import duckdb
    import pyspark
    from pyspark import SparkContext

    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                           timeout=30, cwd=ROOT)
        commit = r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        commit = None
    jvm = SparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "java": jvm.System.getProperty("java.version") if jvm is not None else None,
        "git_commit": commit,
    }


def stop_spark(run) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    if run is not None and run.spark is not None:
        run.spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def layer_values(run) -> dict[str, float]:
    """Each per-layer metric as the mean over the run's operations; a layer
    the workload never calls reads 0."""
    return {
        name: (sum(v) / len(v) if (v := run.layer.get(name)) else 0.0) for name in LAYER_UNITS
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=CATALOG_SF, help="catalog_read table scale")
    ap.add_argument("--out", help="also write the full report (and spans) to this file")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work, cpus)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work, PROCESS_START, args.sf)
    run.cpus = cpus
    env = None
    try:
        WORKLOADS[args.workload](run)
        run.finish_common()
    except Exception as exc:  # noqa: BLE001 — reported as a failed run
        run.fail(f"run: {type(exc).__name__}: {exc}")
    finally:
        try:
            env = environment()
            t = time.perf_counter()
            stop_spark(run)
            run.report["stop_s"] = time.perf_counter() - t
        finally:
            shutil.rmtree(work, ignore_errors=True)
            parent = os.path.dirname(work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)

    missing = [m for m in E2E_UNITS if m not in run.e2e]
    for m in missing:
        run.fail(f"metric {m} was not measured")
    attempted = max(run.attempted, 1)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "fail_ratio": run.failed / attempted,
        "errors": run.errors,
        "end_to_end": {k: v for k, (v, _) in run.e2e.items()},
        **run.report,
        "env": env,
        "wall_s": time.perf_counter() - PROCESS_START,
    }
    if args.trace:
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layer_values(run).items()}
        report["self_time_s"] = run.tracer.self_time_by_name()
    else:
        metrics = {k: {"value": run.e2e[k][0], "unit": u} for k, u in E2E_UNITS.items()
                   if k in run.e2e}
    if args.out:
        full = dict(report, spans=run.tracer.tree()) if args.trace else report
        with open(args.out, "w") as f:
            json.dump(full, f, indent=1, default=str)
    print(json.dumps({"report": report}, default=str))
    ok = run.failed == 0 and not missing
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": run.failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
