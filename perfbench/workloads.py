"""The benchmark's workloads. Each is one closed-loop client in one process:
the next operation starts only after the previous one finished.

- ``catalog_read``: seven of the timed catalog queries (bench.py's headline
  and extended sets) over generated tables, in seeded shuffled passes. Every
  query is built with ``QUERIES[name](spark, sf_dir)`` and every output
  column is materialized with the ``noop`` sink inside ``cache_scope()``.
  One untimed pass first checks every query against its DuckDB oracle.
- ``ingest_upsert``: seeded NDJSON files of raw scraped rows (new events,
  re-scrapes with changed prices, in-file duplicates) streamed through
  ``stream_ingest`` one file per micro-batch into the whole-table
  ``merge_upsert`` with MergeStats on. The final table, every batch's
  MergeStats and a point lookup through the read API are checked against
  the generator's ground truth. Then one stateful streaming replay (q60,
  watermarked windowed counts that drop late rows) runs as a timed op,
  checked against its DuckDB oracle.

A workload function takes a :class:`Run` and fills in its counters,
end-to-end metrics and (when traced) per-layer metrics.
"""

from __future__ import annotations

import gc
import math
import os
import random
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone

from datagen import IngestFeed, write_catalog_tables
from measure import (
    SparkProbe,
    Tracer,
    cpu_seconds,
    dir_files,
    geomean,
    median,
    peak_rss_mb,
    percentile,
    progress_listener,
    reset_peak_rss,
    state_totals,
    tail_percentile,
)
from tools.oracle_check import canonize

# Seven of the 21 queries in bench.py's BENCH_QUERIES + EXTENDED_QUERIES,
# frozen here so the workload stays the same when bench.py's lists change.
# One per operator family: aggregate, window, JSON, LSH near-dup, skewed
# keys, substrings, quality curation. A cold check pass plus two warm passes
# of all 21 take about 80 s, too long for one run.
CATALOG_QUERIES = [
    "q01_pricing_summary",
    "q08_latest_event_per_user",
    "q16_props_json_decode",
    "q55_lsh_near_dup",
    "q125_skewed_latest_per_key",
    "q153_repeated_substrings",
    "q53_quality_overall",
]
# The stateful replay that ingest_upsert runs after its stream, so the
# streaming.stateful layer is measured. q60 drops late rows, which exercises
# every state metric; the other replays (q62, q65 and the about 20 s q80
# stream-stream join) are left out to keep a run short.
REPLAY = "q60_stream_windowed_counts"
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
INGEST_NOW = datetime(2025, 6, 1, tzinfo=timezone.utc)
NOMINAL_BATCH_S = 8.0  # sizes the ingest feed from --seconds: up to 16 s gives two files


class Run:
    """State of one benchmark run: the session, tracer, counters, metrics."""

    def __init__(self, workload, seed, seconds, traced, work_dir, process_start, catalog_sf):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(traced)
        self.work = work_dir
        self.process_start = process_start
        self.catalog_sf = catalog_sf
        self.spark = None
        self.probe = None
        self.untimed_s = 0.0  # input generation before set-up, not set-up
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, list[float]] = {}
        self.report: dict = {}
        self.persisted = 0  # persisted RDDs after the last traced op
        self.progress: dict[str, list[dict]] = {}  # streaming progress, when traced

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what[:300])

    def record(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(float(value))

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        return proc.pid if proc is not None else None

    # ---- session set-up -------------------------------------------------

    def set_up(self, register, prebuild=None) -> None:
        """Start the session and make it ready, timed once from process
        start (imports and JVM launch included). ``register(spark)`` loads
        the tables and returns the seconds it spent in ``load_table``;
        ``prebuild`` is one-time input preparation, excluded from the timing
        like input generation."""
        from scraper_db_refine_merge_spark.session import get_spark

        with self.tracer.span("session.get_spark", op="setup"):
            t = time.perf_counter()
            self.spark = get_spark("perfbench")
            self.record("session.get_spark_s", time.perf_counter() - t)
        self.spark.sparkContext.setLogLevel("ERROR")
        untimed = self.untimed_s
        if prebuild is not None:
            t = time.perf_counter()
            prebuild(self.spark)
            untimed += time.perf_counter() - t
        self.record("sources.load_table_s", register(self.spark))
        self.e2e["setup_s"] = (time.perf_counter() - self.process_start - untimed, "s")
        self.probe = SparkProbe(self.spark)

    def start_window(self) -> None:
        """Mark the start of the timed window: peak memory from here on;
        when traced, streaming progress from here on."""
        if self.traced:
            self.progress = progress_listener(self.spark)
            self.persisted = self.probe.persisted_rdds()
        gc.collect()
        reset_peak_rss(self.jvm_pid())

    def finish_common(self) -> None:
        self.e2e["peak_rss_mb"] = (peak_rss_mb(self.jvm_pid()), "MiB")
        if self.traced:
            wall = max(self.report.get("window_s", 0.0), 1e-9)
            self.layer["trace.overhead_share"] = [self.tracer.bookkeeping_s / wall]


# --------------------------------------------------------------------------
# correctness against DuckDB oracles


def compare(spark_pdf, oracle_pdf) -> str | None:
    """None when the two results agree, else what differs; the checks and
    their order are tools/oracle_check.py's (schema, row count, values)."""
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"schema {sorted(spark_pdf.columns)} != {sorted(oracle_pdf.columns)}"
    if len(spark_pdf) != len(oracle_pdf):
        return f"rows {len(spark_pdf)} != {len(oracle_pdf)}"
    a, b = canonize(spark_pdf), canonize(oracle_pdf)
    if a != b:
        diff = next((x, y) for x, y in zip(a, b) if x != y)
        return f"values differ, first: {diff[0]} != {diff[1]}"
    return None


# --------------------------------------------------------------------------
# catalog_read


def _catalog_register(run: Run, sf_dir: str):
    from scraper_db_refine_merge_spark.sources.tables import load_table

    def register(spark):
        spent = 0.0
        spark.range(1).count()
        for name in TABLES:
            with run.tracer.span("sources.load_table", op="setup"):
                t = time.perf_counter()
                load_table(spark, sf_dir, name)
                spent += time.perf_counter() - t
        return spent

    return register


def _exec_stats(run: Run, s, elapsed: float) -> None:
    """Per-layer counters of the jobs an op's execution phase started."""
    run.record("exec.jobs", s.jobs)
    run.record("exec.stages", s.stages)
    run.record("exec.tasks", s.tasks)
    run.record("exec.executor_run_s", s.executor_run_s)
    run.record("exec.busy_share", s.executor_run_s / max(elapsed * run.cpus, 1e-9))
    run.record("exec.shuffle_read_bytes", s.shuffle_read_bytes)
    run.record("exec.shuffle_write_bytes", s.shuffle_write_bytes)
    run.record("exec.spill_bytes", s.spill_bytes)
    run.record("exec.stage_skew", s.stage_skew)
    run.record("sources.scan_bytes", s.input_bytes)
    run.record("sources.scan_max_tasks", s.scan_max_tasks)


def _oracle_db(sf_dir: str, tables=TABLES):
    """A DuckDB connection with a view over each generated table."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def timed_query(run: Run, name: str, sf_dir: str, op: str):
    """One operation: build catalog query ``name`` and materialize every
    output column with the ``noop`` sink, inside ``cache_scope()``. Returns
    the DataFrame, the latency and the CPU seconds used; when traced, records
    the op's spans and per-layer counters. Raises what the query raises."""
    from scraper_db_refine_merge_spark.operators._cache import cache_scope
    from scraper_db_refine_merge_spark.plans.catalog import QUERIES

    spark, tracer, probe = run.spark, run.tracer, run.probe
    c0, t0 = cpu_seconds(), time.perf_counter()
    with tracer.span("query", op=op), cache_scope():
        if run.traced:
            spark.sparkContext.setJobGroup(f"{op}:build", op)
        with tracer.span("plans.build"):
            tb = time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            build = time.perf_counter() - tb
        if run.traced:
            spark.sparkContext.setJobGroup(f"{op}:action", op)
        with tracer.span("exec.action"):
            ta = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            action = time.perf_counter() - ta
        if run.traced:
            with tracer.bookkeeping():
                storage = probe.storage_bytes()
    latency = time.perf_counter() - t0
    cpu = cpu_seconds() - c0
    run.report.setdefault("op_s", []).append([name, latency, cpu])
    if run.traced:
        with tracer.bookkeeping():
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            probe.drain()
            run.record("plans.build_s", build)
            run.record("exec.action_s", action)
            run.record("plans.build_jobs", len(probe.job_ids(f"{op}:build")))
            _exec_stats(run, probe.stats(probe.job_ids(f"{op}:action")), action)
            persisted = probe.persisted_rdds()
            run.record("cache.persisted_after", persisted - run.persisted)
            run.persisted = persisted
            run.record("cache.storage_mb_peak", storage / 2**20)
            for qid in list(run.progress):
                for k, v in (state_totals(run.progress.pop(qid)) or {}).items():
                    run.record(k, v)
    return df, latency, cpu


def catalog_read(run: Run) -> None:
    from scraper_db_refine_merge_spark.operators._cache import cache_scope
    from scraper_db_refine_merge_spark.plans.catalog import ORACLES, QUERIES
    from scraper_db_refine_merge_spark.sources.tables import normalize_events

    sf_dir = os.path.join(run.work, "tables")
    t = time.perf_counter()
    run.report["rows"] = write_catalog_tables(sf_dir, run.seed, run.catalog_sf)
    run.untimed_s = time.perf_counter() - t
    run.set_up(_catalog_register(run, sf_dir), prebuild=lambda s: normalize_events(s, sf_dir))
    spark = run.spark
    rng = random.Random(run.seed)

    # untimed correctness pass, which is also the warm-up: every query vs
    # its DuckDB oracle, one query per core at a time
    con = _oracle_db(sf_dir)

    def check(name):
        try:
            with cache_scope():
                got = QUERIES[name](spark, sf_dir).toPandas()
            return compare(got, con.cursor().execute(ORACLES[name]).fetchdf())
        except Exception as exc:  # noqa: BLE001 — counted, never aborts the run
            return f"{type(exc).__name__}: {exc}"

    order = CATALOG_QUERIES[:]
    rng.shuffle(order)
    t0 = time.perf_counter()
    with ThreadPoolExecutor(run.cpus) as pool:
        for name, problem in zip(order, pool.map(check, order)):
            run.attempted += 1
            if problem:
                run.fail(f"{name}: {problem}")
    con.close()
    del con
    run.report["check_pass_s"] = time.perf_counter() - t0

    # timed window: whole passes, at least two, until at least run.seconds
    # have passed. A query's figure is its best pass: that sets aside bursts
    # of other load on the host and the JIT compiling that is still going on
    # during the first pass.
    lat: dict[str, list[float]] = {}
    cpu: dict[str, list[float]] = {}
    passes, n = [], 0
    run.start_window()
    start = time.perf_counter()
    while len(passes) < 2 or time.perf_counter() - start < run.seconds:
        order = CATALOG_QUERIES[:]
        rng.shuffle(order)
        p0 = time.perf_counter()
        for name in order:
            n += 1
            run.attempted += 1
            try:
                _, latency, used = timed_query(run, name, sf_dir, f"{name}#{n}")
                lat.setdefault(name, []).append(latency)
                cpu.setdefault(name, []).append(used)
            except Exception as exc:  # noqa: BLE001
                run.fail(f"{name}#{n}: {type(exc).__name__}: {exc}")
        passes.append(time.perf_counter() - p0)
    window = time.perf_counter() - start
    if run.traced:
        for k in ("sources.scan_max_tasks", "cache.storage_mb_peak"):
            run.layer[k] = [max(run.layer.get(k, [0.0]))]

    every = [x for xs in lat.values() for x in xs]
    best = [min(xs) for xs in lat.values()]
    run.report["window_s"] = window
    run.report["ops"] = len(every)
    if best:
        run.e2e["op_cpu_s"] = (geomean([min(xs) for xs in cpu.values()]), "s")
        run.report["op_geomean_s"] = geomean(best)
        run.report["throughput"] = len(best) / sum(best)  # one pass at the best latencies
        q = tail_percentile(len(every))
        run.report["read_query_p50_s"] = median(every)
        if q is not None:
            run.report[f"read_query_p{q}_s"] = percentile(every, q)
    run.report["read_pass_s"] = median(passes)
    run.report["passes"] = len(passes)


# --------------------------------------------------------------------------
# ingest_upsert


def _wrap_ingest_layers(run: Run, feed: IngestFeed):
    """Wrap the pipeline's refine and merge_upsert entry points (the names
    stream_ingest calls) with span-recording versions; returns an undo."""
    from scraper_db_refine_merge_spark.streaming import pipeline

    tracer, probe = run.tracer, run.probe
    orig_refine, orig_merge = pipeline.refine, pipeline.merge_upsert
    batch = {"n": -1}

    def refine(*a, **k):
        batch["n"] += 1
        with tracer.span("refine.build", op=f"batch{batch['n']}"):
            t = time.perf_counter()
            out = orig_refine(*a, **k)
            run.record("refine.build_s", time.perf_counter() - t)
        return out

    def merge_upsert(spark, target_path, *a, **k):
        n = batch["n"]
        with tracer.bookkeeping():
            group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
            probe.drain()
            jobs0 = probe.job_ids(group) if group else set()
            files0 = dir_files(target_path)
        with tracer.span("merge.commit", op=f"batch{n}"):
            t = time.perf_counter()
            out = orig_merge(spark, target_path, *a, **k)
            commit = time.perf_counter() - t
        with tracer.bookkeeping():
            probe.drain()
            jobs = (probe.job_ids(group) if group else set()) - jobs0
            s = probe.stats(jobs)
            files1 = dir_files(target_path)
            added = sum(sz for p, (sz, mt) in files1.items() if files0.get(p) != (sz, mt))
            live = spark.read.parquet(target_path).inputFiles()
            live_bytes = sum(os.path.getsize(f.replace("file:", "", 1)) for f in live)
            incoming = os.path.getsize(feed.files[n])
            run.record("merge.commit_s", commit)
            run.record("merge.jobs", s.jobs)
            run.record("merge.write_amp", added / incoming)
            run.record("merge.space_amp", sum(sz for sz, _ in files1.values()) / max(live_bytes, 1))
            run.record("merge.live_files", len(live))
            run.record("exec.action_s", commit)
            _exec_stats(run, s, commit)
        return out

    pipeline.refine, pipeline.merge_upsert = refine, merge_upsert

    def undo():
        pipeline.refine, pipeline.merge_upsert = orig_refine, orig_merge

    return undo


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def ingest_upsert(run: Run) -> None:
    from pyspark.sql import functions as F

    from scraper_db_refine_merge_spark.plans.api_queries import get_event_by_id
    from scraper_db_refine_merge_spark.plans.catalog import ORACLES
    from scraper_db_refine_merge_spark.sources.tables import load_table
    from scraper_db_refine_merge_spark.streaming.pipeline import stream_ingest

    sf_dir = os.path.join(run.work, "tables")  # the replay's documents table
    landing = os.path.join(run.work, "landing")
    target = os.path.join(run.work, "events")
    metrics_path = os.path.join(run.work, "merge_stats")
    feed = IngestFeed(run.seed)
    n_files = max(2, math.ceil(run.seconds / NOMINAL_BATCH_S))
    t = time.perf_counter()
    for _ in range(n_files):
        feed.land(landing)
    write_catalog_tables(sf_dir, run.seed, run.catalog_sf)
    run.untimed_s = time.perf_counter() - t

    def register(spark):
        spark.range(1).count()
        with run.tracer.span("sources.load_table", op="setup"):
            t = time.perf_counter()
            load_table(spark, sf_dir, "documents")
            return time.perf_counter() - t

    run.set_up(register)
    spark, tracer = run.spark, run.tracer
    undo = _wrap_ingest_layers(run, feed) if run.traced else (lambda: None)
    run.attempted += n_files
    run.start_window()
    wall0, t0, c0 = time.time(), time.perf_counter(), cpu_seconds()
    try:
        with tracer.span("stream.start", op="stream"):
            q = stream_ingest(
                spark,
                landing,
                target,
                os.path.join(run.work, "checkpoint"),
                metrics_path=metrics_path,
                max_files_per_trigger=1,
                now=INGEST_NOW,
            )
        start_s = time.perf_counter() - t0
        q.awaitTermination(170)
        if q.isActive:
            q.stop()
            raise TimeoutError("stream did not finish within 170 s")
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        stream_cpu = cpu_seconds() - c0
    except Exception as exc:  # noqa: BLE001
        run.fail(f"stream: {type(exc).__name__}: {exc}")
        run.failed = n_files
        return
    finally:
        undo()

    ends = [_epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000 for p in progress]
    window = max(ends) - wall0 if ends else time.perf_counter() - t0
    trig = [p["durationMs"]["triggerExecution"] / 1000 for p in progress]
    run.report["window_s"] = window
    run.report["batches"] = len(progress)
    run.report["batch_s"] = trig
    if trig:
        run.report["ingest_batch_p50_s"] = median(trig)
    run.report["ingest_rows_per_s"] = feed.raw_rows / window
    if run.traced:
        for name, key in (
            ("stream.trigger_s", "triggerExecution"),
            ("stream.add_batch_s", "addBatch"),
            ("stream.query_planning_s", "queryPlanning"),
            ("stream.latest_offset_s", "latestOffset"),
            ("stream.wal_commit_s", "walCommit"),
            ("stream.commit_offsets_s", "commitOffsets"),
        ):
            run.layer[name] = [p["durationMs"].get(key, 0) / 1000 for p in progress]
        run.layer["stream.start_s"] = [start_s]
        run.layer["refine.calls"] = [len(run.layer.get("refine.build_s", [])) / max(len(progress), 1)]
        # batch spans from the stream's own progress, parents of refine/merge
        offset = time.perf_counter() - time.time()
        for i, p in enumerate(progress):
            b0 = _epoch(p["timestamp"]) + offset
            tracer.add_span("batch", f"batch{i}", b0, b0 + trig[i])

    # the final table, every batch's MergeStats, and a read-your-write
    # lookup through the read API of a key the last file re-scraped
    table = (
        spark.read.parquet(target)
        .select("event_id", "title", F.col("ticketing.tiers")[0]["tier_price"].alias("price"))
        .collect()
    )
    stats = [r.asDict() for r in spark.read.parquet(metrics_path).orderBy("batch_id").collect()]
    key = feed.rescraped[-1][0]
    title = IngestFeed.row(key, 0, 0)["title"]
    event_id = next((r["event_id"] for r in table if r["title"] == title), None)
    hit = get_event_by_id(spark.read.parquet(target), event_id).collect() if event_id else []
    looked_up = hit[0]["ticketing"]["tiers"][0]["tier_price"] if len(hit) == 1 else None
    run.attempted += 1
    for problem in ingest_problems(feed, len(progress), table, stats, key, looked_up):
        run.fail(problem)

    # the stateful replay: one more timed op, checked against its oracle.
    # The stream's batches run inside the JVM, so each is given the mean CPU
    # time of the stream.
    ops = trig[:]
    ops_cpu = [stream_cpu / len(trig)] * len(trig) if trig else []
    run.attempted += 1
    try:
        df, replay_s, replay_cpu = timed_query(run, REPLAY, sf_dir, "replay")
        con = _oracle_db(sf_dir, ("documents",))
        problem = compare(df.toPandas(), con.execute(ORACLES[REPLAY]).fetchdf())
        con.close()
        ops.append(replay_s)
        ops_cpu.append(replay_cpu)
        run.report["replay_s"] = replay_s
    except Exception as exc:  # noqa: BLE001
        problem = f"{type(exc).__name__}: {exc}"
    if problem:
        run.fail(f"{REPLAY}: {problem}")
    if ops:
        run.e2e["op_cpu_s"] = (geomean(ops_cpu), "s")
        run.report["op_geomean_s"] = geomean(ops)
    if run.traced:
        run.layer["sources.scan_max_tasks"] = [max(run.layer.get("sources.scan_max_tasks", [0]))]


def ingest_problems(feed, batches, table, stats, key, looked_up) -> list[str]:
    """Differences between what the pipeline produced and the feed's ground
    truth: ``table`` holds (title, price) rows of the merged table, ``stats``
    one MergeStats dict per batch, ``looked_up`` the price the read API
    returned for ``key``. Each entry counts as one failed check."""
    out = []
    if batches != len(feed.files):
        out.append(f"{batches} batches committed, {len(feed.files)} files landed")
    got = {int(r["title"].split(" ")[1]): r["price"] for r in table}
    if len(table) != len(feed.latest_price) or len(got) != len(table):
        out.append(f"table has {len(table)} rows, expected {len(feed.latest_price)} keys")
    bad = [k for k, p in feed.latest_price.items() if got.get(k) != float(p)]
    if bad:
        out.append(f"{len(bad)} keys lack their latest price, e.g. key {bad[0]}")
    for i, exp in enumerate(feed.expected_stats):
        have = stats[i] if i < len(stats) else {}
        diff = {k: (have.get(k), v) for k, v in exp.items() if have.get(k) != v}
        if diff:
            out.append(f"batch {i} MergeStats (got, expected): {diff}")
    if looked_up != float(feed.latest_price.get(key, -1)):
        out.append(f"point lookup of key {key} read {looked_up}, expected {feed.latest_price.get(key)}")
    return out


WORKLOADS = {"catalog_read": catalog_read, "ingest_upsert": ingest_upsert}
