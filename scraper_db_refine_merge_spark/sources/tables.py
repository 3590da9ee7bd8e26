"""Loaders for the synthetic test tables (TESTDATA.md).

Parquet scans are the engine's native source (reference's Mongo collection
scan, SURVEY S5). Column pruning and predicate pushdown reach the scan
automatically because callers express filters/projections declaratively.
At cluster scale the same loader points at a partitioned table root; nothing
here assumes single-file inputs.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators._cache import memo

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _events_cache_path(src: str) -> str:
    """Cache key = source path + mtime + size, so a regenerated testdata file
    invalidates automatically."""
    st = os.stat(src)
    # v2: cache contents changed when NTZ-source normalization landed — the
    # version tag invalidates caches written from the same source bytes by
    # older code (which preserved TIMESTAMP_NTZ instead of casting to LTZ).
    key = hashlib.md5(
        f"v2:{os.path.abspath(src)}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:12]
    root = os.environ.get(
        "SPARK_GRAFT_CACHE_DIR", os.path.join(tempfile.gettempdir(), "spark_graft_cache")
    )
    return os.path.join(root, f"events_micros_{key}.parquet")


def _load_events_raw(spark: SparkSession, src: str) -> DataFrame:
    # The generator has emitted ts as parquet TIMESTAMP(NANOS) (Spark 4
    # rejects unless read as raw long) and as TIMESTAMP(MICROS) without the
    # isAdjustedToUTC flag (Spark 4 reads TIMESTAMP_NTZ). Normalize both to
    # TimestampType (LTZ): instants are the engine's timestamp contract —
    # every downstream op (unix_micros, long casts, watermarks) assumes it.
    # Session timezone is pinned UTC (session.py), so NTZ→LTZ is
    # value-identical wall-clock reinterpretation.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(src)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # ns → µs floor, matching every µs-native engine's truncation
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def normalize_events(spark: SparkSession, sf_dir: str) -> str:
    """One-time NANOS→MICROS rewrite of the events table (ingest
    normalization). The raw-ns path wraps ``ts`` in ``timestamp_micros(...)``,
    which is not a pushable expression — every ts-window query full-scans.
    Rewritten as native TIMESTAMP(MICROS) parquet, ts predicates reach
    PushedFilters and row-group stats skip cold date ranges; at 100 TB this
    is the difference between scanning a day and scanning a year.

    Values are identical to the raw path (same floor division). Returns the
    normalized table path; concurrent builders race benignly (atomic rename,
    first writer wins).
    """
    src = os.path.join(sf_dir, "events.parquet")
    dst = _events_cache_path(src)
    if os.path.exists(dst):
        return dst
    df = _load_events_raw(spark, src)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    tmp = f"{dst}.__tmp__{uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType", None)
    # INT96 (a possible default) has no predicate pushdown — force MICROS
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        df.write.mode("overwrite").parquet(tmp)
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    try:
        os.rename(tmp, dst)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)  # a concurrent writer won
    return dst


# Per-session DataFrame memo (r10): every spark.read.parquet() is a driver
# round-trip plus a footer/schema resolution — ~60 ms each, and the star
# queries load five tables per build. DataFrames are immutable lazy plans,
# so handing every caller the same object per (session, dir, table) is
# semantically free; entries die with their session (operators/_cache.memo).
# The test tables are static for a process lifetime; a data-regenerating
# caller starts a new session (as the driver and all tools do).
def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    # The env toggle is part of the memo key (ADVICE r10): flipping
    # SPARK_GRAFT_EVENTS_CACHE mid-session takes effect on the next call
    # instead of being silently shadowed by the first load's decision.
    cache_on = name == "events" and os.environ.get("SPARK_GRAFT_EVENTS_CACHE", "1") != "0"
    key = ("table", os.path.abspath(sf_dir), name, cache_on)
    src = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        return memo(spark, key, lambda: spark.read.parquet(src))
    if not cache_on:
        return memo(spark, key, lambda: _load_events_raw(spark, src))
    try:
        return memo(spark, key, lambda: spark.read.parquet(normalize_events(spark, sf_dir)))
    except Exception:
        # Cache unavailable (read-only tmp, concurrent-writer race): serve
        # the raw path NOW but do NOT memoize it — a transient failure must
        # not pin the slower plan for the whole session; the next call
        # retries the normalized cache.
        return _load_events_raw(spark, src)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def ensure_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...]) -> dict[str, str]:
    """Session-memoized temp views over :func:`load_table` frames, for
    queries built as ONE ``spark.sql()`` string (r11: profiling q04/q28
    showed ~0.15 s/run of py4j round-trips in stacked DataFrame-API plan
    construction — the q25 cost class; a single SQL parse is one round
    trip). View names are suffixed with a hash of the table dir so one
    session can hold views over several SF dirs (gen_recall, scale_smoke);
    registration happens once per (session, dir, table). Returns
    {table_name: view_name} for ``str.format``-ing into the SQL."""
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = {}
    for name in names:
        # The events cache toggle is part of the view memo key AND the view
        # name (ADVICE r11): without it, a view over 'events' would pin the
        # first-loaded frame for the session — reintroducing the
        # SPARK_GRAFT_EVENTS_CACHE shadowing load_table itself fixed.
        cache_on = name == "events" and os.environ.get("SPARK_GRAFT_EVENTS_CACHE", "1") != "0"
        view = f"{name}_v{tag}" + ("" if cache_on or name != "events" else "_raw")
        key = ("view", os.path.abspath(sf_dir), name, cache_on)
        out[name] = memo(spark, key, lambda: _register_view(spark, sf_dir, name, view))
    return out


def _register_view(spark: SparkSession, sf_dir: str, name: str, view: str) -> str:
    load_table(spark, sf_dir, name).createOrReplaceTempView(view)
    return view
