"""SQLite operational-store source (SURVEY S3/S4/S13).

The reference's bronze layer is a SQLite table ``scraped_events`` with a
JSON blob column (ventura_crawler.py:187-240), read by the ETL with
``SELECT ... WHERE success = 1 AND event_data IS NOT NULL``
(etl_sqlite_to_mongo.py:60-70) and per-row JSON decode (:81-86).

Two paths:
- ``read_sqlite_jdbc`` — the cluster path: Spark JDBC with pushed-down
  predicate and ``numPartitions`` splits. Requires a SQLite JDBC driver jar
  on the classpath (not shipped in this container — the call is gated).
- ``read_sqlite_local`` — driver-side sqlite3 → createDataFrame. Correct for
  an *operational* store (the reference's SQLite is a single-node scratch
  DB, inherently small); documented as NOT the 100 TB path.

Either way, ``decode_event_data`` applies the S4 JSON-in-column decode with
an explicit schema (from_json, PERMISSIVE semantics: unparseable → null).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SCRAPED_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("url_hash", T.StringType(), False),
        T.StructField("url", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("event_data", T.StringType()),
        T.StructField("extraction_method", T.StringType()),
        T.StructField("last_scraped_utc", T.StringType()),
        T.StructField("success", T.IntegerType()),
        T.StructField("error_message", T.StringType()),
        T.StructField("response_time_ms", T.DoubleType()),
        T.StructField("status_code", T.IntegerType()),
    ]
)

# raw event_data blob shape (FIXTURES.md §3 adapter input)
EVENT_DATA_SCHEMA = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("venue", T.StringType()),
        T.StructField("date_text", T.StringType()),
        T.StructField("start_time", T.StringType()),
        T.StructField("end_time", T.StringType()),
        T.StructField("price_text", T.StringType()),
        T.StructField("currency", T.StringType()),
        T.StructField(
            "lineup",
            T.ArrayType(
                T.StructType(
                    [T.StructField("name", T.StringType()), T.StructField("role", T.StringType())]
                )
            ),
        ),
        T.StructField("genres", T.ArrayType(T.StringType())),
        T.StructField("description", T.StringType()),
    ]
)


def read_sqlite_jdbc(
    spark: SparkSession,
    db_path: str,
    table: str = "scraped_events",
    successful_only: bool = True,
    num_partitions: int = 8,
) -> DataFrame:
    """Cluster path: JDBC scan with predicate pushdown (S3).

    The WHERE clause ships to SQLite via the dbtable subquery; partitioned
    reads split on rowid ranges.
    """
    predicate = "WHERE success = 1 AND event_data IS NOT NULL" if successful_only else ""
    sub = f"(SELECT *, rowid AS __rid FROM {table} {predicate}) AS t"
    return (
        spark.read.format("jdbc")
        .option("url", f"jdbc:sqlite:{db_path}")
        .option("dbtable", sub)
        .option("partitionColumn", "__rid")
        .option("numPartitions", num_partitions)
        .option("lowerBound", 0)
        .option("upperBound", 1 << 31)
        .load()
        .drop("__rid")
    )


def read_sqlite_local(
    spark: SparkSession, db_path: str, table: str = "scraped_events", successful_only: bool = True
) -> DataFrame:
    """Driver-side path for the small operational DB (no JDBC jar needed)."""
    import sqlite3

    cols = [f.name for f in SCRAPED_EVENTS_SCHEMA.fields]
    where = "WHERE success = 1 AND event_data IS NOT NULL" if successful_only else ""
    with sqlite3.connect(db_path) as conn:
        rows = conn.execute(f"SELECT {', '.join(cols)} FROM {table} {where}").fetchall()
    return spark.createDataFrame(rows, SCRAPED_EVENTS_SCHEMA)


def decode_event_data(df: DataFrame, schema: T.StructType = EVENT_DATA_SCHEMA) -> DataFrame:
    """S4 — JSON-in-column decode (etl_sqlite_to_mongo.py:81-86): parse the
    blob into typed columns alongside the operational metadata."""
    return df.withColumn("event", F.from_json(F.col("event_data"), schema))


def sqlite_to_raw_rows(df: DataFrame) -> DataFrame:
    """Shape decoded bronze rows into the refine() input contract."""
    decoded = decode_event_data(df)
    e = F.col("event")
    return decoded.select(
        F.coalesce(e["title"], F.col("title")).alias("title"),
        F.col("url"),
        e["venue"].alias("venue"),
        e["date_text"].alias("date_text"),
        e["lineup"].alias("lineup"),
        e["price_text"].alias("price_text"),
        e["genres"].alias("genres"),
        e["description"].alias("description"),
    )


def write_sqlite_upsert(
    df: DataFrame,
    db_path: str,
    table: str,
    key_col: str,
    batch_size: int = 500,
    busy_timeout_ms: int = 30_000,
    max_retries: int = 3,
) -> None:
    """S13 — operational-store sink: ``INSERT OR REPLACE`` keyed upsert
    (ventura_crawler.py:242-258), written per-partition from executors with
    SQLite's single-writer lock handled by busy_timeout + exponential-backoff
    retries (the reference's lock-retry discipline, ventura_crawler.py:162-185).

    Scale note: SQLite is the reference-parity OPERATIONAL scratch store —
    inherently single-node. The 100 TB path for keyed sinks is the parquet
    MERGE (operators/merge.py) or a server-side JDBC sink; this writer
    exists for bronze-cache parity, not throughput.
    """
    cols = df.columns
    if key_col not in cols:
        raise ValueError(f"key column {key_col!r} not in DataFrame columns {cols}")
    placeholders = ", ".join("?" for _ in cols)
    col_list = ", ".join(cols)
    sql = f"INSERT OR REPLACE INTO {table} ({col_list}) VALUES ({placeholders})"

    def _write_partition(rows) -> None:
        import sqlite3
        import time as _time

        buf = []
        conn = sqlite3.connect(db_path, timeout=busy_timeout_ms / 1000)
        conn.execute(f"PRAGMA busy_timeout = {busy_timeout_ms}")
        try:
            def _flush():
                if not buf:
                    return
                for attempt in range(max_retries):
                    try:
                        with conn:  # one transaction per batch
                            conn.executemany(sql, buf)
                        buf.clear()
                        return
                    except sqlite3.OperationalError:
                        if attempt == max_retries - 1:
                            raise
                        _time.sleep(0.1 * 2**attempt)

            for row in rows:
                buf.append(tuple(row[c] for c in cols))
                if len(buf) >= batch_size:
                    _flush()
            _flush()
        finally:
            conn.close()

    df.foreachPartition(_write_partition)


def ensure_scraped_events_table(db_path: str, table: str = "scraped_events") -> None:
    """Create the reference's bronze table shape (ventura_crawler.py:187-240)."""
    import sqlite3

    conn = sqlite3.connect(db_path)
    with conn:
        conn.execute(
            f"""CREATE TABLE IF NOT EXISTS {table} (
                url_hash TEXT PRIMARY KEY,
                url TEXT UNIQUE,
                title TEXT,
                event_data TEXT,
                extraction_method TEXT,
                last_scraped_utc TEXT,
                success INTEGER,
                error_message TEXT,
                response_time_ms REAL,
                status_code INTEGER
            )"""
        )
    conn.close()
