"""One runner for every file stream: land, read, start and drain.

Every Structured Streaming query in the package is a file stream over a
JSON landing directory, run with an ``availableNow`` trigger, so the two
decisions each of them makes live here once:

- batch order is file mtime: ``land_batches`` stamps ``batch_{i}.json``
  at ``1_700_000_000 + 60·i`` and ``json_stream`` reads one file per
  micro-batch, so file ``i`` is micro-batch ``i``;
- a query starts with its checkpoint and the ``availableNow`` trigger
  (``start``) and is waited for with a bound (``drain``): a query that is
  still running at the bound is stopped and reported, never left to write
  behind a reader, and a query that failed re-raises its error.

The sink is either a ``foreachBatch`` function (MERGE, guarded sketch
merges) or a parquet path written in append mode (the stateful replays).
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

_MTIME0 = 1_700_000_000


def land_batches(landing_dir: str, batches: list[list[dict]]) -> None:
    """Write each batch as ``batch_{i}.json`` JSON lines into
    ``landing_dir`` (created if missing), mtime-ordered so the file
    source replays batch ``i`` as micro-batch ``i``."""
    os.makedirs(landing_dir, exist_ok=True)
    for i, rows in enumerate(batches):
        path = os.path.join(landing_dir, f"batch_{i}.json")
        with open(path, "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in rows)
        t = _MTIME0 + 60 * i
        os.utime(path, (t, t))


def json_stream(
    spark: SparkSession, landing_dir: str, schema: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """A JSON file stream over ``landing_dir``; one file per micro-batch
    unless the caller batches more (``stream_ingest``'s own knob)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(landing_dir)
    )


def start(
    frame: DataFrame, checkpoint_dir: str, sink: str | Callable[[DataFrame, int], None]
) -> StreamingQuery:
    """Start ``frame`` with an ``availableNow`` trigger. ``sink`` is a
    ``foreachBatch`` function or a parquet path written in append mode."""
    w = frame.writeStream.option("checkpointLocation", checkpoint_dir).trigger(availableNow=True)
    if callable(sink):
        w = w.foreachBatch(sink)
    else:
        w = w.format("parquet").option("path", sink).outputMode("append")
    return w.start()


def drain(q: StreamingQuery, timeout_s: float = 300) -> None:
    """Wait for ``q`` to finish. A failed query re-raises its error; one
    still active after ``timeout_s`` is stopped and raises ``TimeoutError``,
    so no caller reads a sink the query is still writing."""
    q.awaitTermination(timeout_s)  # raises if the query already failed
    if q.isActive:
        q.stop()
        raise TimeoutError(f"streaming query {q.id} did not finish within {timeout_s} s")
    err = q.exception()  # a failure that landed after the wait returned
    if err is not None:
        raise err
