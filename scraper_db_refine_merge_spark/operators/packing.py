"""Sequence packing for LLM training-data construction.

Training pipelines concatenate tokenized documents in a deterministic order
and slice the stream into fixed context windows ("concat-and-chunk" — the
standard packing used for large-scale pretraining). The bin a document
lands in is a pure function of the cumulative token count before it, so
the whole operation is a window cumsum + integer division — no UDFs, no
driver state.

Scale: a single global ``Window.orderBy`` is one-partition-sequential —
correct but not parallel. Production packing shards first (a hash prefix,
a date, a source) and packs within shards: every shard's stream is
independent, so the window runs ``partitionBy(shard)`` and the cluster
packs all shards concurrently. ``pack_contiguous`` supports both; the
oracle-gated catalog query uses the unsharded form for cross-engine
determinism, tests cover shard-parallel equivalence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pack_contiguous(
    df: DataFrame,
    order_col: str,
    token_col: str,
    ctx: int,
    shard_col: str | None = None,
) -> DataFrame:
    """Assign each document its packing position in the concatenated token
    stream: ``offset`` (tokens before it), ``first_bin``/``last_bin`` (the
    ctx-sized windows its tokens span) and ``straddles``.

    Zero-token documents are dropped (they occupy no stream positions).
    ``order_col`` must be a total order within each shard for deterministic
    output.
    """
    w = Window.orderBy(order_col) if shard_col is None else Window.partitionBy(shard_col).orderBy(order_col)
    w = w.rowsBetween(Window.unboundedPreceding, -1)
    tok = F.col(token_col)
    out = (
        df.filter(tok > 0)
        .withColumn("offset", F.coalesce(F.sum(token_col).over(w), F.lit(0)).cast("long"))
        .withColumn("first_bin", F.floor(F.col("offset") / ctx))
        .withColumn("last_bin", F.floor((F.col("offset") + tok - 1) / ctx))
        .withColumn("straddles", F.col("last_bin") > F.col("first_bin"))
    )
    return out


def pack_greedy(
    df: DataFrame,
    order_col: str,
    token_col: str,
    ctx: int,
    shard_col: str | None = None,
) -> DataFrame:
    """Greedy NEXT-FIT packing: walk documents in order, close the current
    bin when the next document doesn't fit. Unlike concat-and-chunk, no
    document straddles bins (an over-ctx document still gets its own bin).

    The walk is inherently sequential — per-row state (current bin, tokens
    used) — so it runs as ``applyInPandas`` per shard: one Python pass per
    shard, shards packed in parallel across the cluster. With
    ``shard_col=None`` everything is ONE group (use only for oracle-sized
    determinism tests; production always shards).

    Returns (order_col, token_col[, shard_col], bin).
    """
    import pandas as pd

    cols = [order_col, token_col] + ([shard_col] if shard_col else [])

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        bins = []
        cur, used = 0, 0
        first = True
        for t in pdf[token_col]:
            t = int(t)
            if first:
                cur, used, first = 0, t, False
            elif used + t <= ctx:
                used += t
            else:
                cur, used = cur + 1, t
            bins.append(cur)
        pdf["bin"] = pd.Series(bins, dtype="int64")
        return pdf

    src = df.select(*cols).filter(F.col(token_col) > 0)
    gcol = shard_col
    if gcol is None:
        gcol = "__shard"
        src = src.withColumn(gcol, F.lit(0).cast("long"))
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in src.schema.fields)
    out = src.groupBy(gcol).applyInPandas(_pack, schema + ", bin long")
    return out.drop("__shard") if shard_col is None else out


def pack_bins_summary(packed: DataFrame, token_col: str) -> DataFrame:
    """Per-bin rollup of a ``pack_contiguous`` result, grouped by the bin
    each document STARTS in: document count, tokens started, straddlers."""
    return packed.groupBy(F.col("first_bin").alias("bin")).agg(
        F.count("*").alias("n_docs"),
        F.sum(token_col).alias("n_tokens"),
        F.count(F.when(F.col("straddles"), 1)).alias("n_straddling"),
    )
