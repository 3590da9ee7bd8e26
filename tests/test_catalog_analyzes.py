"""Every registered catalog query must ANALYZE against the current testdata.

Schema resolution only (touch ``df.schema``, never execute): this is the
cheap guard that catches an ingest-contract break — e.g. the driver
regenerating events.parquet with a different ts flavor (TIMESTAMP(NANOS) in
r1, TIMESTAMP_NTZ in r3, each of which broke analysis for ts-arithmetic
queries) — across the WHOLE catalog, not just the queries that happen to
have execution tests.

Streaming-replay harness queries are excluded: their callables author input
files and run a full Structured Streaming job eagerly at build time, so
"analyze-only" doesn't exist for them; each has its own execution test
(test_sketch_stream.py, test_streaming_*).
"""

from __future__ import annotations

import pytest

from scraper_db_refine_merge_spark.plans.catalog import QUERIES

# callables that execute eagerly (streaming replay harnesses) — see module
# docstring; everything else must stay lazily analyzable.
EAGER = {
    "q57_stream_replay",
    "q60_stream_windowed_counts",
    "q62_stream_dedup",
    "q63_incremental_rollup",
    "q65_stream_session_windows",
    "q77_stream_hll",
    "q80_stream_stream_join",
    "q88_stream_cms",
    "q91_stream_kmv",
    "q94_stream_histogram",
    "q101_stream_static_join",
    "q102_incremental_components",  # folds batches into a store at build time
    "q104_stream_scd2_enrich",
    "q108_stream_qdigest",
    "q110_component_store_time_travel",  # folds batches into a store at build time
    "q113_incremental_minhash_index",  # folds batches into a store at build time
    "q116_component_store_cdc",  # folds batches into a store at build time
}

LAZY = sorted(set(QUERIES) - EAGER)


def test_eager_set_is_current():
    # if a query is renamed/removed, fail loudly instead of silently
    # shrinking coverage
    assert EAGER <= set(QUERIES)


@pytest.mark.parametrize("name", LAZY)
def test_catalog_query_analyzes(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert df.schema is not None
    assert len(df.schema.fields) > 0


def test_coverage_md_matches_catalog():
    """COVERAGE.md drifted from the live catalog at two consecutive round
    closes (VERDICT r12/r13) — pin it: the committed document's query table
    and headline count must equal the registered catalog exactly."""
    import os
    import re

    path = os.path.join(os.path.dirname(__file__), "..", "COVERAGE.md")
    text = open(path).read()
    m = re.search(r"## Query catalog: (\d+) queries, (\d+) with DuckDB oracles", text)
    assert m, "COVERAGE.md missing the query-catalog headline"
    listed = set(re.findall(r"^\| (q\w+) \|", text, re.M))
    assert int(m.group(1)) == len(QUERIES)
    assert listed == set(QUERIES), (
        sorted(set(QUERIES) - listed),
        sorted(listed - set(QUERIES)),
    )
