"""Plain-directory tables (merge_upsert, insert_if_absent, fold_rollup)
commit by a staging write plus two renames (operators/merge.py
swap_plain_table). A writer killed between the renames leaves no table at
the path; the next writer must put the last committed table back and then
produce exactly what an uncrashed run produces."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from scraper_db_refine_merge_spark.operators.merge import insert_if_absent, merge_upsert
from scraper_db_refine_merge_spark.operators.rollup import fold_rollup

_SCHEMA = "event_id string, grp int, v double, ver int"


def _base(spark):
    return spark.createDataFrame([(f"e{i}", i % 3, float(i), 1) for i in range(10)], _SCHEMA)


def _batch(spark):
    """Two keys: e0 updates an existing row, e10 is new."""
    return spark.createDataFrame([("e0", 0, 100.0, 2), ("e10", 1, 10.0, 2)], _SCHEMA)


def _merge(spark, path):
    return merge_upsert(spark, path, _batch(spark), ["event_id"], [F.desc("ver")])


def _insert(spark, path):
    return insert_if_absent(spark, path, _batch(spark), ["event_id"])


def _rollup(spark, path):
    fold_rollup(spark, path, _batch(spark), key_cols=["grp"], sum_cols=["v"])


# writer -> (build the existing table, the write to crash and retry)
WRITERS = {
    "merge_upsert": (
        lambda spark, p: merge_upsert(spark, p, _base(spark), ["event_id"], [F.desc("ver")]),
        _merge,
    ),
    "insert_if_absent": (
        lambda spark, p: insert_if_absent(spark, p, _base(spark), ["event_id"]),
        _insert,
    ),
    "fold_rollup": (
        lambda spark, p: fold_rollup(spark, p, _base(spark), key_cols=["grp"], sum_cols=["v"]),
        _rollup,
    ),
}


def _rows(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


@pytest.mark.parametrize("writer", sorted(WRITERS))
def test_kill_between_renames_then_retry_matches_uncrashed(spark, tmp_path, monkeypatch, writer):
    setup, write = WRITERS[writer]
    clean, crashed = str(tmp_path / "clean" / "t"), str(tmp_path / "crashed" / "t")
    setup(spark, clean)
    setup(spark, crashed)
    expected = write(spark, clean)

    real_rename = os.rename
    calls = []

    def dying_rename(src, dst):
        calls.append(src)
        if len(calls) == 2:  # table renamed aside, staging not yet in place
            raise OSError("writer killed between the two renames")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", dying_rename)
    with pytest.raises(OSError, match="killed"):
        write(spark, crashed)
    monkeypatch.undo()
    assert not os.path.exists(crashed)  # the window really was hit

    assert write(spark, crashed) == expected
    assert _rows(spark, crashed) == _rows(spark, clean)
    assert os.listdir(os.path.dirname(crashed)) == ["t"]  # backup and staging gone
