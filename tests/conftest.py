from __future__ import annotations

import os

import pytest

from scraper_db_refine_merge_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(autouse=True)
def _forbid_os_replace(monkeypatch):
    """SPARK_GRAFT_FORBID_REPLACE=1 runs the whole suite with os.replace
    DISABLED (r16, VERDICT r15 item 1) — the object-store simulation for
    the versioned-table commit layer: any code path that still depends on
    an atomic pointer replace fails loudly here instead of on a real
    object store."""
    if os.environ.get("SPARK_GRAFT_FORBID_REPLACE") == "1":
        def refuse(*a, **k):
            raise OSError("os.replace forbidden (object-store simulation)")

        monkeypatch.setattr(os, "replace", refuse)
