"""Seeded input generators for the benchmark.

Everything the program reads is made here from ``--seed``; the same seed
and scale give byte-identical files. Two generators:

- :func:`write_catalog_tables` writes the ten catalog tables (the star
  schema plus ``events``, ``documents`` and ``embeddings``) as one
  single-row-group parquet file each, with the column types and value
  distributions of the repository's test tables (TESTDATA.md).
- :class:`IngestFeed` writes NDJSON files of raw scraped rows in the
  streaming pipeline's ``RAW_STREAM_SCHEMA`` and keeps the ground truth the
  refined, merged table must match: which keys exist, the latest price of
  each, and the MergeStats counters the merges must report.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64


def _rows(base: int, sf: float, floor: int = 1) -> int:
    return max(floor, int(round(base * sf)))


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Random texts over a 31-word vocabulary. Every 20th text is a
    near-duplicate of an earlier one (one word appended or dropped) and
    every 200th an exact copy, so the dedup and near-dup queries have the
    same number of planted pairs to find whatever the seed."""
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and i % 200 == 199:
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 20 and i % 20 == 10:
            words = texts[int(rng.integers(0, i))].split(" ")
            if len(words) > 10 and i % 40 == 10:
                words = words[:-1]
            else:
                words = words + [VOCAB[int(rng.integers(0, len(VOCAB)))]]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return texts


def catalog_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten catalog tables at scale factor ``sf`` (sf=0.01 gives 60,000
    lineitem rows, like the repository's sf0.01 test set)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = _rows(150_000, sf), _rows(10_000, sf)
    n_part, n_ord = _rows(200_000, sf), _rows(1_500_000, sf)
    n_line, n_evt = _rows(6_000_000, sf), _rows(1_000_000, sf)
    n_users = _rows(15_000, sf, floor=10)
    n_docs, n_vecs = _rows(50_000, sf, floor=500), _rows(20_000, sf, floor=500)
    i32, i64 = pa.int32(), pa.int64()
    ts = pa.timestamp("us")

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
            "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord), ts),
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_line)],
            "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_line), ts),
        }
    )
    start_us = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86_400_000_000
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt), i64),
            "ts": pa.array(
                np.sort(start_us + rng.integers(0, span_us, n_evt)).astype("datetime64[us]"), ts
            ),
            "user_id": pa.array(rng.integers(0, n_users, n_evt), i64),
            "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_evt)],
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    texts = _documents(rng, n_docs)
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), i64),
            "text": texts,
            "lang": [LANGS[j] for j in rng.choice(5, n_docs, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(x) for x in texts], i64),
        }
    )
    vecs = rng.standard_normal((n_vecs, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), i32),
        }
    )
    return t


def write_catalog_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every catalog table to ``out_dir/<name>.parquet``; returns the
    row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in catalog_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)
        counts[name] = table.num_rows
    return counts


# --------------------------------------------------------------------------
# Streaming ingest feed


VENUES = ["amnesia", "hi ibiza", "dc-10", "pacha", "ushuaia"]
GENRES = ["techno", "tech house", "house", "trance"]
RESCRAPE_SHARE = 0.10  # of each file after the first: earlier keys re-scraped
DUP_SHARE = 0.01  # of each file: byte-identical copies of rows in the file


@dataclass
class IngestFeed:
    """Seeded generator of raw scraped-row files for ``stream_ingest``.

    Each file holds ``rows_per_file`` rows: new events, re-scrapes of
    earlier events (same title and date text, so the same ``event_id``,
    with a later ``scraped_at`` and a changed price), and a few byte-identical
    duplicates of rows already in the file. The feed remembers what the
    merged table must hold after each file.
    """

    seed: int
    rows_per_file: int = 2000
    # one entry per event key: the latest price landed for it
    latest_price: dict[int, int] = field(default_factory=dict)
    # MergeStats each merged file must report
    expected_stats: list[dict] = field(default_factory=list)
    files: list[str] = field(default_factory=list)
    # per file, the keys it re-scrapes
    rescraped: list[list[int]] = field(default_factory=list)
    raw_rows: int = 0
    _next_key: int = 0

    def __post_init__(self) -> None:
        self._rng = np.random.default_rng(self.seed)

    @staticmethod
    def row(key: int, price: int, version: int) -> dict:
        return {
            "title": f"Event {key} Night",
            "url": f"www.example.com/events/{key}",
            "venue": VENUES[key % len(VENUES)],
            "date_text": f"{key % 28 + 1} May 2025",
            "lineup": [{"name": f"Artist {key % 97}", "role": "headliner"}],
            "price_text": f"€{price}",
            "genres": [GENRES[key % len(GENRES)]],
            "description": f"Description {key} v{version}",
            "scraped_at": datetime.fromtimestamp(
                1_746_057_600 + version * 3600, timezone.utc
            ).strftime("%Y-%m-%dT%H:%M:%SZ"),
        }

    def land(self, landing_dir: str) -> str:
        """Write the next file into ``landing_dir`` and return its path."""
        rng, version = self._rng, len(self.files)
        n_dup = max(1, int(self.rows_per_file * DUP_SHARE))
        n_old = int(self.rows_per_file * RESCRAPE_SHARE) if self.latest_price else 0
        n_old = min(n_old, len(self.latest_price))
        n_new = self.rows_per_file - n_dup - n_old
        old = rng.choice(sorted(self.latest_price), n_old, replace=False) if n_old else []
        keys = [int(k) for k in old] + list(range(self._next_key, self._next_key + n_new))
        self._next_key += n_new
        rows = []
        for key in keys:
            price = int(rng.integers(10, 120))
            if key in self.latest_price and price == self.latest_price[key]:
                price += 1  # a re-scrape always changes the price
            rows.append(self.row(key, price, version))
        rows += [rows[int(j)] for j in rng.integers(0, len(rows), n_dup)]
        order = rng.permutation(len(rows))
        rows = [rows[int(j)] for j in order]

        updated = sum(1 for k in keys if k in self.latest_price)
        for r in rows:
            self.latest_price[int(r["title"].split(" ")[1])] = int(r["price_text"][1:])
        self.expected_stats.append(
            {
                "incoming": len(rows),
                "within_batch_duplicates": n_dup,
                "updated": updated,
                "inserted": len(keys) - updated,
                "target_rows_after": len(self.latest_price),
            }
        )
        os.makedirs(landing_dir, exist_ok=True)
        path = os.path.join(landing_dir, f"batch_{version:05d}.json")
        with open(path, "w") as out:
            for r in rows:
                out.write(json.dumps(r) + "\n")
        mtime = 1_700_000_000 + version * 60  # the file source orders by mtime
        os.utime(path, (mtime, mtime))
        self.files.append(path)
        self.rescraped.append([int(k) for k in old])
        self.raw_rows += len(rows)
        return path
