"""F2 fallback-domain differential (VERDICT r13 item 8): run the native
format chain (functions/dates.py parse_fuzzy_to_utc_iso) and the
reference-compatible dateutil parse side-by-side over a deterministic
messy-date corpus, classify every string, and write DATES_DIFF_{round}.json
— the DOCUMENTED divergence domain, measured instead of asserted.

Classes:
- equal          both parse, identical UTC ISO instant
- both_null      neither parses (true garbage)
- dateutil_only  dateutil parses, the chain doesn't (the divergence domain —
                 shrunk by the r14 chain extension; what remains is the
                 yearless / fuzzy-prose tail)
- native_only    the chain parses, dateutil doesn't (should stay empty)
- differ         both parse to DIFFERENT instants — acceptable ONLY inside
                 the documented day-first class (ambiguous numeric dates:
                 the chain keeps the reference's European %d/%m convention,
                 dateutil defaults US month-first)

Usage: PYTHONPATH=. python tools/gen_dates_diff.py [round]
"""

from __future__ import annotations

import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

#: ambiguous numeric day-first forms — the documented intentional divergence
DAY_FIRST_RE = re.compile(r"^\s*\d{1,2}[/.-]\d{1,2}[/.-]\d{4}(\s+\d{1,2}:\d{2})?\s*$")

MONTHS = (
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
)


def corpus() -> list[str]:
    out: list[str] = []
    for d, m, y in [(5, 7, 2025), (15, 12, 2024), (1, 1, 2023), (31, 3, 2025), (9, 11, 2025), (28, 2, 2024)]:
        mon = MONTHS[m - 1]
        ab = mon[:3]
        out += [
            f"{y}-{m:02d}-{d:02d}", f"{y}-{m:02d}-{d:02d} 21:30:00",
            f"{y}-{m:02d}-{d:02d}T21:30:00Z", f"{y}-{m:02d}-{d:02d}T21:30:00+02:00",
            f"{y}-{m:02d}-{d:02d} 21:30", f"{d:02d}/{m:02d}/{y}", f"{d:02d}/{m:02d}/{y} 21:30",
            f"{d} {mon} {y}", f"{d} {ab} {y}", f"{mon} {d} {y}", f"{mon} {d}, {y}",
            f"{ab} {d}, {y}", f"{d}.{m}.{y}", f"{y}/{m:02d}/{d:02d}", f"{d}-{ab}-{y}",
            f"{mon} {d}, {y} at 9:30 PM", f"Friday {d} {mon} {y}", f"{d} {mon} {y} 21:30",
            f"{y}{m:02d}{d:02d}", f"{ab} {d} {y} 9:30PM", f"{d}th {mon} {y}",
            f"{d}st {mon} {y}" if d in (1, 21, 31) else f"{d}th {mon} {y}",
            f"{d:02d}-{m:02d}-{y} 21:30",
        ]
    out += ["", "tbd", "soon", "next friday", "2025", "21:30", "12/2025",
            "July 2025", "5 July", "early August", "doors 9pm"]
    # dedupe, preserve order
    seen: set[str] = set()
    return [s for s in out if not (s in seen or seen.add(s))]


# the ONE dateutil implementation — the same function the fallback UDF
# wraps, so this differential can never measure a stale copy
from scraper_db_refine_merge_spark.functions.dates import dateutil_utc_iso  # noqa: E402


def classify(spark, strings: list[str]) -> dict[str, list]:
    from pyspark.sql import functions as F

    from scraper_db_refine_merge_spark.functions.dates import parse_fuzzy_to_utc_iso

    df = spark.createDataFrame([(s,) for s in strings], "s string")
    native = {
        r["s"]: r["n"]
        for r in df.select("s", parse_fuzzy_to_utc_iso(F.col("s")).alias("n")).collect()
    }
    classes: dict[str, list] = {
        "equal": [], "both_null": [], "dateutil_only": [],
        "native_only": [], "differ_day_first": [], "differ_other": [],
    }
    for s in strings:
        n, u = native[s], dateutil_utc_iso(s)
        if n is None and u is None:
            classes["both_null"].append(s)
        elif n == u:
            classes["equal"].append(s)
        elif n is None:
            classes["dateutil_only"].append([s, u])
        elif u is None:
            classes["native_only"].append([s, n])
        elif DAY_FIRST_RE.match(s):
            classes["differ_day_first"].append([s, n, u])
        else:
            classes["differ_other"].append([s, n, u])
    return classes


def main() -> int:
    rnd = sys.argv[1] if len(sys.argv) > 1 else "rX"
    from scraper_db_refine_merge_spark.session import get_spark

    spark = get_spark("dates_diff")
    classes = classify(spark, corpus())
    doc = {
        "methodology": (
            "native parse_fuzzy_to_utc_iso vs the reference-compatible "
            "dateutil parse (dates.dateutil_utc_iso, the differential "
            "oracle) over a "
            "deterministic messy-date corpus; differ_day_first is the "
            "documented intentional divergence (European %d/%m vs "
            "dateutil's US month-first on ambiguous numeric dates)."
        ),
        "counts": {k: len(v) for k, v in classes.items()},
        "classes": classes,
    }
    out = os.path.join(ROOT, f"DATES_DIFF_{rnd}.json")
    with open(out, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    print(json.dumps(doc["counts"]))
    print(out)
    spark.stop()
    # gate: native_only and differ_other must be empty
    return 0 if not classes["native_only"] and not classes["differ_other"] else 1


if __name__ == "__main__":
    sys.exit(main())
