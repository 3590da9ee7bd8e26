"""Generate COVERAGE.md: the verifiable map from SURVEY §2 operator IDs to
source locations, plus the full query catalog (id → module → oracle).

Everything in the output is machine-derived — IDs come from grepping
`SURVEY <id>` annotations, the query table from importing the live
catalog — so the document cannot drift from the code the way a
hand-written table can. Annotations name IDs one by one (`F3`, `J4/W3`);
there is no range form, so an ID counts only where some code names it.

Usage: PYTHONPATH=. python tools/coverage_map.py > COVERAGE.md
"""

from __future__ import annotations

import re
from pathlib import Path

FAMILIES = {
    "S": 15, "P": 12, "J": 9, "A": 14, "W": 4, "O": 5, "U": 3,
    "F": 25, "R": 7, "T": 2, "G": 2, "ST": 5, "D": 6,
}

PKG = Path(__file__).resolve().parent.parent / "scraper_db_refine_merge_spark"

# `SURVEY` followed by one or more id tokens (`F3`, `J4/W3`, …)
TOKEN = re.compile(r"\b(ST|[SPJAWOUFRTGD])(\d+)\b")
ANNOT = re.compile(r"SURVEY\s+((?:§[\d.]+\s+)?(?:(?:ST|[SPJAWOUFRTGD])\d+\b[/, ]{0,2})+)")


def ids_of(annot: str) -> set[str]:
    return {f"{fam}{n}" for fam, n in TOKEN.findall(annot) if int(n) <= FAMILIES.get(fam, 0)}


def scan() -> dict[str, list[str]]:
    hits: dict[str, list[str]] = {f"{fam}{i}": [] for fam, n in FAMILIES.items() for i in range(1, n + 1)}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG.parent)
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            for m in ANNOT.finditer(line):
                for op in ids_of(m.group(1)):
                    loc = f"{rel}:{lineno}"
                    if loc not in hits[op]:
                        hits[op].append(loc)
    return hits


def main() -> None:
    hits = scan()
    total = len(hits)
    covered = sum(1 for v in hits.values() if v)
    print("# COVERAGE — machine-generated operator and query map")
    print()
    print("Regenerate with `PYTHONPATH=. python tools/coverage_map.py > COVERAGE.md`.")
    print()
    print(f"## SURVEY §2 operator IDs: {covered}/{total} annotated in source")
    print()
    print("| ID | Annotated at |")
    print("|---|---|")
    for op in sorted(hits, key=lambda x: (re.match(r"[A-Z]+", x).group(0), int(re.search(r"\d+", x).group(0)))):
        locs = hits[op]
        print(f"| {op} | {', '.join(locs[:4]) if locs else '**MISSING**'} |")
    print()

    from scraper_db_refine_merge_spark.plans import catalog

    mods: dict[str, str] = {}
    from scraper_db_refine_merge_spark.plans.catalog import QUERIES, ORACLES

    for name, fn in QUERIES.items():
        mods[name] = fn.__module__.rsplit(".", 1)[-1]
    print(f"## Query catalog: {len(QUERIES)} queries, {len(ORACLES)} with DuckDB oracles")
    print()
    print("| Query | Module | Oracle |")
    print("|---|---|---|")
    def _qkey(n: str):
        m = re.match(r"q(\d+)", n)
        return int(m.group(1)) if m else 10**9
    for name in sorted(QUERIES, key=_qkey):
        print(f"| {name} | plans/{mods[name]}.py | {'yes' if name in ORACLES else 'rows-only'} |")


if __name__ == "__main__":
    main()
