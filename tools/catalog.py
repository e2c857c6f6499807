"""Generate docs/QUERIES.md — the registry catalog, from the registry.

One row per query: name, module, check kind (oracle / rows-only), and
the first docstring line. Regenerate after adding queries:

    python tools/catalog.py
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bigdata_electricity_spark.plans import REGISTRY, SCALE_TWINS  # noqa: E402

HEADER = """# Query catalog (generated — `python tools/catalog.py`)

Every driver-checkable entry in `__spark_entry__.queries()`. "oracle"
entries are value-hash-compared against DuckDB SQL by the driver and
`tools/parity.py`; "rows-only" entries are non-SQL-expressible
(seeded sampling, hash signatures, streaming runtime, ML solvers) and
carry unit tests instead — see each docstring for why.

Entries marked **exact, small-data** keep deliberately exact semantics
whose plan does not survive a 100× scale-up (global sorts, full-corpus
scans, row fan-outs); each links its scale-safe twin — use the twin in
production pipelines.

Every entry carries a **scale class** (`QuerySpec.scale_class`):
`production` (plan survives a 100× scale-up as written),
`exact-baseline` (deliberately exact small-data semantics kept as an
oracle-checkable baseline — the linked twin is the production variant),
or `certification` (exists to certify an engine property — persistence
roundtrip, crash recovery, recall audit, sink format — not to answer a
query).

## Boundary conventions (cross-engine traps, pinned by tests)

Empirically pinned semantics a user porting queries should know —
every one is enforced by `tests/test_boundary_ties.py` /
`tests/test_degenerate_inputs.py` on planted exact collisions:

- **`session_window` merges at exactly-gap distance** (static AND
  dynamic gaps): Spark 4.1.2 treats the running session end as an
  INCLUSIVE boundary, so a new session starts only when gap > timeout
  — the same strict `>` as a manual gaps-and-islands build. Repro:
  two events exactly 15 min apart with a 15-min gap form ONE session.
  (A `>=`-split replay diverges only on ties — invisible until a user
  has second-granular timestamps.)
- **Manual sessionization cumsums must order by the full flag key**
  `(ts, event_id)`: ordering the running sum by `ts` alone lets rows
  tied on timestamp swap across a session boundary.
- **DuckDB `CAST(epoch(ts) AS BIGINT)` ROUNDS; Spark `unix_timestamp`
  truncates** — always `floor(epoch(ts))` in oracles, or sub-second
  events shift window frames by one second.
- As-of joins are STRICT on both directions (a same-instant candidate
  never matches); range joins are strict-lower / inclusive-upper;
  tumbling/sliding buckets are `[start, end)`; RANGE frames
  (trailing 90d / 24h) include the exact lower edge; gap and aging
  thresholds are inclusive-upper (`<= 30d` keeps the 30-day row);
  week truncation is to MONDAY in both engines.
"""


def first_line(doc: str) -> str:
    for line in doc.splitlines():
        line = line.strip()
        if line:
            return line.rstrip(".")
    return ""


def main() -> None:
    by_module: dict[str, list] = {}
    for name, spec in REGISTRY.items():
        mod = spec.fn.__module__.rsplit(".", 1)[-1]
        by_module.setdefault(mod, []).append((name, spec))

    n_oracle = sum(1 for q in REGISTRY.values() if q.oracle)
    lines = [HEADER]
    lines.append(
        f"**{len(REGISTRY)} queries: {n_oracle} oracle-checked, "
        f"{len(REGISTRY) - n_oracle} rows-only.**\n"
    )
    twin_of = {v: k for k, v in SCALE_TWINS.items()}
    for mod in sorted(by_module):
        lines.append(f"\n## {mod} ({len(by_module[mod])})\n")
        lines.append("| query | check | scale class | what |")
        lines.append("|---|---|---|---|")
        for name, spec in sorted(by_module[mod]):
            kind = "oracle" if spec.oracle else "rows-only"
            what = first_line(spec.doc)
            if name in SCALE_TWINS:
                what += f" — **exact, small-data**: scale twin `{SCALE_TWINS[name]}`"
            elif name in twin_of:
                what += f" — scale-safe twin of `{twin_of[name]}`"
            lines.append(f"| `{name}` | {kind} | {spec.scale_class} | {what} |")
    with open(os.path.join(ROOT, "docs", "QUERIES.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"docs/QUERIES.md: {len(REGISTRY)} queries, {n_oracle} oracled")


if __name__ == "__main__":
    main()
