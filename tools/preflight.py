"""One-command release gate: everything the external driver will check.

    python tools/preflight.py [--fast] [--no-pytest]

Runs, in order:
  1. driver-contract simulation — fresh vanilla SparkSession calls
     __spark_entry__.entry/queries/oracle_sql exactly like the driver;
  2. pytest tests/ — the FULL unit/property suite (round-7 addition:
     round 6 shipped with a reproducibly-failing property test because
     preflight didn't run pytest; never again). Skipped only by
     --no-pytest for mid-iteration runs — the end-of-round invocation
     must include it;
  3. full parity sweep (Spark vs DuckDB values) at sf0.01
     (--fast: sf0.001);
  4. arrow-type schema lint over every oracle (the class the driver's
     type-sensitive hash catches but stringified local compare misses);
  5. bench.py — prints the one-line JSON the driver records.

Exit code is non-zero if any stage fails. Run this before ending a
round; each stage is also runnable alone (see the individual tools).
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs with cwd=REPO, which `python -c` puts first on sys.path.
DRIVER_SIM = """
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master('local[8]')
         .config('spark.sql.shuffle.partitions', '8')
         .config('spark.ui.enabled', 'false').getOrCreate())
spark.sparkContext.setLogLevel('ERROR')
import __spark_entry__ as m
n = m.entry(spark).count()
q, o = m.queries(), m.oracle_sql()
assert n > 0, 'entry() returned no rows'
assert set(o) <= set(q), 'oracle_sql keys not a subset of queries'
print(f'driver-contract OK: entry={n} rows, {len(q)} queries, {len(o)} oracles')
spark.stop()
"""


def run(desc: str, cmd: list[str]) -> int:
    print(f"== {desc}: {' '.join(cmd[:3])} ...", flush=True)
    rc = subprocess.call(cmd, cwd=REPO)
    print(f"== {desc}: {'OK' if rc == 0 else f'FAILED rc={rc}'}", flush=True)
    return rc


def main() -> int:
    fast = "--fast" in sys.argv
    sf = "/root/testdata/sf0.001" if fast else "/root/testdata/sf0.01"
    stages = [
        ("driver contract", [sys.executable, "-c", DRIVER_SIM]),
        ("parity sweep", [sys.executable, "tools/parity.py", sf]),
    ]
    if "--no-pytest" not in sys.argv:
        stages.insert(1, ("pytest", [sys.executable, "-m", "pytest",
                                     "tests/", "-q", "--tb=short"]))
    stages += [
        ("schema lint", [sys.executable, "tools/parity.py", "--schemas",
                         "/root/testdata/sf0.001"]),
        ("bench", [sys.executable, "bench.py"]),
    ]
    failed = [d for d, cmd in stages if run(d, cmd) != 0]
    if failed:
        print(f"PREFLIGHT FAILED: {failed}")
        return 1
    print("PREFLIGHT OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
