"""Write ``expected.json``: the pinned row count and digest of every
registry entry of the benchmark that has no DuckDB oracle, per input size.

    python3 perfbench/pin.py

Run it from the root of a checkout only when the tables under ``data/``
or the definition of an entry's output change on purpose; the benchmark
then compares each execution of those entries with these pins.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

import run


def main() -> int:
    if not run.import_engine():
        print("pin: run from a checkout of the repository", file=sys.stderr)
        return 2
    work_dir = tempfile.mkdtemp(prefix=".perfbench-", dir=run.ROOT)
    run.isolate(work_dir)
    try:
        from bigdata_electricity_spark.plans import REGISTRY
        from bigdata_electricity_spark.session import get_spark
        from workloads import EXPECTED, HERE, SIZES, RegistryWorkload, pin

        spark = get_spark("perfbench-pin")
        pins = {}
        for size in SIZES.values():
            data_dir = os.path.join(HERE, "data", size.tables)
            pins[size.tables] = {
                op: list(pin([tuple(r) for r in REGISTRY[op].fn(spark, data_dir).collect()]))
                for op in RegistryWorkload.ops if REGISTRY[op].oracle is None}
    finally:
        run.stop()
        shutil.rmtree(work_dir, ignore_errors=True)
    with open(EXPECTED, "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(pins, indent=1, sort_keys=True))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
