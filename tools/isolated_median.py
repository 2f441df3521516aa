#!/usr/bin/env python
"""Isolated warmup+5-run per-query medians — the BASELINE.md re-pin
protocol (r1; applied r8/r9 noise logs).  Run on an idle box; each
query gets one untimed warmup run then 5 timed runs, and the median
is what BASELINE.md records.  Usage:

    python tools/isolated_median.py QUERY [QUERY ...]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    names = sys.argv[1:]
    if not names:
        print("usage: isolated_median.py QUERY [QUERY ...]")
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from big_data_analysis_spark.lifecycle import release_kernel_persists
    from big_data_analysis_spark.registry import load_all
    from big_data_analysis_spark.session import get_spark

    spark = get_spark("isolated-median")
    reg = load_all()

    def execute(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    execute(reg["tpch_q1"].fn(spark, sf_dir))  # untimed JVM warmup
    print(f"load1={os.getloadavg()[0]:.2f} sf_dir={sf_dir}", file=sys.stderr)
    for name in names:
        execute(reg[name].fn(spark, sf_dir))  # untimed query warmup
        runs = []
        for _ in range(5):
            t0 = time.monotonic()
            execute(reg[name].fn(spark, sf_dir))
            runs.append(time.monotonic() - t0)
        release_kernel_persists()
        med = sorted(runs)[2]
        print(f"{name}: median={med:.3f} runs={[round(r, 3) for r in runs]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
