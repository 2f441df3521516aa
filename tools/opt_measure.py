#!/usr/bin/env python
"""r13 optimization-round measurement harness.

Times individual registry queries in isolation (same methodology as
bench.py: noop sink, warmup + 3 timed runs, median) and captures
``explain("formatted")`` for each into <plans-dir>/<query>_<tag>.txt.

Usage:
    python tools/opt_measure.py [--tag before|after] [--runs 3] q1 q2 ...
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--tag", default=None, help="if set, write <plans-dir>/<q>_<tag>.txt")
    ap.add_argument("--plans-dir", default="plans/r14")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from big_data_analysis_spark.registry import load_all
    from big_data_analysis_spark.session import get_spark
    from big_data_analysis_spark.lifecycle import release_kernel_persists

    spark = get_spark("opt_measure")
    reg = load_all()

    def execute(df):
        df.write.format("noop").mode("overwrite").save()

    # untimed JVM warmup (same as bench.py)
    execute(reg["tpch_q1"].fn(spark, args.sf_dir))
    release_kernel_persists()

    out = {}
    for name in args.queries:
        spark.sparkContext.setJobDescription(f"opt_measure: {name}")
        if args.tag:
            import io
            from contextlib import redirect_stdout

            os.makedirs(args.plans_dir, exist_ok=True)
            df = reg[name].fn(spark, args.sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(f"{args.plans_dir}/{name}_{args.tag}.txt", "w") as f:
                f.write(buf.getvalue())
            release_kernel_persists()
        runs = []
        for _ in range(args.runs + 1):  # first is warmup
            t0 = time.monotonic()
            execute(reg[name].fn(spark, args.sf_dir))
            runs.append(round(time.monotonic() - t0, 3))
        release_kernel_persists()
        timed = sorted(runs[1:])
        out[name] = {
            "warmup": runs[0],
            "runs": runs[1:],
            "median": timed[len(timed) // 2],
        }
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"loadavg": round(os.getloadavg()[0], 2), "all": {k: v["median"] for k, v in out.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
