#!/usr/bin/env python
"""Output fingerprint of registered queries — the check that a
rewrite left a query's result bit-identical.

For each query and scale factor it prints one line: the row count,
the sha256 of the sorted row ``repr`` and the sha256 of the result's
``schema.json()``.  Run it on two checkouts and diff the outputs:

    python tools/output_digest.py q1 q2 ... --sf sf0.001 sf0.01 sf0.1

``--data-root`` is the directory holding the ``sf*`` fixture dirs
(default: the parent of the parity harness's default scale factor).
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def digest(df) -> tuple[int, str, str]:
    """(row count, sha256 of the sorted row reprs, sha256 of the
    schema JSON) of one query result."""
    rows = sorted(repr(r) for r in df.collect())
    return len(rows), _sha("\n".join(rows)), _sha(df.schema.json())


def main() -> int:
    from big_data_analysis_spark.parity import run_all

    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", nargs="+", default=["sf0.001"])
    ap.add_argument(
        "--data-root", default=os.path.dirname(run_all.__defaults__[0])
    )
    args = ap.parse_args()

    from big_data_analysis_spark.registry import load_all
    from big_data_analysis_spark.session import get_spark

    spark = get_spark("output_digest")
    reg = load_all()
    failed = 0
    for name in args.queries:
        for sf in args.sf:
            sf_dir = os.path.join(args.data_root, sf)
            try:
                n, rows_sha, schema_sha = digest(reg[name].fn(spark, sf_dir))
            except Exception as exc:  # report and go on to the next pair
                failed += 1
                print(f"{name} {sf} ERROR {type(exc).__name__}: {exc}", flush=True)
                continue
            print(
                f"{name} {sf} rows={n} rows_sha256={rows_sha}"
                f" schema_sha256={schema_sha}",
                flush=True,
            )
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
