"""Profile a table into an expectation suite — spark-submit entry.

The reference's onboarding flow (UserConfigurableProfiler → suite →
validate) as one CLI: profile the observed data into a suite JSON
(≤4 Spark jobs + 1 with drift gates, independent of column count —
``profiler.profile_suite``), write it, and optionally validate the same
(or another) table against it immediately.

Usage:
  spark-submit --py-files dist/great_expectations_spark.zip \\
      tools/profile_table.py --table <parquet> --out suite.json \\
      [--columns a,b,c] [--key conv_id,turn_idx] \\
      [--value-set-threshold FEW] [--drift-gates] \\
      [--validate] [--validate-table <other parquet>]

Prints ONE JSON line: suite size, per-type expectation counts, and (with
--validate) the validation statistics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--table", required=True, help="parquet path to profile")
    p.add_argument("--out", required=True, help="suite JSON output path")
    p.add_argument("--name", default=None, help="suite name (default: file stem)")
    p.add_argument("--columns", default=None, help="comma list (default: all)")
    p.add_argument("--key", default=None,
                   help="comma list: primary/compound key → uniqueness check")
    p.add_argument("--value-set-threshold", default="FEW",
                   choices=["NONE", "ONE", "TWO", "VERY_FEW", "FEW", "MANY",
                            "VERY_MANY"])
    p.add_argument("--mostly-floor", type=float, default=0.01)
    p.add_argument("--drift-gates", action="store_true",
                   help="emit chi-square / boundary-KS drift gates against "
                        "the profiled distribution")
    p.add_argument("--validate", action="store_true",
                   help="validate immediately after profiling")
    p.add_argument("--validate-table", default=None,
                   help="validate THIS table against the profiled suite "
                        "(default: the profiled table itself)")
    p.add_argument("--cpus", type=int, default=None,
                   help="when set, builds a local[N] session (for tests)")
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    from great_expectations_spark.skew import build_session

    if args.cpus:
        spark = build_session(
            app_name="profile_table", master=f"local[{args.cpus}]",
            shuffle_partitions=max(8, 2 * args.cpus),
            extra_conf={"spark.ui.enabled": "false"},
        )
    else:
        spark = build_session(app_name="profile_table")

    from great_expectations_spark.profiler import profile_suite

    df = spark.read.parquet(args.table)
    suite = profile_suite(
        df,
        name=args.name or os.path.splitext(os.path.basename(args.out))[0],
        columns=args.columns.split(",") if args.columns else None,
        primary_or_compound_key=args.key.split(",") if args.key else None,
        value_set_threshold=args.value_set_threshold,
        mostly_floor=args.mostly_floor,
        drift_gates=args.drift_gates,
    )
    with open(args.out, "w") as fh:
        fh.write(suite.to_json())

    report: dict = {
        "suite": suite.name,
        "out": args.out,
        "expectations": len(suite.expectations),
        "by_type": dict(Counter(
            e.expectation_type for e in suite.expectations
        )),
    }
    if args.validate:
        from great_expectations_spark import validate

        target = (
            spark.read.parquet(args.validate_table)
            if args.validate_table else df
        )
        res = validate(target, suite)
        report["validation"] = {
            "success": bool(res.success),
            **{k: res.statistics[k] for k in
               ("evaluated_expectations", "successful_expectations",
                "success_percent")},
        }
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
