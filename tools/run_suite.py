"""Cluster entrypoint — the production path the north_rule describes.

Run a full expectation-suite validation over a partitioned transcripts table,
resumable from the checkpoint manifest, via ``spark-submit --py-files``:

    spark-submit --py-files dist/great_expectations_spark.zip \
        tools/run_suite.py --table <path|name> --suite suites/x.json \
        [--partition-col conv_bucket --manifest <dir>] [--evr <dir>] \
        [--violations <dir>] [--dim tools=<path>] [--run-id r1]

No ``master`` is set here — the cluster manager supplies it; locally
``spark-submit --master 'local[8]'`` works identically. Re-submitting the
same command after a failure resumes: partitions already recorded as
validated in the manifest for the same suite hash are skipped.

Exit code 0 iff every validated partition passed the suite.
"""

from __future__ import annotations

import argparse
import json
import sys
import uuid


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--table", required=True,
                   help="parquet dir/path, or catalog table name (use --format table)")
    p.add_argument("--format", default="parquet",
                   choices=["parquet", "table", "orc", "csv", "json"])
    p.add_argument("--suite", required=True, help="suite JSON file")
    p.add_argument("--manifest", default=None,
                   help="manifest log dir; required with --partition-col")
    p.add_argument("--evr", default=None, help="EVR rows dir (one JSON file per commit)")
    p.add_argument("--violations", default=None, help="violations parquet dir")
    p.add_argument("--partition-col", default=None,
                   help="run per-partition + resumable when set; whole-table otherwise")
    p.add_argument("--dim", action="append", default=[],
                   help="name=path of a dimension table (repeatable)")
    p.add_argument("--derive", action="append", default=[],
                   help="col=SQL-expr derived column, e.g. "
                        "__text_len=length(text) (repeatable)")
    p.add_argument("--index-cols", default="conv_id,turn_idx",
                   help="comma-separated unexpected-index columns")
    p.add_argument("--run-id", default=None)
    p.add_argument("--segment-col", default=None,
                   help="segmented mode: evaluate the suite once per "
                        "distinct value of this column (ONE bundled "
                        "groupBy; segmented.validate_by_group)")
    p.add_argument("--segment-out", default=None, metavar="DIR",
                   help="segmented mode: write the per-segment EVR rows "
                        "to this parquet dir")
    p.add_argument("--segment-max-groups", type=int, default=100_000)
    p.add_argument("--docs", default=None, metavar="DIR",
                   help="render a static Data Docs site into DIR after the "
                        "run (reads only the EVR store / result object — "
                        "O(partitions), never O(data))")
    args = p.parse_args(argv)
    if args.partition_col and not args.manifest:
        p.error("--partition-col needs --manifest: the resumable run "
                "commits each partition to its log")
    return args


def main(argv: list[str]) -> int:
    from great_expectations_spark import ExpectationSuite, SuiteRunner
    from great_expectations_spark.checkpoint import Checkpoint
    from great_expectations_spark.skew import build_session

    args = parse_args(argv)
    spark = build_session("gx-spark-run-suite")

    if args.format == "table":
        df = spark.read.table(args.table)
    else:
        df = getattr(spark.read, args.format)(args.table)

    from pyspark.sql import functions as F

    for spec in args.derive:
        name, _, expr = spec.partition("=")
        df = df.withColumn(name, F.expr(expr))

    with open(args.suite) as f:
        suite = ExpectationSuite.from_json(f.read())

    tables = {}
    for spec in args.dim:
        name, _, path = spec.partition("=")
        tables[name] = spark.read.parquet(path)

    index_cols = [c for c in args.index_cols.split(",") if c]
    run_id = args.run_id or f"run-{uuid.uuid4().hex[:12]}"

    if args.segment_col and args.partition_col:
        # flags of the ONE-SHOT segmented mode don't compose with the
        # checkpointed mode — refuse loudly instead of silently dropping
        # what the user asked for
        if args.segment_out:
            print("--segment-out belongs to the one-shot segmented mode; "
                  "the checkpointed mode's per-(partition × segment) EVR "
                  "rows live in --evr (read them back with "
                  "Checkpoint.merged_map_verdicts) — drop "
                  "--segment-out or drop --partition-col", file=sys.stderr)
            return 2
        if args.docs and not args.evr:
            print("--docs requires --evr (the segment report renders the "
                  "merged EVR store)", file=sys.stderr)
            return 2
        # checkpointed segmented mode: the suite runs once per segment
        # WITHIN each partition, per-(partition × segment) EVR rows land in
        # --evr (the same store whole-partition runs write, keyed by suite
        # hash and segment), and the manifest makes the run kill/resumable
        # at partition granularity
        ckpt = Checkpoint(
            spark,
            manifest_path=args.manifest,
            evr_path=args.evr,
            violations_path=args.violations,
            tables=tables,
            unexpected_index_column_names=index_cols,
        )
        res = ckpt.run(
            df, suite, run_id=run_id, partition_col=args.partition_col,
            segment_col=args.segment_col,
            segment_max_groups=args.segment_max_groups,
        )
        docs_index = None
        if args.docs:
            # segment report over the MERGED store (all partitions,
            # committed rows of this run's suite hash only) — resumable-mode
            # twin of the one-shot page; O(segments × expectations), never
            # O(data). An empty partition's whole-suite rows carry no
            # segment column and are labelled as such.
            import os

            from great_expectations_spark.docs import render_segments_html

            merged = [
                {
                    "group": (r["segment"] if r["segment_col"]
                              else "(whole suite)"),
                    "expectation_type": r["expectation_type"],
                    "success": r["all_partitions_success"],
                    "element_count": r["element_count"],
                    "missing_count": r["missing_count"],
                    "unexpected_count": r["unexpected_count"],
                    "observed_value": None,
                }
                for r in ckpt.merged_map_verdicts(res.suite_hash).collect()
            ]
            os.makedirs(args.docs, exist_ok=True)
            docs_index = os.path.join(args.docs, "segments.html")
            with open(docs_index, "w") as f:
                f.write(render_segments_html(
                    merged,
                    title=f"{suite.name} by {args.segment_col} "
                          f"(merged across partitions)",
                ))
        print(json.dumps({
            "run_id": run_id,
            "mode": "segmented-checkpoint",
            "partitions_validated": len(res.validated),
            "partitions_skipped": len(res.skipped),
            "segments_per_partition": {
                r.partition_id: r.segments for r in res.validated
            },
            "success": res.success,
            "manifest": args.manifest,
            "evr": args.evr,
            "docs_index": docs_index,
        }))
        return 0 if res.success else 1

    if args.segment_col:
        if args.evr or args.violations:
            print("--segment-col without --partition-col is the one-shot "
                  "mode: it writes per-segment EVR rows to --segment-out, "
                  "not the checkpoint stores — add --partition-col for the "
                  "resumable segmented checkpoint, or drop "
                  "--evr/--violations", file=sys.stderr)
            return 2
        from great_expectations_spark import validate_by_group

        seg = validate_by_group(
            df, suite, args.segment_col,
            max_groups=args.segment_max_groups,
        )
        # the result is already driver-local (validate_by_group collects
        # the grouped counters); collect once, then persist the same frame
        rows = seg.collect()
        if args.segment_out:
            seg.write.mode("overwrite").parquet(args.segment_out)
        n_seg = len({r["group"] for r in rows})
        failed = sorted({r["group"] for r in rows if not r["success"]})
        ok = not failed
        docs_index = None
        if args.docs:
            import os

            from great_expectations_spark.docs import render_segments_html

            os.makedirs(args.docs, exist_ok=True)
            docs_index = os.path.join(args.docs, "segments.html")
            with open(docs_index, "w") as f:
                f.write(render_segments_html(
                    rows, title=f"{suite.name} by {args.segment_col}"
                ))
        print(json.dumps({
            "run_id": run_id,
            "segments": n_seg,
            "evr_rows": len(rows),
            "failing_segments": failed[:100],
            "success": ok,
            "segment_out": args.segment_out,
            "docs_index": docs_index,
        }))
        return 0 if ok else 1

    if args.partition_col:
        if args.docs and not args.evr:
            # fail BEFORE validating the whole table, not after hours of
            # work (the segmented-checkpoint branch checks the same
            # precondition up front)
            print("--docs requires --evr (the site renders the EVR store)",
                  file=sys.stderr)
            return 2
        ckpt = Checkpoint(
            spark,
            manifest_path=args.manifest,
            evr_path=args.evr,
            violations_path=args.violations,
            tables=tables,
            unexpected_index_column_names=index_cols,
        )
        res = ckpt.run(df, suite, run_id=run_id, partition_col=args.partition_col)
        n_ok = sum(1 for r in res.validated if r.success)
        docs_index = None
        if args.docs:
            from great_expectations_spark.docs import build_data_docs

            docs_index = build_data_docs(ckpt, args.docs, suite=suite)
        print(json.dumps({
            "run_id": run_id,
            "partitions_validated": len(res.validated),
            "partitions_skipped": len(res.skipped),
            "partitions_passed": n_ok,
            "success": res.success,
            "docs_index": docs_index,
        }))
        return 0 if res.success else 1

    runner = SuiteRunner(
        spark, tables=tables,
        unexpected_index_column_names=index_cols,
        violations_path=args.violations,
    )
    result = runner.validate(df, suite)
    docs_index = None
    if args.docs:
        import os

        from great_expectations_spark.docs import (
            render_result_html,
            render_suite_html,
        )

        os.makedirs(args.docs, exist_ok=True)
        docs_index = os.path.join(args.docs, "index.html")
        with open(docs_index, "w") as f:
            f.write(render_result_html(result))
        with open(os.path.join(args.docs, "suite.html"), "w") as f:
            f.write(render_suite_html(suite))
    print(json.dumps({"run_id": run_id, "statistics": result.statistics,
                      "success": result.success, "docs_index": docs_index}))
    return 0 if result.success else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
