"""Segmented validation — the runner's plan, once per segment, in one run.

``validate_by_group(df, suite, group_by)`` evaluates a suite once per
distinct value of ``group_by`` (per source, per language, per day, per
tenant) and returns a long-format DataFrame of per-segment results.

The reference can only express this as N filtered validation runs — N
full scans. Here it is the plan ``SuiteRunner`` runs, through the
runner's own passes: ``plan_suite`` groups the suite into domain groups
(one per distinct ``row_condition``), and
:func:`~great_expectations_spark.runner.run_passes` runs every group over
``df.filter(row_condition)`` with the segment as its key — where the
runner passes no key at all — so a 10,000-segment quality report costs the
same passes as a whole-table run: the bundled pass, z-score's wave 2 over
the per-segment wave-1 stats, value counts, uniqueness, contiguity (the
per-group stats keyed by ``(segment, *group_by)``) and the window pass
(increasing/decreasing windowed by ``(segment, *partition_by)``, an absent
``partition_by`` taken from ``unexpected_index_column_names`` as the runner
takes it, so lag never crosses a segment boundary). The plan is the
caller's suite as written, the one ``SuiteRunner`` runs. Finishing lives in
:func:`~great_expectations_spark.runner.verdict`, the function that gives
``SuiteRunner`` its counters: each segment's row is that verdict over the
segment's values, so an aggregate's ``element_count`` is its domain's row
count in both executors.

One ``row_condition`` rule covers every kind: a segment with no rows inside
a group's ``row_condition`` gets no row for that group's expectations —
a filtered ``SuiteRunner`` batch never sees it either.

Side checks (``plan_suite``'s ``sides``: schema checks, Cramér's phi,
``exist_in``, row count vs another table, benchmark contamination,
repetition fractions and query checks) raise a ``ValueError`` naming the
first of them (``strict=False`` skips them) — each runs on its own over
its ``row_condition``'s batch, with no segment key; run them through
``SuiteRunner`` instead. An expectation that does not compile raises, and
so does a ``row_condition`` that does not resolve (where ``SuiteRunner``
gives that group's checks exception EVRs): a per-segment report has no
exception column.

Violations sink: pass ``violations_path`` (plus
``unexpected_index_column_names``) to append every failing row as
``(group, <index cols…>, expectation, observed_value)`` parquet rows —
the runner's :func:`~great_expectations_spark.runner.violation_frames`
with a leading ``group`` column, so a check writes rows only when some
segment has unexpected rows; nothing row-level ever reaches the driver.

Scale guard: the grouped counters collect to the driver for the
(Python) finalizers, so segment cardinality must be report-sized —
``max_groups`` (default 100k) hard-fails before an accidental
million-segment collect.
"""

from __future__ import annotations

from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, functions as F

from great_expectations_spark.plans.planner import plan_suite
from great_expectations_spark.runner import (
    GroupPasses,
    SparkThreadPool,
    domain,
    run_passes,
    verdict,
    violation_frames,
)
from great_expectations_spark.suite import ExpectationSuite

RESULT_SCHEMA = (
    "group string, expectation_id string, expectation_type string, "
    "success boolean, element_count long, missing_count long, "
    "unexpected_count long, observed_value string"
)


def validate_by_group(
    df: DataFrame,
    suite: ExpectationSuite,
    group_by: str,
    strict: bool = True,
    max_groups: int = 100_000,
    violations_path: str | None = None,
    unexpected_index_column_names: list[str] | None = None,
) -> DataFrame:
    """Per-segment EVR rows ``(group, expectation_id, expectation_type,
    success, element_count, missing_count, unexpected_count,
    observed_value)``; ``expectation_id`` is the suite config's ``id``.

    NULL segment values validate as their own group (the ``group``
    column of the result is genuinely NULL for them — no string
    sentinel, so a data value that happens to be the string "NULL"
    stays a separate segment)."""
    return df.sparkSession.createDataFrame(
        _validate_rows(
            df, suite, group_by, strict=strict,
            max_groups=max_groups,
            violations_path=violations_path,
            unexpected_index_column_names=unexpected_index_column_names,
        ),
        RESULT_SCHEMA,
    )


def _validate_rows(
    df: DataFrame,
    suite: ExpectationSuite,
    group_by: str,
    strict: bool,
    max_groups: int,
    violations_path: str | None,
    unexpected_index_column_names: list[str] | None,
) -> list[tuple]:
    """validate_by_group's engine, returning the driver-local rows in suite
    order (one per expectation and segment), each carrying its config's
    id. Every pass runs keyed by the segment, window passes included."""
    index_cols = [
        c for c in (unexpected_index_column_names or []) if c in df.columns
    ]
    plan = plan_suite(suite)
    if plan.broken:
        raise plan.broken[0][1]
    if strict and plan.sides:
        raise ValueError(
            f"{plan.sides[0].cfg.expectation_type} is not segmentable "
            "(relational/query/meta kinds need their own pass); "
            "run it via SuiteRunner or pass strict=False to skip"
        )

    def capped_collect(rel: DataFrame) -> list:
        # ONE job: limit caps what ever reaches the driver, the +1 row
        # turns "too many segments" into an error instead of a silent
        # truncation of the report
        rows = rel.limit(max_groups + 1).collect()
        if len(rows) > max_groups:
            raise ValueError(
                f"group_by={group_by!r} exceeds max_groups={max_groups}; "
                "a report over that many segments should stay distributed "
                "(plain groupBy aggregations), not collect per-segment EVRs"
            )
        return rows

    # the segment as a string key column: every pass runs keyed by it
    keyed = df.withColumn("__g", F.col(group_by).cast("string"))
    frames: list[DataFrame] = []
    # compiled expectation → its group's {(segment,): {alias: value}}
    values_of: dict[int, dict[tuple, dict[str, Any]]] = {}
    done: list[GroupPasses] = []
    # every cached relation is released even when a pass raises (max_groups
    # overflow, a failing violations write): a checkpointed per-partition
    # loop must not accumulate CacheManager entries
    try:
        with SparkThreadPool(df.sparkSession) as pool:
            for group in plan.groups:
                gdf = domain(keyed, group.row_condition)
                passes = run_passes(group, gdf, ["__g"], pool, capped_collect,
                                    index_cols)
                done.append(passes)
                for compiled in group.checks:
                    values_of[id(compiled)] = passes.values
                if violations_path:
                    frames += violation_frames(
                        group, passes, index_cols, segment="__g"
                    )

        if frames:
            reduce(DataFrame.unionByName, frames).write.mode(
                "append"
            ).partitionBy("expectation").parquet(violations_path)
    finally:
        for passes in done:
            passes.release()

    out: list[tuple] = []
    for compiled in plan.ordered:
        if id(compiled) not in values_of:
            continue  # a side check skipped by strict=False
        for (g,), vals in values_of[id(compiled)].items():
            *counters, observed = verdict(compiled, vals)
            # an aggregate's observed value as text; NULL (all-null
            # segment) stays SQL NULL, not the string 'None'
            out.append((g, compiled.cfg.id, compiled.cfg.expectation_type,
                        *counters,
                        None if observed is None else str(observed)))
    return out
