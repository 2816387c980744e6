"""Segmented validation — the runner's run loop, keyed by the segment.

``validate_by_group(df, suite, group_by)`` evaluates a suite once per
distinct value of ``group_by`` (per source, per language, per day, per
tenant) and returns a long-format DataFrame of per-segment results.

The reference can only express this as N filtered validation runs — N
full scans. Here it is one run of the loop ``SuiteRunner.validate`` runs
(``SuiteRunner._run``), over the caller's suite as written, with the
segment as the key of every pass where ``validate`` passes none: the pass
pool, every domain group's passes over ``df.filter(row_condition)``, the
violations sink and the release of cached relations are the runner's. So
a 10,000-segment quality report costs the same passes as a whole-table
run: the bundled pass, z-score's wave 2 over the per-segment wave-1 stats,
value counts, uniqueness, contiguity (the per-group stats keyed by
``(segment, *group_by)``) and the window pass (increasing/decreasing
windowed by ``(segment, *partition_by)``, an absent ``partition_by`` taken
from the index columns as ``SuiteRunner`` takes it, so lag never crosses a
segment boundary). What this module adds is the segment key column, the
``max_groups`` collect and what it builds from a check's pass values: one
:func:`store_row` per segment from the
:func:`~great_expectations_spark.runner.verdict` that gives ``SuiteRunner``
its counters, so an aggregate's ``element_count`` is its domain's row count
in both. The checkpoint stores the same rows.

One ``row_condition`` rule covers every kind: a segment with no rows inside
a group's ``row_condition`` gets no row for that group's expectations —
a filtered ``SuiteRunner`` batch never sees it either.

Side checks (``plan_suite``'s ``sides``: schema checks, Cramér's phi,
``exist_in``, row count vs another table, benchmark contamination,
repetition fractions and query checks) raise a ``ValueError`` naming the
first of them (``strict=False`` skips them) — each runs on its own over
its ``row_condition``'s batch, with no segment key, so a keyed run never
runs them; run them through ``SuiteRunner`` instead. The run does not
catch exceptions (``catch_exceptions=False``): an expectation that does
not compile raises, and so do a ``row_condition`` that does not resolve
and a failing pass (where ``SuiteRunner`` gives exception EVRs) — a
per-segment report has no exception column.

Violations sink: pass ``violations_path`` (plus
``unexpected_index_column_names``, dropping those ``df`` lacks) to append
every failing row as ``(group, <index cols…>, expectation,
observed_value)`` parquet rows — the runner's
:func:`~great_expectations_spark.runner.violation_frames` led by the
segment as ``group``, so a check writes rows only when some segment has
unexpected rows; nothing row-level ever reaches the driver.

Scale guard: the grouped counters collect to the driver for the
(Python) finalizers, so segment cardinality must be report-sized —
``max_groups`` (default 100k) hard-fails before an accidental
million-segment collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from great_expectations_spark.plans.planner import plan_suite
from great_expectations_spark.result import Verdict
from great_expectations_spark.runner import GroupPasses, SuiteRunner, verdict
from great_expectations_spark.suite import ExpectationSuite

RESULT_SCHEMA = (
    "group string, expectation_id string, expectation_type string, "
    "success boolean, element_count long, missing_count long, "
    "unexpected_count long, observed_value string"
)


def store_row(segment: str | None, eid: str, etype: str, v: Verdict) -> tuple:
    """One check's :data:`RESULT_SCHEMA` row from the verdict it was judged
    by — every ``validate_by_group`` row and every checkpoint store row. An
    aggregate's observed value is kept as text; None (an all-null domain)
    stays SQL NULL, not the string 'None'."""
    *counters, observed = v
    return (segment, eid, etype, *counters,
            None if observed is None else str(observed))


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
    id: the runner's run loop keyed by the segment, with no exception
    catching."""
    plan = plan_suite(suite)
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

    def segment_rows(compiled, passes: GroupPasses) -> list[tuple]:
        cfg = compiled.cfg
        return [store_row(g, cfg.id, cfg.expectation_type, verdict(compiled, vals))
                for (g,), vals in passes.values.items()]

    runner = SuiteRunner(
        df.sparkSession,
        unexpected_index_column_names=unexpected_index_column_names,
        violations_path=violations_path,
        catch_exceptions=False,
    )
    # the segment as a string key column: every pass runs keyed by it
    keyed = df.withColumn("__g", F.col(group_by).cast("string"))
    rows_of = runner._run(keyed, plan, ["__g"], segment_rows, capped_collect)
    # a side check skipped by strict=False has no rows
    return [row for c in plan.ordered for row in rows_of.get(c.cfg.id, ())]
