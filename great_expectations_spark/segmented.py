"""Segmented validation — the runner's plan, once per segment, in one run.

``validate_by_group(df, suite, group_by)`` evaluates a suite once per
distinct value of ``group_by`` (per source, per language, per day, per
tenant) and returns a long-format DataFrame of per-segment results.

The reference can only express this as N filtered validation runs — N
full scans. Here it is the plan ``SuiteRunner`` runs: ``plan_suite``
groups the suite into domain groups (one per distinct ``row_condition``),
and every pass of a group runs over ``df.filter(row_condition)`` with the
segment column in front — a ``groupBy(segment)`` where the runner
aggregates the whole frame — so a 10,000-segment quality report costs the
same passes as a single-segment one:

- **bundled pass** — the group's ``bundle_exprs()``: the shared
  ``element_count``, every map counter and every aggregate metric
  (duplicates computed once), plus the wave-1 stats of two-wave conditions;
- **wave 2** — two-wave conditions (z-score) rebuilt through
  ``rebuild_expr`` over their segment's wave-1 stats, broadcast-joined back
  onto the batch, all counted in one second groupBy;
- **value counts** — one keyed pass per value-counts column
  (most_common_value: modes-with-ties via a broadcast max-join, never a
  per-segment collect_list of every distinct value);
- **uniqueness** — one keyed pass per uniqueness expectation;
- **window** — one pass per group: increasing/decreasing windowed by
  ``(segment, *partition_by)`` through the runner's own
  :func:`~great_expectations_spark.plans.planner.monotone_windows`
  rewrite, so lag never crosses a segment boundary.

Every aggregate finishes through its metric's ``finalize`` over its
segment's values, as in the runner.

One ``row_condition`` rule covers every kind: a segment with no rows inside
a group's ``row_condition`` gets no row for that group's expectations —
a filtered ``SuiteRunner`` batch never sees it either.

Relational, query, and meta kinds raise a ``ValueError`` naming the
offender (``strict=False`` skips them) — their semantics need their
own pass; run them through ``SuiteRunner`` instead. An expectation that
does not compile raises.

Violations sink: pass ``violations_path`` (plus
``unexpected_index_column_names``) to append every failing row as
``(group, <index cols…>, expectation, observed_value)`` parquet rows —
the runner's violation projections with a leading ``group`` column;
nothing row-level ever reaches the driver.

Scale guard: the grouped counters collect to the driver for the
(Python) finalizers, so segment cardinality must be report-sized —
``max_groups`` (default 100k) hard-fails before an accidental
million-segment collect.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from great_expectations_spark.functions.aggregates import safe_alias
from great_expectations_spark.plans.planner import (
    DomainGroup,
    monotone_windows,
    plan_suite,
)
from great_expectations_spark.registry import CompiledAgg
from great_expectations_spark.result import calc_map_success
from great_expectations_spark.runner import (
    _row_value,
    map_violations,
    unique_missing,
    unique_violations,
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
    order (one per expectation and segment). The plan is built from the
    window-rewritten suite, whose configs (and ids) differ from the
    caller's; every row carries the caller's id, mapped back by suite
    position."""
    index_cols = [
        c for c in (unexpected_index_column_names or []) if c in df.columns
    ]
    plan = plan_suite(monotone_windows(suite, index_cols, segment_col=group_by))
    if plan.broken:
        raise plan.broken[0][1]
    if strict:
        for kind, compiled in plan.ordered:
            if kind in ("meta", "relational", "query"):
                raise ValueError(
                    f"{compiled.cfg.expectation_type} is not segmentable "
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

    seg = F.col(group_by).cast("string")
    frames: list[DataFrame] | None = [] if violations_path else None
    # compiled expectation → its group's {segment: {alias: value}}
    values_of: dict[int, dict[Any, dict[str, Any]]] = {}
    to_unpersist: list[DataFrame] = []
    # every persisted relation is released even when a pass raises
    # (max_groups overflow, a failing violations write): a checkpointed
    # per-partition loop must not accumulate CacheManager entries
    try:
        for group in plan.groups:
            gdf = (
                df.filter(F.expr(group.row_condition))
                if group.row_condition else df
            )
            values = _run_group(
                group, gdf, seg, capped_collect, frames, index_cols,
                to_unpersist,
            )
            for compiled in (group.maps + group.window_maps
                             + group.dependent_maps + group.aggs
                             + group.uniques):
                values_of[id(compiled)] = values

        if frames:
            vout = frames[0]
            for vf in frames[1:]:
                vout = vout.unionByName(vf)
            vout.write.mode("append").partitionBy("expectation").parquet(
                violations_path
            )
    finally:
        for rel in to_unpersist:
            rel.unpersist()

    out: list[tuple] = []
    for (_kind, compiled), cfg in zip(plan.ordered, suite):
        if id(compiled) not in values_of:
            continue  # a meta/relational/query kind skipped by strict=False
        for g, vals in values_of[id(compiled)].items():
            ec = int(vals.get("element_count") or 0)
            if isinstance(compiled, CompiledAgg):
                observed = compiled.metric.finalize(vals)
                ok, _extra = compiled.validate(observed)
                missing = unexpected = 0
                # NULL observed (all-null segment) stays SQL NULL — the
                # string 'None' would render as text in the docs page
                observed = str(observed) if observed is not None else None
            else:
                missing = int(vals.get(f"nc__{compiled.cfg.id}") or 0)
                unexpected = int(vals.get(f"uc__{compiled.cfg.id}") or 0)
                ok = calc_map_success(ec, missing, unexpected, compiled.mostly)
                observed = None
            out.append((g, cfg.id, cfg.expectation_type, bool(ok), ec,
                        missing, unexpected, observed))
    return out


def _run_group(
    group: DomainGroup,
    gdf: DataFrame,
    seg: F.Column,
    capped_collect,
    frames: list[DataFrame] | None,
    index_cols: list[str],
    to_unpersist: list[DataFrame],
) -> dict[Any, dict[str, Any]]:
    """One domain group's passes, each keyed by segment. Returns
    ``{segment: {alias: value}}`` under the runner's aliases
    (``element_count``, ``nc__<id>``, ``uc__<id>``, metric aliases). The
    uniqueness and window passes count ``element_count`` themselves, so a
    group without a bundled pass still reports it for every segment."""
    values: dict[Any, dict[str, Any]] = {}

    def merge(rows: list) -> None:
        for r in rows:
            d = r.asDict()
            values.setdefault(d.pop("__g"), {}).update(
                {k: _row_value(v) for k, v in d.items()}
            )

    if group.maps or group.aggs or group.dependent_maps:
        bundled = gdf.groupBy(seg.alias("__g")).agg(
            *[e.alias(a) for a, e in group.bundle_exprs().items()]
        )
        if group.dependent_maps:
            # wave 2 reads the same per-segment stats the collect below
            # reads — persist so the aggregation runs once
            bundled = bundled.persist(StorageLevel.MEMORY_AND_DISK)
            to_unpersist.append(bundled)
        merge(capped_collect(bundled))

        if group.dependent_maps:
            deps = dict.fromkeys(
                a for cm in group.dependent_maps for a in cm.condition.requires
            )
            joined = gdf.select(seg.alias("__seg"), "*").join(
                F.broadcast(bundled.select(
                    F.col("__g").alias("__dg"), *[F.col(a) for a in deps]
                )),
                on=F.col("__seg").eqNullSafe(F.col("__dg")),
                how="left",
            )
            conds = {
                cm.cfg.id: cm.condition.rebuild_expr(
                    {a: F.col(a) for a in cm.condition.requires}
                )
                for cm in group.dependent_maps
            }
            merge(capped_collect(
                joined.groupBy(F.col("__seg").alias("__g")).agg(*[
                    F.sum(F.when(c.unexpected, 1).otherwise(0))
                    .alias(f"uc__{eid}")
                    for eid, c in conds.items()
                ])
            ))
            if frames is not None:
                frames.extend(
                    map_violations(cm.cfg.expectation_type,
                                   conds[cm.cfg.id], joined, index_cols,
                                   segment=F.col("__seg"))
                    for cm in group.dependent_maps
                )
        if frames is not None:
            frames.extend(
                map_violations(cm.cfg.expectation_type, cm.condition, gdf,
                               index_cols, segment=seg)
                for cm in group.maps
            )

    for col in group.value_counts_columns:
        alias = safe_alias("most_common", col)
        vc = (
            gdf.filter(F.col(col).isNotNull())
            .groupBy(seg.alias("__g"), F.col(col).alias("__v"))
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            mx = vc.groupBy(F.col("__g").alias("__gm")).agg(
                F.max("__cnt").alias("__mx")
            )
            merge(capped_collect(
                vc.join(
                    F.broadcast(mx),
                    on=F.col("__g").eqNullSafe(F.col("__gm"))
                    & (F.col("__cnt") == F.col("__mx")),
                )
                .groupBy("__g")
                .agg(F.sort_array(F.collect_list("__v")).alias(alias))
            ))
        finally:
            vc.unpersist()
        # a segment whose column is entirely NULL has no value counts —
        # [] mirrors the runner's mode_job empty result
        for vals in values.values():
            vals.setdefault(alias, [])

    for cu in group.uniques:
        per_key = (
            gdf.groupBy(seg.alias("__g"), unique_missing(cu).alias("__miss"),
                        *[F.col(c) for c in cu.key_cols])
            .agg(F.count(F.lit(1)).alias("__cnt"))
        )
        if frames is not None:
            # the violations join reads the same keyed counts as the
            # per-segment rollup below — persist so the shuffle runs once
            per_key = per_key.persist(StorageLevel.MEMORY_AND_DISK)
            to_unpersist.append(per_key)
        dup = ~F.col("__miss") & (F.col("__cnt") > 1)
        merge(capped_collect(per_key.groupBy("__g").agg(
            F.sum("__cnt").alias("element_count"),
            F.sum(F.when(F.col("__miss"), F.col("__cnt")).otherwise(0))
            .alias(f"nc__{cu.cfg.id}"),
            F.sum(F.when(dup, F.col("__cnt")).otherwise(0))
            .alias(f"uc__{cu.cfg.id}"),
        )))
        if frames is not None:
            frames.append(unique_violations(
                cu, gdf.select(seg.alias("__g"), "*"),
                per_key.filter(dup), index_cols, segment="__g",
            ))

    if group.window_maps:
        flags: dict[str, F.Column] = {}
        for cm in group.window_maps:
            flags[f"nc__{cm.cfg.id}"] = cm.condition.missing.cast("int")
            flags[f"uc__{cm.cfg.id}"] = cm.condition.unexpected.cast("int")
        merge(capped_collect(
            gdf.select(seg.alias("__g"),
                       *[e.alias(a) for a, e in flags.items()])
            .groupBy("__g")
            .agg(F.count(F.lit(1)).alias("element_count"),
                 *[F.sum(a).alias(a) for a in flags])
        ))
        if frames is not None:
            frames.extend(
                map_violations(cm.cfg.expectation_type, cm.condition, gdf,
                               index_cols, segment=seg)
                for cm in group.window_maps
            )
    return values
