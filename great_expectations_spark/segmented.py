"""Segmented validation — per-group EVRs from ONE bundled pass.

``validate_by_group(df, suite, group_by)`` evaluates a suite once per
distinct value of ``group_by`` (per source, per language, per day, per
tenant) and returns a long-format DataFrame of per-segment results.

The reference can only express this as N filtered validation runs — N
full scans. Spark-first, it is ONE ``groupBy(group).agg(...)`` carrying
every map counter and aggregate metric of the suite (plus one extra
keyed pass per uniqueness expectation), so a 10,000-segment quality
report costs the same scan count as a single-segment one.

Supported expectation kinds: map conditions (not-null/in-set/between/
regex/PII/... — ``row_condition`` is honored by folding the condition
into the per-segment counters), two-wave map conditions (z-score:
wave 1 computes per-segment mean/stddev inside the same bundled
groupBy, wave 2 broadcast-joins the tiny per-segment stats back onto
the batch and counts — two shuffles total, still one scan per wave,
for every segment at once), scalar aggregates (mean/stddev/min/max/
sum/median/row-count/correlation bounds), value-counts-backed
aggregates (most_common_value — one shared keyed pass per distinct
column, modes-with-ties via a broadcast max-join, never a per-segment
collect_list of all distinct values), single/compound uniqueness, and
window-backed conditions (increasing/decreasing: the condition is
recompiled with the segment column PREPENDED to its window keys, so
one window pass + one groupBy covers every segment at once — the
filtered-run semantics of "validate each segment separately" without
N scans; a user ``partition_by=None`` global window becomes a
per-segment window, which is exactly what a per-segment run computes).

``row_condition`` on aggregates, uniqueness, and two-wave conditions
runs as ONE extra bundled sub-pass per DISTINCT ``row_condition``
(mirroring ``SuiteRunner``'s domain groups, which evaluate over
``df.filter(row_condition)``): k distinct conditions cost k+1 scans
for ALL segments, vs. the reference's (segments × conditions) filtered
runs. Rows for those expectations appear only for segments with at
least one row inside the ``row_condition`` domain — a segment entirely
outside the domain has no EVR row, the same way a filtered
``SuiteRunner`` batch never sees it.

Relational, query, and meta kinds raise a ``ValueError`` naming the
offender (``strict=False`` skips them) — their semantics need their
own pass; run them through ``SuiteRunner`` instead.

Violations sink: pass ``violations_path`` (plus
``unexpected_index_column_names``) to append every failing row as
``(group, <index cols…>, expectation, observed_value)`` parquet rows —
the same executor-side write path ``SuiteRunner`` uses; nothing
row-level ever reaches the driver.

Scale guard: the grouped counters collect to the driver for the
(Python) finalizers, so segment cardinality must be report-sized —
``max_groups`` (default 100k) hard-fails before an accidental
million-segment collect.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, functions as F

from great_expectations_spark.registry import (
    CompiledAgg,
    CompiledMap,
    CompiledUnique,
    compile_expectation,
)
from great_expectations_spark.result import calc_map_success
from great_expectations_spark.suite import (
    ExpectationConfiguration,
    ExpectationSuite,
)

RESULT_SCHEMA = (
    "group string, expectation_id string, expectation_type string, "
    "success boolean, element_count long, missing_count long, "
    "unexpected_count long, observed_value string"
)


def _window_recompiled(
    cfg: ExpectationConfiguration, group_by: str, index_cols: list[str]
) -> ExpectationConfiguration:
    """A window-backed config re-keyed per segment: the segment column is
    PREPENDED to ``partition_by``, so lag/lead never crosses a segment
    boundary — windowing the full frame by ``(segment, *keys)`` computes
    exactly what a per-segment filtered run windowed by ``keys`` would.

    Mirrors ``SuiteRunner._default_monotone_windows``: an absent
    ``partition_by`` defaults to the caller's index columns (minus the
    target column); an explicit ``partition_by=None`` — the runner's
    scale-hazardous GLOBAL window — becomes the per-segment window here,
    which is precisely the global window of each segment's filtered run.
    ``row_condition`` is dropped from the kwargs because the window pass
    applies it by filtering its base frame (SuiteRunner domain-group
    semantics: the window only ever sees in-domain rows)."""
    kw = {k: v for k, v in cfg.kwargs.items() if k != "row_condition"}
    if "partition_by" not in kw:
        keys = [c for c in index_cols if c != kw.get("column")]
        kw["partition_by"] = keys or None
    pb = kw["partition_by"]
    keys = [pb] if isinstance(pb, str) else list(pb or [])
    kw["partition_by"] = [group_by] + [k for k in keys if k != group_by]
    return ExpectationConfiguration(
        expectation_type=cfg.expectation_type, kwargs=kw, meta=cfg.meta
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
            df, [(cfg.id, cfg) for cfg in suite], group_by, strict=strict,
            max_groups=max_groups,
            violations_path=violations_path,
            unexpected_index_column_names=unexpected_index_column_names,
        ),
        RESULT_SCHEMA,
    )


def _validate_rows(
    df: DataFrame,
    expectations: list[tuple[str, ExpectationConfiguration]],
    group_by: str,
    strict: bool,
    max_groups: int,
    violations_path: str | None,
    unexpected_index_column_names: list[str] | None,
) -> list[tuple]:
    """validate_by_group's engine over ``(expectation_id, config)`` pairs,
    returning the driver-local counter rows directly — the rc sub-pass
    recurses HERE so its rows fold in without a needless createDataFrame +
    collect round-trip per distinct row_condition. Every row carries the
    id it was given, so configs rebuilt below (rc stripped, windows
    re-keyed) still report the caller's expectation id."""
    maps: list[tuple[int, CompiledMap, str | None]] = []
    dep_maps: list[tuple[int, CompiledMap]] = []
    aggs: list[tuple[int, CompiledAgg]] = []
    vc_aggs: list[tuple[int, CompiledAgg, str]] = []
    uniqs: list[tuple[int, CompiledUnique]] = []
    win_maps: list[tuple[int, Any, CompiledMap, str | None]] = []
    rc_deferred: dict[str, list[tuple[str, ExpectationConfiguration]]] = {}
    ids = [eid for eid, _cfg in expectations]

    def _reject(cfg, why: str) -> None:
        if strict:
            raise ValueError(
                f"{cfg.expectation_type} is not segmentable ({why}); "
                "run it via SuiteRunner or pass strict=False to skip"
            )

    for i, (eid, cfg) in enumerate(expectations):
        comp = compile_expectation(cfg)
        rc = cfg.kwargs.get("row_condition")
        if isinstance(comp, CompiledMap) and comp.condition.needs_window:
            # re-windowed per segment below; row_condition shrinks the
            # window pass's base frame exactly as SuiteRunner's domain
            # groups do
            win_maps.append((i, cfg, comp, rc))
        elif isinstance(comp, CompiledMap) and comp.condition.requires:
            if comp.condition.rebuild_expr is None:
                _reject(cfg, "its two-wave condition has no column-deps "
                             "form (rebuild_expr)")
            elif rc is not None:
                rc_deferred.setdefault(rc, []).append((eid, cfg))
            else:
                dep_maps.append((i, comp))
        elif isinstance(comp, CompiledMap):
            maps.append((i, comp, rc))
        elif isinstance(comp, CompiledAgg):
            vc_col = getattr(comp.metric, "groupby_value_counts", None)
            if rc is not None:
                rc_deferred.setdefault(rc, []).append((eid, cfg))
            elif vc_col is not None:
                vc_aggs.append((i, comp, vc_col))
            elif not comp.metric.exprs:
                _reject(cfg, "its metric has no bundled exprs and no "
                             "value-counts column")
            else:
                aggs.append((i, comp))
        elif isinstance(comp, CompiledUnique):
            if rc is not None:
                rc_deferred.setdefault(rc, []).append((eid, cfg))
            else:
                uniqs.append((i, comp))
        else:
            _reject(cfg, "relational/query/meta kinds need their own pass")

    gcol = F.col(group_by).cast("string")
    out: list[tuple] = []
    index_cols = [
        c for c in (unexpected_index_column_names or []) if c in df.columns
    ]
    violation_frames: list[DataFrame] = []

    def _viol_frame(seg: F.Column, src: DataFrame, cond, dom,
                    expectation_type: str) -> DataFrame:
        # same executor-side shape SuiteRunner._map_violations writes:
        # project the condition, filter, never collect
        return (
            src.select(
                seg.alias("group"),
                *[F.col(c) for c in index_cols],
                cond.observed.cast("string").alias("observed_value"),
                (dom & cond.unexpected).alias("__unexpected"),
            )
            .filter(F.col("__unexpected"))
            .select(
                "group", *index_cols,
                F.lit(expectation_type).alias("expectation"),
                "observed_value",
            )
        )

    # ---- ONE bundled pass: every map counter + every agg metric + the
    # wave-1 deps (per-segment mean/stddev) of every two-wave condition ----
    exprs: list[F.Column] = [F.count(F.lit(1)).alias("__ec")]
    for i, cm, rc in maps:
        c = cm.condition
        dom = F.expr(rc) if rc is not None else F.lit(True)
        if rc is not None:
            # row_condition shrinks the domain exactly as SuiteRunner's
            # df.filter(row_condition) does — per-expectation counters
            exprs.append(F.sum(F.when(dom, 1).otherwise(0)).alias(f"e_{i}"))
        exprs.append(
            F.sum(F.when(dom & c.missing, 1).otherwise(0)).alias(f"m_{i}")
        )
        exprs.append(
            F.sum(F.when(dom & c.unexpected, 1).otherwise(0)).alias(f"u_{i}")
        )
    for i, cm in dep_maps:
        # missing is dep-free, so it rides wave 1 with the dep aggregates
        exprs.append(
            F.sum(F.when(cm.condition.missing, 1).otherwise(0))
            .alias(f"m_{i}")
        )
        for alias, e in cm.condition.requires.items():
            exprs.append(e.alias(f"d{i}_{alias}"))
    for i, ca in aggs:
        for alias, e in ca.metric.exprs.items():
            exprs.append(e.alias(f"a{i}_{alias}"))
    def _capped_collect(rel: DataFrame) -> list:
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

    from pyspark.storagelevel import StorageLevel

    to_unpersist: list[DataFrame] = []
    # every persisted relation is released even when a pass raises
    # (max_groups overflow, a failing violations write): a checkpointed
    # per-partition loop must not accumulate CacheManager entries
    try:
        ec_by_g: dict[Any, int] = {}
        if maps or aggs or dep_maps or vc_aggs:
            grouped = df.groupBy(gcol.alias("__g")).agg(*exprs)
            if dep_maps:
                # wave 2 reads the same per-segment stats the collect below
                # reads — persist so the aggregation runs once
                grouped = grouped.persist(StorageLevel.MEMORY_AND_DISK)
                to_unpersist.append(grouped)
            wave1_rows = _capped_collect(grouped)
            for row in wave1_rows:
                ec_by_g[row["__g"]] = int(row["__ec"])

            # ---- wave 2: every two-wave condition rebuilt with its segment's
            # deps as COLUMNS (per-segment stats broadcast-joined back onto the
            # batch), all counted in ONE second groupBy — two shuffles total
            # for any number of z-score expectations × segments ---------------
            w2_by_g: dict[Any, Any] = {}
            if dep_maps:
                dep_cols = [F.col("__g").alias("__dg")]
                for i, cm in dep_maps:
                    dep_cols.extend(
                        F.col(f"d{i}_{alias}") for alias in cm.condition.requires
                    )
                deps_rel = grouped.select(*dep_cols)
                base = df.select(gcol.alias("__seg"), "*")
                joined = base.join(
                    F.broadcast(deps_rel),
                    on=F.col("__seg").eqNullSafe(F.col("__dg")),
                    how="left",
                )
                w2_exprs = []
                dep_conds: dict[int, Any] = {}
                for i, cm in dep_maps:
                    cond = cm.condition.rebuild_expr({
                        alias: F.col(f"d{i}_{alias}")
                        for alias in cm.condition.requires
                    })
                    dep_conds[i] = cond
                    w2_exprs.append(
                        F.sum(F.when(cond.unexpected, 1).otherwise(0))
                        .alias(f"u_{i}")
                    )
                wave2 = joined.groupBy(F.col("__seg").alias("__g")).agg(*w2_exprs)
                for row in _capped_collect(wave2):
                    w2_by_g[row["__g"]] = row
                if violations_path:
                    for i, cm in dep_maps:
                        violation_frames.append(_viol_frame(
                            F.col("__seg"), joined, dep_conds[i], F.lit(True),
                            cm.cfg.expectation_type,
                        ))

            for row in wave1_rows:
                g = row["__g"]
                ec = int(row["__ec"])
                for i, cm, rc in maps:
                    ec_i = int(row[f"e_{i}"]) if rc is not None else ec
                    missing, unexpected = int(row[f"m_{i}"]), int(row[f"u_{i}"])
                    ok = calc_map_success(ec_i, missing, unexpected, cm.mostly)
                    out.append((
                        g, ids[i], cm.cfg.expectation_type, bool(ok),
                        ec_i, missing, unexpected, None,
                    ))
                for i, cm in dep_maps:
                    missing = int(row[f"m_{i}"])
                    w2 = w2_by_g.get(g)
                    unexpected = int(w2[f"u_{i}"]) if w2 is not None else 0
                    ok = calc_map_success(ec, missing, unexpected, cm.mostly)
                    out.append((
                        g, ids[i], cm.cfg.expectation_type, bool(ok),
                        ec, missing, unexpected, None,
                    ))
                for i, ca in aggs:
                    values = {
                        alias: row[f"a{i}_{alias}"] for alias in ca.metric.exprs
                    }
                    observed = ca.metric.finalize(values)
                    ok, _extra = ca.validate(observed)
                    out.append((
                        g, ids[i], ca.cfg.expectation_type, bool(ok),
                        ec, 0, 0,
                        # NULL observed (all-null segment) stays SQL NULL — the
                        # string 'None' would render as text in the docs page
                        str(observed) if observed is not None else None,
                    ))

            if violations_path:
                for i, cm, rc in maps:
                    dom = F.expr(rc) if rc is not None else F.lit(True)
                    violation_frames.append(_viol_frame(
                        gcol, df, cm.condition, dom, cm.cfg.expectation_type
                    ))

        # ---- one shared keyed pass per distinct value-counts column ---------
        if vc_aggs:
            modes_by_col: dict[str, dict[Any, list]] = {}
            for col in {c for _, _, c in vc_aggs}:
                vc = (
                    df.filter(F.col(col).isNotNull())
                    .groupBy(gcol.alias("__g"), F.col(col).alias("__v"))
                    .agg(F.count(F.lit(1)).alias("__cnt"))
                    .persist(StorageLevel.MEMORY_AND_DISK)
                )
                try:
                    # modes-with-ties: per-segment max joined back (broadcast —
                    # ≤max_groups tiny rows), never a collect_list of every
                    # distinct value a segment holds
                    mx = vc.groupBy(F.col("__g").alias("__gm")).agg(
                        F.max("__cnt").alias("__mx")
                    )
                    modes = (
                        vc.join(
                            F.broadcast(mx),
                            on=F.col("__g").eqNullSafe(F.col("__gm"))
                            & (F.col("__cnt") == F.col("__mx")),
                        )
                        .groupBy("__g")
                        .agg(F.sort_array(F.collect_list("__v")).alias("__modes"))
                    )
                    modes_by_col[col] = {
                        r["__g"]: list(r["__modes"])
                        for r in _capped_collect(modes)
                    }
                finally:
                    vc.unpersist()
            for i, ca, col in vc_aggs:
                by_g = modes_by_col[col]
                # a segment whose column is entirely NULL has no value counts —
                # observed [] mirrors the runner's mode_job empty result
                for g, ec in ec_by_g.items():
                    observed = by_g.get(g, [])
                    ok, _extra = ca.validate(observed)
                    out.append((
                        g, ids[i], ca.cfg.expectation_type, bool(ok),
                        ec, 0, 0, str(observed),
                    ))

        # ---- one keyed pass per uniqueness expectation -----------------------
        for i, cu in uniqs:
            keys = [F.col(c) for c in cu.key_cols]
            # match SuiteRunner's compound domain: missing only when ALL key
            # columns are null (ignore_row_if=all_values_are_missing default);
            # a partially-null key still participates in uniqueness
            missing_row = keys[0].isNull()
            for k in keys[1:]:
                missing_row = missing_row & k.isNull()
            per_key = (
                df.select(
                    gcol.alias("__g"),
                    missing_row.alias("__miss"),
                    *[k.alias(f"__k{j}") for j, k in enumerate(keys)],
                )
                .groupBy("__g", "__miss", *[f"__k{j}" for j in range(len(keys))])
                .agg(F.count(F.lit(1)).alias("__cnt"))
            )
            if violations_path:
                # the violations join reads the same keyed counts as the
                # per-segment rollup below — persist so the shuffle runs once
                per_key = per_key.persist(StorageLevel.MEMORY_AND_DISK)
                to_unpersist.append(per_key)
            seg = per_key.groupBy("__g").agg(
                F.sum("__cnt").alias("__ec"),
                F.sum(F.when(F.col("__miss"), F.col("__cnt")).otherwise(0))
                .alias("__missing"),
                F.sum(
                    F.when(~F.col("__miss") & (F.col("__cnt") > 1), F.col("__cnt"))
                    .otherwise(0)
                ).alias("__ux"),
            )
            for row in _capped_collect(seg):
                ec, missing = int(row["__ec"]), int(row["__missing"] or 0)
                ux = int(row["__ux"] or 0)
                ok = calc_map_success(ec, missing, ux, cu.mostly)
                out.append((
                    row["__g"], ids[i], cu.cfg.expectation_type, bool(ok),
                    ec, missing, ux, None,
                ))
            if violations_path:
                # ALL rows of a key duplicated WITHIN its segment (SuiteRunner
                # row-marking parity), via a semi-join against the dup keys
                dup_keys = per_key.filter(
                    ~F.col("__miss") & (F.col("__cnt") > 1)
                ).select("__g", *[f"__k{j}" for j in range(len(keys))])
                jc = F.col("__seg").eqNullSafe(F.col("__g"))
                for j, kname in enumerate(cu.key_cols):
                    jc = jc & F.col(kname).eqNullSafe(F.col(f"__k{j}"))
                violation_frames.append(
                    df.select(gcol.alias("__seg"), "*")
                    .join(dup_keys, on=jc, how="left_semi")
                    .select(
                        F.col("__seg").alias("group"),
                        *[F.col(c) for c in index_cols],
                        F.lit(cu.cfg.expectation_type).alias("expectation"),
                        F.concat_ws(
                            "|", *[F.col(c).cast("string") for c in cu.key_cols]
                        ).alias("observed_value"),
                    )
                )

        # ---- one window pass per distinct row_condition: monotone conditions
        # recompiled with the segment prepended to their window keys, then ONE
        # groupBy(segment) over the flag columns — every segment in one job ----
        if win_maps:
            by_rc: dict[str | None, list[tuple[int, Any, CompiledMap]]] = {}
            for i, cfg, comp, rc in win_maps:
                by_rc.setdefault(rc, []).append((i, cfg, comp))
            for rc, members in by_rc.items():
                base = df.filter(F.expr(rc)) if rc is not None else df
                sel: list[F.Column] = [gcol.alias("__g")]
                conds: dict[int, Any] = {}
                for i, cfg, comp in members:
                    cond = compile_expectation(
                        _window_recompiled(cfg, group_by, index_cols)
                    ).condition
                    conds[i] = cond
                    sel.append(cond.missing.cast("int").alias(f"m_{i}"))
                    sel.append(cond.unexpected.cast("int").alias(f"u_{i}"))
                seg_counts = (
                    base.select(*sel)
                    .groupBy("__g")
                    .agg(
                        F.count(F.lit(1)).alias("__ec"),
                        *[
                            F.sum(f"{p}_{i}").alias(f"{p}_{i}")
                            for i, _, _ in members
                            for p in ("m", "u")
                        ],
                    )
                )
                for row in _capped_collect(seg_counts):
                    ec = int(row["__ec"])
                    for i, cfg, comp in members:
                        missing = int(row[f"m_{i}"] or 0)
                        unexpected = int(row[f"u_{i}"] or 0)
                        ok = calc_map_success(ec, missing, unexpected, comp.mostly)
                        out.append((
                            row["__g"], ids[i], cfg.expectation_type,
                            bool(ok),
                            ec, missing, unexpected, None,
                        ))
                if violations_path:
                    for i, cfg, comp in members:
                        violation_frames.append(_viol_frame(
                            gcol, base, conds[i], F.lit(True),
                            cfg.expectation_type,
                        ))

        # ---- executor-side violations write (same path SuiteRunner uses) ----
        if violations_path and violation_frames:
            vout = violation_frames[0]
            for vf in violation_frames[1:]:
                vout = vout.unionByName(vf)
            vout.write.mode("append").partitionBy("expectation").parquet(
                violations_path
            )

    finally:
        for rel in to_unpersist:
            rel.unpersist()

    # ---- one bundled sub-pass per DISTINCT row_condition: rc-carrying
    # aggregates / uniqueness / two-wave conditions run over the filtered
    # frame (SuiteRunner domain-group semantics), all segments at once —
    # k distinct conditions cost k+1 scans, never segments × conditions ----
    for rc, pairs in rc_deferred.items():
        # the sub-pass's counters are already driver-local — fold them in
        # directly (no createDataFrame + collect round-trip per distinct
        # row_condition); the output stays ONE DataFrame built by the
        # public wrapper
        out.extend(_validate_rows(
            df.filter(F.expr(rc)),
            [
                (eid, ExpectationConfiguration(
                    expectation_type=c.expectation_type,
                    kwargs={
                        k: v for k, v in c.kwargs.items()
                        if k != "row_condition"
                    },
                    meta=c.meta,
                ))
                for eid, c in pairs
            ],
            group_by, strict=strict, max_groups=max_groups,
            violations_path=violations_path,
            unexpected_index_column_names=unexpected_index_column_names,
        ))

    return out
