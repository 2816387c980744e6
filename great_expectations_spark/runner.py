"""Suite execution — keyed passes, EVR assembly, violations sink.

Maps the reference's ``Checkpoint.run`` / ``Validator.graph_validate``
lifecycle (SURVEY.md §3, entry point B) onto a fixed, small number of Spark
jobs per domain group. One pass executor, :func:`run_passes`, runs a
group's counter passes with a list of key columns in front of every pass:
``[]`` for a whole-table ``SuiteRunner`` run, ``[segment]`` for
``validate_by_group`` — a whole-table run is the zero-key segmented run:

  plan (metric dedup + bundling, driver-side, no Spark)
    → bundled pass: ONE ``groupBy(*keys).agg`` job per group and key set
      for the shared ``element_count``, every map counter, every aggregate
      metric and the wave-1 stats of two-wave conditions
    → wave 2 (z-score): conditions rebuilt through ``rebuild_expr`` —
      from the collected wave-1 row as literals (zero keys), or from the
      wave-1 relation broadcast-joined back onto the batch (keyed)
    → value counts (most_common_value: modes-with-ties via a max-join),
      uniqueness (one skew-aware value count per check) and window passes
    → per-expectation partial-list jobs (``filter().limit(n)`` —
      CollectLimit early-exits the scan; SURVEY.md §2.9)
    → optional single melt pass writing ALL violation rows
      ``(index…, expectation, observed_value)`` to the sink — executor-side
      write, never collected to the driver (SURVEY.md §4.3)

Independent passes, relational/query checks and EVR finishing jobs run as
concurrent Spark jobs on one :class:`SparkThreadPool` per call, so the
scheduler interleaves their stages.

Persistence: the reference defaults to ``SparkDFExecutionEngine(
persist=True)`` — caching the batch across metric waves. We default to
``persist=False``: on columnar sources every pass re-scans with Catalyst
column pruning (a 2-column pass reads 2 columns), whereas a full-width
MEMORY_AND_DISK cache materializes every column row-wise and each
subsequent pass pays the whole row back (measured 10× slower than pruned
parquet re-scans on a 4M-row transcripts table — and at 10^12 rows a
full-table cache is impossible regardless). Set ``persist=True`` only when
the input's lineage is expensive to recompute AND narrow (e.g. the output
of a join you can't re-run); we then cache it as-is.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor, wait
from dataclasses import dataclass
from functools import reduce
from typing import Any, Callable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.storagelevel import StorageLevel

from great_expectations_spark.functions.aggregates import safe_alias
from great_expectations_spark.functions.conditions import MapCondition
from great_expectations_spark.plans.planner import (
    DomainGroup,
    monotone_windows,
    plan_suite,
)
from great_expectations_spark.registry import (
    CompiledMap,
    CompiledQuery,
    CompiledRelational,
    CompiledUnique,
)
from great_expectations_spark.result import (
    ExpectationSuiteValidationResult,
    ExpectationValidationResult,
    build_statistics,
    calc_map_success,
    format_map_result,
)
from great_expectations_spark.skew import value_counts as skew_value_counts
from great_expectations_spark.suite import ExpectationSuite


def _observed_str(cond) -> F.Column:
    """Uniform string rendering of the observed value for the sink."""
    if len(cond.domain_cols) > 1:
        return F.to_json(cond.observed)
    return cond.observed.cast("string")


def map_violations(
    expectation_type: str,
    cond,
    gdf: DataFrame,
    index_cols: list[str],
    segment: str | None = None,
) -> DataFrame:
    """The violations-sink rows of one map condition: ``(index…,
    expectation, observed_value)``, led by a ``group`` column when the
    segmented executor passes its ``segment`` column. The condition is projected
    BEFORE filtering — window-backed conditions (increasing/decreasing) are
    illegal in a WHERE clause."""
    lead = ["group"] if segment is not None else []
    return (
        gdf.select(
            *([F.col(segment).alias("group")] if segment is not None else []),
            *[F.col(c) for c in index_cols],
            _observed_str(cond).alias("observed_value"),
            cond.unexpected.alias("__unexpected"),
        )
        .filter(F.col("__unexpected"))
        .select(
            *lead,
            *index_cols,
            F.lit(expectation_type).alias("expectation"),
            "observed_value",
        )
    )


def unique_missing(cu: CompiledUnique) -> F.Column:
    """A uniqueness check's missing rows: a null key, or for a compound key
    (default ``ignore_row_if=all_values_are_missing``) an all-null one — a
    partly-null key still takes part in uniqueness."""
    return reduce(lambda a, b: a & b, [F.col(c).isNull() for c in cu.key_cols])


def unique_violations(
    cu: CompiledUnique,
    rows: DataFrame,
    dup_keys: DataFrame,
    index_cols: list[str],
    segment: str | None = None,
) -> DataFrame:
    """The violations-sink rows of one uniqueness check: EVERY row of a
    duplicated key (reference row-marking parity), found by a semi-join of
    ``rows`` against ``dup_keys`` (key columns, led by the ``segment``
    column for the segmented executor, which also leads the output as
    ``group``). The join is null-safe: a partly-NULL key seen twice is a
    duplicate, and an equi-join never matches NULL."""
    keys = ([segment] if segment is not None else []) + cu.key_cols
    dk = dup_keys.select(*[F.col(k).alias(f"__dk{j}") for j, k in enumerate(keys)])
    on = reduce(
        lambda a, b: a & b,
        [F.col(k).eqNullSafe(F.col(f"__dk{j}")) for j, k in enumerate(keys)],
    )
    return rows.join(dk, on=on, how="left_semi").select(
        *([F.col(segment).alias("group")] if segment is not None else []),
        *[F.col(c) for c in index_cols],
        F.lit(cu.cfg.expectation_type).alias("expectation"),
        F.to_json(F.struct(*cu.key_cols)).alias("observed_value"),
    )


def _row_value(v: Any) -> Any:
    """Convert collected Spark values (Row/struct) to plain Python."""
    if hasattr(v, "asDict"):
        return {k: _row_value(x) for k, x in v.asDict().items()}
    if isinstance(v, list):
        return [_row_value(x) for x in v]
    return v


class SparkThreadPool(ThreadPoolExecutor):
    """A thread pool whose tasks run under the submitting thread's Spark
    local properties (job group, description, scheduler pool): each task
    is wrapped with ``inheritable_thread_target`` at submit time, on the
    caller's thread, so ``cancelJobGroup`` and job tags reach every job the
    pool runs. The default width is the engine's pass concurrency."""

    def __init__(self, spark: SparkSession, max_workers: int = 4) -> None:
        super().__init__(max_workers=max_workers)
        self._spark = spark

    def submit(self, fn, /, *args, **kwargs):
        carry = inheritable_thread_target(self._spark)
        if carry is not self._spark:  # pinned-thread mode (PySpark default)
            fn = carry(fn)
        return super().submit(fn, *args, **kwargs)


@dataclass
class GroupPasses:
    """What one domain group's keyed passes computed."""

    #: key values (``()`` for the whole table) → alias → value
    values: dict[tuple, dict[str, Any]]
    #: map expectation id → (condition, the frame it reads); wave-2
    #: conditions are rebuilt over their wave-1 stats
    conds: dict[str, tuple[MapCondition, DataFrame]]
    #: uniqueness expectation id → its duplicate-key counts
    #: ``(*keys, *key_cols, count)``, persisted (materialized on first read)
    dups: dict[str, DataFrame]
    #: every relation the passes cached
    persisted: list[DataFrame]

    def release(self) -> None:
        """Unpersist every relation the passes cached."""
        for rel in self.persisted:
            rel.unpersist()


def _on_keys(keys: list[str], prefix: str) -> F.Column:
    """Null-safe equality of ``keys`` with their ``prefix``-renamed copies
    (a NULL segment is a segment of its own)."""
    return reduce(lambda a, b: a & b, [
        F.col(k).eqNullSafe(F.col(f"{prefix}{j}")) for j, k in enumerate(keys)
    ])


def run_passes(
    group: DomainGroup,
    gdf: DataFrame,
    keys: list[str],
    pool: ThreadPoolExecutor,
    collect: Callable[[DataFrame], list] = DataFrame.collect,
) -> GroupPasses:
    """One domain group's counter passes over ``gdf``, with the ``keys``
    columns in front of every pass: ``[]`` for the whole table (one row
    per pass), ``[segment]`` for validate_by_group. Values come back under
    the runner's aliases (``element_count``, ``nc__<id>``, ``uc__<id>``,
    ``dk__<id>`` duplicate-key counts, metric aliases). Independent passes
    run concurrently on ``pool``; every result goes through ``collect``
    (validate_by_group's max_groups guard).

    - bundled: one ``groupBy(*keys).agg(group.bundle_exprs())`` job;
    - wave 2: two-wave conditions through ``rebuild_expr`` — literals from
      the collected wave-1 row without keys (no extra job), the persisted
      wave-1 relation broadcast-joined back with keys;
    - value counts: per column, the modes-with-ties of every key via a
      broadcast max-join;
    - uniqueness: one skew-aware value count over ``(*keys, *key_cols)``
      (salted as the check's own key decides); missing keys are classified
      after grouping;
    - window: one pass counting ``element_count``, ``nc__`` and ``uc__``
      of every window-backed map.

    The uniqueness and window passes count ``element_count`` themselves, so
    a group without a bundled pass still reports it for every key."""
    by = [F.col(k) for k in keys]
    conds: dict[str, tuple[MapCondition, DataFrame]] = {
        cm.cfg.id: (cm.condition, gdf) for cm in group.maps + group.window_maps
    }
    dups: dict[str, DataFrame] = {}
    persisted: list[DataFrame] = []

    def cache(rel: DataFrame) -> DataFrame:
        rel = rel.persist(StorageLevel.MEMORY_AND_DISK)
        persisted.append(rel)
        return rel

    def bundled() -> list:
        rel = gdf.groupBy(*by).agg(
            *[e.alias(a) for a, e in group.bundle_exprs().items()]
        )
        if keys and group.dependent_maps:
            # wave 2 joins the same per-key stats the collect below reads
            rel = cache(rel)
        rows = collect(rel)
        if not group.dependent_maps:
            return rows
        deps = dict.fromkeys(
            a for cm in group.dependent_maps for a in cm.condition.requires
        )
        if keys:
            frame = gdf.join(
                F.broadcast(rel.select(
                    *[F.col(k).alias(f"__w{j}") for j, k in enumerate(keys)],
                    *deps,
                )),
                on=_on_keys(keys, "__w"),
                how="left",
            )
            dep_cols = {a: F.col(a) for a in deps}
        else:
            frame = gdf
            dep_cols = {a: F.lit(rows[0][a]) for a in deps}
        for cm in group.dependent_maps:
            conds[cm.cfg.id] = (cm.condition.rebuild_expr(dep_cols), frame)
        return rows + collect(frame.groupBy(*by).agg(*[
            F.sum(F.when(conds[cm.cfg.id][0].unexpected, 1).otherwise(0))
            .alias(f"uc__{cm.cfg.id}")
            for cm in group.dependent_maps
        ]))

    def modes(col: str) -> list:
        # one query: the max side reuses the counts' shuffle (ReusedExchange),
        # so the counts need no cache
        vc = (
            gdf.filter(F.col(col).isNotNull())
            .groupBy(*by, F.col(col).alias("__v"))
            .agg(F.count(F.lit(1)).alias("__cnt"))
        )
        mx = vc.groupBy(
            *[F.col(k).alias(f"__m{j}") for j, k in enumerate(keys)]
        ).agg(F.max("__cnt").alias("__mx"))
        on = F.col("__cnt") == F.col("__mx")
        if keys:
            on = _on_keys(keys, "__m") & on
        return collect(
            vc.join(F.broadcast(mx), on=on)
            .groupBy(*by)
            .agg(F.sort_array(F.collect_list("__v"))
                 .alias(safe_alias("most_common", col)))
        )

    def unique(cu: CompiledUnique) -> list:
        salted = cu.cfg.kwargs.get("salted")
        if salted is None:
            salted = len(cu.key_cols) == 1
        vc = skew_value_counts(gdf, [*keys, *cu.key_cols], salted=salted)
        miss = unique_missing(cu)
        dup = ~miss & (F.col("count") > 1)
        dups[cu.cfg.id] = cache(vc.filter(dup))
        return collect(vc.groupBy(*by).agg(
            F.sum("count").alias("element_count"),
            F.sum(F.when(miss, F.col("count")).otherwise(0))
            .alias(f"nc__{cu.cfg.id}"),
            F.sum(F.when(dup, F.col("count")).otherwise(0))
            .alias(f"uc__{cu.cfg.id}"),
            F.count(F.when(dup, 1)).alias(f"dk__{cu.cfg.id}"),
        ))

    def window() -> list:
        flags: dict[str, F.Column] = {}
        for cm in group.window_maps:
            flags[f"nc__{cm.cfg.id}"] = cm.condition.missing.cast("int")
            flags[f"uc__{cm.cfg.id}"] = cm.condition.unexpected.cast("int")
        return collect(
            gdf.select(*by, *[e.alias(a) for a, e in flags.items()])
            .groupBy(*by)
            .agg(F.count(F.lit(1)).alias("element_count"),
                 *[F.sum(a).alias(a) for a in flags])
        )

    futs = []
    if group.maps or group.aggs or group.dependent_maps:
        futs.append(pool.submit(bundled))
    futs += [pool.submit(modes, col) for col in group.value_counts_columns]
    futs += [pool.submit(unique, cu) for cu in group.uniques]
    if group.window_maps:
        futs.append(pool.submit(window))
    wait(futs)
    passes = GroupPasses({}, conds, dups, persisted)
    try:
        for fut in futs:
            for r in fut.result():
                d = r.asDict()
                key = tuple(d.pop(k) for k in keys)
                passes.values.setdefault(key, {}).update(
                    {k: _row_value(v) for k, v in d.items()}
                )
    except Exception:
        passes.release()
        raise
    for col in group.value_counts_columns:
        # a key whose column is entirely NULL has no value counts
        for vals in passes.values.values():
            vals.setdefault(safe_alias("most_common", col), [])
    return passes


class SuiteRunner:
    """Validates DataFrames against suites.

    Parameters
    ----------
    spark: session used for query expectations / sink writes.
    tables: named DataFrames referenced by relational expectations
        (referential integrity dims, row-count comparisons).
    unexpected_index_column_names: default identity columns for
        unexpected_index_list / the violations sink — the transcripts
        canonical value is ``["conv_id", "turn_idx"]`` (north_star shape).
    violations_path: when set, a single melt pass appends every failing row
        as ``(index…, expectation, observed_value)`` parquet partitioned by
        expectation — the at-scale alternative to COMPLETE collects.
    catch_exceptions: per-expectation fault isolation (EVR.exception_info),
        reference checkpoint default.
    max_complete_rows: driver-OOM guard for ``result_format=COMPLETE`` —
        when an expectation's unexpected_count exceeds this, the full
        unexpected_list collect is SKIPPED and the EVR degrades to SUMMARY
        content plus ``details.complete_truncated`` (the violations sink is
        the at-scale channel for the full row set). ``None`` disables the
        guard (reference parity).
    persist: cache the batch across multi-pass groups. Default False — the
        bundled planner already makes most suites single-pass, and caching a
        100 TB scan is usually a net loss. CAVEAT (diverges from the
        reference SparkDFExecutionEngine persist=True): if the batch's
        lineage is non-deterministic (unseeded ``rand()``/sample,
        non-deterministic UDFs), separate passes may observe DIFFERENT rows
        and produce internally inconsistent EVRs — pass ``persist=True`` to
        pin a consistent snapshot for such inputs.
    """

    def __init__(
        self,
        spark: SparkSession,
        tables: dict[str, DataFrame] | None = None,
        unexpected_index_column_names: list[str] | None = None,
        violations_path: str | None = None,
        catch_exceptions: bool = True,
        persist: bool = False,
        max_complete_rows: int | None = 1_000_000,
    ) -> None:
        self.spark = spark
        self.tables = tables or {}
        self.index_cols = unexpected_index_column_names
        self.violations_path = violations_path
        self.catch_exceptions = catch_exceptions
        self.persist = persist
        self.max_complete_rows = max_complete_rows

    # ------------------------------------------------------------------ API
    def validate(
        self,
        df: DataFrame,
        suite: ExpectationSuite,
        evaluation_parameters: dict[str, Any] | None = None,
    ) -> ExpectationSuiteValidationResult:
        if evaluation_parameters:
            from great_expectations_spark.suite import bind_evaluation_parameters

            suite = bind_evaluation_parameters(suite, evaluation_parameters)
        suite = monotone_windows(suite, self.index_cols)
        plan = plan_suite(suite)
        results_by_id: dict[str, ExpectationValidationResult] = {}
        violation_frames: list[DataFrame] = []

        for cfg, exc, tb in plan.broken:
            if not self.catch_exceptions:
                raise exc
            results_by_id[cfg.id] = ExpectationValidationResult(
                success=False,
                expectation_config=cfg.to_dict(),
                result={},
                exception_info={
                    "raised_exception": True,
                    "exception_message": str(exc),
                    "exception_traceback": tb,
                },
            )

        with SparkThreadPool(self.spark) as pool:
            # relational / query expectations are independent of the domain
            # groups: their joins run on the pool alongside the groups' passes
            fut_side = {
                cr.cfg.id: pool.submit(
                    self._run_relational, cr, df, violation_frames
                )
                for cr in plan.relationals
            }
            fut_side.update({
                cq.cfg.id: pool.submit(self._run_query, cq, df)
                for cq in plan.queries
            })

            for group in plan.groups:
                gdf = df.filter(F.expr(group.row_condition)) if group.row_condition else df
                persisted = False
                if self.persist and group.n_passes > 1:
                    gdf = gdf.persist(StorageLevel.MEMORY_AND_DISK)
                    persisted = True
                try:
                    try:
                        self._run_group(group, gdf, pool, results_by_id, violation_frames)
                    except Exception:
                        if not self.catch_exceptions:
                            raise
                        # One bad expectation (e.g. unknown column) poisons the
                        # shared bundle. Degrade to per-expectation mini-groups so
                        # healthy expectations still validate and the broken one
                        # gets its own EVR.exception_info (reference
                        # catch_exceptions fault-isolation semantics).
                        self._run_group_isolated(
                            group, gdf, pool, results_by_id, violation_frames
                        )
                finally:
                    if persisted:
                        gdf.unpersist()

            for cm in plan.metas:
                results_by_id[cm.cfg.id] = self._guard(
                    cm.cfg, lambda cm=cm: self._run_meta(cm, df)
                )
            for c in plan.relationals + plan.queries:
                results_by_id[c.cfg.id] = self._guard(
                    c.cfg, fut_side[c.cfg.id].result
                )

        if self.violations_path and violation_frames:
            out = violation_frames[0]
            for vf in violation_frames[1:]:
                out = out.unionByName(vf)
            out.write.mode("append").partitionBy("expectation").parquet(
                self.violations_path
            )

        results = [results_by_id[cfg.id] for cfg in suite]
        return ExpectationSuiteValidationResult(
            success=all(r.success for r in results),
            results=results,
            statistics=build_statistics(results),
        )

    # ------------------------------------------------------------- internals
    def _guard(self, cfg, fn) -> ExpectationValidationResult:
        if not self.catch_exceptions:
            return fn()
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 — reference catch_exceptions parity
            import traceback

            return ExpectationValidationResult(
                success=False,
                expectation_config=cfg.to_dict(),
                result={},
                exception_info={
                    "raised_exception": True,
                    "exception_message": str(exc),
                    "exception_traceback": traceback.format_exc(),
                },
            )

    def _run_group_isolated(
        self,
        group: DomainGroup,
        gdf: DataFrame,
        pool: ThreadPoolExecutor,
        out: dict[str, ExpectationValidationResult],
        violation_frames: list[DataFrame],
    ) -> None:
        """Error path: one single-expectation group per expectation, each
        individually guarded — N small jobs instead of one poisoned bundle."""
        members = (
            [("maps", m) for m in group.maps]
            + [("window_maps", m) for m in group.window_maps]
            + [("dependent_maps", m) for m in group.dependent_maps]
            + [("aggs", a) for a in group.aggs]
            + [("uniques", u) for u in group.uniques]
        )
        for attr, member in members:
            mini = DomainGroup(row_condition=group.row_condition)
            getattr(mini, attr).append(member)
            if attr == "aggs":
                vc_col = getattr(member.metric, "groupby_value_counts", None)
                if vc_col is not None:
                    mini.value_counts_columns.append(vc_col)
            try:
                self._run_group(mini, gdf, pool, out, violation_frames)
            except Exception as exc:  # noqa: BLE001
                import traceback

                out[member.cfg.id] = ExpectationValidationResult(
                    success=False,
                    expectation_config=member.cfg.to_dict(),
                    result={},
                    exception_info={
                        "raised_exception": True,
                        "exception_message": str(exc),
                        "exception_traceback": traceback.format_exc(),
                    },
                )

    def _run_group(
        self,
        group: DomainGroup,
        gdf: DataFrame,
        pool: ThreadPoolExecutor,
        out: dict[str, ExpectationValidationResult],
        violation_frames: list[DataFrame],
    ) -> None:
        """The group's zero-key passes, then its EVRs from the one row of
        values. Map finishing launches partial-list / top-k jobs when an
        expectation has unexpected rows — independent per expectation, so
        they go through the pool as well."""
        passes = run_passes(group, gdf, [], pool)
        try:
            values = passes.values[()]
            element_count = int(values.get("element_count") or 0)
            index_cols = self._effective_index_cols(gdf)
            fin_futs = {}
            for cm in group.maps + group.window_maps + group.dependent_maps:
                cond, frame = passes.conds[cm.cfg.id]
                fin_futs[cm.cfg.id] = pool.submit(
                    self._finish_map, cm, cond, frame, element_count, values
                )
                if self.violations_path:
                    violation_frames.append(map_violations(
                        cm.cfg.expectation_type, cond, frame, index_cols
                    ))
            for cm in group.maps + group.window_maps + group.dependent_maps:
                out[cm.cfg.id] = self._guard(cm.cfg, fin_futs[cm.cfg.id].result)

            for ca in group.aggs:
                out[ca.cfg.id] = self._guard(
                    ca.cfg, lambda ca=ca: self._finish_agg(ca, values)
                )

            for cu in group.uniques:
                out[cu.cfg.id] = self._guard(
                    cu.cfg,
                    lambda cu=cu: self._finish_unique(
                        cu, gdf, element_count, values,
                        passes.dups[cu.cfg.id], violation_frames,
                    ),
                )
        finally:
            passes.release()

    # ---- map expectations -------------------------------------------------
    def _map_flags(self, cond, gdf: DataFrame, index_cols: list[str]) -> DataFrame:
        """Project (index…, observed, unexpected-flag). Window conditions are
        legal here because flags are a select, not an agg."""
        cols = [F.col(ic) for ic in index_cols if ic in gdf.columns]
        cols.append(cond.observed.alias("__observed"))
        cols.append(cond.unexpected.alias("__unexpected"))
        return gdf.select(*cols)

    def _effective_index_cols(self, gdf: DataFrame) -> list[str]:
        if not self.index_cols:
            return []
        return [c for c in self.index_cols if c in gdf.columns]

    def _finish_map(
        self,
        cm: CompiledMap,
        cond,
        gdf: DataFrame,
        element_count: int,
        values: dict[str, Any],
    ) -> ExpectationValidationResult:
        null_count = int(values.get(f"nc__{cm.cfg.id}", 0) or 0)
        unexpected_count = int(values.get(f"uc__{cm.cfg.id}", 0) or 0)
        success = calc_map_success(element_count, null_count, unexpected_count, cm.mostly)

        rf = cm.result_format
        level = rf["result_format"]
        n_partial = rf["partial_unexpected_count"]
        index_cols = rf.get("unexpected_index_column_names") or self._effective_index_cols(gdf)

        partial_list: list[Any] = []
        partial_index: list[dict[str, Any]] | None = None
        partial_counts: list[dict[str, Any]] = []
        unexpected_list = None
        unexpected_index_list = None
        unexpected_rows = None
        complete_truncated = False

        if level != "BOOLEAN_ONLY" and unexpected_count > 0:
            flags = self._map_flags(cond, gdf, index_cols).filter(F.col("__unexpected"))
            head = flags.limit(n_partial).collect()
            partial_list = [_row_value(r["__observed"]) for r in head]
            if index_cols and level in ("SUMMARY", "COMPLETE"):
                partial_index = [
                    {c: _row_value(r[c]) for c in index_cols if c in flags.columns}
                    for r in head
                ]
            if level in ("SUMMARY", "COMPLETE"):
                # top-k value→count, sorted desc then by value (stable)
                counts = (
                    flags.groupBy("__observed")
                    .agg(F.count(F.lit(1)).alias("count"))
                    .orderBy(F.desc("count"), F.col("__observed"))
                    .limit(n_partial)
                    .collect()
                )
                partial_counts = [
                    {"value": _row_value(r["__observed"]), "count": int(r["count"])}
                    for r in counts
                ]
            if (
                level == "COMPLETE"
                and self.max_complete_rows is not None
                and unexpected_count > self.max_complete_rows
            ):
                # driver-OOM guard: degrade to SUMMARY content; the
                # violations sink carries the full row set executor-side
                complete_truncated = True
            if level == "COMPLETE" and not complete_truncated:
                # full collects — reference parity; the violations sink is
                # the at-scale alternative (SURVEY.md §4.3)
                rows = flags.collect()
                unexpected_list = [_row_value(r["__observed"]) for r in rows]
                if index_cols:
                    unexpected_index_list = [
                        {c: _row_value(r[c]) for c in index_cols if c in flags.columns}
                        for r in rows
                    ]
                if rf.get("include_unexpected_rows"):
                    # flag-project first: window conditions can't sit in WHERE
                    full = gdf.withColumn("__unexpected", cond.unexpected)
                    unexpected_rows = [
                        {
                            k: _row_value(v)
                            for k, v in r.asDict().items()
                            if k != "__unexpected"
                        }
                        for r in full.filter(F.col("__unexpected")).collect()
                    ]

        result = format_map_result(
            result_format=rf,
            element_count=element_count,
            null_count=null_count,
            unexpected_count=unexpected_count,
            partial_unexpected_list=partial_list,
            partial_unexpected_index_list=partial_index,
            partial_unexpected_counts=partial_counts,
            unexpected_list=unexpected_list,
            unexpected_index_list=unexpected_index_list,
            unexpected_rows=unexpected_rows,
            unexpected_index_column_names=index_cols if index_cols else None,
        )
        if complete_truncated:
            result.setdefault("details", {})["complete_truncated"] = {
                "unexpected_count": unexpected_count,
                "max_complete_rows": self.max_complete_rows,
                "note": "unexpected_list collect skipped (driver-OOM guard); "
                "use the violations sink for the full row set",
            }
        return ExpectationValidationResult(
            success=success, expectation_config=cm.cfg.to_dict(), result=result
        )

    # ---- aggregate expectations --------------------------------------------
    def _finish_agg(self, ca, values: dict[str, Any]) -> ExpectationValidationResult:
        observed = ca.metric.finalize(values)
        success, extra = ca.validate(observed)
        result: dict[str, Any] = {"observed_value": observed}
        details = ca.metric.details(values)
        if details:
            result["details"] = details
        result.update(extra)
        return ExpectationValidationResult(
            success=success, expectation_config=ca.cfg.to_dict(), result=result
        )

    # ---- uniqueness ---------------------------------------------------------
    def _finish_unique(
        self,
        cu: CompiledUnique,
        gdf: DataFrame,
        element_count: int,
        values: dict[str, Any],
        dups: DataFrame,
        violation_frames: list[DataFrame],
    ) -> ExpectationValidationResult:
        """Key uniqueness from the skew-aware value-count pass — never the
        reference's full-table ``Window.partitionBy`` (SURVEY.md §4.3).
        Row-level marking parity: ALL rows of a duplicated key are
        unexpected; partial lists and top-k read the duplicate-key frame."""
        null_count = int(values.get(f"nc__{cu.cfg.id}") or 0)
        unexpected_count = int(values.get(f"uc__{cu.cfg.id}") or 0)
        dup_keys = int(values.get(f"dk__{cu.cfg.id}") or 0)

        rf = cu.result_format
        n_partial = rf["partial_unexpected_count"]
        partial_list: list[Any] = []
        partial_counts: list[dict[str, Any]] = []
        if rf["result_format"] != "BOOLEAN_ONLY" and unexpected_count > 0:
            # reference marks every row of a duplicated key unexpected →
            # partial list repeats each key `count` times (capped)
            key_struct = (
                F.col(cu.key_cols[0])
                if len(cu.key_cols) == 1
                else F.struct(*cu.key_cols)
            )
            head = (
                dups.select(
                    F.explode(
                        F.array_repeat(
                            key_struct, F.least(F.col("count"), F.lit(n_partial)).cast("int")
                        )
                    ).alias("v")
                )
                .limit(n_partial)
                .collect()
            )
            partial_list = [_row_value(r["v"]) for r in head]
            if rf["result_format"] in ("SUMMARY", "COMPLETE"):
                top = (
                    dups.orderBy(F.desc("count"), *cu.key_cols)
                    .limit(n_partial)
                    .collect()
                )
                partial_counts = [
                    {
                        "value": _row_value(r[cu.key_cols[0]])
                        if len(cu.key_cols) == 1
                        else {c: _row_value(r[c]) for c in cu.key_cols},
                        "count": int(r["count"]),
                    }
                    for r in top
                ]

        if self.violations_path and unexpected_count > 0:
            violation_frames.append(unique_violations(
                cu, gdf, dups, self._effective_index_cols(gdf)
            ))

        success = calc_map_success(element_count, null_count, unexpected_count, cu.mostly)
        result = format_map_result(
            result_format=rf,
            element_count=element_count,
            null_count=null_count,
            unexpected_count=unexpected_count,
            partial_unexpected_list=partial_list,
            partial_unexpected_counts=partial_counts,
        )
        if rf["result_format"] != "BOOLEAN_ONLY":
            result["details"] = {"duplicate_key_count": dup_keys}
        return ExpectationValidationResult(
            success=success, expectation_config=cu.cfg.to_dict(), result=result
        )

    # ---- meta / relational / query ------------------------------------------
    def _run_meta(self, cm, df: DataFrame) -> ExpectationValidationResult:
        success, result = cm.run(df)
        return ExpectationValidationResult(
            success=success, expectation_config=cm.cfg.to_dict(), result=result
        )

    def _run_relational(
        self, cr: CompiledRelational, df: DataFrame, violation_frames: list[DataFrame]
    ) -> ExpectationValidationResult:
        # tell run() whether violations() will consume its intermediate
        # state (e.g. contiguous per-group stats): with a sink it may
        # materialize once for both consumers; without one it must stay a
        # single streaming pass. The hint travels as a PER-CALL keyword —
        # compiled objects are shared across runners and threads via the
        # plan cache, so a mutable attribute would race; the frozen
        # accepts_sink_hint capability flag spares per-call reflection
        kwargs = {}
        if cr.accepts_sink_hint:
            kwargs["sink_violations"] = bool(
                self.violations_path and cr.violations is not None
            )
        success, result = cr.run(df, self.tables, **kwargs)
        if self.violations_path and cr.violations is not None:
            index_cols = self._effective_index_cols(df)
            column = cr.cfg.kwargs.get("column")
            viol = cr.violations(df, self.tables).select(
                *[F.col(c) for c in index_cols],
                F.lit(cr.cfg.expectation_type).alias("expectation"),
                F.col(column).cast("string").alias("observed_value"),
            )
            violation_frames.append(viol)
        return ExpectationValidationResult(
            success=success, expectation_config=cr.cfg.to_dict(), result=result
        )

    def _run_query(self, cq: CompiledQuery, df: DataFrame) -> ExpectationValidationResult:
        df.createOrReplaceTempView("active_batch")
        sql = cq.query.replace("{active_batch}", "active_batch")
        res = self.spark.sql(sql)
        # one bounded collect decides success AND yields the sample; the
        # arbitrary user SQL only re-executes for an exact count when it
        # returned MORE than the partial cap (the passing case — zero rows —
        # costs exactly one job)
        cap = cq.result_format["partial_unexpected_count"]
        head = res.limit(cap + 1).collect()
        n = res.count() if len(head) > cap else len(head)
        head = head[:cap]
        return ExpectationValidationResult(
            success=n == 0,
            expectation_config=cq.cfg.to_dict(),
            result={
                "observed_value": int(n),
                "unexpected_rows": [
                    {k: _row_value(v) for k, v in r.asDict().items()} for r in head
                ],
            },
        )


def validate(
    df: DataFrame,
    suite: ExpectationSuite,
    spark: SparkSession | None = None,
    **runner_kwargs: Any,
) -> ExpectationSuiteValidationResult:
    """Convenience one-shot: ``validate(df, suite)``."""
    spark = spark or df.sparkSession
    return SuiteRunner(spark, **runner_kwargs).validate(df, suite)
