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
      uniqueness (one skew-aware value count per check), contiguity (one
      per-group stats aggregation per check) and window passes
    → per-expectation partial-list jobs (``filter().limit(n)`` —
      CollectLimit early-exits the scan; SURVEY.md §2.9)
    → optional single melt pass writing ALL violation rows
      ``(index…, expectation, observed_value)`` to the sink — executor-side
      write, never collected to the driver (SURVEY.md §4.3)

One run loop, ``SuiteRunner._run``, drives a plan for both of its
callers: :meth:`SuiteRunner.validate` (no keys) and ``validate_by_group``
(the segment key). It opens the pass pool, runs each domain group's
passes, builds the group's sink frames through :func:`violation_frames`,
appends every sink frame in one write and releases what the passes cached.
The callers differ only in their keys, their collect (``max_groups``),
their error policy (``catch_exceptions``) and what they build from a
check's pass values: an EVR with what its ``result_format`` asks for, or
one store row per segment from its :func:`verdict`.

Independent passes, side checks (every check outside the domain groups:
schema, Cramér's phi, cross-table and query checks) and EVR finishing jobs
run as concurrent Spark jobs on one :class:`SparkThreadPool` per call, so
the scheduler interleaves their stages. Every side check reads the batch
filtered by its own ``row_condition``, as every domain group does.

Persistence: the reference defaults to ``SparkDFExecutionEngine(
persist=True)`` — caching the batch across metric waves. The engine never
caches the batch: on columnar sources every pass re-scans with Catalyst
column pruning (a 2-column pass reads 2 columns), whereas a full-width
MEMORY_AND_DISK cache materializes every column row-wise and each
subsequent pass pays the whole row back (measured 10× slower than pruned
parquet re-scans on a 4M-row transcripts table — and at 10^12 rows a
full-table cache is impossible regardless). A batch whose lineage is
non-deterministic (unseeded ``rand()``/sample, non-deterministic UDFs) may
show separate passes different rows and yield internally inconsistent
EVRs: persist or checkpoint such an input before validating it.
"""

from __future__ import annotations

import traceback
from concurrent.futures import ThreadPoolExecutor, wait
from dataclasses import dataclass
from functools import reduce
from typing import Any, Callable

from pyspark import inheritable_thread_target
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.storagelevel import StorageLevel

from great_expectations_spark.functions.aggregates import safe_alias
from great_expectations_spark.functions.conditions import MapCondition
from great_expectations_spark.plans.planner import DomainGroup, SuitePlan, plan_suite
from great_expectations_spark.registry import (
    CompiledAgg,
    CompiledContiguous,
    CompiledMap,
    CompiledSide,
    CompiledUnique,
)
from great_expectations_spark.result import (
    ExpectationSuiteValidationResult,
    ExpectationValidationResult,
    Verdict,
    build_statistics,
    calc_map_success,
    format_map_result,
    row_value,
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
    expectation, observed_value)``, led by a ``group`` column when a keyed
    run passes its ``segment`` column. The condition is projected
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
    expectation_type: str,
    key_cols: list[str],
    observed: F.Column,
    rows: DataFrame,
    bad_keys: DataFrame,
    index_cols: list[str],
    segment: str | None = None,
) -> DataFrame:
    """The violations-sink rows of one keyed check: EVERY row of a violating
    key — a duplicated key of a uniqueness check (reference row-marking
    parity), a broken group of a contiguity check — found by a semi-join of
    ``rows`` against ``bad_keys`` on ``key_cols`` (led by the ``segment``
    column of a keyed run, which also leads the output as ``group``), with
    ``observed`` as the observed value. The join is null-safe: a NULL or
    partly-NULL key is a key like any other, and an equi-join never matches
    NULL."""
    keys = ([segment] if segment is not None else []) + key_cols
    dk = bad_keys.select(*[F.col(k).alias(f"__dk{j}") for j, k in enumerate(keys)])
    return rows.join(dk, on=_on_keys(keys, "__dk"), how="left_semi").select(
        *([F.col(segment).alias("group")] if segment is not None else []),
        *[F.col(c) for c in index_cols],
        F.lit(expectation_type).alias("expectation"),
        observed.alias("observed_value"),
    )


def domain(df: DataFrame, row_condition: str | None) -> DataFrame:
    """The batch an expectation reads: ``df`` filtered by its
    ``row_condition`` (reference ``get_domain_records``)."""
    return df.filter(F.expr(row_condition)) if row_condition else df


def _exception_evr(cfg, exc: Exception) -> ExpectationValidationResult:
    """The failed EVR of an expectation that raised ``exc`` (reference
    ``catch_exceptions`` parity)."""
    return ExpectationValidationResult(
        success=False,
        expectation_config=cfg.to_dict(),
        result={},
        exception_info={
            "raised_exception": True,
            "exception_message": str(exc),
            "exception_traceback": "".join(traceback.format_exception(exc)),
        },
    )


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
    #: keyed expectation id → its violating keys, persisted (materialized
    #: on first read): a uniqueness check's duplicate-key counts
    #: ``(*keys, *key_cols, count)``, a contiguity check's broken groups
    #: ``(*keys, *group_by, stats…)``
    bad_keys: dict[str, DataFrame]
    #: every relation the passes cached
    persisted: list[DataFrame]
    #: the group's domain frame the passes read
    frame: DataFrame
    #: the key columns in front of every pass
    keys: list[str]
    #: the run's index columns (window keys, sink and partial-list columns)
    index_cols: list[str]

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
    index_cols: list[str] | None = None,
) -> GroupPasses:
    """One domain group's counter passes over ``gdf``, with the ``keys``
    columns in front of every pass: ``[]`` for the whole table (one row
    per pass), ``[segment]`` for validate_by_group. ``index_cols`` (the
    run's index columns) are the window key of an increasing/decreasing
    check that leaves ``partition_by`` out. Values
    come back under the runner's aliases (``element_count``, ``nc__<id>``, ``uc__<id>``,
    ``dk__<id>`` duplicate-key counts, ``ec__<id>`` group counts, metric
    aliases). Independent passes run concurrently on ``pool``; every result
    goes through ``collect`` (validate_by_group's max_groups guard).

    - bundled: one ``groupBy(*keys).agg(group.bundle_exprs())`` job;
    - wave 2: two-wave conditions through ``rebuild_expr`` — literals from
      the collected wave-1 row without keys (no extra job), the persisted
      wave-1 relation broadcast-joined back with keys;
    - value counts: per column, the modes-with-ties of every key via a
      broadcast max-join;
    - uniqueness: one skew-aware value count over ``(*keys, *key_cols)``
      (salted when the check's own key is one column — the key columns in
      front would turn ``value_counts``' auto rule off); missing keys are
      classified after grouping;
    - contiguity: per-group count/min/max/count_distinct over
      ``(*keys, *group_by)``, then per key ``ec__`` (groups holding a
      non-null value) and ``uc__`` (broken groups) — it counts groups, not
      rows, so under its own aliases, and every key of ``gdf`` gets a row;
    - window: every window-backed map's condition built once over
      ``[*keys, *partition_by]``, then one pass counting ``element_count``,
      ``nc__`` and ``uc__`` of them all.

    The uniqueness and window passes count ``element_count`` themselves, so
    a group without a bundled pass still reports it for every key."""
    by = [F.col(k) for k in keys]
    conds: dict[str, tuple[MapCondition, DataFrame]] = {
        cm.cfg.id: (cm.condition, gdf) for cm in group.maps
    }
    for cm in group.window_maps:
        conds[cm.cfg.id] = (cm.condition.window_expr(keys, index_cols or []), gdf)
    bad_keys: dict[str, DataFrame] = {}
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
        vc = skew_value_counts(gdf, [*keys, *cu.key_cols],
                               salted=len(cu.key_cols) == 1)
        miss = unique_missing(cu)
        dup = ~miss & (F.col("count") > 1)
        bad_keys[cu.cfg.id] = cache(vc.filter(dup))
        return collect(vc.groupBy(*by).agg(
            F.sum("count").alias("element_count"),
            F.sum(F.when(miss, F.col("count")).otherwise(0))
            .alias(f"nc__{cu.cfg.id}"),
            F.sum(F.when(dup, F.col("count")).otherwise(0))
            .alias(f"uc__{cu.cfg.id}"),
            F.count(F.when(dup, 1)).alias(f"dk__{cu.cfg.id}"),
        ))

    def contiguous(cc: CompiledContiguous) -> list:
        n = F.col("__n")
        stats = gdf.groupBy(*by, *[F.col(c) for c in cc.group_by]).agg(
            F.count(F.col(cc.column)).alias("__n"),
            F.min(cc.column).alias("__mn"),
            F.max(cc.column).alias("__mx"),
            F.count_distinct(F.col(cc.column)).alias("__nd"),
        )
        broken = (n > 0) & ~(
            (F.col("__mn") == cc.start)
            & (F.col("__mx") == cc.start + n - 1)
            & (F.col("__nd") == n)
        )
        bad_keys[cc.cfg.id] = cache(stats.filter(broken))
        return collect(stats.groupBy(*by).agg(
            F.count(F.when(n > 0, 1)).alias(f"ec__{cc.cfg.id}"),
            F.count(F.when(broken, 1)).alias(f"uc__{cc.cfg.id}"),
        ))

    def window() -> list:
        flags: dict[str, F.Column] = {}
        for cm in group.window_maps:
            cond = conds[cm.cfg.id][0]
            flags[f"nc__{cm.cfg.id}"] = cond.missing.cast("int")
            flags[f"uc__{cm.cfg.id}"] = cond.unexpected.cast("int")
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
    futs += [pool.submit(contiguous, cc) for cc in group.contiguous]
    if group.window_maps:
        futs.append(pool.submit(window))
    wait(futs)
    passes = GroupPasses({}, conds, bad_keys, persisted, gdf, keys,
                         index_cols or [])
    try:
        for fut in futs:
            for r in fut.result():
                d = r.asDict()
                key = tuple(d.pop(k) for k in keys)
                passes.values.setdefault(key, {}).update(
                    {k: row_value(v) for k, v in d.items()}
                )
    except Exception:
        passes.release()
        raise
    for col in group.value_counts_columns:
        # a key whose column is entirely NULL has no value counts
        for vals in passes.values.values():
            vals.setdefault(safe_alias("most_common", col), [])
    return passes


def verdict(compiled, vals: dict[str, Any]) -> Verdict:
    """One check's verdict from one key's pass values — the reference's
    per-expectation ``_validate``, shared by both callers of the run loop
    whatever key the values came from.

    ``element_count`` is the row count of the check's domain, except for a
    contiguity check, which counts the groups holding a non-null value (and
    applies ``mostly`` over groups). An aggregate's observed value is its
    metric's ``finalize``, judged by its ``validate``; it has no missing or
    unexpected rows. Every other check is judged by ``calc_map_success``."""
    def count(alias: str) -> int:
        return int(vals.get(alias) or 0)

    eid = compiled.cfg.id
    if isinstance(compiled, CompiledAgg):
        observed = compiled.metric.finalize(vals)
        return Verdict(bool(compiled.validate(observed)),
                       count("element_count"), 0, 0, observed)
    if isinstance(compiled, CompiledContiguous):
        ec, nc = count(f"ec__{eid}"), 0
    else:
        ec, nc = count("element_count"), count(f"nc__{eid}")
    uc = count(f"uc__{eid}")
    return Verdict(calc_map_success(ec, nc, uc, compiled.mostly), ec, nc, uc,
                   None)


def violation_frames(group: DomainGroup, passes: GroupPasses) -> list[DataFrame]:
    """The violations-sink frames of one domain group over the passes'
    index columns, led by a ``group`` column holding the key of a keyed
    run: a check's frame only when some key has unexpected rows, so a
    passing check never re-reads its condition or violating-key frame into
    an empty write."""
    index_cols = passes.index_cols
    segment = passes.keys[0] if passes.keys else None

    def broke(c) -> bool:
        return any(verdict(c, v).unexpected_count for v in passes.values.values())

    frames = [
        map_violations(cm.cfg.expectation_type, *passes.conds[cm.cfg.id],
                       index_cols, segment)
        for cm in group.maps + group.window_maps + group.dependent_maps
        if broke(cm)
    ]
    keyed = (
        [(cu, cu.key_cols, F.to_json(F.struct(*cu.key_cols)))
         for cu in group.uniques]
        + [(cc, cc.group_by, F.col(cc.column).cast("string"))
           for cc in group.contiguous]
    )
    frames += [
        unique_violations(c.cfg.expectation_type, key_cols, observed,
                          passes.frame, passes.bad_keys[c.cfg.id], index_cols,
                          segment)
        for c, key_cols, observed in keyed
        if broke(c)
    ]
    return frames


class SuiteRunner:
    """Validates DataFrames against suites.

    Parameters
    ----------
    spark: session whose local properties (job group) the pass pool
        carries to its threads.
    tables: named DataFrames referenced by relational expectations
        (referential integrity dims, row-count comparisons).
    unexpected_index_column_names: default identity columns for
        unexpected_index_list / the violations sink, and the window key of
        an increasing/decreasing check without ``partition_by`` — the
        transcripts canonical value is ``["conv_id", "turn_idx"]``
        (north_star shape). Columns the batch lacks are dropped, from the
        window keys too.
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

    The batch is never cached (module docstring): if its lineage is
    non-deterministic (unseeded ``rand()``/sample, non-deterministic UDFs),
    persist or checkpoint it before validating, or separate passes may
    observe DIFFERENT rows and produce internally inconsistent EVRs.
    """

    def __init__(
        self,
        spark: SparkSession,
        tables: dict[str, DataFrame] | None = None,
        unexpected_index_column_names: list[str] | None = None,
        violations_path: str | None = None,
        catch_exceptions: bool = True,
        max_complete_rows: int | None = 1_000_000,
    ) -> None:
        self.spark = spark
        self.tables = tables or {}
        self.index_cols = unexpected_index_column_names
        self.violations_path = violations_path
        self.catch_exceptions = catch_exceptions
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
        results_by_id = self._run(df, plan_suite(suite), [], self._evr)
        results = [results_by_id[cfg.id] for cfg in suite]
        return ExpectationSuiteValidationResult(
            success=all(r.success for r in results),
            results=results,
            statistics=build_statistics(results),
        )

    # ------------------------------------------------------------- internals
    def _run(
        self,
        df: DataFrame,
        plan: SuitePlan,
        keys: list[str],
        finish: Callable[[Any, GroupPasses], Any],
        collect: Callable[[DataFrame], list] = DataFrame.collect,
    ) -> dict[str, Any]:
        """The run loop: ``plan`` over ``df`` with ``keys`` in front of every
        pass, giving expectation id → what ``finish(check, passes)`` built
        from its group's passes, or the check's exception EVR under
        ``catch_exceptions`` (without it, the first broken config, unresolved
        ``row_condition`` or failing pass raises). Finishing may launch
        partial-list / top-k jobs, independent per check, so it runs on the
        pass pool too. Side checks have no key column: only a zero-key run
        runs them, on the pool alongside the groups' passes. The index
        columns are the caller's that ``df`` has, one list for the whole run.
        """
        index_cols = [c for c in self.index_cols or [] if c in df.columns]
        sides = [] if keys else plan.sides
        out: dict[str, Any] = {}
        sinks: list[DataFrame] = []
        done: list[GroupPasses] = []

        for cfg, exc in plan.broken:
            if not self.catch_exceptions:
                raise exc
            out[cfg.id] = _exception_evr(cfg, exc)

        def run_group(group: DomainGroup, gdf: DataFrame) -> None:
            passes = run_passes(group, gdf, keys, pool, collect, index_cols)
            done.append(passes)
            if self.violations_path:
                sinks.extend(violation_frames(group, passes))
            futs = {c.cfg.id: pool.submit(finish, c, passes) for c in group.checks}
            for c in group.checks:
                out[c.cfg.id] = self._guard(c.cfg, futs[c.cfg.id].result)

        # every cached relation is released after the violations write
        # (its last reader), also when a pass or the write raises: a
        # checkpointed per-partition loop must not accumulate cache entries
        try:
            with SparkThreadPool(self.spark) as pool:
                fut_side = {
                    c.cfg.id: pool.submit(self._run_side, c, df, index_cols, sinks)
                    for c in sides
                }
                for group in plan.groups:
                    try:
                        # a row_condition that does not resolve fails the
                        # group's checks: there is no bundle to isolate
                        gdf = domain(df, group.row_condition)
                    except AnalysisException as exc:
                        if not self.catch_exceptions:
                            raise
                        for c in group.checks:
                            out[c.cfg.id] = _exception_evr(c.cfg, exc)
                        continue
                    try:
                        run_group(group, gdf)
                    except Exception:
                        if not self.catch_exceptions:
                            raise
                        # One bad expectation (e.g. unknown column) poisons
                        # the shared bundle. Degrade to one guarded
                        # single-check group per check, so healthy checks
                        # still validate and the broken one gets its own
                        # EVR.exception_info (reference catch_exceptions
                        # fault-isolation semantics).
                        for member in group.checks:
                            mini = DomainGroup(group.row_condition)
                            mini.add(member)
                            try:
                                run_group(mini, gdf)
                            except Exception as exc:  # noqa: BLE001
                                out[member.cfg.id] = _exception_evr(member.cfg, exc)
                for c in sides:
                    out[c.cfg.id] = self._guard(c.cfg, fut_side[c.cfg.id].result)

            if self.violations_path and sinks:
                reduce(DataFrame.unionByName, sinks).write.mode(
                    "append"
                ).partitionBy("expectation").parquet(self.violations_path)
        finally:
            for passes in done:
                passes.release()
        return out

    def _guard(self, cfg, fn) -> ExpectationValidationResult:
        if not self.catch_exceptions:
            return fn()
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 — reference catch_exceptions parity
            return _exception_evr(cfg, exc)

    def _evr(self, c, passes: GroupPasses) -> ExpectationValidationResult:
        """One check's EVR: the counters and success of :func:`verdict` over
        the zero-key values, plus what the check's result format asks for
        (partial lists, top-k, COMPLETE collects, details)."""
        values = passes.values[()]
        v = verdict(c, values)
        if isinstance(c, CompiledAgg):
            result: dict[str, Any] = {
                "element_count": v.element_count, "observed_value": v.observed,
            }
            details = c.metric.details(values)
            if details:
                result["details"] = details
        elif isinstance(c, CompiledContiguous):
            # counted over groups: no missing rows, no partial lists
            result = {
                "element_count": v.element_count,
                "unexpected_count": v.unexpected_count,
                "unexpected_percent": 100.0 * v.unexpected_count
                / v.element_count if v.element_count else None,
            }
        elif isinstance(c, CompiledUnique):
            result = self._unique_result(c, v, passes)
        else:
            result = self._map_result(c, v, *passes.conds[c.cfg.id],
                                      passes.index_cols)
        return ExpectationValidationResult(
            success=v.success, expectation_config=c.cfg.to_dict(), result=result,
            verdict=v,
        )

    # ---- map expectations -------------------------------------------------
    def _map_flags(self, cond, gdf: DataFrame, index_cols: list[str]) -> DataFrame:
        """Project (index…, observed, unexpected-flag). Window conditions are
        legal here because flags are a select, not an agg."""
        cols = [F.col(ic) for ic in index_cols if ic in gdf.columns]
        cols.append(cond.observed.alias("__observed"))
        cols.append(cond.unexpected.alias("__unexpected"))
        return gdf.select(*cols)

    def _map_result(
        self, cm: CompiledMap, v: Verdict, cond, gdf: DataFrame,
        run_index_cols: list[str],
    ) -> dict[str, Any]:
        unexpected_count = v.unexpected_count
        rf = cm.result_format
        level = rf["result_format"]
        n_partial = rf["partial_unexpected_count"]
        index_cols = rf.get("unexpected_index_column_names") or run_index_cols

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
            partial_list = [row_value(r["__observed"]) for r in head]
            if index_cols and level in ("SUMMARY", "COMPLETE"):
                partial_index = [
                    {c: row_value(r[c]) for c in index_cols if c in flags.columns}
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
                    {"value": row_value(r["__observed"]), "count": int(r["count"])}
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
                unexpected_list = [row_value(r["__observed"]) for r in rows]
                if index_cols:
                    unexpected_index_list = [
                        {c: row_value(r[c]) for c in index_cols if c in flags.columns}
                        for r in rows
                    ]
                if rf.get("include_unexpected_rows"):
                    # flag-project first: window conditions can't sit in WHERE
                    full = gdf.withColumn("__unexpected", cond.unexpected)
                    unexpected_rows = [
                        {
                            k: row_value(x)
                            for k, x in r.asDict().items()
                            if k != "__unexpected"
                        }
                        for r in full.filter(F.col("__unexpected")).collect()
                    ]

        result = format_map_result(
            result_format=rf,
            element_count=v.element_count,
            null_count=v.missing_count,
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
        return result

    # ---- uniqueness ---------------------------------------------------------
    def _unique_result(
        self, cu: CompiledUnique, v: Verdict, passes: GroupPasses
    ) -> dict[str, Any]:
        """Key uniqueness from the skew-aware value-count pass — never the
        reference's full-table ``Window.partitionBy`` (SURVEY.md §4.3).
        Row-level marking parity: ALL rows of a duplicated key are
        unexpected; partial lists and top-k read the duplicate-key frame."""
        dups = passes.bad_keys[cu.cfg.id]
        rf = cu.result_format
        n_partial = rf["partial_unexpected_count"]
        partial_list: list[Any] = []
        partial_counts: list[dict[str, Any]] = []
        if rf["result_format"] != "BOOLEAN_ONLY" and v.unexpected_count > 0:
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
            partial_list = [row_value(r["v"]) for r in head]
            if rf["result_format"] in ("SUMMARY", "COMPLETE"):
                top = (
                    dups.orderBy(F.desc("count"), *cu.key_cols)
                    .limit(n_partial)
                    .collect()
                )
                partial_counts = [
                    {
                        "value": row_value(r[cu.key_cols[0]])
                        if len(cu.key_cols) == 1
                        else {c: row_value(r[c]) for c in cu.key_cols},
                        "count": int(r["count"]),
                    }
                    for r in top
                ]

        result = format_map_result(
            result_format=rf,
            element_count=v.element_count,
            null_count=v.missing_count,
            unexpected_count=v.unexpected_count,
            partial_unexpected_list=partial_list,
            partial_unexpected_counts=partial_counts,
        )
        if rf["result_format"] != "BOOLEAN_ONLY":
            result["details"] = {"duplicate_key_count": int(
                passes.values[()].get(f"dk__{cu.cfg.id}") or 0
            )}
        return result

    # ---- side checks ------------------------------------------------------
    def _run_side(
        self, c: CompiledSide, df: DataFrame, index_cols: list[str],
        sinks: list[DataFrame],
    ) -> ExpectationValidationResult:
        """A side check over its ``row_condition``'s batch, judged by the
        counts of its own result; like every check's, its sink frame only
        when some row is unexpected."""
        batch = domain(df, c.cfg.row_condition)
        success, result = c.run(batch, self.tables)
        v = Verdict(bool(success), *(int(result.get(k) or 0) for k in (
            "element_count", "missing_count", "unexpected_count")),
            result.get("observed_value"))
        if self.violations_path and c.violations is not None and v.unexpected_count:
            sinks.append(c.violations(batch, self.tables).select(
                *index_cols,
                F.lit(c.cfg.expectation_type).alias("expectation"),
                "observed_value",
            ))
        return ExpectationValidationResult(
            success=success, expectation_config=c.cfg.to_dict(), result=result,
            verdict=v,
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
