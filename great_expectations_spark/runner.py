"""Suite execution — bundled passes, EVR assembly, violations sink.

Maps the reference's ``Checkpoint.run`` / ``Validator.graph_validate``
lifecycle (SURVEY.md §3, entry point B) onto a fixed, small number of Spark
jobs per domain group:

  plan (metric dedup + bundling, driver-side, no Spark)
    → P1 bundled ``df.agg`` (ONE job for all scalar metrics + map counters)
    → P-window / P2 (only if window-backed or aggregate-dependent conditions)
    → P-groupby (salted two-level aggregation per uniqueness key set)
    → per-expectation partial-list jobs (``filter().limit(n)`` —
      CollectLimit early-exits the scan; SURVEY.md §2.9)
    → optional single melt pass writing ALL violation rows
      ``(index…, expectation, observed_value)`` to the sink — executor-side
      write, never collected to the driver (SURVEY.md §4.3)

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

from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.storagelevel import StorageLevel

from great_expectations_spark.plans.planner import (
    DomainGroup,
    SuitePlan,
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


def _scan_footprint(gdf: DataFrame, col: str) -> frozenset:
    """The set of BASE columns a single named column actually reads, from
    the physical plan's leaf scan output. Derived columns (e.g.
    ``withColumn("__text_len", length(text))``) resolve to their source
    columns, so cohort formation (below) never puts a derived column and
    its source in different cohorts — which would decompress the source
    column once per cohort. Falls back to the column's own name (and for
    in-memory LocalTableScan leaves returns the full schema — conservative:
    merges everything into one cohort, where splitting had no scan-pruning
    benefit anyway)."""
    try:
        leaves = gdf.select(col)._jdf.queryExecution().executedPlan().collectLeaves()
        names = set()
        for i in range(leaves.size()):
            out = leaves.apply(i).output()
            for j in range(out.size()):
                names.add(out.apply(j).name())
        return frozenset(names) if names else frozenset([col])
    except Exception:  # noqa: BLE001 — footprint is an optimization hint only
        return frozenset([col])


def _bundle_cohorts(
    items: list, max_cohorts: int = 4
) -> list[dict[str, Any]]:
    """Merge ``(column_set, alias, expr)`` triples into COLUMN-DISJOINT
    cohorts: overlapping column sets union (so no column is ever scanned by
    two cohorts — total bytes = the single union scan), empty-set items
    (element_count) attach to the narrowest cohort, and the smallest cohorts
    merge until at most ``max_cohorts`` remain (each cohort is one Spark
    job; more jobs than the runner's concurrency budget only adds
    scheduling overhead). Returns alias→expr dicts, deduped by alias in
    item order."""
    # union-find over column names
    parent: dict[str, str] = {}

    def find(c: str) -> str:
        while parent.setdefault(c, c) != c:
            parent[c] = parent[parent[c]]
            c = parent[c]
        return c

    for cols, _, _ in items:
        cols = list(cols)
        for other in cols[1:]:
            parent[find(other)] = find(cols[0])

    cohorts: dict[str, dict[str, Any]] = {}
    deferred: list[tuple[str, Any]] = []
    for cols, alias, expr in items:
        if not cols:
            deferred.append((alias, expr))
            continue
        cohorts.setdefault(find(next(iter(cols))), {})[alias] = expr

    out = sorted(cohorts.values(), key=len)
    if not out:
        out = [{}]
    for alias, expr in deferred:
        out[0][alias] = expr
    out = [c for c in out if c]
    while len(out) > max(1, max_cohorts):
        out.sort(key=len)
        out[1].update(out[0])
        out.pop(0)
    return out


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
    segment: F.Column | None = None,
) -> DataFrame:
    """The violations-sink rows of one map condition: ``(index…,
    expectation, observed_value)``, led by a ``group`` column when the
    segmented executor passes its ``segment``. The condition is projected
    BEFORE filtering — window-backed conditions (increasing/decreasing) are
    illegal in a WHERE clause."""
    lead = ["group"] if segment is not None else []
    return (
        gdf.select(
            *([segment.alias("group")] if segment is not None else []),
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
    from functools import reduce

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
    from functools import reduce

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
        max_concurrent_jobs: int = 4,
        max_complete_rows: int | None = 1_000_000,
    ) -> None:
        self.spark = spark
        self.tables = tables or {}
        self.index_cols = unexpected_index_column_names
        self.violations_path = violations_path
        self.catch_exceptions = catch_exceptions
        self.persist = persist
        self.max_complete_rows = max_complete_rows
        # independent validation passes are submitted as concurrent Spark
        # jobs (thread pool → FIFO scheduler interleaves stages); 1 restores
        # strictly sequential execution
        self.max_concurrent_jobs = max(1, int(max_concurrent_jobs))

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

        # relational / query expectations are independent of the domain
        # groups — launch them concurrently so their joins interleave with
        # the groups' aggregation stages (same rationale as _run_group's
        # inner pool)
        from concurrent.futures import ThreadPoolExecutor

        side_pool = (
            ThreadPoolExecutor(max_workers=self.max_concurrent_jobs)
            if (plan.relationals or plan.queries) and self.max_concurrent_jobs > 1
            else None
        )
        fut_rel: dict[str, Any] = {}
        fut_q: dict[str, Any] = {}
        if side_pool is not None:
            fut_rel = {
                cr.cfg.id: side_pool.submit(
                    self._run_relational, cr, df, violation_frames
                )
                for cr in plan.relationals
            }
            fut_q = {
                cq.cfg.id: side_pool.submit(self._run_query, cq, df)
                for cq in plan.queries
            }

        try:
            for group in plan.groups:
                gdf = df.filter(F.expr(group.row_condition)) if group.row_condition else df
                persisted = False
                if self.persist and group.n_passes > 1:
                    gdf = gdf.persist(StorageLevel.MEMORY_AND_DISK)
                    persisted = True
                try:
                    try:
                        self._run_group(group, gdf, results_by_id, violation_frames)
                    except Exception:
                        if not self.catch_exceptions:
                            raise
                        # One bad expectation (e.g. unknown column) poisons the
                        # shared bundle. Degrade to per-expectation mini-groups so
                        # healthy expectations still validate and the broken one
                        # gets its own EVR.exception_info (reference
                        # catch_exceptions fault-isolation semantics).
                        self._run_group_isolated(group, gdf, results_by_id, violation_frames)
                finally:
                    if persisted:
                        gdf.unpersist()

            for cm in plan.metas:
                results_by_id[cm.cfg.id] = self._guard(
                    cm.cfg, lambda cm=cm: self._run_meta(cm, df)
                )
            for cr in plan.relationals:
                results_by_id[cr.cfg.id] = self._guard(
                    cr.cfg,
                    lambda cr=cr: (
                        fut_rel[cr.cfg.id].result()
                        if cr.cfg.id in fut_rel
                        else self._run_relational(cr, df, violation_frames)
                    ),
                )
            for cq in plan.queries:
                results_by_id[cq.cfg.id] = self._guard(
                    cq.cfg,
                    lambda cq=cq: (
                        fut_q[cq.cfg.id].result()
                        if cq.cfg.id in fut_q
                        else self._run_query(cq, df)
                    ),
                )
        finally:
            if side_pool is not None:
                side_pool.shutdown(wait=True)

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
                self._run_group(mini, gdf, out, violation_frames)
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
        out: dict[str, ExpectationValidationResult],
        violation_frames: list[DataFrame],
    ) -> None:
        # Independent passes (bundle agg, mode groupBys, window pass, each
        # uniqueness groupBy) are submitted as CONCURRENT Spark jobs from a
        # thread pool: the scheduler interleaves their stages, so straggler
        # tasks of one pass no longer leave the cluster idle — wall time per
        # group approaches max(pass) instead of sum(pass).
        from concurrent.futures import ThreadPoolExecutor

        # ---- P1: the bundled aggregation, split into column-disjoint
        # cohorts run as concurrent jobs (see DomainGroup.bundle_items) ----
        items = group.bundle_items()
        for cu in group.uniques:
            items.append(
                (frozenset(cu.key_cols), f"nc__{cu.cfg.id}",
                 F.sum(F.when(unique_missing(cu), 1).otherwise(0)))
            )
        if self.max_concurrent_jobs > 1 and len(items) > 1:
            # remap each item's columns to their physical scan footprint so
            # cohorts are disjoint in BASE columns, not just names
            fp: dict[str, frozenset] = {}
            items = [
                (
                    frozenset().union(
                        *[fp.setdefault(c, _scan_footprint(gdf, c)) for c in cols]
                    )
                    if cols
                    else cols,
                    alias,
                    expr,
                )
                for cols, alias, expr in items
            ]
        cohorts = _bundle_cohorts(items, max_cohorts=self.max_concurrent_jobs)

        def cohort_job(exprs: dict[str, Any]) -> dict[str, Any]:
            row = gdf.agg(*[e.alias(a) for a, e in exprs.items()]).collect()[0]
            return {k: _row_value(v) for k, v in row.asDict().items()}

        def bundle_job() -> dict[str, Any]:
            # single-cohort path (or max_concurrent_jobs == 1): one union scan
            out: dict[str, Any] = {}
            for c in cohorts:
                out.update(cohort_job(c))
            return out

        def mode_job(col: str) -> list[Any]:
            vc = (
                gdf.filter(F.col(col).isNotNull())
                .groupBy(col)
                .agg(F.count(F.lit(1)).alias("count"))
            ).persist(StorageLevel.MEMORY_AND_DISK)
            try:
                mx = vc.agg(F.max("count").alias("m")).collect()[0]["m"]
                return (
                    [r[col] for r in vc.filter(F.col("count") == mx).orderBy(col).collect()]
                    if mx is not None
                    else []
                )
            finally:
                vc.unpersist()

        def window_job() -> dict[str, Any]:
            flag_cols = [
                cm.condition.unexpected.cast("int").alias(f"uc__{cm.cfg.id}")
                for cm in group.window_maps
            ]
            row = (
                gdf.select(*flag_cols)
                .agg(*[F.sum(f"uc__{cm.cfg.id}").alias(f"uc__{cm.cfg.id}") for cm in group.window_maps])
                .collect()[0]
            )
            return row.asDict()

        n_jobs = (
            len(cohorts)
            + len(group.value_counts_columns)
            + (1 if group.window_maps else 0)
            + len(group.uniques)
        )
        pool = ThreadPoolExecutor(
            max_workers=max(1, min(n_jobs, self.max_concurrent_jobs))
        )
        fut_unique: dict[str, Any] = {}
        try:
            if self.max_concurrent_jobs > 1:
                fut_bundles = [pool.submit(cohort_job, c) for c in cohorts]
            else:
                fut_bundles = [pool.submit(bundle_job)]
            fut_modes = {
                col: pool.submit(mode_job, col)
                for col in group.value_counts_columns
            }
            fut_window = pool.submit(window_job) if group.window_maps else None
            fut_unique = {
                cu.cfg.id: pool.submit(self._unique_precompute, cu, gdf)
                for cu in group.uniques
            }

            values: dict[str, Any] = {}
            for fb in fut_bundles:
                values.update(fb.result())
            from great_expectations_spark.functions.aggregates import safe_alias

            for col, fut in fut_modes.items():
                values[safe_alias("most_common", col)] = fut.result()
            if fut_window is not None:
                values.update(fut_window.result())
        except Exception:
            # group-level failure → unpersist any dup frames the uniqueness
            # jobs already materialized, then let the isolation path retry
            pool.shutdown(wait=True)
            for fut in fut_unique.values():
                try:
                    pre = fut.result()
                    if pre.get("dups") is not None:
                        pre["dups"].unpersist()
                except Exception:  # noqa: BLE001 — its own EVR covers it
                    pass
            raise

        # the pool stays open: EVR finishing below submits its partial-list
        # jobs to it; closed in the finally at the end of the method
        try:
            self._run_group_finish(
                group, gdf, values, {}, out, violation_frames, pool, fut_unique
            )
        finally:
            pool.shutdown(wait=True)

    def _run_group_finish(
        self,
        group: DomainGroup,
        gdf: DataFrame,
        values: dict[str, Any],
        rebuilt: dict[str, Any],
        out: dict[str, ExpectationValidationResult],
        violation_frames: list[DataFrame],
        pool,
        fut_unique: dict[str, Any],
    ) -> None:
        # ---- P2: aggregate-dependent map conditions -----------------------
        if group.dependent_maps:
            dep_exprs = {}
            for cm in group.dependent_maps:
                cond = cm.condition.rebuild(values)
                rebuilt[cm.cfg.id] = cond
                dep_exprs[f"uc__{cm.cfg.id}"] = F.sum(
                    F.when(cond.unexpected, 1).otherwise(0)
                )
            row = gdf.agg(*[e.alias(a) for a, e in dep_exprs.items()]).collect()[0]
            values.update(row.asDict())

        # ---- EVR assembly --------------------------------------------------
        element_count = int(values.get("element_count", 0) or 0)

        # map-EVR finishing launches partial-list / top-k jobs when an
        # expectation has unexpected rows — independent per expectation, so
        # they go through the pool as well instead of running back-to-back
        fin_futs = {}
        for cm in group.maps + group.window_maps + group.dependent_maps:
            cond = rebuilt.get(cm.cfg.id, cm.condition)
            fin_futs[cm.cfg.id] = pool.submit(
                self._finish_map, cm, cond, gdf, element_count, values
            )
            if self.violations_path:
                violation_frames.append(map_violations(
                    cm.cfg.expectation_type, cond, gdf,
                    self._effective_index_cols(gdf),
                ))
        for cm in group.maps + group.window_maps + group.dependent_maps:
            out[cm.cfg.id] = self._guard(
                cm.cfg, lambda cm=cm: fin_futs[cm.cfg.id].result()
            )

        for ca in group.aggs:
            out[ca.cfg.id] = self._guard(
                ca.cfg, lambda ca=ca: self._finish_agg(ca, values)
            )

        for cu in group.uniques:
            out[cu.cfg.id] = self._guard(
                cu.cfg,
                lambda cu=cu: self._finish_unique(
                    cu, gdf, element_count, int(values.get(f"nc__{cu.cfg.id}", 0) or 0),
                    violation_frames,
                    precomputed=fut_unique[cu.cfg.id].result(),
                ),
            )

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
    def _unique_precompute(self, cu: CompiledUnique, gdf: DataFrame) -> dict:
        """The heavy Spark jobs of one uniqueness check — runs on a worker
        thread concurrently with the bundle/window passes (_run_group)."""
        domain = gdf.filter(~unique_missing(cu))

        if (
            cu.hll_gate
            and cu.mostly is None
            and cu.result_format["result_format"] == "BOOLEAN_ONLY"
        ):
            # HLL fast gate (SURVEY.md §2.3 column_values.unique): when the
            # approximate distinct count is far below the row count the key
            # is *certainly* duplicated (HLL rsd=0.5% → 5σ margin), so a
            # BOOLEAN_ONLY check can fail without the exact groupBy pass.
            # A near-equal estimate proves nothing (HLL may overcount), so
            # the pass/boundary cases fall through to the exact pass.
            row = domain.agg(
                F.approx_count_distinct(F.struct(*cu.key_cols), 0.005).alias("ad"),
                F.count(F.lit(1)).alias("n"),
            ).collect()[0]
            if row["n"] and row["ad"] < row["n"] * (1 - 0.025):
                return {"gate_failed": True}

        # auto skew strategy: salt single-column keys (hot conv_id), plain
        # groupBy for compound keys whose hash spreads uniformly (skew.py)
        vc = skew_value_counts(
            domain, cu.key_cols, salted=cu.cfg.kwargs.get("salted")
        )
        dups = vc.filter(F.col("count") > 1).persist(StorageLevel.MEMORY_AND_DISK)
        stats = dups.agg(
            F.coalesce(F.sum("count"), F.lit(0)).alias("uc"),
            F.count(F.lit(1)).alias("dup_keys"),
        ).collect()[0]
        return {"gate_failed": False, "domain": domain, "dups": dups,
                "stats": stats}

    def _finish_unique(
        self,
        cu: CompiledUnique,
        gdf: DataFrame,
        element_count: int,
        null_count: int,
        violation_frames: list[DataFrame],
        precomputed: dict | None = None,
    ) -> ExpectationValidationResult:
        """Key uniqueness via skew-aware two-level groupBy — never the
        reference's full-table ``Window.partitionBy`` (SURVEY.md §4.3).
        Row-level marking parity: ALL rows of a duplicated key are
        unexpected."""
        pre = precomputed if precomputed is not None else self._unique_precompute(cu, gdf)
        if pre.get("gate_failed"):
            return ExpectationValidationResult(
                success=False,
                expectation_config=cu.cfg.to_dict(),
                result={},
            )
        domain, dups, stats = pre["domain"], pre["dups"], pre["stats"]
        try:
            unexpected_count = int(stats["uc"])
            dup_keys = int(stats["dup_keys"])

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
                    cu, domain, dups, self._effective_index_cols(gdf)
                ))
        finally:
            dups.unpersist()

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
