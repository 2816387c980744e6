"""Suite → PassPlan compiler.

The reference resolves a metric DAG in waves and bundles AGGREGATE_FN
partials per domain into one ``df.agg`` (reference:
``ValidationGraph.build_metric_dependency_graph`` +
``SparkDFExecutionEngine.resolve_metric_bundle`` — SURVEY.md §3/§4.1).
Catalyst does NOT fuse separate actions, so cross-expectation bundling is
the engine's own core rule. Our compiler plans the whole suite into a small,
fixed set of passes per domain group (= distinct ``row_condition``), which
``runner.run_passes`` runs with the executor's keys in front (none for a
whole-table run, the segment for ``validate_by_group``):

- **bundle** — ONE ``groupBy(*keys).agg(...)`` job per group and key set
  (:meth:`DomainGroup.bundle_exprs`): shared ``element_count``, per-map
  null/unexpected counters, every aggregate metric expr (deduped by
  deterministic alias), KL histogram buckets, and wave-2 dependencies. No
  column cohorts: one scan reads the union of the group's columns.
- **window** — map conditions that need a window (increasing/decreasing):
  each built per run over the executor's keys in front of its own
  ``partition_by`` (absent: the run's index columns), flags projected then
  counted in one pass.
- **wave 2** — aggregate-dependent map counters (z-score), rebuilt through
  ``rebuild_expr`` over the wave-1 values.
- **value counts / uniqueness / contiguity** — one pass per value-counts
  column, one skew-aware value count per uniqueness check (exact; no
  approximate gate) and one per-group stats aggregation per contiguity
  check.
- **violations** — a single melt pass over all failing map rows feeding
  the violations sink.

Metric dedup: identical aggregate exprs requested by different expectations
share one alias → computed once (reference: ``Validator._metrics`` cache).

Every executor plans the caller's suite as written: what differs between
runs (the executor's keys, its index columns) arrives at run time, so the
plan cache holds one plan per suite and every result carries the caller's
expectation ids.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column

from great_expectations_spark.registry import (
    Compiled,
    CompiledAgg,
    CompiledContiguous,
    CompiledMap,
    CompiledSide,
    CompiledUnique,
    compile_expectation,
)
from great_expectations_spark.suite import ExpectationSuite

@dataclass
class DomainGroup:
    """All expectations sharing one row_condition — one scan family."""

    row_condition: str | None
    maps: list[CompiledMap] = field(default_factory=list)  # window-free, dep-free
    window_maps: list[CompiledMap] = field(default_factory=list)
    dependent_maps: list[CompiledMap] = field(default_factory=list)
    aggs: list[CompiledAgg] = field(default_factory=list)
    uniques: list[CompiledUnique] = field(default_factory=list)
    contiguous: list[CompiledContiguous] = field(default_factory=list)

    def add(self, compiled: Compiled) -> None:
        """File a check under the pass that counts it."""
        if isinstance(compiled, CompiledMap):
            if compiled.condition.requires:
                self.dependent_maps.append(compiled)
            elif compiled.condition.window_expr is not None:
                self.window_maps.append(compiled)
            else:
                self.maps.append(compiled)
        elif isinstance(compiled, CompiledAgg):
            self.aggs.append(compiled)
        elif isinstance(compiled, CompiledUnique):
            self.uniques.append(compiled)
        else:
            self.contiguous.append(compiled)

    @property
    def value_counts_columns(self) -> list[str]:
        """The columns whose modes the value-counts pass computes, once
        each."""
        return list(dict.fromkeys(
            ca.metric.modes_column for ca in self.aggs
            if ca.metric.modes_column is not None
        ))

    @property
    def checks(self) -> list:
        """Every compiled check of the group, maps first."""
        return (self.maps + self.window_maps + self.dependent_maps + self.aggs
                + self.uniques + self.contiguous)

    def bundle_exprs(self) -> dict[str, Column]:
        """The bundled pass's aggregate expressions, deduped by alias (same
        alias ⇒ same expr): the shared ``element_count``, the counters of
        every window-free map, the wave-1 dependencies of two-wave
        conditions and every aggregate metric. Window-backed maps count in
        their own pass."""
        from pyspark.sql import functions as F

        exprs: dict[str, Column] = {"element_count": F.count(F.lit(1))}
        for cm in self.maps + self.dependent_maps:
            exprs[f"nc__{cm.cfg.id}"] = F.sum(
                F.when(cm.condition.missing, 1).otherwise(0)
            )
        for cm in self.maps:
            exprs[f"uc__{cm.cfg.id}"] = F.sum(
                F.when(cm.condition.unexpected, 1).otherwise(0)
            )
        for cm in self.dependent_maps:
            exprs.update(cm.condition.requires)  # wave-2 deps ride wave 1
        for ca in self.aggs:
            exprs.update(ca.metric.exprs)
        return exprs


@dataclass
class SuitePlan:
    groups: list[DomainGroup] = field(default_factory=list)
    #: checks outside the domain groups, each run on its own
    sides: list[CompiledSide] = field(default_factory=list)
    #: every compiled check, in suite order (for EVR output)
    ordered: list[Compiled] = field(default_factory=list)
    #: configs that failed to compile (bad kwargs / unknown type) — the
    #: runner turns these into exception EVRs under catch_exceptions
    broken: list[tuple[Any, Exception]] = field(default_factory=list)


# (app_id, suite_hash) → SuitePlan. Column expressions are JVM-session-bound
# objects, so the cache key includes the application id; a checkpoint run
# validating 10k partitions of one suite compiles it once, not 10k times.
_PLAN_CACHE: dict[tuple[str, str], SuitePlan] = {}
_PLAN_CACHE_MAX = 64


def plan_suite(suite: ExpectationSuite) -> SuitePlan:
    """Compile + group the suite (cached per active Spark session)."""
    app_id = None
    try:
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            app_id = active.sparkContext.applicationId
    except Exception:  # noqa: BLE001 — cache is best-effort
        app_id = None

    key = (app_id, suite.suite_hash) if app_id else None
    if key is not None and key in _PLAN_CACHE:
        return _PLAN_CACHE[key]
    plan = _plan_suite_uncached(suite)
    if key is not None:
        if len(_PLAN_CACHE) >= _PLAN_CACHE_MAX:
            _PLAN_CACHE.pop(next(iter(_PLAN_CACHE)))
        _PLAN_CACHE[key] = plan
    return plan


def _plan_suite_uncached(suite: ExpectationSuite) -> SuitePlan:
    plan = SuitePlan()
    groups: dict[Any, DomainGroup] = {}
    for cfg in suite:
        try:
            compiled = compile_expectation(cfg)
        except Exception as exc:  # noqa: BLE001 — per-expectation isolation
            plan.broken.append((cfg, exc))
            continue
        if isinstance(compiled, CompiledSide):
            plan.sides.append(compiled)
        else:
            groups.setdefault(
                cfg.row_condition, DomainGroup(cfg.row_condition)
            ).add(compiled)
        plan.ordered.append(compiled)
    plan.groups = list(groups.values())
    return plan
