"""Suite → PassPlan compiler.

The reference resolves a metric DAG in waves and bundles AGGREGATE_FN
partials per domain into one ``df.agg`` (reference:
``ValidationGraph.build_metric_dependency_graph`` +
``SparkDFExecutionEngine.resolve_metric_bundle`` — SURVEY.md §3/§4.1).
Catalyst does NOT fuse separate actions, so cross-expectation bundling is
the engine's own core rule. Our compiler plans the whole suite into a small,
fixed set of passes per domain group (= distinct ``row_condition``):

- **P1 bundle** — ONE ``df.agg(...)`` carrying: shared ``element_count``,
  per-map null/unexpected counters, every aggregate metric expr (deduped by
  deterministic alias), KL histogram buckets, and wave-2 dependencies.
- **P-window** — map conditions that need a window (increasing/decreasing):
  flags projected then aggregated in one pass.
- **P2** — aggregate-dependent map counters (z-score) with wave-1 values
  injected as literals.
- **P-groupby** — key-uniqueness (salted two-level groupBy) and
  value-counts-backed metrics; one job per distinct key set.
- **P-violations** — a single melt pass over all failing map rows feeding
  the violations sink.

Metric dedup: identical aggregate exprs requested by different expectations
share one alias → computed once (reference: ``Validator._metrics`` cache).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column

from great_expectations_spark.registry import (
    Compiled,
    CompiledAgg,
    CompiledMap,
    CompiledMeta,
    CompiledQuery,
    CompiledRelational,
    CompiledUnique,
    compile_expectation,
)
from great_expectations_spark.suite import ExpectationConfiguration, ExpectationSuite

_MONOTONE_TYPES = frozenset(
    {
        "expect_column_values_to_be_increasing",
        "expect_column_values_to_be_decreasing",
    }
)


def monotone_windows(
    suite: ExpectationSuite,
    index_cols: list[str] | None,
    segment_col: str | None = None,
) -> ExpectationSuite:
    """The window keys increasing/decreasing checks run under, before
    planning.

    An absent ``partition_by`` defaults to ``index_cols`` minus the target
    column: a suite that declares identity columns (e.g. ``["conv_id",
    "turn_idx"]``) has already named its natural window key, so the
    scale-hazardous GLOBAL window (whole batch shuffled into one task) is
    opt-in — pass ``partition_by=None`` explicitly for reference parity.
    (Windowing turn_idx BY turn_idx would leave one row per window and
    make the check vacuous, hence the target column's exclusion.)
    ``segment_col`` (the segmented executor) is PREPENDED to every monotone
    check's keys, so lag never crosses a segment boundary: windowing the
    frame by ``(segment, *keys)`` computes exactly what a per-segment
    filtered run windowed by ``keys`` would, and an explicit
    ``partition_by=None`` becomes the global window of each segment.

    The rewrite keeps suite order, so results map back to the caller's
    configs (and ids) by position; the checkpoint's ``suite_hash`` is taken
    from the caller's suite, so its identity is unchanged."""
    rewritten, changed = [], False
    for cfg in suite.expectations:
        if cfg.expectation_type in _MONOTONE_TYPES:
            kw = cfg.kwargs
            if "partition_by" in kw:
                pb = kw["partition_by"]
                keys = [pb] if isinstance(pb, str) else list(pb or [])
            else:
                keys = [c for c in index_cols or [] if c != kw.get("column")]
            new_keys = None
            if segment_col is not None:
                new_keys = [segment_col] + [k for k in keys if k != segment_col]
            elif "partition_by" not in kw and keys:
                new_keys = keys
            if new_keys is not None:
                cfg = ExpectationConfiguration(
                    expectation_type=cfg.expectation_type,
                    kwargs={**kw, "partition_by": new_keys},
                    meta=cfg.meta,
                )
                changed = True
        rewritten.append(cfg)
    if not changed:
        return suite
    return ExpectationSuite(suite.name, rewritten, suite.meta)


@dataclass
class DomainGroup:
    """All expectations sharing one row_condition — one scan family."""

    row_condition: str | None
    maps: list[CompiledMap] = field(default_factory=list)  # window-free, dep-free
    window_maps: list[CompiledMap] = field(default_factory=list)
    dependent_maps: list[CompiledMap] = field(default_factory=list)
    aggs: list[CompiledAgg] = field(default_factory=list)
    uniques: list[CompiledUnique] = field(default_factory=list)
    #: columns whose exact value_counts the groupBy pass must produce
    value_counts_columns: list[str] = field(default_factory=list)

    @property
    def n_passes(self) -> int:
        n = 1 if (self.maps or self.aggs or self.dependent_maps) else 0
        n += 1 if self.window_maps else 0
        n += 1 if self.dependent_maps else 0
        n += len(self.uniques) + len(self.value_counts_columns)
        return n

    def bundle_items(self) -> list[tuple[frozenset, str, Column]]:
        """The P1 bundled aggregate expressions as ``(column_set, alias,
        expr)`` triples, deduped by alias (same alias ⇒ same expr, later
        wins — identical semantics to a dict update).

        The column set is the expression's scan footprint (map domain
        columns / the agg's column kwarg); the runner merges overlapping
        sets into COLUMN-DISJOINT COHORTS and runs one concurrent
        aggregation pass per cohort: parquet column pruning keeps total
        bytes identical to the single union scan, while wall-clock drops
        to the slowest cohort (the wide ``text`` column no longer gates
        the narrow numeric metrics). ``element_count`` carries an empty
        set and attaches to the narrowest cohort."""
        from pyspark.sql import functions as F

        items: list[tuple[frozenset, str, Column]] = [
            (frozenset(), "element_count", F.count(F.lit(1)))
        ]
        for cm in self.maps + self.window_maps + self.dependent_maps:
            cols = frozenset(cm.condition.domain_cols)
            items.append(
                (cols, f"nc__{cm.cfg.id}",
                 F.sum(F.when(cm.condition.missing, 1).otherwise(0)))
            )
        for cm in self.maps:
            items.append(
                (frozenset(cm.condition.domain_cols), f"uc__{cm.cfg.id}",
                 F.sum(F.when(cm.condition.unexpected, 1).otherwise(0)))
            )
        for cm in self.dependent_maps:
            cols = frozenset(cm.condition.domain_cols)
            for a, e in cm.condition.requires.items():  # wave-2 deps ride wave 1
                items.append((cols, a, e))
        for ca in self.aggs:
            cols = frozenset(
                c
                for k in ("column", "column_A", "column_B")
                if (c := ca.cfg.kwargs.get(k)) is not None
            ) | frozenset(ca.cfg.kwargs.get("column_list") or [])
            for a, e in ca.metric.exprs.items():
                items.append((cols, a, e))
        return items

    def bundle_exprs(self) -> dict[str, Column]:
        """The P1 bundled aggregate expressions, deduped by alias."""
        return {a: e for _, a, e in self.bundle_items()}


@dataclass
class SuitePlan:
    groups: list[DomainGroup]
    metas: list[CompiledMeta]
    relationals: list[CompiledRelational]
    queries: list[CompiledQuery]
    #: preserves suite order for EVR output: (kind, group_idx_or_None, obj)
    ordered: list[tuple[str, Compiled]] = field(default_factory=list)
    #: configs that failed to compile (bad kwargs / unknown type) — the
    #: runner turns these into exception EVRs under catch_exceptions
    broken: list[tuple[Any, Exception, str]] = field(default_factory=list)

    @property
    def total_passes(self) -> int:
        return sum(g.n_passes for g in self.groups)


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
    groups: dict[Any, DomainGroup] = {}
    metas: list[CompiledMeta] = []
    relationals: list[CompiledRelational] = []
    queries: list[CompiledQuery] = []
    ordered: list[tuple[str, Compiled]] = []

    def group_for(row_condition: str | None) -> DomainGroup:
        if row_condition not in groups:
            groups[row_condition] = DomainGroup(row_condition=row_condition)
        return groups[row_condition]

    broken: list[tuple[Any, Exception, str]] = []
    for cfg in suite:
        try:
            compiled = compile_expectation(cfg)
        except Exception as exc:  # noqa: BLE001 — per-expectation isolation
            import traceback

            broken.append((cfg, exc, traceback.format_exc()))
            continue
        if isinstance(compiled, CompiledMap):
            g = group_for(cfg.row_condition)
            if compiled.condition.requires:
                g.dependent_maps.append(compiled)
                ordered.append(("map_dependent", compiled))
            elif compiled.condition.needs_window:
                g.window_maps.append(compiled)
                ordered.append(("map_window", compiled))
            else:
                g.maps.append(compiled)
                ordered.append(("map", compiled))
        elif isinstance(compiled, CompiledAgg):
            g = group_for(cfg.row_condition)
            vc_col = getattr(compiled.metric, "groupby_value_counts", None)
            if vc_col is not None and vc_col not in g.value_counts_columns:
                g.value_counts_columns.append(vc_col)
            g.aggs.append(compiled)
            ordered.append(("agg", compiled))
        elif isinstance(compiled, CompiledUnique):
            group_for(cfg.row_condition).uniques.append(compiled)
            ordered.append(("unique", compiled))
        elif isinstance(compiled, CompiledMeta):
            metas.append(compiled)
            ordered.append(("meta", compiled))
        elif isinstance(compiled, CompiledRelational):
            relationals.append(compiled)
            ordered.append(("relational", compiled))
        elif isinstance(compiled, CompiledQuery):
            queries.append(compiled)
            ordered.append(("query", compiled))
        else:  # pragma: no cover
            raise TypeError(f"unhandled compiled kind {type(compiled)}")

    return SuitePlan(
        groups=list(groups.values()),
        metas=metas,
        relationals=relationals,
        queries=queries,
        ordered=ordered,
        broken=broken,
    )
