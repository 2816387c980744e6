"""Column-aggregate metric builders (SURVEY.md §2.5/§2.6).

Each builder returns an :class:`AggMetric` whose ``exprs`` participate in the
suite-wide **bundled aggregation pass** — the engine's core optimization
(reference: ``SparkDFExecutionEngine.resolve_metric_bundle``; N aggregate
metrics over the same domain → ONE ``df.agg(...)`` → one scan). Aliases are
deterministic so identical metrics requested by different expectations
dedup to a single expression (reference: ``Validator._metrics`` cache keyed
by MetricConfiguration id).

An alias carries every parameter its expression reads, so two checks of
one kind on one column with different parameters never share one.

The counts, sums, min/max and histogram, category and ECDF buckets are
*mergeable across partitions* (counts and sums add, min/max combine) — the
property the resumable checkpoint path relies on (SURVEY.md §4.2 item 5).
``percentile_approx``, the HLL distinct counts, ``collect_set`` and
``corr`` are not: merging their partials needs sketches (ROADMAP direction
4), and :func:`quantile_values` is the one quantile expression to swap.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import Column, functions as F


def safe_alias(*parts: Any) -> str:
    """Deterministic, Spark-safe alias from free-form parts. Parts with
    other characters than ``[0-9a-zA-Z_]`` add a digest of the raw parts,
    so columns ``a b`` and ``a_b`` never share an alias in one bundle."""
    raw = "__".join(str(p) for p in parts)
    alias = re.sub(r"[^0-9a-zA-Z_]", "_", raw)
    if alias != raw:
        alias += "__" + hashlib.md5(raw.encode()).hexdigest()[:8]
    return alias


@dataclass
class AggMetric:
    """A set of named scalar aggregate expressions + a finalizer producing
    the observed value from the resolved bundle."""

    exprs: dict[str, Column]
    finalize: Callable[[dict[str, Any]], Any]
    #: extra payload for result.details (e.g. observed histogram partition)
    details: Callable[[dict[str, Any]], dict[str, Any] | None] = field(
        default=lambda values: None
    )
    #: a column whose modes (with ties) the domain group's value-counts
    #: pass computes for this metric
    modes_column: str | None = None


def _digest(value: Any) -> str:
    return hashlib.md5(repr(value).encode()).hexdigest()[:10]


def _dcol(column: str) -> Column:
    return F.col(column).cast("double")


def _single(alias: str, expr: Column) -> AggMetric:
    return AggMetric({alias: expr}, lambda v, a=alias: v[a])


# -- plain scalar aggregates --------------------------------------------------

def mean(column: str) -> AggMetric:
    return _single(safe_alias("mean", column), F.mean(_dcol(column)))


def stddev(column: str) -> AggMetric:
    """Sample stddev (ddof=1) for pandas parity — reference uses
    ``F.stddev_samp`` on Spark (column_standard_deviation.py)."""
    return _single(safe_alias("stddev", column), F.stddev_samp(_dcol(column)))


def col_min(column: str, parse_strings_as_datetimes: bool = False) -> AggMetric:
    c = F.try_to_timestamp(F.col(column)) if parse_strings_as_datetimes else F.col(column)
    return _single(safe_alias("min", column, parse_strings_as_datetimes), F.min(c))


def col_max(column: str, parse_strings_as_datetimes: bool = False) -> AggMetric:
    c = F.try_to_timestamp(F.col(column)) if parse_strings_as_datetimes else F.col(column)
    return _single(safe_alias("max", column, parse_strings_as_datetimes), F.max(c))


def col_sum(column: str) -> AggMetric:
    return _single(safe_alias("sum", column), F.sum(_dcol(column)))


def row_count() -> AggMetric:
    return _single("table_row_count", F.count(F.lit(1)))


# -- quantiles ----------------------------------------------------------------

def median(column: str, approximate: bool = True, relative_error: float = 0.001) -> AggMetric:
    """Reference Spark: ``DataFrame.approxQuantile(col, [0.5], err)``
    (column_median.py). Ours is :func:`quantile_values` at ``[0.5]``, so a
    median and a quantile check at one accuracy share one expression."""
    q = quantile_values(column, [0.5], relative_error, approximate)
    return AggMetric(q.exprs, lambda v: (q.finalize(v) or [None])[0])


def quantile_values(
    column: str,
    quantiles: list[float],
    allow_relative_error: float | bool = 0.001,
    approximate: bool = True,
) -> AggMetric:
    """column.quantile_values (reference: column_quantile_values.py —
    Greenwald–Khanna via DataFrame.approxQuantile). Ours:
    ``percentile_approx`` with an array of quantiles in the shared bundle —
    one pass for any number of quantiles — at accuracy ⌊1/err⌋ (at least
    100; a bool or None error means 0.001), or exact ``percentile`` when
    approximate=False. The engine's only quantile expression."""
    qs = [float(q) for q in quantiles]
    qarr = F.array(*[F.lit(q) for q in qs])
    if approximate:
        err = (0.001 if isinstance(allow_relative_error, bool) or allow_relative_error is None
               else float(allow_relative_error))
        acc = max(100, int(1.0 / max(err, 1e-6)))
        alias = safe_alias("quantiles", column, *qs, acc)
        expr = F.percentile_approx(_dcol(column), qarr, acc)
    else:
        alias = safe_alias("quantiles", column, *qs, "exact")
        expr = F.percentile(_dcol(column), qarr)
    return AggMetric({alias: expr}, lambda v: list(v[alias]) if v[alias] is not None else None)


# -- distinctness ---------------------------------------------------------------

def distinct_count(column: str, approximate: bool = False, rsd: float = 0.01) -> AggMetric:
    """Exact ``count(DISTINCT)`` or HLL ``approx_count_distinct`` — the
    10^12-scale path per north_star (SURVEY.md §2.5). The HLL alias carries
    ``rsd``: two sketches of one column at different accuracies are two
    expressions, not one."""
    if approximate:
        return _single(safe_alias("distinct_count", column, approximate, rsd),
                       F.approx_count_distinct(F.col(column), rsd))
    return _single(safe_alias("distinct_count", column, approximate),
                   F.countDistinct(F.col(column)))


def pair_correlation(column_a: str, column_b: str) -> AggMetric:
    """Pearson sample correlation of two numeric columns (``F.corr`` —
    one JVM aggregate; rows with a null on either side are excluded by
    Spark's corr semantics, matching SQL ``corr``). Extension: the
    reference has no correlation expectation; a drift in the r between
    two columns is a classic silent-schema-change signal."""
    return _single(
        safe_alias("corr", column_a, column_b),
        F.corr(_dcol(column_a), _dcol(column_b)),
    )


def nonnull_count(column: str) -> AggMetric:
    return _single(safe_alias("nonnull", column), F.count(F.col(column)))


def unique_proportion(column: str, approximate: bool = False, rsd: float = 0.05) -> AggMetric:
    """distinct count / non-null count — two bundled aggs, zero extra scans.
    The approximate count is HLL at ``rsd``, Spark's default 0.05 unless
    given."""
    distinct = distinct_count(column, approximate, rsd)
    nn = nonnull_count(column)

    def fin(v: dict[str, Any]) -> Any:
        n = nn.finalize(v)
        return (distinct.finalize(v) / n) if n else None

    return AggMetric({**distinct.exprs, **nn.exprs}, fin)


def distinct_values(column: str) -> AggMetric:
    """Exact distinct set via ``collect_set`` inside the bundle. Driver-side
    set — intended for capped-cardinality columns (the reference collects the
    full value_counts series likewise). Use `distinct_count(approximate=True)`
    as the scale gate first."""
    alias = safe_alias("distinct_values", column)
    return AggMetric(
        {alias: F.sort_array(F.collect_set(F.col(column)))},
        lambda v: sorted(v[alias]) if v[alias] is not None else [],
    )


# -- range counts / histograms -------------------------------------------------

def values_between_count(
    column: str,
    min_value: Any = None,
    max_value: Any = None,
    strict_min: bool = False,
    strict_max: bool = False,
) -> AggMetric:
    from great_expectations_spark.functions.conditions import _between_expr

    alias = safe_alias("between_count", column, min_value, max_value, strict_min, strict_max)
    cond = _between_expr(F.col(column), min_value, max_value, strict_min, strict_max)
    return _single(alias, F.sum(F.when(F.col(column).isNotNull() & cond, 1).otherwise(0)))


def histogram(column: str, bins: list[float]) -> AggMetric:
    """column.histogram — reference Spark uses ``pyspark.ml.feature.Bucketizer``
    + groupBy; ours bundles the whole histogram into the shared agg pass as
    ONE array-of-sums expression (no extra shuffle, no ML dependency).
    Convention matches Bucketizer: buckets are [b_i, b_{i+1}) with the LAST
    bucket closed [b_{n-1}, b_n]. ±inf edges supported.

    Built as a single ``F.expr`` SQL string: a per-bucket ``F.when`` chain
    costs ~10 Py4J round-trips per bucket (measured ~0.5s of serial driver
    time for 20 buckets); one parsed SQL expression costs one round-trip
    regardless of bucket count."""
    import math

    col_sql = f"cast(`{column}` as double)"
    notnull = f"`{column}` is not null"
    n = len(bins) - 1
    parts: list[str] = []
    for i in range(n):
        lo, hi = float(bins[i]), float(bins[i + 1])
        conds = [notnull]
        if not math.isinf(lo):
            conds.append(f"{col_sql} >= {lo!r}")
        if not math.isinf(hi):
            op = "<=" if i == n - 1 else "<"
            conds.append(f"{col_sql} {op} {hi!r}")
        parts.append(f"sum(case when {' and '.join(conds)} then 1 else 0 end)")
    # the alias must encode EVERY edge, not just endpoints: two histograms
    # over the same column/range with different interior edges (uniform vs
    # quantile bins) must not collide in the domain group's bundle dict
    alias = safe_alias("hist", column, n, _digest([float(b) for b in bins]))
    expr = F.expr("array(" + ", ".join(parts) + ")")

    def fin(v: dict[str, Any]) -> list[int]:
        return [int(x or 0) for x in v[alias]]

    return AggMetric({alias: expr}, fin)


def category_counts(column: str, values: list[Any]) -> AggMetric:
    """Rows equal (null-safe) to each of ``values``, plus the non-null rows
    equal to none of them; finalizes to ``(counts, other)``. A value's
    count is keyed by the value and the "other" count by the whole list, so
    checks with one baseline share their counts."""
    c = F.col(column)
    aliases = [safe_alias("category", column, _digest(v)) for v in values]
    exprs = {a: F.sum(F.when(c.eqNullSafe(F.lit(v)), 1).otherwise(0))
             for a, v in zip(aliases, values)}
    other = safe_alias("category_other", column, _digest(values))
    in_set = c.isin(values) if values else F.lit(False)
    exprs[other] = F.sum(
        F.when(c.isNotNull() & ~F.coalesce(in_set, F.lit(False)), 1).otherwise(0)
    )
    return AggMetric(exprs, lambda v: ([v[a] or 0 for a in aliases], v[other] or 0))


def ecdf_counts(column: str, points: list[float]) -> AggMetric:
    """Non-null rows at or below each point (the unnormalized ECDF), one
    conditional sum keyed by each point."""
    c = _dcol(column)
    aliases = [safe_alias("ecdf", column, _digest(float(x))) for x in points]
    exprs = {
        a: F.sum(F.when(F.col(column).isNotNull() & (c <= F.lit(float(x))), 1).otherwise(0))
        for a, x in zip(aliases, points)
    }
    return AggMetric(exprs, lambda v: [v[a] or 0 for a in aliases])
