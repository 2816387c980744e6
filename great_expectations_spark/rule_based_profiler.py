"""Rule-Based Profiler analog — multi-batch parameter estimation → suite.

Reference: the fork's ``rule_based_profiler/`` subsystem (≈8k LoC upstream,
unverified — SURVEY.md §0/§3): rules pair a *domain builder* (which columns)
with *parameter builders* (estimate expectation kwargs from metrics computed
over MANY batches) and emit an ExpectationSuite whose bounds reflect
batch-to-batch variation instead of a single batch's point values — the
``NumericMetricRangeMultiBatchParameterBuilder`` with its ``exact`` /
``quantile`` / ``bootstrap`` estimators is the core of it.

Spark-first shape: the reference resolves a metric graph PER BATCH (k × many
small jobs). Ours computes every per-batch metric for every profiled column
in **one Spark query**: batches are tagged with a literal ``__batch_id``,
union'd, and the profile statistics (``profiler.column_metrics``, the
shared aggregate metrics) run through the pass executor keyed by
``__batch_id`` — one shuffle of k × (a few hundred bytes) partial rows
regardless of batch sizes, and as many Spark jobs for k batches as for one.
Estimator math (quantile / bootstrap over the k per-batch values) is numpy on
k-length vectors, driver-side by construction.

At 100 TB the union is still one pass: each batch contributes its own scan
tasks, the groupBy keys are the k batch ids (tiny, uniform), and partial
aggregation means nothing but the k × metrics matrix crosses the wire.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from functools import reduce
from typing import Any

import numpy as np
from pyspark.sql import DataFrame, functions as F

from great_expectations_spark.profiler import (
    _NUMERIC,
    _fused_value_counts,
    column_metrics,
    stats_metrics,
)
from great_expectations_spark.suite import ExpectationSuite


@dataclass
class RangeEstimate:
    """One estimated [lo, hi] parameter range + the per-batch samples."""

    lo: float
    hi: float
    samples: list[float] = field(default_factory=list)


def estimate_range(
    values: list[float],
    estimator: str = "quantile",
    false_positive_rate: float = 0.05,
    n_resamples: int = 999,
    seed: int = 42,
) -> RangeEstimate:
    """[lo, hi] from k per-batch metric values.

    - ``exact``: [min, max] of the observed batch values.
    - ``quantile``: [q(fpr/2), q(1-fpr/2)] with linear interpolation
      (numpy default — matches SQL ``quantile_cont``, so driver queries can
      oracle-check this path).
    - ``bootstrap``: seeded resampling of the k values; each resample
      contributes a point estimate of the [fpr/2, 1-fpr/2] QUANTILES of the
      per-batch metric values, and the range is the mean of those point
      estimates across resamples (the reference
      NumericMetricRangeMultiBatch bootstrap estimates the quantiles of the
      metric distribution, NOT a CI of the mean — a CI of the mean is far
      narrower than the batch spread and emits suites that fail on their own
      training batches).

      Small-k caveat: a bootstrap quantile POINT ESTIMATE lies inside the
      observed sample range by construction, so with very few batches
      (k ≤ ~5) the single most extreme training batch can still fall
      outside the estimated range with non-trivial probability — that is
      the estimator working as specified (bounds estimate the population
      quantiles at the requested fpr, they are not a containment guarantee).
      Use ``exact`` when the contract is "every training batch must pass".
    """
    v = np.asarray([x for x in values if x is not None], dtype=float)
    if v.size == 0:
        raise ValueError("no metric samples to estimate from")
    if estimator == "exact":
        return RangeEstimate(float(v.min()), float(v.max()), v.tolist())
    a = false_positive_rate / 2.0
    if estimator == "quantile":
        lo, hi = np.quantile(v, [a, 1.0 - a])
        return RangeEstimate(float(lo), float(hi), v.tolist())
    if estimator == "bootstrap":
        rng = np.random.default_rng(seed)
        idx = rng.integers(0, v.size, size=(n_resamples, v.size))
        resamples = v[idx]  # (n_resamples, k)
        lo = float(np.quantile(resamples, a, axis=1).mean())
        hi = float(np.quantile(resamples, 1.0 - a, axis=1).mean())
        return RangeEstimate(lo, hi, v.tolist())
    raise ValueError(f"unknown estimator {estimator!r} (exact|quantile|bootstrap)")


def multi_batch_metrics(
    batches: list[DataFrame], columns: list[str] | None = None
) -> tuple[list[str], list[dict[str, Any]]]:
    """Per-batch metric rows in one Spark query.

    Returns (profiled_columns, rows) where rows[i] is batch i's metric dict:
    ``n`` plus, per numeric column c, ``{c}__nn/min/max/mean/stddev/median``
    (min and max in the column's own type) and per non-numeric column,
    ``{c}__nn/approx_distinct``.
    """
    if not batches:
        raise ValueError("need at least one batch")
    schema = {f.name: f.dataType for f in batches[0].schema.fields}
    cols = columns or list(schema)
    unknown = [c for c in cols if c not in schema]
    if unknown:
        raise ValueError(f"profile columns not in schema: {unknown}")

    tagged = [
        b.select(*[F.col(c) for c in cols]).withColumn(
            "__batch_id", F.lit(i)
        )
        for i, b in enumerate(batches)
    ]
    union = reduce(lambda a, b: a.unionByName(b), tagged)
    metrics = {
        c: ["nn", "min", "max", "mean", "stddev", "median"]
        if isinstance(schema[c], _NUMERIC) else ["nn", "approx_distinct"]
        for c in cols
    }
    by_batch = column_metrics(union, stats_metrics(metrics),
                              keys=("__batch_id",))
    # the pass emits no row for a zero-row batch; reindex by __batch_id so
    # rows[i] is ALWAYS batch i (an empty batch contributes n=0, nn=0 and
    # None metrics — it must reach the estimators, e.g. to drive the
    # row-count floor down, not silently vanish).
    empty = {f"{c}__{m}": 0 if m == "nn" else None
             for c, names in metrics.items() for m in names}
    return cols, [
        {"__batch_id": i, **by_batch.get((i,), {**empty, "n": 0})}
        for i in range(len(batches))
    ]


class RuleBasedProfiler:
    """Estimate a suite from k batches.

    Parameters
    ----------
    estimator / false_positive_rate / n_resamples / seed: forwarded to
        :func:`estimate_range` for every numeric parameter.
    value_set_columns: low-cardinality columns whose batch-wise value-set
        UNION becomes an ``expect_column_values_to_be_in_set`` (computed in
        one extra grouped query over the union, bounded by
        ``max_value_set_size``).
    round_decimals: round emitted numeric bounds (reference
        ``round_decimals`` parameter-builder knob); None keeps full floats.
    """

    def __init__(
        self,
        estimator: str = "quantile",
        false_positive_rate: float = 0.05,
        n_resamples: int = 999,
        seed: int = 42,
        value_set_columns: list[str] | None = None,
        max_value_set_size: int = 1000,
        round_decimals: int | None = 6,
    ) -> None:
        self.estimator = estimator
        self.false_positive_rate = false_positive_rate
        self.n_resamples = n_resamples
        self.seed = seed
        self.value_set_columns = value_set_columns or []
        self.max_value_set_size = max_value_set_size
        self.round_decimals = round_decimals

    def _rng(self, values: list[float]) -> RangeEstimate:
        return estimate_range(
            values,
            estimator=self.estimator,
            false_positive_rate=self.false_positive_rate,
            n_resamples=self.n_resamples,
            seed=self.seed,
        )

    def _round_lo(self, x: float) -> float:
        """Round OUTWARD (floor) — a rounded-up lower bound can exclude the
        very value it was estimated from."""
        if self.round_decimals is None:
            return float(x)
        s = 10 ** self.round_decimals
        return math.floor(float(x) * s) / s

    def _round_hi(self, x: float) -> float:
        if self.round_decimals is None:
            return float(x)
        s = 10 ** self.round_decimals
        return math.ceil(float(x) * s) / s

    def profile(
        self,
        batches: list[DataFrame],
        name: str = "rule-based-profiled",
        columns: list[str] | None = None,
    ) -> ExpectationSuite:
        cols, rows = multi_batch_metrics(batches, columns)
        k = len(rows)

        suite = ExpectationSuite(
            name,
            meta={
                "profiler": "RuleBasedProfiler",
                "n_batches": k,
                "estimator": self.estimator,
                "false_positive_rate": self.false_positive_rate,
            },
        )

        # table-level: row count range across batches
        rc = self._rng([r["n"] for r in rows])
        suite.add(
            "expect_table_row_count_to_be_between",
            min_value=int(math.floor(rc.lo)),
            max_value=int(math.ceil(rc.hi)),
        )

        for c in cols:
            # not-null: worst observed batch ratio, floored to 2 decimals
            ratios = [
                (r[f"{c}__nn"] or 0) / r["n"] for r in rows if r["n"]
            ]
            worst = min(ratios) if ratios else 0.0
            if worst >= 1.0:
                suite.add("expect_column_values_to_not_be_null", column=c)
            elif worst > 0:
                # floor to 2 decimals but clamp to ≥0.01 — mostly=0.0 would
                # be a vacuous gate that passes even on an all-null batch
                suite.add(
                    "expect_column_values_to_not_be_null",
                    column=c,
                    mostly=max(0.01, math.floor(worst * 100) / 100),
                )

            # numeric columns only: the others have no such statistics
            for metric, expectation in (
                ("mean", "expect_column_mean_to_be_between"),
                ("median", "expect_column_median_to_be_between"),
                ("stddev", "expect_column_stdev_to_be_between"),
                ("min", "expect_column_min_to_be_between"),
                ("max", "expect_column_max_to_be_between"),
            ):
                vals = [r.get(f"{c}__{metric}") for r in rows]
                vals = [v for v in vals if v is not None]
                if not vals:
                    continue
                est = self._rng(vals)
                suite.add(
                    expectation,
                    column=c,
                    min_value=self._round_lo(est.lo),
                    max_value=self._round_hi(est.hi),
                    meta={"rule_based_profiler": {
                        "metric": metric,
                        "per_batch": [round(float(v), 9) for v in est.samples],
                    }},
                )

        # value-set rule: union of per-batch distinct sets — ONE grouping-
        # sets job for ALL value_set_columns over the union'd batches
        # (round-3 fusion; was one distinct().collect() per column), with
        # the same executor-side cardinality guard the single-batch profiler
        # uses (an over-size column is dropped before reaching the driver)
        if self.value_set_columns:
            vcols = list(self.value_set_columns)
            union = reduce(
                lambda a, b: a.unionByName(b),
                [b.select(*[F.col(c) for c in vcols]) for b in batches],
            )
            counts = _fused_value_counts(union, vcols, self.max_value_set_size)
            for c in vcols:
                if c in counts:
                    suite.add(
                        "expect_column_values_to_be_in_set",
                        column=c,
                        value_set=[v for v, _ in counts[c]],
                    )
        return suite
