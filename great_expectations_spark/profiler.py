"""Suite profiler — scan a batch, emit an ExpectationSuite.

Reimplements the reference's ``UserConfigurableProfiler``
(great_expectations/profile/user_configurable_profiler.py, ≈900 LoC,
unverified — SURVEY.md §0/§3): classify each column's cardinality, then emit
type- and cardinality-appropriate expectations with observed values as
bounds. As in the reference, the statistics come from the engine that
validates expectations: :func:`column_metrics` runs the shared aggregate
metrics (``functions/aggregates.py``) through ``runner.run_passes``, one
bundled aggregation for every column. Then ONE GROUPING SETS query counts
every low-cardinality column's value set and one bundled query verifies the
uniqueness candidates exactly (plus one for drift gates): the query count
does not grow with the column count. Under AQE one query launches several
Spark jobs.

Cardinality bands follow the reference's ``ProfilerCardinality``:
    NONE(0) ONE(1) TWO(2) VERY_FEW(<=10) FEW(<=100)
    MANY(<=1000) VERY_MANY(<=10000) UNIQUE(== row count)
Low cardinality (<= ``value_set_threshold`` band) → ``be_in_set``; UNIQUE →
``be_unique``; numeric → min/max/mean/median between; always → not_null
(with observed ``mostly`` floor when nulls exist) and table shape checks.
"""

from __future__ import annotations

import math
from typing import Any, Callable

from pyspark.sql import DataFrame, functions as F, types as T

from great_expectations_spark.functions import aggregates as A
from great_expectations_spark.functions.aggregates import AggMetric
from great_expectations_spark.plans.planner import DomainGroup
from great_expectations_spark.registry import CompiledAgg
from great_expectations_spark.runner import SparkThreadPool, run_passes
from great_expectations_spark.suite import ExpectationSuite

CARDINALITY_BANDS = [
    ("NONE", 0), ("ONE", 1), ("TWO", 2), ("VERY_FEW", 10), ("FEW", 100),
    ("MANY", 1_000), ("VERY_MANY", 10_000),
]
_BAND_ORDER = [name for name, _ in CARDINALITY_BANDS] + ["UNIQUE"]

_NUMERIC = (T.IntegerType, T.LongType, T.ShortType, T.ByteType,
            T.FloatType, T.DoubleType, T.DecimalType)
_TEMPORAL = (T.TimestampType, T.DateType)


def _band(distinct: int, nonnull: int) -> str:
    # approx_count_distinct can undercount a truly-unique column; a 15%
    # margin (~3σ at the 5% rsd of "approx_distinct") marks the candidate,
    # which is then verified EXACTLY before an
    # expect_column_values_to_be_unique is emitted — a false candidate only
    # costs one extra countDistinct inside the fused verification query.
    if nonnull and distinct >= nonnull * 0.85:
        return "UNIQUE"
    for name, cap in CARDINALITY_BANDS:
        if distinct <= cap:
            return name
    return "VERY_MANY"


#: each profile statistic's metric builder
_STATS: dict[str, Callable[[str], AggMetric]] = {
    "nn": A.nonnull_count,
    "min": A.col_min,
    "max": A.col_max,
    "mean": A.mean,
    "stddev": A.stddev,
    "median": A.median,
    # rsd 0.05, not tighter: the HLL buffer holds (1.04/rsd)² registers, so
    # rsd 0.005 is ~11k aggregation-buffer attributes per column (a 20-column
    # profile built a 24 MiB task binary and OOM'd codegen); rsd 0.05 is 86
    # words per column, linear and cheap at 500 columns
    "approx_distinct": lambda c: A.distinct_count(c, approximate=True, rsd=0.05),
    "distinct": A.distinct_count,
}


def stats_metrics(metrics: dict[str, list[str]]) -> dict[str, AggMetric]:
    """``n`` (the row count) plus ``<column>__<stat>`` for each column's
    statistics (keys of ``_STATS``)."""
    return {"n": A.row_count(),
            **{f"{c}__{m}": _STATS[m](c) for c, names in metrics.items()
               for m in names}}


def column_metrics(
    df: DataFrame, metrics: dict[str, AggMetric], keys: tuple[str, ...] = ()
) -> dict[tuple, dict[str, Any]]:
    """Named metrics through the pass executor: ``run_passes`` runs them as
    one bare domain group's bundled aggregation, with ``keys`` in front.
    Returns key values → ``{name: finalized value}``; a key without rows
    has no entry."""
    group = DomainGroup(None, aggs=[CompiledAgg(None, m, bool)
                                    for m in metrics.values()])
    with SparkThreadPool(df.sparkSession) as pool:
        passes = run_passes(group, df, list(keys), pool)
    passes.release()
    return {key: {name: m.finalize(vals) for name, m in metrics.items()}
            for key, vals in passes.values.items()}


def profile_suite(
    df: DataFrame,
    name: str = "profiled-suite",
    columns: list[str] | None = None,
    primary_or_compound_key: list[str] | None = None,
    value_set_threshold: str = "FEW",
    mostly_floor: float = 0.01,
    drift_gates: bool = False,
    drift_p: float = 0.05,
    drift_bins: int = 5,
) -> ExpectationSuite:
    """Build a suite from observed data in a number of Spark queries that
    does not grow with the column count (module docstring).

    ``value_set_threshold``: widest cardinality band that still gets an
    ``expect_column_values_to_be_in_set`` (reference default MANY; ours FEW
    to keep suite JSON small — pass "MANY"/"VERY_MANY" to widen).
    ``mostly_floor``: slack subtracted from the observed non-null ratio when
    emitting ``mostly`` so the suite tolerates drift of that size.
    ``drift_gates``: also emit statistical drift gates against the profiled
    distribution — a chi-square p-gate per value-set column (baseline =
    observed value frequencies, 1% tail holdout for future unseen values)
    and a boundary-KS p-gate per numeric column (baseline CDF from the SAME
    cumulative boundary counts the KS check reads, so the training batch
    scores D = 0 / p = 1 by construction and only distribution SHIFT in a
    future batch trips the gate). Adds one bundled agg query for all numeric
    columns; the value-set pass already collects the category counts.
    """
    cols = columns or df.columns
    schema = {f.name: f.dataType for f in df.schema.fields}
    unknown = [c for c in cols if c not in schema]
    if unknown:
        raise ValueError(f"profile columns not in schema: {unknown}")

    def metrics(t) -> list[str]:
        return (["nn", "approx_distinct"]
                + (["min", "max"] if isinstance(t, _NUMERIC + _TEMPORAL) else [])
                + (["mean", "median"] if isinstance(t, _NUMERIC) else []))

    stats = column_metrics(
        df, stats_metrics({c: metrics(schema[c]) for c in cols}))[()]
    n = stats["n"]

    suite = ExpectationSuite(name, meta={"profiler": "profile_suite",
                                         "row_count": n})
    suite.add("expect_table_columns_to_match_ordered_list",
              column_list=list(df.columns))
    lo_rows = int(n * 0.9)
    hi_rows = int(math.ceil(n * 1.1)) if n else 1
    suite.add("expect_table_row_count_to_be_between",
              min_value=lo_rows, max_value=hi_rows)

    threshold_idx = _BAND_ORDER.index(value_set_threshold)
    in_set_cols: list[tuple[str, str]] = []
    unique_candidates: list[str] = []

    for c in cols:
        nonnull = stats[f"{c}__nn"]
        band = _band(stats[f"{c}__approx_distinct"], nonnull)

        if nonnull == n:
            suite.add("expect_column_values_to_not_be_null", column=c)
        elif nonnull > 0:
            ratio = nonnull / n
            mostly = max(0.0, math.floor((ratio - mostly_floor) * 100) / 100)
            if mostly > 0:
                suite.add("expect_column_values_to_not_be_null",
                          column=c, mostly=mostly)

        if band == "UNIQUE":
            unique_candidates.append(c)
        elif band not in ("NONE",) and _BAND_ORDER.index(band) <= threshold_idx:
            in_set_cols.append((c, band))

        mn, mx = stats.get(f"{c}__min"), stats.get(f"{c}__max")
        if isinstance(schema[c], _NUMERIC):
            if mn is not None:
                suite.add("expect_column_values_to_be_between", column=c,
                          min_value=_py(mn), max_value=_py(mx))
                for m in ("mean", "median"):
                    v = _py(stats[f"{c}__{m}"])
                    suite.add(f"expect_column_{m}_to_be_between", column=c,
                              min_value=v, max_value=v)
        elif isinstance(schema[c], _TEMPORAL):
            if mn is not None:
                suite.add("expect_column_min_to_be_between", column=c,
                          min_value=str(mn), max_value=str(mn))
                suite.add("expect_column_max_to_be_between", column=c,
                          min_value=str(mx), max_value=str(mx))

    # ---- exact value sets for the low-cardinality columns ----------------
    # ONE Spark query for ALL value-set columns (round-3 fusion: the previous
    # one-groupBy-per-column shape meant hundreds of serial driver job
    # submissions on a wide table): GROUPING SETS ((c1),(c2),…) counts every
    # column's values in a single shuffle; grouping_id() says which column a
    # row belongs to. A per-set window count drops any column whose TRUE
    # cardinality exceeds 1000 (HLL undercount) BEFORE the collect, so the
    # driver never receives more than 1000 rows per column.
    value_counts = _fused_value_counts(df, [c for c, _ in in_set_cols], 1000)
    for c, _ in in_set_cols:
        if c not in value_counts:  # HLL undercounted a high-card column
            continue
        pairs = value_counts[c]
        values = [_py(v) for v, _ in pairs]
        suite.add("expect_column_values_to_be_in_set", column=c,
                  value_set=values)
        total = sum(cnt for _, cnt in pairs)
        if drift_gates and total > 0 and values:
            suite.add(
                "expect_column_chisquare_test_p_value_to_be_greater_than",
                column=c,
                partition_object={
                    "values": values,
                    "weights": [cnt / total for _, cnt in pairs],
                },
                p=drift_p,
                tail_weight_holdout=0.01,
            )

    # drift gates for numeric columns: ONE bundled aggregation of every
    # eligible column's non-null and ECDF counts at its boundaries — the KS
    # check's own counts, so the gate is exactly calibrated on this batch
    ks_bins: dict[str, list[float]] = {}
    ks_metrics: dict[str, AggMetric] = {}
    for c in cols if drift_gates else []:
        mn, mx = stats.get(f"{c}__min"), stats.get(f"{c}__max")
        if (not isinstance(schema[c], _NUMERIC) or mn is None
                or not float(mx) > float(mn)):
            continue
        lo, hi = float(mn), float(mx)
        bins = ks_bins[c] = [lo + (hi - lo) * j / drift_bins
                             for j in range(drift_bins + 1)]
        ks_metrics[f"{c}__nn"] = A.nonnull_count(c)
        ks_metrics[f"{c}__ecdf"] = A.ecdf_counts(c, bins)
    if ks_bins:
        ks = column_metrics(df, ks_metrics)[()]
        for c, bins in ks_bins.items():
            nn = float(ks[f"{c}__nn"] or 0)
            if nn <= 0:
                continue
            cum = [cnt / nn for cnt in ks[f"{c}__ecdf"]]
            weights = [cum[j + 1] - cum[j] for j in range(len(bins) - 1)]
            if any(w < 0 for w in weights):
                continue
            suite.add(
                "expect_column_bootstrapped_ks_test_p_value_to_be_greater_than",
                column=c,
                partition_object={
                    "bins": bins,
                    "weights": weights,
                    "tail_weights": [cum[0], 1.0 - cum[-1]],
                },
                p=drift_p,
            )

    # exact uniqueness verification for HLL-flagged candidates, fused into
    # ONE bundled query for all candidates (emitting a false be_unique would
    # make the profiled suite fail on its own training batch). Spark plans
    # the multiple countDistincts via one Expand + two-phase hash aggregate —
    # one shuffle on (gid, value) partials, spillable, no driver fan-out.
    if unique_candidates:
        exact = column_metrics(df, stats_metrics(
            {c: ["nn", "distinct"] for c in unique_candidates}))[()]
        for c in unique_candidates:
            if exact[f"{c}__distinct"] == exact[f"{c}__nn"]:
                suite.add("expect_column_values_to_be_unique", column=c)

    if primary_or_compound_key:
        if len(primary_or_compound_key) == 1:
            suite.add("expect_column_values_to_be_unique",
                      column=primary_or_compound_key[0])
        else:
            suite.add("expect_compound_columns_to_be_unique",
                      column_list=list(primary_or_compound_key))
    return suite


#: Spark caps GROUPING SETS at 64 sets (GROUPING_SIZE_LIMIT_EXCEEDED), and
#: at exactly 64 the grouping_id bit mask overflows the SIGNED long range
#: (the all-but-one-bit gid for 64 columns is > 2^63-1, which Py4J cannot
#: even pass as a literal) — so chunk at 63. Job count is ⌈columns/63⌉,
#: still independent of row count and bounded for any realistic width.
_GROUPING_SETS_MAX = 63


def _fused_value_counts(
    df: DataFrame, columns: list[str], max_values: int
) -> dict[str, list[tuple[Any, int]]]:
    """Exact (value, count) lists for many columns in ONE Spark job per
    ≤64-column chunk (Spark's grouping-sets limit).

    GROUPING SETS ((c1),(c2),…) aggregates every column's value counts in a
    single Expand + hash-aggregate shuffle; ``grouping_id()`` identifies the
    column. A per-``__gid`` count — a second partial-aggregated tiny agg,
    NOT a window (a window over ``__gid`` would funnel a high-cardinality
    column's full distinct set through one task: exactly the skew the guard
    exists to prevent) — drops executor-side every column whose true
    cardinality exceeds ``max_values``, so a mis-classified high-cardinality
    column can never flood the driver. Returns {column: [(value, count), …]
    sorted by value}; dropped/empty columns are absent.
    """
    if not columns:
        return {}
    out: dict[str, list[tuple[Any, int]]] = {}
    for lo in range(0, len(columns), _GROUPING_SETS_MAX):
        out.update(
            _fused_value_counts_chunk(
                df, columns[lo : lo + _GROUPING_SETS_MAX], max_values
            )
        )
    return out


def _fused_value_counts_chunk(
    df: DataFrame, columns: list[str], max_values: int
) -> dict[str, list[tuple[Any, int]]]:
    k = len(columns)
    gid_of = {c: ((1 << k) - 1) ^ (1 << (k - 1 - i))
              for i, c in enumerate(columns)}
    gdf = df.groupingSets(
        [[F.col(c)] for c in columns], *[F.col(c) for c in columns]
    ).agg(F.count(F.lit(1)).alias("__cnt"), F.grouping_id().alias("__gid"))
    # a NULL in column c inside ITS OWN grouping set is the null-value group
    # (excluded from value sets, like the old per-column isNotNull filter)
    isnull = None
    for c in columns:
        cond = (F.col("__gid") == gid_of[c]) & F.col(c).isNull()
        isnull = cond if isnull is None else (isnull | cond)
    grouped = gdf.withColumn("__vnull", isnull).filter(~F.col("__vnull"))
    # per-column distinct-value counts: k tiny rows, map-side combined —
    # keeps the shuffle keyed on (gid, value), never on gid alone
    sizes = grouped.groupBy("__gid").agg(F.count(F.lit(1)).alias("__gsz"))
    keep = sizes.filter(F.col("__gsz") <= max_values).select("__gid")
    rows = (
        grouped.join(F.broadcast(keep), on="__gid", how="left_semi")
        .drop("__vnull")
        .collect()
    )
    by_gid: dict[int, str] = {g: c for c, g in gid_of.items()}
    out: dict[str, list[tuple[Any, int]]] = {}
    for r in rows:
        c = by_gid[r["__gid"]]
        out.setdefault(c, []).append((r[c], int(r["__cnt"])))
    for c in out:
        out[c].sort(key=lambda p: (p[0] is None, p[0]))
    return out


def _py(v: Any) -> Any:
    """JSON-safe native value (Decimal/np scalars → float/int)."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    try:
        f = float(v)
        return int(f) if f.is_integer() else f
    except (TypeError, ValueError):
        return str(v)
