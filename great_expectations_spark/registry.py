"""Expectation registry — compiles ExpectationConfigurations to executable
forms (SURVEY.md §2; reference:
``great_expectations/expectations/registry.py`` +
``MetaExpectation.__new__`` auto-registration in
``great_expectations/expectations/expectation.py``, unverified upstream
citations per SURVEY.md §0).

Compiled kinds:

- :class:`CompiledMap` — per-row predicate; counters ride the bundled agg
  pass, failing rows feed the violations sink.
- :class:`CompiledAgg` — scalar aggregate(s) + between-style (or custom)
  success rule; all exprs dedup into the same bundled pass.
- :class:`CompiledUnique` — key-uniqueness checks (groupBy-shaped; salted
  two-level aggregation at scale — never the reference's full-table window).
- :class:`CompiledContiguous` — per-group dense-sequence checks (a keyed
  aggregation counted over groups).
- :class:`CompiledSide` — every other check, run on its own over its
  ``row_condition``'s batch: schema checks (no scan), Cramér's phi, the
  cross-table checks (referential, row count vs another table,
  contamination, repetition) and arbitrary Spark-SQL QueryExpectations.
"""

from __future__ import annotations

import math
import uuid
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame, functions as F

from great_expectations_spark.functions import aggregates as A
from great_expectations_spark.functions import conditions as C
from great_expectations_spark.functions.aggregates import AggMetric
from great_expectations_spark.functions.conditions import MapCondition
from great_expectations_spark.result import parse_result_format, row_value
from great_expectations_spark.suite import ExpectationConfiguration


# ---------------------------------------------------------------------------
# compiled forms
# ---------------------------------------------------------------------------

@dataclass
class CompiledMap:
    cfg: ExpectationConfiguration
    condition: MapCondition
    mostly: float | None
    result_format: dict[str, Any]


@dataclass
class CompiledAgg:
    cfg: ExpectationConfiguration
    metric: AggMetric
    #: observed_value -> success
    validate: Callable[[Any], bool]


@dataclass
class CompiledUnique:
    cfg: ExpectationConfiguration
    key_cols: list[str]
    mostly: float | None
    result_format: dict[str, Any]


@dataclass
class CompiledContiguous:
    cfg: ExpectationConfiguration
    column: str
    group_by: list[str]
    start: int
    mostly: float | None


@dataclass
class CompiledSide:
    """A check outside the domain groups' counter passes. Both callables
    take the check's batch (its ``row_condition`` applied) and the named
    tables."""

    cfg: ExpectationConfiguration
    #: (batch, tables) -> (success, result)
    run: Callable[[DataFrame, dict[str, DataFrame]], tuple[bool, dict[str, Any]]]
    #: (batch, tables) -> the batch's violating rows, with an
    #: ``observed_value`` string column
    violations: Callable[[DataFrame, dict[str, DataFrame]], DataFrame] | None = None


Compiled = (
    CompiledMap | CompiledAgg | CompiledUnique | CompiledContiguous | CompiledSide
)

_REGISTRY: dict[str, Callable[[ExpectationConfiguration], Compiled]] = {}


def register(name: str):
    def deco(fn):
        _REGISTRY[name] = fn
        return fn

    return deco


def compile_expectation(cfg: ExpectationConfiguration) -> Compiled:
    try:
        compiler = _REGISTRY[cfg.expectation_type]
    except KeyError:
        raise ValueError(
            f"unknown expectation_type {cfg.expectation_type!r}; "
            f"registered: {sorted(_REGISTRY)}"
        ) from None
    return compiler(cfg)


# ---------------------------------------------------------------------------
# map expectations (§2.3/§2.4)
# ---------------------------------------------------------------------------

_MAP_BUILDERS: dict[str, Callable[..., MapCondition]] = {
    "expect_column_values_to_not_be_null": C.not_be_null,
    "expect_column_values_to_be_null": C.be_null,
    "expect_column_values_to_be_in_set": C.be_in_set,
    "expect_column_values_to_not_be_in_set": C.not_be_in_set,
    "expect_column_values_to_be_between": C.be_between,
    "expect_column_value_lengths_to_be_between": C.value_lengths_be_between,
    "expect_column_value_lengths_to_equal": C.value_lengths_equal,
    "expect_column_values_to_match_regex": C.match_regex,
    "expect_column_values_to_not_match_regex": C.not_match_regex,
    "expect_column_values_to_match_regex_list": C.match_regex_list,
    "expect_column_values_to_not_match_regex_list": C.not_match_regex_list,
    "expect_column_values_to_match_like_pattern": C.match_like_pattern,
    "expect_column_values_to_not_match_like_pattern": C.not_match_like_pattern,
    "expect_column_values_to_match_like_pattern_list": C.match_like_pattern_list,
    "expect_column_values_to_not_match_like_pattern_list": C.not_match_like_pattern_list,
    "expect_column_values_to_match_strftime_format": C.match_strftime_format,
    "expect_column_values_to_be_dateutil_parseable": C.dateutil_parseable,
    "expect_column_values_to_be_json_parseable": C.json_parseable,
    "expect_column_values_to_match_json_schema": C.match_json_schema,
    "expect_column_values_to_be_increasing": C.increasing,
    "expect_column_values_to_be_decreasing": C.decreasing,
    "expect_column_value_z_scores_to_be_less_than": C.z_scores_under_threshold,
    "expect_column_pair_values_to_be_equal": C.pair_equal,
    "expect_column_pair_values_a_to_be_greater_than_b": C.pair_a_greater_than_b,
    "expect_column_pair_values_to_be_in_set": C.pair_in_set,
    "expect_multicolumn_sum_to_equal": C.multicolumn_sum_equal,
    "expect_select_column_values_to_be_unique_within_record": C.select_column_values_unique_within_record,
    # legacy V2 alias of the same per-record uniqueness semantics
    "expect_multicolumn_values_to_be_unique": C.select_column_values_unique_within_record,
    # extensions: training-data pipeline gates as first-class expectations
    "expect_column_token_counts_to_be_between": C.token_counts_be_between,
    "expect_column_vector_norms_to_be_between": C.vector_norms_be_between,
    "expect_column_values_to_contain_no_pii": C.contain_no_pii,
}

_MAP_NON_CONDITION_KWARGS = {
    "mostly",
    "result_format",
    "row_condition",
    "condition_parser",
    "catch_exceptions",
    "meta",
}


def _make_map_compiler(builder: Callable[..., MapCondition]):
    def compiler(cfg: ExpectationConfiguration) -> CompiledMap:
        kwargs = {
            k: v for k, v in cfg.kwargs.items() if k not in _MAP_NON_CONDITION_KWARGS
        }
        condition = builder(**kwargs)
        return CompiledMap(
            cfg=cfg,
            condition=condition,
            mostly=cfg.mostly,
            result_format=parse_result_format(cfg.kwargs.get("result_format")),
        )

    return compiler


for _name, _builder in _MAP_BUILDERS.items():
    _REGISTRY[_name] = _make_map_compiler(_builder)


# ---------------------------------------------------------------------------
# uniqueness (groupBy-shaped; SURVEY.md §2.3 column_values.unique, §2.4
# compound_columns.unique)
# ---------------------------------------------------------------------------

@register("expect_column_values_to_be_unique")
def _compile_unique(cfg: ExpectationConfiguration) -> CompiledUnique:
    return CompiledUnique(
        cfg=cfg,
        key_cols=[cfg.kwargs["column"]],
        mostly=cfg.mostly,
        result_format=parse_result_format(cfg.kwargs.get("result_format")),
    )


@register("expect_compound_columns_to_be_unique")
def _compile_compound_unique(cfg: ExpectationConfiguration) -> CompiledUnique:
    return CompiledUnique(
        cfg=cfg,
        key_cols=list(cfg.kwargs["column_list"]),
        mostly=cfg.mostly,
        result_format=parse_result_format(cfg.kwargs.get("result_format")),
    )


# ---------------------------------------------------------------------------
# aggregate expectations (§2.5/§2.6)
# ---------------------------------------------------------------------------

def _coerce_bound(observed: Any, bound: Any) -> Any:
    """ISO-datetime-string bounds compare against temporal observed values
    (reference behavior: between-style expectations accept datetime strings,
    expectation.py ``parse_value_set``/min-max handling)."""
    import datetime as _dt

    if bound is None or not isinstance(bound, str):
        return bound
    if isinstance(observed, _dt.datetime):
        try:
            return _dt.datetime.fromisoformat(bound)
        except ValueError:
            return bound
    if isinstance(observed, _dt.date):
        try:
            return _dt.datetime.fromisoformat(bound).date()
        except ValueError:
            return bound
    return bound


def _between_success(observed: Any, kwargs: dict[str, Any]) -> bool:
    """Shared min/max success rule (reference:
    ``_validate_metric_value_between`` in expectation.py)."""
    lo = _coerce_bound(observed, kwargs.get("min_value"))
    hi = _coerce_bound(observed, kwargs.get("max_value"))
    if observed is None:
        return lo is None and hi is None
    ok = True
    if lo is not None:
        ok = ok and (observed > lo if kwargs.get("strict_min") else observed >= lo)
    if hi is not None:
        ok = ok and (observed < hi if kwargs.get("strict_max") else observed <= hi)
    return bool(ok)


def _agg_between(name: str, metric_builder: Callable[[ExpectationConfiguration], AggMetric]):
    @register(name)
    def compiler(cfg: ExpectationConfiguration) -> CompiledAgg:
        metric = metric_builder(cfg)

        def validate(observed: Any) -> bool:
            return _between_success(observed, cfg.kwargs)

        return CompiledAgg(cfg=cfg, metric=metric, validate=validate)

    return compiler


_agg_between("expect_column_mean_to_be_between", lambda c: A.mean(c.kwargs["column"]))
_agg_between("expect_column_stdev_to_be_between", lambda c: A.stddev(c.kwargs["column"]))
_agg_between(
    "expect_column_min_to_be_between",
    lambda c: A.col_min(c.kwargs["column"], c.kwargs.get("parse_strings_as_datetimes", False)),
)
_agg_between(
    "expect_column_max_to_be_between",
    lambda c: A.col_max(c.kwargs["column"], c.kwargs.get("parse_strings_as_datetimes", False)),
)
_agg_between("expect_column_sum_to_be_between", lambda c: A.col_sum(c.kwargs["column"]))
_agg_between(
    "expect_column_median_to_be_between",
    lambda c: A.median(
        c.kwargs["column"],
        approximate=c.kwargs.get("approximate", True),
        relative_error=c.kwargs.get("allow_relative_error", 0.001),
    ),
)
_agg_between(
    "expect_column_unique_value_count_to_be_between",
    lambda c: A.distinct_count(
        c.kwargs["column"],
        approximate=c.kwargs.get("approximate", False),
        rsd=c.kwargs.get("rsd", 0.01),
    ),
)
_agg_between(
    "expect_column_pair_correlation_to_be_between",
    lambda c: A.pair_correlation(c.kwargs["column_A"], c.kwargs["column_B"]),
)
_agg_between(
    "expect_column_proportion_of_unique_values_to_be_between",
    lambda c: A.unique_proportion(
        c.kwargs["column"],
        approximate=c.kwargs.get("approximate", False),
        rsd=c.kwargs.get("rsd", 0.05),
    ),
)
_agg_between("expect_table_row_count_to_be_between", lambda c: A.row_count())


@register("expect_table_row_count_to_equal")
def _compile_row_count_equal(cfg: ExpectationConfiguration) -> CompiledAgg:
    target = int(cfg.kwargs["value"])

    def validate(observed: Any) -> bool:
        return observed == target

    return CompiledAgg(cfg=cfg, metric=A.row_count(), validate=validate)


@register("expect_column_quantile_values_to_be_between")
def _compile_quantiles(cfg: ExpectationConfiguration) -> CompiledAgg:
    qinfo = cfg.kwargs["quantile_ranges"]
    quantiles = list(qinfo["quantiles"])
    ranges = list(qinfo["value_ranges"])
    metric = A.quantile_values(
        cfg.kwargs["column"],
        quantiles,
        allow_relative_error=cfg.kwargs.get("allow_relative_error", 0.001),
        approximate=cfg.kwargs.get("approximate", True),
    )
    base_fin = metric.finalize

    def finalize(values: dict[str, Any]) -> Any:
        vals = base_fin(values)
        return {"quantiles": quantiles, "values": vals}

    def per_quantile(observed: Any) -> list[bool] | None:
        vals = observed["values"] if observed else None
        if vals is None:
            return None
        return [
            (lo is None or v >= lo) and (hi is None or v <= hi)
            for v, (lo, hi) in zip(vals, ranges)
        ]

    def validate(observed: Any) -> bool:
        per_q = per_quantile(observed)
        return per_q is not None and all(per_q)

    def details(values: dict[str, Any]) -> dict[str, Any] | None:
        per_q = per_quantile(finalize(values))
        return None if per_q is None else {"success_details": per_q}

    return CompiledAgg(
        cfg=cfg, metric=AggMetric(metric.exprs, finalize, details), validate=validate
    )


def _distinct_set_compiler(name: str, check: Callable[[set, set], bool]):
    @register(name)
    def compiler(cfg: ExpectationConfiguration) -> CompiledAgg:
        metric = A.distinct_values(cfg.kwargs["column"])
        value_set = set(cfg.kwargs["value_set"])

        def validate(observed: Any) -> bool:
            return check(set(observed or []), value_set)

        return CompiledAgg(cfg=cfg, metric=metric, validate=validate)

    return compiler


_distinct_set_compiler(
    "expect_column_distinct_values_to_be_in_set", lambda obs, vs: obs <= vs
)
_distinct_set_compiler(
    "expect_column_distinct_values_to_contain_set", lambda obs, vs: vs <= obs
)
_distinct_set_compiler(
    "expect_column_distinct_values_to_equal_set", lambda obs, vs: obs == vs
)


@register("expect_column_kl_divergence_to_be_less_than")
def _compile_kl(cfg: ExpectationConfiguration) -> CompiledAgg:
    from great_expectations_spark.profile import kl_divergence_metric

    metric = kl_divergence_metric(
        cfg.kwargs["column"],
        cfg.kwargs["partition_object"],
        tail_weight_holdout=cfg.kwargs.get("tail_weight_holdout", 0.0),
        internal_weight_holdout=cfg.kwargs.get("internal_weight_holdout", 0.0),
    )
    threshold = float(cfg.kwargs["threshold"])

    def validate(observed: Any) -> bool:
        import math

        if observed is None or (isinstance(observed, float) and math.isnan(observed)):
            return False
        return bool(observed < threshold)

    return CompiledAgg(cfg=cfg, metric=metric, validate=validate)


def _p_value_compiler(expectation_type: str, metric_builder) -> None:
    """Shared compiler for the p-value family: success ⇔ p > ``p`` kwarg
    (reference default 0.05). NaN observed (empty batch) fails closed."""

    @register(expectation_type)
    def _compile(cfg: ExpectationConfiguration) -> CompiledAgg:
        metric = metric_builder(cfg)
        threshold = float(cfg.kwargs.get("p", 0.05))

        def validate(observed: Any) -> bool:
            import math

            if observed is None or (
                isinstance(observed, float) and math.isnan(observed)
            ):
                return False
            return bool(observed > threshold)

        return CompiledAgg(cfg=cfg, metric=metric, validate=validate)


def _chisq_metric(cfg: ExpectationConfiguration):
    from great_expectations_spark.profile import chisquare_test_metric

    return chisquare_test_metric(
        cfg.kwargs["column"],
        cfg.kwargs["partition_object"],
        tail_weight_holdout=cfg.kwargs.get("tail_weight_holdout", 0.0),
    )


def _ks_metric(cfg: ExpectationConfiguration):
    from great_expectations_spark.profile import ks_test_metric

    return ks_test_metric(cfg.kwargs["column"], cfg.kwargs["partition_object"])


_p_value_compiler(
    "expect_column_chisquare_test_p_value_to_be_greater_than", _chisq_metric
)
def _param_ks_metric(cfg: ExpectationConfiguration):
    from great_expectations_spark.profile import parameterized_ks_test_metric

    return parameterized_ks_test_metric(
        cfg.kwargs["column"],
        cfg.kwargs["distribution"],
        cfg.kwargs.get("params") or {},
        n_probes=int(cfg.kwargs.get("n_probes", 20)),
    )


_p_value_compiler(
    "expect_column_bootstrapped_ks_test_p_value_to_be_greater_than", _ks_metric
)
_p_value_compiler(
    "expect_column_parameterized_distribution_ks_test_p_value_to_be_greater_than",
    _param_ks_metric,
)


@register("expect_column_pair_cramers_phi_value_to_be_less_than")
def _compile_cramers_phi(cfg: ExpectationConfiguration) -> CompiledSide:
    """Cramér's phi (φ_c) association between two categorical columns.

    Reference: ``expect_column_pair_cramers_phi_value_to_be_less_than``
    (upstream PandasDataset-only; SparkDFDataset raised NotImplementedError).
    Spark shape: ONE groupBy(A, B) job builds the contingency table (a
    single shuffle keyed on the pair — uniform for categorical columns);
    the χ² → φ_c arithmetic runs driver-side on the (r × c) count matrix.
    ``max_contingency_cells`` (default 100k) guards the driver collect: a
    pair of high-cardinality columns fails loudly instead of OOMing.
    """
    col_a = cfg.kwargs["column_A"]
    col_b = cfg.kwargs["column_B"]
    threshold = float(cfg.kwargs.get("threshold", 0.1))
    max_cells = int(cfg.kwargs.get("max_contingency_cells", 100_000))

    def run(df: DataFrame, tables: dict[str, DataFrame]) -> tuple[bool, dict[str, Any]]:
        import numpy as np

        cells = (
            df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
            .groupBy(col_a, col_b)
            .count()
            .limit(max_cells + 1)
            .collect()
        )
        if len(cells) > max_cells:
            raise ValueError(
                f"contingency table {col_a}×{col_b} exceeds "
                f"max_contingency_cells={max_cells}; Cramér's phi is a "
                "categorical association measure — bin the columns first"
            )
        if not cells:
            return False, {"observed_value": None}
        a_vals = sorted({r[0] for r in cells}, key=str)
        b_vals = sorted({r[1] for r in cells}, key=str)
        ai = {v: i for i, v in enumerate(a_vals)}
        bi = {v: i for i, v in enumerate(b_vals)}
        m = np.zeros((len(a_vals), len(b_vals)))
        for r in cells:
            m[ai[r[0]], bi[r[1]]] = r[2]
        n = m.sum()
        expected = np.outer(m.sum(axis=1), m.sum(axis=0)) / n
        nz = expected > 0
        chi2 = float(((m[nz] - expected[nz]) ** 2 / expected[nz]).sum())
        k = min(len(a_vals), len(b_vals)) - 1
        phi = math.sqrt(chi2 / (n * k)) if k > 0 else 0.0
        return phi < threshold, {
            "observed_value": round(phi, 9),
            "details": {
                "chi2": chi2,
                "n": float(n),
                "shape": [len(a_vals), len(b_vals)],
            },
        }

    return CompiledSide(cfg=cfg, run=run)


@register("expect_column_most_common_value_to_be_in_set")
def _compile_most_common(cfg: ExpectationConfiguration) -> CompiledAgg:
    """Most-common value(s), ties as a list. The modes need the column's
    value counts, which no scalar aggregate gives: the metric names its
    column in ``modes_column``, and its domain group's value-counts pass
    (``runner.run_passes``) computes them under ``most_common__<column>``."""
    column = cfg.kwargs["column"]
    value_set = set(cfg.kwargs["value_set"])
    ties_okay = bool(cfg.kwargs.get("ties_okay", False))
    alias = A.safe_alias("most_common", column)

    def validate(observed: Any) -> bool:
        modes = observed or []
        if ties_okay:
            return set(modes) <= value_set
        return len(modes) == 1 and modes[0] in value_set

    metric = AggMetric(exprs={}, finalize=lambda v: v.get(alias),
                       modes_column=column)
    return CompiledAgg(cfg=cfg, metric=metric, validate=validate)


# ---------------------------------------------------------------------------
# meta (schema-only) expectations (§2.6) — zero scans
# ---------------------------------------------------------------------------

def _meta(name: str):
    def deco(fn: Callable[[DataFrame, dict[str, Any]], tuple[bool, dict[str, Any]]]):
        @register(name)
        def compiler(cfg: ExpectationConfiguration) -> CompiledSide:
            return CompiledSide(cfg=cfg, run=lambda df, tables: fn(df, cfg.kwargs))

        return fn

    return deco


@_meta("expect_column_to_exist")
def _col_exists(df: DataFrame, kw: dict[str, Any]):
    cols = df.columns
    col = kw["column"]
    idx = kw.get("column_index")
    if idx is not None:
        ok = idx < len(cols) and cols[idx] == col
    else:
        ok = col in cols
    return ok, {}


@_meta("expect_table_columns_to_match_ordered_list")
def _cols_ordered(df: DataFrame, kw: dict[str, Any]):
    observed = list(df.columns)
    expected = list(kw["column_list"])
    return observed == expected, {"observed_value": observed}


@_meta("expect_table_columns_to_match_set")
def _cols_set(df: DataFrame, kw: dict[str, Any]):
    observed = set(df.columns)
    expected = set(kw["column_set"])
    exact = kw.get("exact_match", True)
    ok = observed == expected if exact else expected <= observed
    return ok, {"observed_value": sorted(observed)}


@_meta("expect_table_column_count_to_equal")
def _col_count_eq(df: DataFrame, kw: dict[str, Any]):
    n = len(df.columns)
    return n == int(kw["value"]), {"observed_value": n}


@_meta("expect_table_column_count_to_be_between")
def _col_count_between(df: DataFrame, kw: dict[str, Any]):
    n = len(df.columns)
    return _between_success(n, kw), {"observed_value": n}


_SPARK_TYPE_ALIASES = {
    "StringType": {"StringType", "string", "str", "VARCHAR", "TEXT"},
    "IntegerType": {"IntegerType", "int", "INTEGER", "IntType"},
    "LongType": {"LongType", "bigint", "BIGINT", "long"},
    "DoubleType": {"DoubleType", "double", "DOUBLE", "float64"},
    "FloatType": {"FloatType", "float", "FLOAT"},
    "BooleanType": {"BooleanType", "bool", "BOOLEAN"},
    "TimestampType": {"TimestampType", "timestamp", "TIMESTAMP", "datetime64"},
    "DateType": {"DateType", "date", "DATE"},
    "DecimalType": {"DecimalType", "decimal", "DECIMAL"},
    "ArrayType": {"ArrayType", "array"},
    "MapType": {"MapType", "map"},
    "StructType": {"StructType", "struct"},
}


def _type_matches(spark_type_name: str, wanted: str) -> bool:
    """Match a Spark type class name against a user-provided type string
    (reference: expect_column_values_to_be_of_type Spark path compares
    against pyspark.sql.types classes — SURVEY.md §1.2)."""
    for canonical, aliases in _SPARK_TYPE_ALIASES.items():
        if spark_type_name == canonical:
            return wanted in aliases or wanted == canonical
    return wanted == spark_type_name


@_meta("expect_column_values_to_be_of_type")
def _of_type(df: DataFrame, kw: dict[str, Any]):
    dtype = df.schema[kw["column"]].dataType
    name = type(dtype).__name__
    return _type_matches(name, kw["type_"]), {"observed_value": name}


@_meta("expect_column_values_to_be_in_type_list")
def _in_type_list(df: DataFrame, kw: dict[str, Any]):
    dtype = df.schema[kw["column"]].dataType
    name = type(dtype).__name__
    ok = any(_type_matches(name, t) for t in kw["type_list"])
    return ok, {"observed_value": name}


# ---------------------------------------------------------------------------
# relational (cross-table) expectations (§2.4 referential, §2.6)
# ---------------------------------------------------------------------------

@register("expect_column_values_to_exist_in")
def _compile_exist_in(cfg: ExpectationConfiguration) -> CompiledSide:
    """Referential-integrity check (north_star "column-pair referential
    checks"): every non-null value of `column` must exist in
    `other_table.other_column`. The counts are ONE left join of the batch
    to the dim's distinct values plus one aggregate; only the violations
    sink uses a LEFT-ANTI join. By default Catalyst/AQE broadcasts the dim
    when it fits under ``autoBroadcastJoinThreshold`` (SURVEY.md §2.7).
    ``broadcast=True`` FORCES the hint (only when the caller knows the dim
    is small — an unconditional hint OOMs executors on a large dim at
    scale); ``broadcast=False`` forbids it (``merge`` hint → sort-merge
    join)."""
    column = cfg.kwargs["column"]
    other_table = cfg.kwargs["other_table"]
    other_column = cfg.kwargs["other_column"]
    mostly = cfg.mostly

    def _dim(tables: dict[str, DataFrame]) -> DataFrame:
        dim = tables[other_table].select(F.col(other_column).alias(column)).distinct()
        force = cfg.kwargs.get("broadcast")  # None → AQE decides
        if force is True:
            dim = F.broadcast(dim)
        elif force is False:
            dim = dim.hint("merge")
        return dim

    def _viol(df: DataFrame, tables: dict[str, DataFrame]) -> DataFrame:
        return df.filter(F.col(column).isNotNull()).join(
            _dim(tables), on=column, how="left_anti"
        ).withColumn("observed_value", F.col(column).cast("string"))

    def run(df: DataFrame, tables: dict[str, DataFrame]) -> tuple[bool, dict[str, Any]]:
        from great_expectations_spark.result import calc_map_success

        # ONE job for element/null/unexpected counts: left-outer join against
        # the distinct dim carrying a hit marker, then a single agg — the
        # two-job form (agg scan + anti-join count) scanned the fact twice
        # and was the measured critical path of the full transcript suite
        dim = _dim(tables).withColumn("__gx_hit", F.lit(1))
        counts = df.join(dim, on=column, how="left").agg(
            F.count(F.lit(1)).alias("ec"),
            F.sum(F.when(F.col(column).isNull(), 1).otherwise(0)).alias("nc"),
            F.sum(
                F.when(
                    F.col(column).isNotNull() & F.col("__gx_hit").isNull(), 1
                ).otherwise(0)
            ).alias("ux"),
        ).collect()[0]
        element_count, null_count = counts["ec"], counts["nc"] or 0
        unexpected = counts["ux"] or 0
        success = calc_map_success(element_count, null_count, unexpected, mostly)
        return success, {
            "element_count": int(element_count),
            "missing_count": int(null_count),
            "unexpected_count": int(unexpected),
        }

    return CompiledSide(cfg=cfg, run=run, violations=_viol)


@register("expect_table_row_count_to_equal_other_table")
def _compile_rc_other(cfg: ExpectationConfiguration) -> CompiledSide:
    other_table = cfg.kwargs["other_table"]

    def run(df: DataFrame, tables: dict[str, DataFrame]) -> tuple[bool, dict[str, Any]]:
        a = df.count()
        b = tables[other_table].count()
        return a == b, {"observed_value": {"self": a, "other": b}}

    return CompiledSide(cfg=cfg, run=run)


@register("expect_column_values_to_be_contiguous")
def _compile_contiguous(cfg: ExpectationConfiguration) -> CompiledContiguous:
    """Per-group dense-sequence check (extension; no upstream counterpart —
    transcript-native): within each ``group_by`` group, the non-null values
    of ``column`` must be exactly ``start, start+1, …, start+n-1`` — no
    gaps, no duplicates, correct origin. The north-rule invariant "per-turn
    ordering under stable (conv_id, turn_idx)" is only checkable if
    turn_idx is dense per conv_id; this is that check as a first-class
    suite member (e.g. ``column='turn_idx', group_by=['conv_id']``; TPC-H
    analog ``l_linenumber`` per ``l_orderkey`` with ``start=1``).

    A keyed aggregation, run as a pass of ``runner.run_passes`` in its
    ``row_condition``'s domain group: ONE shuffle on ``(*keys, *group_by)``
    for count/min/max/count_distinct, then a tiny second-stage agg per
    executor key. A group is never wider than its sequence length (turns
    per conversation), so there is no hot-key salting concern.
    ``element_count`` counts the groups holding a non-null value and
    ``mostly`` applies over GROUPS (fraction of groups that are
    contiguous), matching how a user reads "99% of conversations are
    well-formed". The violations sink holds every row of a broken group."""
    return CompiledContiguous(
        cfg=cfg,
        column=cfg.kwargs["column"],
        group_by=list(cfg.kwargs["group_by"]),
        start=int(cfg.kwargs.get("start", 0)),
        mostly=cfg.mostly,
    )


@register("expect_table_benchmark_contamination_rate_to_be_less_than")
def _compile_contamination(cfg: ExpectationConfiguration) -> CompiledSide:
    """Training-data gate (extension; no upstream counterpart): the
    fraction of documents sharing ≥ ``min_hits`` word ``n``-grams with
    ``benchmark_table`` must stay under ``max_rate`` — the GPT-3-style
    decontamination check as a first-class suite member
    (:mod:`~great_expectations_spark.operators.decontamination`; the
    benchmark side is broadcast, the batch side never shuffles)."""
    from great_expectations_spark.operators import decontamination as X

    benchmark_table = cfg.kwargs["benchmark_table"]
    column = cfg.kwargs.get("column", "text")
    id_column = cfg.kwargs["id_column"]
    n = int(cfg.kwargs.get("n", 13))
    min_hits = int(cfg.kwargs.get("min_hits", 1))
    max_rate = float(cfg.kwargs["max_rate"])
    hash_fn = cfg.kwargs.get("hash_fn", "xxhash64")

    def _flagged(df: DataFrame, tables: dict[str, DataFrame]) -> DataFrame:
        return X.contaminated_docs(
            df, tables[benchmark_table], text_col=column, id_col=id_column,
            n=n, min_hits=min_hits, hash_fn=hash_fn,
            benchmark_text_col=cfg.kwargs.get("benchmark_text_column"),
        )

    def _viol(df: DataFrame, tables: dict[str, DataFrame]) -> DataFrame:
        # no forced broadcast: the flagged-id set is unbounded (a heavily
        # contaminated corpus can flag ANY fraction of its rows) — AQE
        # broadcasts small builds at runtime, same policy as exist_in
        return df.join(
            _flagged(df, tables).select(id_column),
            on=id_column, how="left_semi",
        ).withColumn("observed_value", F.col(column).cast("string"))

    def run(df: DataFrame, tables: dict[str, DataFrame]) -> tuple[bool, dict[str, Any]]:
        element_count = df.filter(F.col(column).isNotNull()).count()
        contaminated = _flagged(df, tables).count()
        rate = contaminated / element_count if element_count else 0.0
        return rate < max_rate, {
            "element_count": int(element_count),
            "unexpected_count": int(contaminated),
            "unexpected_percent": 100.0 * rate,
            "observed_value": rate,
        }

    return CompiledSide(cfg=cfg, run=run, violations=_viol)


@register("expect_column_repetition_fractions_to_be_less_than")
def _compile_repetition(cfg: ExpectationConfiguration) -> CompiledSide:
    """Training-data gate (extension): per-document Gopher-style repetition
    fractions (:func:`~great_expectations_spark.operators.textstats.repetition_profile`)
    must stay under the given thresholds for (``mostly`` of) the documents.

    ``max_fractions`` maps feature → ceiling, e.g. ``{"dup_line_frac": 0.3,
    "top_2gram_char_frac": 0.2, "dup_5gram_char_frac": 0.15}``; a document
    violates when ANY requested fraction reaches its ceiling. Runs as one
    profile pass + one agg; null-text documents are excluded (they have no
    repetition)."""
    import re as _re

    from great_expectations_spark.operators import textstats as T
    from great_expectations_spark.result import calc_map_success

    column = cfg.kwargs.get("column", "text")
    id_column = cfg.kwargs["id_column"]
    feats: dict[str, float] = dict(cfg.kwargs["max_fractions"])
    mostly = cfg.mostly
    line_keys = {"dup_line_frac", "dup_line_char_frac"}
    top_ns, dup_ns = set(), set()
    for k in feats:
        if k in line_keys:
            continue
        m = _re.fullmatch(r"(top|dup)_(\d+)gram_char_frac", k)
        if not m:
            raise ValueError(f"unknown repetition feature {k!r}")
        (top_ns if m.group(1) == "top" else dup_ns).add(int(m.group(2)))
    if not feats:
        raise ValueError("max_fractions must name at least one feature")

    def _profile(df: DataFrame) -> DataFrame:
        # pad an n-gram family ONLY when none was requested at all (line-
        # only features) — repetition_profile needs ≥1 n, but padding when
        # dup_ns is present would explode every 2-gram for nothing
        pad = (2,) if not top_ns and not dup_ns else ()
        return T.repetition_profile(
            df, column, id_column,
            top_ns=tuple(sorted(top_ns)) or pad,
            dup_ns=tuple(sorted(dup_ns)),
        )

    def _violates() -> F.Column:
        conds = [F.col(k) >= F.lit(v) for k, v in feats.items()]
        out = conds[0]
        for c in conds[1:]:
            out = out | c
        return out

    def _viol(df: DataFrame, tables: dict[str, DataFrame]) -> DataFrame:
        bad = _profile(df).filter(_violates()).select(id_column)
        return df.join(bad, on=id_column, how="left_semi").withColumn(
            "observed_value", F.col(column).cast("string"))

    def run(df: DataFrame, tables: dict[str, DataFrame]) -> tuple[bool, dict[str, Any]]:
        counts = _profile(df).agg(
            F.count(F.lit(1)).alias("ec"),
            F.sum(F.when(_violates(), 1).otherwise(0)).alias("ux"),
        ).collect()[0]
        element_count, unexpected = int(counts["ec"]), int(counts["ux"] or 0)
        success = calc_map_success(element_count, 0, unexpected, mostly)
        return success, {
            "element_count": element_count,
            "unexpected_count": unexpected,
            "unexpected_percent": (
                100.0 * unexpected / element_count if element_count else None
            ),
        }

    return CompiledSide(cfg=cfg, run=run, violations=_viol)


# ---------------------------------------------------------------------------
# QueryExpectation (§2.8) — the full Spark-SQL relational surface
# ---------------------------------------------------------------------------

@register("expect_query_to_return_no_unexpected_rows")
def _compile_query(cfg: ExpectationConfiguration) -> CompiledSide:
    """Arbitrary SQL over the batch (the reference's ``{active_batch}``
    placeholder names a temp view of the batch, registered per run).
    Success ⇔
    the query returns zero rows (GX 1.0 UnexpectedRowsExpectation
    semantics)."""
    query = cfg.kwargs["query"]
    cap = parse_result_format(cfg.kwargs.get("result_format"))[
        "partial_unexpected_count"]

    def run(df: DataFrame, tables: dict[str, DataFrame]) -> tuple[bool, dict[str, Any]]:
        # a view name of this call's own: concurrent runs (checkpoint
        # partitions) and the user's session views never see the batch
        view = f"active_batch_{uuid.uuid4().hex}"
        df.createTempView(view)
        try:
            res = df.sparkSession.sql(query.replace("{active_batch}", view))
            # one bounded collect decides success AND yields the sample; the
            # arbitrary user SQL only re-executes for an exact count when it
            # returned MORE than the partial cap (the passing case — zero
            # rows — costs exactly one job)
            head = res.limit(cap + 1).collect()
            n = res.count() if len(head) > cap else len(head)
        finally:
            df.sparkSession.catalog.dropTempView(view)
        return n == 0, {
            "observed_value": int(n),
            "unexpected_rows": [
                {k: row_value(v) for k, v in r.asDict().items()}
                for r in head[:cap]
            ],
        }

    return CompiledSide(cfg=cfg, run=run)
