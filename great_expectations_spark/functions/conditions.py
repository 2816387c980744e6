"""Map-metric condition builders — per-row predicates as Spark Columns.

Each builder returns a :class:`MapCondition` describing one map metric over
a domain (SURVEY.md §2.3/§2.4; reference providers under
``great_expectations/expectations/metrics/column_map_metrics/`` and
``…/column_pair_map_metrics/`` / ``…/multicolumn_map_metrics/``,
unverified upstream citations per SURVEY.md §0):

- ``missing``: boolean Column — the row is outside the domain
  (``filter_column_isnull`` / ``ignore_row_if`` semantics). Missing rows are
  never unexpected.
- ``success``: boolean Column — the row satisfies the predicate; evaluated
  only where ``~missing`` (callers must combine as
  ``~missing & ~coalesce(success, lit(False))`` for the unexpected counter so
  NULL predicate results count as unexpected, matching the reference).
- ``observed``: Column whose value appears in unexpected lists / the
  violations sink for failing rows.

All builders are pure Column expressions — JVM-side, whole-stage-codegen
friendly; the handful of genuinely non-expressible predicates (dateutil,
json-schema) use Arrow-vectorized pandas UDFs, never per-row Python UDFs
(BASELINE.json input_hint mandate).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Any, Callable

import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql.functions import pandas_udf


@dataclass
class MapCondition:
    """Compiled per-row predicate over a domain."""

    domain_cols: list[str]
    missing: Column
    success: Column
    observed: Column
    #: window-backed builder (increasing/decreasing): the condition over a
    #: run's key columns and index columns, built per run by
    #: ``runner.run_passes`` and counted in the window pass
    window_expr: Callable[[list[str], list[str]], "MapCondition"] | None = None
    #: scalar aggregate dependencies (alias -> agg expr); when present the
    #: condition is built in wave 2 via ``rebuild_expr(dep_columns)``
    requires: dict[str, Column] = field(default_factory=dict)
    #: wave-2 builder: deps arrive as COLUMNS — literals of the whole
    #: table's wave-1 values, or per-segment stats joined onto the batch, so
    #: one wave-2 pass covers every segment
    rebuild_expr: Callable[[dict[str, Column]], "MapCondition"] | None = None

    @property
    def unexpected(self) -> Column:
        """Row is in-domain and fails the predicate.

        NULL predicate results (e.g. comparison with NULL operand under
        ``ignore_row_if="neither"``) count as unexpected — the row was in
        the domain and did not satisfy P.
        """
        return (~self.missing) & ~F.coalesce(self.success, F.lit(False))


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------------------
# single-column conditions  (reference: column_map_metrics/*.py)
# ---------------------------------------------------------------------------

def not_be_null(column: str, **_: Any) -> MapCondition:
    """column_values.nonnull — filter_column_isnull is OFF for this metric:
    nulls are the thing under test, so missing_count is always 0."""
    c = _col(column)
    return MapCondition([column], F.lit(False), c.isNotNull(), c)


def be_null(column: str, **_: Any) -> MapCondition:
    c = _col(column)
    return MapCondition([column], F.lit(False), c.isNull(), c)


def _nonnull_domain(column: str) -> Column:
    return _col(column).isNull()


def be_in_set(column: str, value_set: list[Any], **_: Any) -> MapCondition:
    c = _col(column)
    # empty set → every non-null value unexpected (reference semantics)
    success = c.isin(list(value_set)) if value_set else F.lit(False)
    return MapCondition([column], _nonnull_domain(column), success, c)


def not_be_in_set(column: str, value_set: list[Any], **_: Any) -> MapCondition:
    c = _col(column)
    success = ~c.isin(list(value_set)) if value_set else F.lit(True)
    return MapCondition([column], _nonnull_domain(column), success, c)


def _between_expr(
    c: Column,
    min_value: Any = None,
    max_value: Any = None,
    strict_min: bool = False,
    strict_max: bool = False,
) -> Column:
    """Shared open/closed-bounds logic (reference: column_values_between.py).
    ``None`` bound = unbounded; both None → always true."""
    conds: list[Column] = []
    if min_value is not None:
        conds.append(c > min_value if strict_min else c >= min_value)
    if max_value is not None:
        conds.append(c < max_value if strict_max else c <= max_value)
    if not conds:
        return F.lit(True)
    return reduce(lambda a, b: a & b, conds)


def be_between(
    column: str,
    min_value: Any = None,
    max_value: Any = None,
    strict_min: bool = False,
    strict_max: bool = False,
    parse_strings_as_datetimes: bool = False,
    **_: Any,
) -> MapCondition:
    c = _col(column)
    observed = c
    if parse_strings_as_datetimes:
        c = F.try_to_timestamp(c)
        min_value = F.try_to_timestamp(F.lit(min_value)) if min_value is not None else None
        max_value = F.try_to_timestamp(F.lit(max_value)) if max_value is not None else None
    return MapCondition(
        [column],
        _nonnull_domain(column),
        _between_expr(c, min_value, max_value, strict_min, strict_max),
        observed,
    )


def value_lengths_be_between(
    column: str,
    min_value: Any = None,
    max_value: Any = None,
    strict_min: bool = False,
    strict_max: bool = False,
    **_: Any,
) -> MapCondition:
    """column_values.value_length — MAP_FN ``F.length`` + range condition
    (reference: column_value_lengths.py)."""
    c = _col(column)
    return MapCondition(
        [column],
        _nonnull_domain(column),
        _between_expr(F.length(c), min_value, max_value, strict_min, strict_max),
        c,
    )


def value_lengths_equal(column: str, value: int, **_: Any) -> MapCondition:
    c = _col(column)
    return MapCondition(
        [column], _nonnull_domain(column), F.length(c) == int(value), c
    )


def match_regex(column: str, regex: str, **_: Any) -> MapCondition:
    c = _col(column)
    return MapCondition([column], _nonnull_domain(column), c.rlike(regex), c)


def not_match_regex(column: str, regex: str, **_: Any) -> MapCondition:
    c = _col(column)
    return MapCondition([column], _nonnull_domain(column), ~c.rlike(regex), c)


def match_regex_list(
    column: str, regex_list: list[str], match_on: str = "any", **_: Any
) -> MapCondition:
    c = _col(column)
    parts = [c.rlike(r) for r in regex_list]
    op = (lambda a, b: a | b) if match_on == "any" else (lambda a, b: a & b)
    success = reduce(op, parts) if parts else F.lit(True)
    return MapCondition([column], _nonnull_domain(column), success, c)


def not_match_regex_list(column: str, regex_list: list[str], **_: Any) -> MapCondition:
    c = _col(column)
    parts = [c.rlike(r) for r in regex_list]
    success = ~reduce(lambda a, b: a | b, parts) if parts else F.lit(True)
    return MapCondition([column], _nonnull_domain(column), success, c)


def match_like_pattern(column: str, like_pattern: str, **_: Any) -> MapCondition:
    """SQL-backend-only in the reference (no Spark impl) — trivial for us;
    marked as an extension in SURVEY.md §2.3."""
    c = _col(column)
    return MapCondition([column], _nonnull_domain(column), c.like(like_pattern), c)


def not_match_like_pattern(column: str, like_pattern: str, **_: Any) -> MapCondition:
    c = _col(column)
    return MapCondition([column], _nonnull_domain(column), ~c.like(like_pattern), c)


def match_like_pattern_list(
    column: str, like_pattern_list: list[str], match_on: str = "any", **_: Any
) -> MapCondition:
    c = _col(column)
    parts = [c.like(p) for p in like_pattern_list]
    op = (lambda a, b: a | b) if match_on == "any" else (lambda a, b: a & b)
    success = reduce(op, parts) if parts else F.lit(True)
    return MapCondition([column], _nonnull_domain(column), success, c)


def not_match_like_pattern_list(
    column: str, like_pattern_list: list[str], **_: Any
) -> MapCondition:
    c = _col(column)
    parts = [c.like(p) for p in like_pattern_list]
    success = ~reduce(lambda a, b: a | b, parts) if parts else F.lit(True)
    return MapCondition([column], _nonnull_domain(column), success, c)


# --- datetime / json parsing (vectorized — reference used per-row UDFs) ----

_STRFTIME_TO_SPARK = {
    "%Y": "yyyy",
    "%y": "yy",
    "%m": "MM",
    "%d": "dd",
    "%H": "HH",
    "%I": "hh",
    "%M": "mm",
    "%S": "ss",
    "%f": "SSSSSS",
    "%j": "DDD",
    "%a": "EEE",
    "%b": "MMM",
    "%p": "a",
    "%%": "'%'",
}


def strftime_to_spark_pattern(fmt: str) -> str:
    """Translate a Python strftime format to a Spark datetime pattern.

    Raises for directives with no faithful Spark equivalent so we never
    silently mis-validate.
    """
    out: list[str] = []
    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "%":
            directive = fmt[i : i + 2]
            if directive not in _STRFTIME_TO_SPARK:
                raise ValueError(f"unsupported strftime directive {directive!r}")
            out.append(_STRFTIME_TO_SPARK[directive])
            i += 2
        elif ch.isalpha():
            out.append(f"'{ch}'")  # literal letters must be quoted in Spark patterns
            i += 1
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def match_strftime_format(column: str, strftime_format: str, **_: Any) -> MapCondition:
    """Reference Spark path is a per-row ``datetime.strptime`` UDF
    (column_values_match_strftime_format.py); ours is a vectorized
    ``try_to_timestamp`` after pattern translation — no Python in the hot
    path."""
    c = _col(column)
    pattern = strftime_to_spark_pattern(strftime_format)
    success = F.try_to_timestamp(c, F.lit(pattern)).isNotNull()
    return MapCondition([column], _nonnull_domain(column), success, c)


def dateutil_parseable(column: str, **_: Any) -> MapCondition:
    from pyspark.sql.types import BooleanType

    @pandas_udf(BooleanType())
    def _parseable(s: pd.Series) -> pd.Series:
        # Arrow-batched; pd.to_datetime vectorizes the common formats and
        # falls back to dateutil per element only inside the C loop.
        return pd.to_datetime(s, errors="coerce", format="mixed").notna()

    c = _col(column)
    return MapCondition([column], _nonnull_domain(column), _parseable(c), c)


def json_parseable(column: str, strict: bool = True, **_: Any) -> MapCondition:
    """Reference semantics are Python ``json.loads`` — which REJECTS
    trailing garbage (``'{"k":1}{'`` fails). Spark's native
    ``try_parse_json`` accepts a valid prefix and ignores the rest, so the
    default ``strict=True`` uses an Arrow pandas UDF with ``json.loads``
    for exact reference parity; ``strict=False`` opts into the JVM-side
    variant parse (faster, prefix-lenient)."""
    c = _col(column)
    if not strict:
        return MapCondition(
            [column], _nonnull_domain(column), F.try_parse_json(c).isNotNull(), c
        )
    from pyspark.sql.types import BooleanType

    @pandas_udf(BooleanType())
    def _parseable(s: pd.Series) -> pd.Series:
        import json

        def ok(v: Any) -> bool:
            if v is None:
                return False
            try:
                json.loads(v)
                return True
            except (ValueError, TypeError):
                return False

        return s.map(ok)

    return MapCondition([column], _nonnull_domain(column), _parseable(c), c)


def _make_json_schema_validator(schema: dict[str, Any]):
    """Build an Arrow pandas UDF validating each string against a JSON
    schema. Uses the ``jsonschema`` package when available; otherwise a
    minimal built-in validator (type / required / properties / enum /
    minimum / maximum / items) sufficient for the reference's test corpus.
    """
    try:
        import jsonschema  # noqa: F401

        def _check(obj: Any) -> bool:
            try:
                jsonschema.validate(obj, schema)
                return True
            except jsonschema.ValidationError:
                return False

    except ImportError:
        _TYPES = {
            "object": dict,
            "array": list,
            "string": str,
            "number": (int, float),
            "integer": int,
            "boolean": bool,
            "null": type(None),
        }

        def _validate(obj: Any, sch: dict[str, Any]) -> bool:
            t = sch.get("type")
            if t is not None:
                py = _TYPES.get(t)
                if py is None:
                    return False
                if not isinstance(obj, py) or (t == "number" and isinstance(obj, bool)) or (
                    t == "integer" and isinstance(obj, bool)
                ):
                    return False
            if "enum" in sch and obj not in sch["enum"]:
                return False
            if isinstance(obj, dict):
                for req in sch.get("required", []):
                    if req not in obj:
                        return False
                for k, sub in sch.get("properties", {}).items():
                    if k in obj and not _validate(obj[k], sub):
                        return False
            if isinstance(obj, list) and "items" in sch:
                if not all(_validate(v, sch["items"]) for v in obj):
                    return False
            if isinstance(obj, (int, float)) and not isinstance(obj, bool):
                if "minimum" in sch and obj < sch["minimum"]:
                    return False
                if "maximum" in sch and obj > sch["maximum"]:
                    return False
            return True

        def _check(obj: Any) -> bool:
            return _validate(obj, schema)

    import json as _json

    from pyspark.sql.types import BooleanType

    @pandas_udf(BooleanType())
    def _matches(s: pd.Series) -> pd.Series:
        def one(v):
            if v is None:
                return None
            try:
                return _check(_json.loads(v))
            except (ValueError, TypeError):
                return False

        return s.map(one)

    return _matches


def match_json_schema(column: str, json_schema: dict[str, Any], **_: Any) -> MapCondition:
    c = _col(column)
    validator = _make_json_schema_validator(json_schema)
    return MapCondition([column], _nonnull_domain(column), validator(c), c)


# --- training-data pipeline conditions (extensions; operators/ tie-in) -----

def token_counts_be_between(
    column: str,
    min_value: float | None = None,
    max_value: float | None = None,
    tokenizer: str = "ws",
    strict_min: bool = False,
    strict_max: bool = False,
    **_: Any,
) -> MapCondition:
    """Extension: per-document token count within bounds — the dataset-
    curation gate ("drop docs shorter than N / longer than M tokens") as a
    first-class expectation. Tokenizers from operators/textstats.py:
    ``ws`` whitespace, ``bpe`` the BPE-ish regex segmentation. Pure
    codegen expressions — no Python in the hot path."""
    from great_expectations_spark.operators.textstats import (
        token_count_bpe_ish,
        token_count_ws,
    )

    c = _col(column)
    if tokenizer == "ws":
        n = token_count_ws(c)
    elif tokenizer == "bpe":
        n = token_count_bpe_ish(c)
    else:
        raise ValueError(f"unknown tokenizer {tokenizer!r} (ws|bpe)")
    cond = _between_expr(n, min_value, max_value, strict_min, strict_max)
    return MapCondition([column], _nonnull_domain(column), cond, n)


def vector_norms_be_between(
    column: str,
    min_value: float | None = None,
    max_value: float | None = None,
    strict_min: bool = False,
    strict_max: bool = False,
    **_: Any,
) -> MapCondition:
    """Extension: L2 norm of an ``array<float/double>`` embedding column
    within bounds — catches zero/degenerate/unnormalized vectors before
    they poison similarity search. Arrow pandas UDF (numpy batch norms):
    a per-element SQL HOF would be interpreted ~4µs/element, i.e.
    dim×4µs per row; one BLAS pass per Arrow batch is ~100× cheaper."""
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def _norm(s: pd.Series) -> pd.Series:
        import numpy as np

        def one(v: Any) -> float | None:
            if v is None:
                return None
            a = np.asarray(v, dtype=np.float64)
            return float(np.sqrt((a * a).sum()))

        return s.map(one)

    c = _col(column)
    n = _norm(c)
    cond = _between_expr(n, min_value, max_value, strict_min, strict_max)
    return MapCondition([column], _nonnull_domain(column), cond, n)


def contain_no_pii(
    column: str,
    types: list[str] | None = None,
    **_: Any,
) -> MapCondition:
    """Extension: the document contains zero PII matches of the requested
    classes (operators/pii.py; credit_card matches are Luhn-verified so
    random digit runs don't fire the gate). ``mostly`` bounds the tolerated
    fraction of PII-bearing docs; the observed value in violation rows is
    the comma-joined list of classes found (e.g. ``"email,ipv4"``).
    Pure codegen regexp expressions — map-only at any scale."""
    from great_expectations_spark.operators.pii import pii_total, pii_types_found

    c = _col(column)
    return MapCondition(
        [column],
        _nonnull_domain(column),
        pii_total(c, types) == 0,
        pii_types_found(c, types),
    )


# --- window-backed conditions ----------------------------------------------

#: ``partition_by`` left out: the window keys default to the run's index
#: columns minus the target column (an explicit ``None`` is the global window)
_INDEX_KEYS: Any = object()


def increasing(
    column: str,
    strictly: bool = False,
    partition_by: str | list[str] | None = _INDEX_KEYS,
    order_by: str | list[str] | None = None,
    **_: Any,
) -> MapCondition:
    """column_values.increasing — reference Spark uses a global
    ``Window.orderBy(monotonically_increasing_id())`` (shuffles to ONE
    partition; non-scalable). Ours: per-key windows when ``partition_by``
    is given (the canonical transcripts invariant is turn_idx increasing per
    conv_id) or left out (the run's index columns), the global window for
    ``partition_by=None`` (reference parity on small data).
    """
    return _monotone(column, strictly, partition_by, order_by, decreasing=False)


def decreasing(
    column: str,
    strictly: bool = False,
    partition_by: str | list[str] | None = _INDEX_KEYS,
    order_by: str | list[str] | None = None,
    **_: Any,
) -> MapCondition:
    return _monotone(column, strictly, partition_by, order_by, decreasing=True)


def _monotone(
    column: str,
    strictly: bool,
    partition_by: Any,
    order_by: str | list[str] | None,
    decreasing: bool,
) -> MapCondition:
    """The window is built per run by ``window_expr(keys, index_cols)``
    over ``[*keys, *partition_by]``: the executor's keys (the segment for
    ``validate_by_group``) go in front, so lag never crosses a segment. An
    absent ``partition_by`` defaults to ``index_cols`` minus the target
    column (windowing turn_idx BY turn_idx would be vacuous): a suite that
    declares identity columns has named its natural window key, so the
    scale-hazardous GLOBAL window is opt-in — ``partition_by=None``."""
    from pyspark.sql import Window

    c = _col(column)
    # multi-column order_by is the determinism lever when the leading sort
    # key has duplicates: (key, value) ordering makes the value SEQUENCE
    # unique even when key ties would let the engine pick a tie order
    obs = [order_by] if isinstance(order_by, str) else list(order_by or [])

    def window_expr(keys: list[str], index_cols: list[str]) -> MapCondition:
        if partition_by is _INDEX_KEYS:
            by = [k for k in index_cols if k != column]
        elif isinstance(partition_by, str):
            by = [partition_by]
        else:
            by = list(partition_by or [])
        if not keys and not by:
            import warnings

            warnings.warn(
                f"increasing/decreasing on {column!r} without partition_by "
                "uses a GLOBAL window: Spark shuffles the whole batch into "
                "one task. Fine for small batches / reference parity; at "
                "scale pass partition_by (e.g. partition_by='conv_id') so "
                "the window is per-key.",
                stacklevel=3,
            )
        w = Window.partitionBy(*keys, *by).orderBy(
            *(obs or [F.monotonically_increasing_id()]))
        prev = F.lag(c).over(w)
        if decreasing:
            cmp = (c < prev) if strictly else (c <= prev)
        else:
            cmp = (c > prev) if strictly else (c >= prev)
        success = F.when(prev.isNull(), F.lit(True)).otherwise(cmp)
        return MapCondition([column], _nonnull_domain(column), success, c)

    # success is a placeholder until built over the run's keys
    return MapCondition([column], _nonnull_domain(column), F.lit(True), c,
                        window_expr=window_expr)


# --- aggregate-dependent conditions ----------------------------------------

def z_scores_under_threshold(
    column: str, threshold: float, double_sided: bool = True, **_: Any
) -> MapCondition:
    """column_values.z_score.under_threshold — MAP_FN ``(x-mean)/stddev``
    over agg deps (reference: column_values_z_score.py). Wave-1 computes
    mean/stddev in the shared bundle; wave-2 rebuilds the condition over
    them (literals for the whole table, joined columns per segment)."""
    c = _col(column)
    mean_alias = f"dep__mean__{column}"
    std_alias = f"dep__stddev__{column}"

    def rebuild_expr(deps: dict[str, Column]) -> MapCondition:
        # NULL/zero stddev ⇒ z is NULL ⇒ every non-null row counts unexpected
        mean_c, std_c = deps[mean_alias], deps[std_alias]
        z = (
            F.when(std_c.isNull() | (std_c == 0), F.lit(None).cast("double"))
            .otherwise((c.cast("double") - mean_c) / std_c)
        )
        success = (F.abs(z) < threshold) if double_sided else (z < threshold)
        return MapCondition([column], _nonnull_domain(column), success, c)

    return MapCondition(
        [column],
        _nonnull_domain(column),
        F.lit(True),  # placeholder until rebuilt
        c,
        requires={
            mean_alias: F.mean(c.cast("double")),
            std_alias: F.stddev_samp(c.cast("double")),
        },
        rebuild_expr=rebuild_expr,
    )


# ---------------------------------------------------------------------------
# column-pair conditions  (reference: column_pair_map_metrics/*.py)
# ---------------------------------------------------------------------------

def _pair_missing(a: Column, b: Column, ignore_row_if: str) -> Column:
    if ignore_row_if == "both_values_are_missing":
        return a.isNull() & b.isNull()
    if ignore_row_if == "either_value_is_missing":
        return a.isNull() | b.isNull()
    if ignore_row_if in ("neither", "never"):
        return F.lit(False)
    raise ValueError(f"unknown ignore_row_if {ignore_row_if!r}")


def _pair_observed(a: Column, b: Column) -> Column:
    return F.struct(a.alias("A"), b.alias("B"))


def pair_equal(
    column_A: str,
    column_B: str,
    ignore_row_if: str = "both_values_are_missing",
    **_: Any,
) -> MapCondition:
    a, b = _col(column_A), _col(column_B)
    missing = _pair_missing(a, b, ignore_row_if)
    # NULL-safe equality for the in-domain rows where one side may be null
    success = a.eqNullSafe(b)
    return MapCondition([column_A, column_B], missing, success, _pair_observed(a, b))


def pair_a_greater_than_b(
    column_A: str,
    column_B: str,
    or_equal: bool = False,
    ignore_row_if: str = "both_values_are_missing",
    parse_strings_as_datetimes: bool = False,
    **_: Any,
) -> MapCondition:
    a, b = _col(column_A), _col(column_B)
    missing = _pair_missing(a, b, ignore_row_if)
    observed = _pair_observed(a, b)
    if parse_strings_as_datetimes:
        a, b = F.try_to_timestamp(a), F.try_to_timestamp(b)
    success = (a >= b) if or_equal else (a > b)
    return MapCondition([column_A, column_B], missing, success, observed)


def pair_in_set(
    column_A: str,
    column_B: str,
    value_pairs_set: list[tuple[Any, Any]],
    ignore_row_if: str = "both_values_are_missing",
    **_: Any,
) -> MapCondition:
    a, b = _col(column_A), _col(column_B)
    missing = _pair_missing(a, b, ignore_row_if)
    pairs = [F.struct(F.lit(x).alias("A"), F.lit(y).alias("B")) for x, y in value_pairs_set]
    me = F.struct(a.alias("A"), b.alias("B"))
    success = me.isin(*pairs) if pairs else F.lit(False)
    return MapCondition([column_A, column_B], missing, success, _pair_observed(a, b))


# ---------------------------------------------------------------------------
# multicolumn conditions  (reference: multicolumn_map_metrics/*.py)
# ---------------------------------------------------------------------------

def _multi_missing(cols: list[Column], ignore_row_if: str) -> Column:
    if ignore_row_if == "all_values_are_missing":
        return reduce(lambda x, y: x & y, [c.isNull() for c in cols])
    if ignore_row_if == "any_value_is_missing":
        return reduce(lambda x, y: x | y, [c.isNull() for c in cols])
    if ignore_row_if in ("never", "neither"):
        return F.lit(False)
    raise ValueError(f"unknown ignore_row_if {ignore_row_if!r}")


def _multi_observed(cols: list[str]) -> Column:
    return F.struct(*[_col(c).alias(c) for c in cols])


def multicolumn_sum_equal(
    column_list: list[str],
    sum_total: float,
    ignore_row_if: str = "all_values_are_missing",
    **_: Any,
) -> MapCondition:
    cols = [_col(c) for c in column_list]
    missing = _multi_missing(cols, ignore_row_if)
    total = reduce(lambda x, y: x + y, [c.cast("double") for c in cols])
    return MapCondition(
        list(column_list), missing, total == float(sum_total), _multi_observed(column_list)
    )


def select_column_values_unique_within_record(
    column_list: list[str],
    ignore_row_if: str = "all_values_are_missing",
    **_: Any,
) -> MapCondition:
    """Row-local distinctness via ``array_distinct`` — no shuffle
    (reference: select_column_values_unique_within_record.py used a window-
    free per-row comparison as well)."""
    cols = [_col(c) for c in column_list]
    missing = _multi_missing(cols, ignore_row_if)
    arr = F.array(*cols)
    nn = F.filter(arr, lambda x: x.isNotNull())
    success = F.size(F.array_distinct(nn)) == F.size(nn)
    return MapCondition(
        list(column_list), missing, success, _multi_observed(column_list)
    )
