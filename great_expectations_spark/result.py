"""Result model — EVR shaping with reference-parity semantics.

Implements the contract in SURVEY.md §1.4 (reference:
``great_expectations/core/expectation_validation_result.py`` and
``Expectation._format_map_output`` /
``_calc_map_expectation_success`` in
``great_expectations/expectations/expectation.py``; unverified upstream
citations per SURVEY.md §0):

- ``result_format`` levels BOOLEAN_ONLY / BASIC / SUMMARY / COMPLETE with
  ``partial_unexpected_count`` (default 20), ``unexpected_index_column_names``
  and ``include_unexpected_rows``.
- ``mostly`` success rule over the non-null domain::

    success = unexpected_count == 0                                if mostly is None
            = (nonnull - unexpected) / nonnull >= mostly           otherwise

- percent fields::

    unexpected_percent             = 100 * unexpected / nonnull     (v3 default)
    unexpected_percent_total       = 100 * unexpected / element_count
    unexpected_percent_nonmissing  = unexpected_percent
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Any, NamedTuple

DEFAULT_PARTIAL_UNEXPECTED_COUNT = 20

_LEVELS = ("BOOLEAN_ONLY", "BASIC", "SUMMARY", "COMPLETE")


def parse_result_format(result_format: str | dict[str, Any] | None) -> dict[str, Any]:
    """Normalize a result_format kwarg to its dict form.

    Reference parity: ``parse_result_format`` accepts either a bare level
    string or ``{"result_format": level, "partial_unexpected_count": n,
    "unexpected_index_column_names": [...], "include_unexpected_rows": bool}``.
    """
    if result_format is None:
        result_format = "BASIC"
    if isinstance(result_format, str):
        result_format = {"result_format": result_format}
    rf = dict(result_format)
    level = rf.get("result_format", "BASIC").upper()
    if level not in _LEVELS:
        raise ValueError(f"unknown result_format {level!r}; expected one of {_LEVELS}")
    rf["result_format"] = level
    rf.setdefault("partial_unexpected_count", DEFAULT_PARTIAL_UNEXPECTED_COUNT)
    rf.setdefault("unexpected_index_column_names", None)
    rf.setdefault("include_unexpected_rows", False)
    return rf


def row_value(v: Any) -> Any:
    """Convert collected Spark values (Row/struct) to plain Python."""
    if hasattr(v, "asDict"):
        return {k: row_value(x) for k, x in v.asDict().items()}
    if isinstance(v, list):
        return [row_value(x) for x in v]
    return v


def _json_safe(v: Any) -> Any:
    """JSON-safe conversion mirroring the reference's
    ``convert_to_json_serializable`` for the cases we hit: ±inf and NaN
    become None (the reference serializes KL=inf as null — SURVEY.md §7.4).
    """
    if isinstance(v, float) and (math.isinf(v) or math.isnan(v)):
        return None
    if isinstance(v, dict):
        return {k: _json_safe(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_json_safe(x) for x in v]
    return v


class Verdict(NamedTuple):
    """The counters and success a check was judged by, whatever its EVR's
    ``result_format`` shows: what a store row records."""

    success: bool
    element_count: int
    missing_count: int
    unexpected_count: int
    #: an aggregate's finalized metric; None for row- and group-counting checks
    observed: Any


@dataclass
class ExpectationValidationResult:
    """One EVR: ``{success, result{…}, expectation_config, meta,
    exception_info}``, backed by the :class:`Verdict` it was judged by."""

    success: bool
    expectation_config: dict[str, Any]
    result: dict[str, Any] = field(default_factory=dict)
    meta: dict[str, Any] = field(default_factory=dict)
    exception_info: dict[str, Any] = field(
        default_factory=lambda: {
            "raised_exception": False,
            "exception_message": None,
            "exception_traceback": None,
        }
    )
    #: neither emitted by ``to_dict`` nor compared: a BOOLEAN_ONLY EVR still
    #: shows ``result == {}``. The default is an exception EVR's: failed, with
    #: zero counts.
    verdict: Verdict = field(default=Verdict(False, 0, 0, 0, None),
                             compare=False, repr=False)

    def to_dict(self) -> dict[str, Any]:
        return {
            "success": bool(self.success),
            "expectation_config": self.expectation_config,
            "result": _json_safe(self.result),
            "meta": self.meta,
            "exception_info": self.exception_info,
        }


@dataclass
class ExpectationSuiteValidationResult:
    """Suite-level rollup: EVR list + statistics + overall success."""

    success: bool
    results: list[ExpectationValidationResult]
    statistics: dict[str, Any]
    meta: dict[str, Any] = field(default_factory=dict)

    def to_dict(self) -> dict[str, Any]:
        return {
            "success": bool(self.success),
            "results": [r.to_dict() for r in self.results],
            "statistics": self.statistics,
            "meta": self.meta,
        }


def build_statistics(results: list[ExpectationValidationResult]) -> dict[str, Any]:
    evaluated = len(results)
    successful = sum(1 for r in results if r.success)
    return {
        "evaluated_expectations": evaluated,
        "successful_expectations": successful,
        "unsuccessful_expectations": evaluated - successful,
        "success_percent": (100.0 * successful / evaluated) if evaluated else None,
    }


# ---------------------------------------------------------------------------
# map-expectation result shaping
# ---------------------------------------------------------------------------

def calc_map_success(
    element_count: int,
    null_count: int,
    unexpected_count: int,
    mostly: float | None,
) -> bool:
    """The reference's ``_calc_map_expectation_success`` rule."""
    nonnull = element_count - null_count
    if mostly is None:
        return unexpected_count == 0
    if nonnull <= 0:
        # vacuous domain: reference treats an empty (all-null) domain as success
        return True
    return (nonnull - unexpected_count) / nonnull >= mostly


def format_map_result(
    *,
    result_format: dict[str, Any],
    element_count: int,
    null_count: int,
    unexpected_count: int,
    partial_unexpected_list: list[Any] | None = None,
    partial_unexpected_index_list: list[dict[str, Any]] | None = None,
    partial_unexpected_counts: list[dict[str, Any]] | None = None,
    unexpected_list: list[Any] | None = None,
    unexpected_index_list: list[dict[str, Any]] | None = None,
    unexpected_rows: list[dict[str, Any]] | None = None,
    unexpected_index_column_names: list[str] | None = None,
) -> dict[str, Any]:
    """Shape the ``result`` dict for a map expectation per §1.4.

    Counts are computed over the pre-filtered domain; ``null_count`` is the
    count of rows the metric's ``filter_column_isnull`` (or ignore_row_if)
    dropped — nulls are *missing*, never *unexpected*.
    """
    level = result_format["result_format"]
    if level == "BOOLEAN_ONLY":
        return {}

    nonnull = element_count - null_count
    result: dict[str, Any] = {
        "element_count": int(element_count),
        "missing_count": int(null_count),
        "missing_percent": (100.0 * null_count / element_count)
        if element_count
        else None,
        "unexpected_count": int(unexpected_count),
        "unexpected_percent": (100.0 * unexpected_count / nonnull)
        if nonnull
        else None,
        "unexpected_percent_total": (100.0 * unexpected_count / element_count)
        if element_count
        else None,
        "unexpected_percent_nonmissing": (100.0 * unexpected_count / nonnull)
        if nonnull
        else None,
        "partial_unexpected_list": list(partial_unexpected_list or []),
    }
    if level == "BASIC":
        return result

    result["partial_unexpected_counts"] = list(partial_unexpected_counts or [])
    if partial_unexpected_index_list is not None:
        result["partial_unexpected_index_list"] = partial_unexpected_index_list
    if unexpected_index_column_names:
        result["unexpected_index_column_names"] = list(unexpected_index_column_names)
    if level == "SUMMARY":
        return result

    # COMPLETE
    if unexpected_list is not None:
        result["unexpected_list"] = unexpected_list
    if unexpected_index_list is not None:
        result["unexpected_index_list"] = unexpected_index_list
    if result_format.get("include_unexpected_rows") and unexpected_rows is not None:
        result["unexpected_rows"] = unexpected_rows
    return result
