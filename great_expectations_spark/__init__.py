"""great_expectations_spark — a from-scratch, PySpark-native expectation /
constraint-validation engine with the query and data-processing capabilities
of the ``great_expectations`` reference (alexsherstinsky/great_expectations).

Architecture (NOT a port — see SURVEY.md §7):

- Declarative suites of ``ExpectationConfiguration`` objects (suite.py)
- A suite compiler that dedups metrics and bundles every scalar aggregate /
  map-condition counter into as few Spark jobs as possible (plans/planner.py)
- Result shaping matching the reference's ExpectationValidationResult
  contract: ``mostly``, ``result_format`` BOOLEAN_ONLY/BASIC/SUMMARY/COMPLETE
  (result.py; reference: great_expectations/core/expectation_validation_result.py,
  great_expectations/expectations/expectation.py::_format_map_output)
- Violation-row sink ``(keys…, expectation, observed_value)`` — the
  reference's unexpected_index_list materialized at scale (runner.py)
- Skew-aware salted aggregation, approximate quantiles,
  per-partition checkpoint commit log for resumable runs (skew.py,
  checkpoint.py)
- Training-data pipeline operators: dedup (exact/MinHash-LSH/SimHash/
  embedding), ANN similarity, text analysis, multimodal plumbing
  (operators/)

Everything is expressed through the DataFrame API so Catalyst supplies
pushdown, pruning, codegen, AQE, and join strategy selection for free.
"""

from great_expectations_spark.suite import (
    ExpectationConfiguration,
    ExpectationSuite,
    bind_evaluation_parameters,
)
from great_expectations_spark.result import (
    ExpectationValidationResult,
    ExpectationSuiteValidationResult,
    parse_result_format,
)
from great_expectations_spark.runner import SuiteRunner, validate
from great_expectations_spark.profiler import profile_suite
from great_expectations_spark.segmented import validate_by_group
from great_expectations_spark.rule_based_profiler import RuleBasedProfiler
from great_expectations_spark.docs import (
    build_data_docs,
    render_result_html,
    render_result_markdown,
    render_suite_html,
    render_suite_markdown,
)

__all__ = [
    "build_data_docs",
    "render_result_html",
    "render_result_markdown",
    "render_suite_html",
    "render_suite_markdown",
    "profile_suite",
    "RuleBasedProfiler",
    "bind_evaluation_parameters",
    "ExpectationConfiguration",
    "ExpectationSuite",
    "ExpectationValidationResult",
    "ExpectationSuiteValidationResult",
    "parse_result_format",
    "SuiteRunner",
    "validate",
    "validate_by_group",
]

__version__ = "0.1.0"
