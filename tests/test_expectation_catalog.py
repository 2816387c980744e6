"""Golden-case corpus over the full expectation catalog — modeled on the
reference's cross-backend JSON test corpus (SURVEY.md §5:
``tests/test_definitions/*/*.json``): tiny inline tables + kwargs +
expected EVR fragments.
"""

from __future__ import annotations

import pytest

from great_expectations_spark import ExpectationSuite, SuiteRunner, validate


@pytest.fixture(scope="module")
def df(spark):
    rows = [
        # conv_id, turn_idx, role, text, tool, n, ts_str, json_str
        ("c1", 0, "system", "abc", None, 1.0, "2025-01-01", '{"k": 1}'),
        ("c1", 1, "user", "abcd", None, 2.0, "2025-01-02", '{"k": 2}'),
        ("c1", 2, "assistant", "xyz9", "tool_a", 3.0, "2025-01-03", "not json"),
        ("c2", 0, "system", None, None, 4.0, "2025-13-40", '{"k": "s"}'),
        ("c2", 1, "user", "hello", "ghost", 100.0, None, None),
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "n double, ts_str string, json_str string",
    )


def run_one(frame, expectation_type, **kwargs):
    suite = ExpectationSuite("case")
    suite.add(expectation_type, **kwargs)
    out = validate(frame, suite)
    return out.results[0]


# ---------------------------------------------------------------------------
# §2.3 single-column map metrics
# ---------------------------------------------------------------------------

CASES = [
    # (expectation_type, kwargs, expected_success, expected_unexpected_count)
    ("expect_column_values_to_not_be_null", {"column": "text"}, False, 1),
    ("expect_column_values_to_be_null", {"column": "tool", "mostly": 0.6}, True, 2),
    ("expect_column_values_to_be_in_set",
     {"column": "role", "value_set": ["system", "user", "assistant"]}, True, 0),
    ("expect_column_values_to_be_in_set",
     {"column": "role", "value_set": []}, False, 5),  # empty set: all unexpected
    ("expect_column_values_to_not_be_in_set",
     {"column": "role", "value_set": ["assistant"]}, False, 1),
    ("expect_column_values_to_be_between",
     {"column": "n", "min_value": 1.0, "max_value": 4.0}, False, 1),
    ("expect_column_values_to_be_between",
     {"column": "n", "min_value": 1.0, "max_value": 100.0, "strict_max": True},
     False, 1),
    ("expect_column_values_to_be_between",
     {"column": "n", "min_value": None, "max_value": None}, True, 0),
    ("expect_column_value_lengths_to_be_between",
     {"column": "text", "min_value": 3, "max_value": 4}, False, 1),  # "hello"=5
    ("expect_column_value_lengths_to_equal",
     {"column": "conv_id", "value": 2}, True, 0),
    ("expect_column_values_to_match_regex",
     {"column": "text", "regex": r"^[a-z]+$"}, False, 1),  # xyz9
    ("expect_column_values_to_not_match_regex",
     {"column": "text", "regex": r"\d"}, False, 1),
    ("expect_column_values_to_match_regex_list",
     {"column": "role", "regex_list": [r"^sys", r"^user$", r"ant$"],
      "match_on": "any"}, True, 0),
    ("expect_column_values_to_match_regex_list",
     {"column": "role", "regex_list": [r"^s", r"m$"], "match_on": "all"},
     False, 3),
    ("expect_column_values_to_not_match_regex_list",
     {"column": "role", "regex_list": [r"bogus", r"nope"]}, True, 0),
    ("expect_column_values_to_match_like_pattern",
     {"column": "conv_id", "like_pattern": "c%"}, True, 0),
    ("expect_column_values_to_not_match_like_pattern",
     {"column": "conv_id", "like_pattern": "d%"}, True, 0),
    ("expect_column_values_to_match_like_pattern_list",
     {"column": "role", "like_pattern_list": ["sys%", "user", "%ant"]}, True, 0),
    ("expect_column_values_to_not_match_like_pattern_list",
     {"column": "role", "like_pattern_list": ["zzz%"]}, True, 0),
    ("expect_column_values_to_match_strftime_format",
     {"column": "ts_str", "strftime_format": "%Y-%m-%d"}, False, 1),  # 2025-13-40
    ("expect_column_values_to_be_dateutil_parseable",
     {"column": "ts_str"}, False, 1),
    ("expect_column_values_to_be_json_parseable",
     {"column": "json_str"}, False, 1),
    ("expect_column_values_to_match_json_schema",
     {"column": "json_str",
      "json_schema": {"type": "object", "properties": {"k": {"type": "integer"}},
                      "required": ["k"]}},
     False, 2),  # "not json" + {"k":"s"}
    ("expect_column_value_z_scores_to_be_less_than",
     {"column": "n", "threshold": 1.5, "double_sided": True}, False, 1),  # 100 is the outlier
    # pair/multicolumn (§2.4)
    ("expect_column_pair_values_to_be_equal",
     {"column_A": "conv_id", "column_B": "conv_id"}, True, 0),
    ("expect_column_pair_values_a_to_be_greater_than_b",
     {"column_A": "n", "column_B": "turn_idx"}, True, 0),
    ("expect_column_pair_values_to_be_in_set",
     {"column_A": "role", "column_B": "tool",
      "value_pairs_set": [["assistant", "tool_a"], ["user", "ghost"]],
      "ignore_row_if": "either_value_is_missing"}, True, 0),
    ("expect_multicolumn_sum_to_equal",
     {"column_list": ["turn_idx", "n"], "sum_total": 1.0, "mostly": 0.2},
     True, 4),  # only row 1: 0+1=1
    ("expect_select_column_values_to_be_unique_within_record",
     {"column_list": ["conv_id", "role", "text"]}, True, 0),
    # uniqueness
    ("expect_column_values_to_be_unique", {"column": "n"}, True, 0),
    ("expect_column_values_to_be_unique", {"column": "conv_id"}, False, 5),
    ("expect_compound_columns_to_be_unique",
     {"column_list": ["conv_id", "turn_idx"]}, True, 0),
]


@pytest.mark.parametrize("etype,kwargs,succ,uc", CASES,
                         ids=[f"{c[0]}_{i}" for i, c in enumerate(CASES)])
def test_map_cases(df, etype, kwargs, succ, uc):
    evr = run_one(df, etype, **kwargs)
    assert evr.exception_info["raised_exception"] is False, evr.exception_info[
        "exception_message"
    ]
    assert evr.success is succ
    assert evr.result["unexpected_count"] == uc


# ---------------------------------------------------------------------------
# window-backed map metrics
# ---------------------------------------------------------------------------

def test_increasing_per_conversation(df):
    evr = run_one(
        df,
        "expect_column_values_to_be_increasing",
        column="turn_idx",
        strictly=True,
        partition_by="conv_id",
        order_by="turn_idx",
    )
    assert evr.success is True


def test_increasing_detects_violation(spark):
    frame = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 2), ("b", 5)], "k string, v int"
    )
    evr = run_one(
        frame, "expect_column_values_to_be_increasing",
        column="v", strictly=True, partition_by="k", order_by="v",
    )
    assert evr.success is False
    assert evr.result["unexpected_count"] == 1


def test_decreasing_global_window_warns(spark):
    """Explicit global-window regression: no partition_by and no declared
    index columns → reference-parity single-task window, with the loud
    scale warning."""
    frame = spark.createDataFrame([(3,), (2,), (1,)], "v int")
    with pytest.warns(UserWarning, match="GLOBAL window"):
        evr = run_one(frame, "expect_column_values_to_be_decreasing", column="v")
    assert evr.success is True


def test_monotone_defaults_window_from_index_cols(spark):
    """When the runner declares unexpected_index_column_names, an
    increasing/decreasing expectation WITHOUT partition_by defaults its
    window key to the declared identity columns (minus the target column)
    — no global-window warning, per-key semantics."""
    import warnings

    from great_expectations_spark import ExpectationSuite, SuiteRunner

    frame = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 1), ("b", 0)], "conv_id string, turn_idx int"
    )
    suite = ExpectationSuite("mono-default")
    suite.add("expect_column_values_to_be_increasing", column="turn_idx",
              strictly=True, order_by="turn_idx")
    runner = SuiteRunner(
        spark, unexpected_index_column_names=["conv_id", "turn_idx"]
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        res = runner.validate(frame, suite)
    evr = res.results[0]
    # per-conv window: each conv strictly ascends → success; a GLOBAL
    # window over the same rows sorts to 0,1,1,2 and strictly fails
    assert evr.success is True
    # the user's suite object is untouched (checkpoint suite_hash stability)
    assert "partition_by" not in suite.expectations[0].kwargs
    # the EVR echoes the config the user wrote
    assert evr.expectation_config == suite.expectations[0].to_dict()


# ---------------------------------------------------------------------------
# §2.5 aggregates
# ---------------------------------------------------------------------------

AGG_CASES = [
    ("expect_column_mean_to_be_between",
     {"column": "n", "min_value": 21.9, "max_value": 22.1}, True, 22.0),
    ("expect_column_stdev_to_be_between",
     {"column": "turn_idx", "min_value": 0.5, "max_value": 1.0}, True, None),
    ("expect_column_min_to_be_between",
     {"column": "n", "min_value": 0, "max_value": 1}, True, 1.0),
    ("expect_column_max_to_be_between",
     {"column": "n", "min_value": 100, "max_value": 100}, True, 100.0),
    ("expect_column_sum_to_be_between",
     {"column": "n", "min_value": 110, "max_value": 110}, True, 110.0),
    ("expect_column_median_to_be_between",
     {"column": "n", "min_value": 3.0, "max_value": 3.0}, True, 3.0),
    ("expect_column_unique_value_count_to_be_between",
     {"column": "role", "min_value": 3, "max_value": 3}, True, 3),
    ("expect_column_proportion_of_unique_values_to_be_between",
     {"column": "conv_id", "min_value": 0.4, "max_value": 0.4}, True, 0.4),
    ("expect_table_row_count_to_be_between",
     {"min_value": 5, "max_value": 5}, True, 5),
    ("expect_table_row_count_to_equal", {"value": 5}, True, 5),
    ("expect_column_distinct_values_to_be_in_set",
     {"column": "role", "value_set": ["system", "user", "assistant", "tool"]},
     True, None),
    ("expect_column_distinct_values_to_contain_set",
     {"column": "role", "value_set": ["system", "user"]}, True, None),
    ("expect_column_distinct_values_to_equal_set",
     {"column": "role", "value_set": ["system", "user", "assistant"]}, True, None),
    ("expect_column_most_common_value_to_be_in_set",
     {"column": "role", "value_set": ["system", "user"], "ties_okay": True},
     True, None),
]


@pytest.mark.parametrize("etype,kwargs,succ,observed", AGG_CASES,
                         ids=[c[0] for c in AGG_CASES])
def test_agg_cases(df, etype, kwargs, succ, observed):
    evr = run_one(df, etype, **kwargs)
    assert evr.exception_info["raised_exception"] is False, evr.exception_info[
        "exception_message"
    ]
    assert evr.success is succ
    if observed is not None:
        assert evr.result["observed_value"] == pytest.approx(observed)


def test_quantile_values(df):
    evr = run_one(
        df,
        "expect_column_quantile_values_to_be_between",
        column="n",
        quantile_ranges={
            "quantiles": [0.0, 0.5, 1.0],
            "value_ranges": [[1, 1], [2, 4], [100, 100]],
        },
    )
    assert evr.success is True
    ov = evr.result["observed_value"]
    assert ov["quantiles"] == [0.0, 0.5, 1.0]
    assert ov["values"][0] == 1.0 and ov["values"][2] == 100.0


def test_metric_dedup_single_bundle(df):
    """Ten between-checks share one row_count metric and one bundle — the
    engine's aggregate-bundling contract (SURVEY.md §4.1)."""
    from great_expectations_spark.plans.planner import plan_suite

    suite = ExpectationSuite("dedup")
    for _ in range(5):
        suite.add("expect_column_mean_to_be_between", column="n", min_value=0)
        suite.add("expect_table_row_count_to_be_between", min_value=0)
    plan = plan_suite(suite)
    assert len(plan.groups) == 1
    exprs = plan.groups[0].bundle_exprs()
    # 1 shared element_count + 1 deduped mean + 1 deduped row_count
    assert set(exprs) == {"element_count", "mean__n", "table_row_count"}


def test_one_baseline_counts_once(spark):
    """A categorical KL and a chi-square check with one baseline read one
    set of category counts (two values and "other") from the bundle."""
    from great_expectations_spark.plans.planner import plan_suite

    baseline = {"values": ["a", "b"], "weights": [0.5, 0.5]}

    def bundle(*etypes):
        s = ExpectationSuite("one-baseline")
        for etype in etypes:
            s.add(etype, column="cat", partition_object=baseline, threshold=0.1)
        return set(plan_suite(s).groups[0].bundle_exprs())

    kl = bundle("expect_column_kl_divergence_to_be_less_than")
    assert len(kl) == 1 + 3
    assert bundle("expect_column_kl_divergence_to_be_less_than",
                  "expect_column_chisquare_test_p_value_to_be_greater_than") == kl


def _observed(spark, df, suite):
    return [r.result["observed_value"]
            for r in SuiteRunner(spark).validate(df, suite).results]


_UNIFORM_HALVES = {"bins": [0, 50, 100], "weights": [0.5, 0.5]}


@pytest.mark.parametrize("etype,common,a,b", [
    ("expect_column_unique_value_count_to_be_between",
     {"column": "id", "approximate": True}, {"rsd": 0.3}, {"rsd": 0.01}),
    ("expect_column_proportion_of_unique_values_to_be_between",
     {"column": "id", "approximate": True}, {"rsd": 0.3}, {"rsd": 0.01}),
    ("expect_column_median_to_be_between", {"column": "ln"},
     {"allow_relative_error": 0.5}, {"allow_relative_error": 0.0001}),
    ("expect_column_quantile_values_to_be_between",
     {"column": "ln", "quantile_ranges": {"quantiles": [0.9],
                                         "value_ranges": [[None, None]]}},
     {"allow_relative_error": 0.5}, {"allow_relative_error": 0.0001}),
    ("expect_column_bootstrapped_ks_test_p_value_to_be_greater_than",
     {"column": "x"}, {"partition_object": _UNIFORM_HALVES},
     {"partition_object": {"bins": [0, 10, 100], "weights": [0.5, 0.5]}}),
    ("expect_column_kl_divergence_to_be_less_than",
     {"column": "cat", "threshold": 1.0, "tail_weight_holdout": 0.1},
     {"partition_object": {"values": ["a", "b"], "weights": [0.5, 0.5]}},
     {"partition_object": {"values": ["c", "b"], "weights": [0.5, 0.5]}}),
    ("expect_column_kl_divergence_to_be_less_than",
     {"column": "x", "threshold": 1.0}, {"partition_object": _UNIFORM_HALVES},
     {"partition_object": {"bins": [20, 50, 80], "weights": [0.5, 0.5]}}),
    ("expect_column_parameterized_distribution_ks_test_p_value_to_be_greater_than",
     {"column": "x", "distribution": "uniform"},
     {"params": {"loc": 0, "scale": 100}}, {"params": {"loc": 0, "scale": 200}}),
], ids=["distinct_count_rsd", "unique_proportion_rsd", "median_accuracy",
        "quantile_accuracy", "ks_bins", "categorical_kl_values",
        "continuous_kl_bins", "parameterized_ks_scale"])
def test_checks_keep_their_parameters(spark, etype, common, a, b):
    """Two checks of one kind on one column with different parameters in
    one suite compute two metrics: each observes what it observes alone.
    One partition keeps the approximate quantiles deterministic."""
    from pyspark.sql import functions as F

    df = spark.range(0, 100_000, 1, 1).select(
        "id",
        (F.rand(1) * 100).alias("x"),
        F.exp(F.randn(2)).alias("ln"),
        F.when(F.col("id") % 10 < 5, "a")
        .when(F.col("id") % 10 < 8, "b").otherwise("c").alias("cat"),
    )

    def suite(*params):
        s = ExpectationSuite("params")
        for kw in params:
            s.add(etype, **common, **kw)
        return s

    alone = [_observed(spark, df, suite(kw))[0] for kw in (a, b)]
    assert alone[0] != alone[1]
    assert _observed(spark, df, suite(a, b)) == alone


def test_columns_named_alike_keep_their_metrics(spark):
    """Columns whose names differ only in characters an alias cannot hold
    (``a b`` and ``a_b``) are two metrics of one bundle, not one."""
    df = spark.createDataFrame([(1.0, 10.0), (3.0, 30.0)],
                               "`a b` double, a_b double")
    s = ExpectationSuite("alike")
    s.add("expect_column_mean_to_be_between", column="a b")
    s.add("expect_column_mean_to_be_between", column="a_b")
    assert _observed(spark, df, s) == [2.0, 20.0]


# ---------------------------------------------------------------------------
# §2.6 meta + §2.4 relational + §2.8 query
# ---------------------------------------------------------------------------

META_CASES = [
    ("expect_column_to_exist", {"column": "role"}, True),
    ("expect_column_to_exist", {"column": "nope"}, False),
    ("expect_column_to_exist", {"column": "conv_id", "column_index": 0}, True),
    ("expect_table_columns_to_match_ordered_list",
     {"column_list": ["conv_id", "turn_idx", "role", "text", "tool", "n",
                      "ts_str", "json_str"]}, True),
    ("expect_table_columns_to_match_set",
     {"column_set": ["role", "conv_id"], "exact_match": False}, True),
    ("expect_table_column_count_to_equal", {"value": 8}, True),
    ("expect_table_column_count_to_be_between", {"min_value": 5}, True),
    ("expect_column_values_to_be_of_type", {"column": "role", "type_": "StringType"}, True),
    ("expect_column_values_to_be_of_type", {"column": "n", "type_": "double"}, True),
    ("expect_column_values_to_be_in_type_list",
     {"column": "turn_idx", "type_list": ["IntegerType", "LongType"]}, True),
]


@pytest.mark.parametrize("etype,kwargs,succ", META_CASES,
                         ids=[f"{c[0]}_{i}" for i, c in enumerate(META_CASES)])
def test_meta_cases(df, etype, kwargs, succ):
    evr = run_one(df, etype, **kwargs)
    assert evr.success is succ


def test_referential_exist_in(spark, df):
    tools_dim = spark.createDataFrame(
        [("tool_a", "x")], "tool_name string, category string"
    )
    suite = ExpectationSuite("ref")
    suite.add(
        "expect_column_values_to_exist_in",
        column="tool", other_table="tools", other_column="tool_name",
    )
    runner = SuiteRunner(spark, tables={"tools": tools_dim})
    out = runner.validate(df, suite)
    evr = out.results[0]
    assert evr.success is False  # "ghost" dangles
    assert evr.result["unexpected_count"] == 1
    assert evr.result["missing_count"] == 3  # NULL tools are missing, not violations


def test_relational_and_query_read_the_row_condition_batch(spark):
    """A relational or query check reads the batch filtered by its own
    row_condition, like every other kind: here the filtered batch holds
    only known tools, so exist_in passes over its 2 rows and the query
    finds no unexpected row."""
    df = spark.createDataFrame(
        [("a", "t1", 1), ("a", "t1", 2), ("b", "ghost", 3), ("b", "ghost", 4)],
        "conv_id string, tool string, n int",
    )
    dim = spark.createDataFrame([("t1",)], "tool_name string")
    rc = 'conv_id = "a"'
    suite = ExpectationSuite("rc-side")
    suite.add("expect_column_values_to_exist_in", column="tool",
              other_table="tools", other_column="tool_name", row_condition=rc)
    suite.add("expect_query_to_return_no_unexpected_rows",
              query="SELECT * FROM {active_batch} WHERE n > 2",
              row_condition=rc)
    suite.add("expect_column_values_to_not_be_null", column="tool",
              row_condition=rc)
    out = SuiteRunner(spark, tables={"tools": dim}).validate(df, suite)
    exist_in, query, not_null = out.results
    assert exist_in.success is True
    assert exist_in.result["element_count"] == 2
    assert exist_in.result["unexpected_count"] == 0
    assert query.success is True and query.result["observed_value"] == 0
    assert not_null.result["element_count"] == 2


def test_row_count_vs_other_table(spark, df):
    suite = ExpectationSuite("rc2")
    suite.add("expect_table_row_count_to_equal_other_table", other_table="other")
    runner = SuiteRunner(spark, tables={"other": df.limit(3)})
    out = runner.validate(df, suite)
    assert out.results[0].success is False
    assert out.results[0].result["observed_value"] == {"self": 5, "other": 3}


def test_query_expectation(spark, df):
    suite = ExpectationSuite("q")
    suite.add(
        "expect_query_to_return_no_unexpected_rows",
        query="SELECT * FROM {active_batch} WHERE n > 1000",
    )
    out = SuiteRunner(spark).validate(df, suite)
    assert out.results[0].success is True

    suite = ExpectationSuite("q2")
    suite.add(
        "expect_query_to_return_no_unexpected_rows",
        query="SELECT conv_id FROM {active_batch} GROUP BY conv_id HAVING count(*) > 2",
    )
    out = SuiteRunner(spark).validate(df, suite)
    assert out.results[0].success is False
    assert out.results[0].result["observed_value"] == 1  # c1 has 3 turns


def test_query_expectation_keeps_the_users_active_batch_view(spark, df):
    """The batch is registered under a view name of its own for the run:
    a session view the user named ``active_batch`` survives a validate, and
    no view of the run is left behind."""
    spark.createDataFrame([(7,)], "z int").createOrReplaceTempView(
        "active_batch")
    try:
        before = {t.name for t in spark.catalog.listTables()}
        suite = ExpectationSuite("q3")
        suite.add("expect_query_to_return_no_unexpected_rows",
                  query="SELECT * FROM {active_batch} WHERE n > 1000")
        assert SuiteRunner(spark).validate(df, suite).success
        assert spark.table("active_batch").columns == ["z"]
        assert {t.name for t in spark.catalog.listTables()} == before
    finally:
        spark.catalog.dropTempView("active_batch")


# ---------------------------------------------------------------------------
# KL divergence (§2.5)
# ---------------------------------------------------------------------------

def test_kl_categorical_pass(df):
    evr = run_one(
        df,
        "expect_column_kl_divergence_to_be_less_than",
        column="role",
        partition_object={"values": ["system", "user", "assistant"],
                          "weights": [0.4, 0.4, 0.2]},
        threshold=0.1,
    )
    assert evr.exception_info["raised_exception"] is False
    assert evr.success is True
    assert evr.result["observed_value"] < 0.1
    assert "observed_partition" in evr.result["details"]


def test_kl_categorical_unseen_value_inf(spark):
    frame = spark.createDataFrame([("a",), ("b",), ("z",)], "v string")
    evr = run_one(
        frame,
        "expect_column_kl_divergence_to_be_less_than",
        column="v",
        partition_object={"values": ["a", "b"], "weights": [0.5, 0.5]},
        threshold=10.0,
    )
    assert evr.success is False  # observed "z" with zero holdout → KL = ∞
    assert evr.to_dict()["result"]["observed_value"] is None  # inf → JSON null

    evr2 = run_one(
        frame,
        "expect_column_kl_divergence_to_be_less_than",
        column="v",
        partition_object={"values": ["a", "b"], "weights": [0.5, 0.5]},
        threshold=10.0,
        tail_weight_holdout=0.1,
    )
    assert evr2.success is True  # holdout absorbs the unseen value


def test_kl_continuous(spark):
    frame = spark.createDataFrame([(float(i),) for i in range(100)], "v double")
    evr = run_one(
        frame,
        "expect_column_kl_divergence_to_be_less_than",
        column="v",
        partition_object={"bins": [0.0, 25.0, 50.0, 75.0, 100.0],
                          "weights": [0.25, 0.25, 0.25, 0.25]},
        threshold=0.01,
    )
    assert evr.exception_info["raised_exception"] is False
    assert evr.success is True
    details = evr.result["details"]["observed_partition"]
    assert details["weights"] == pytest.approx([0.25, 0.25, 0.25, 0.25])


def test_kl_continuous_out_of_range(spark):
    frame = spark.createDataFrame([(v,) for v in [1.0, 2.0, 500.0]], "v double")
    p = {"bins": [0.0, 5.0, 10.0], "weights": [0.8, 0.2]}
    evr = run_one(
        frame, "expect_column_kl_divergence_to_be_less_than",
        column="v", partition_object=p, threshold=100.0,
    )
    assert evr.success is False  # mass above range, no tail weights → ∞

    evr2 = run_one(
        frame, "expect_column_kl_divergence_to_be_less_than",
        column="v", partition_object=p, threshold=100.0,
        tail_weight_holdout=0.2,
    )
    assert evr2.success is True


# ---------------------------------------------------------------------------
# statistical tests: chi-square goodness-of-fit, boundary KS
# ---------------------------------------------------------------------------


def test_special_function_anchors():
    """The pure-math p-value machinery against well-known critical values."""
    from great_expectations_spark.profile import chi2_sf, kolmogorov_sf

    # classic chi-square critical values at alpha = 0.05
    assert chi2_sf(3.841, 1) == pytest.approx(0.05, abs=2e-4)
    assert chi2_sf(5.991, 2) == pytest.approx(0.05, abs=2e-4)
    assert chi2_sf(18.307, 10) == pytest.approx(0.05, abs=2e-4)
    assert chi2_sf(0.0, 3) == 1.0
    assert chi2_sf(float("inf"), 3) == 0.0
    # Kolmogorov critical value: Q_KS(1.358) ≈ 0.05
    assert kolmogorov_sf(1.358) == pytest.approx(0.05, abs=2e-3)
    assert kolmogorov_sf(0.0) == 1.0
    assert kolmogorov_sf(10.0) < 1e-12


def test_chisquare_matching_distribution_passes(spark):
    rows = [("a",)] * 40 + [("b",)] * 40 + [("c",)] * 20
    frame = spark.createDataFrame(rows, "v string")
    evr = run_one(
        frame,
        "expect_column_chisquare_test_p_value_to_be_greater_than",
        column="v",
        partition_object={"values": ["a", "b", "c"],
                          "weights": [0.4, 0.4, 0.2]},
        p=0.05,
    )
    assert evr.exception_info["raised_exception"] is False
    assert evr.success is True
    assert evr.result["observed_value"] == pytest.approx(1.0)  # exact fit
    d = evr.result["details"]["chisquare"]
    assert d["statistic"] == pytest.approx(0.0)
    assert d["observed_counts"] == [40.0, 40.0, 20.0]


def test_chisquare_mismatched_distribution_fails(spark):
    rows = [("a",)] * 90 + [("b",)] * 10
    frame = spark.createDataFrame(rows, "v string")
    evr = run_one(
        frame,
        "expect_column_chisquare_test_p_value_to_be_greater_than",
        column="v",
        partition_object={"values": ["a", "b"], "weights": [0.5, 0.5]},
        p=0.05,
    )
    # stat = (90-50)^2/50 + (10-50)^2/50 = 64, df=1 → p ~ 1e-15
    assert evr.success is False
    assert evr.result["details"]["chisquare"]["statistic"] == pytest.approx(64.0)
    assert evr.result["observed_value"] < 1e-10


def test_chisquare_unseen_value_holdout(spark):
    frame = spark.createDataFrame([("a",)] * 5 + [("z",)], "v string")
    evr = run_one(
        frame,
        "expect_column_chisquare_test_p_value_to_be_greater_than",
        column="v",
        partition_object={"values": ["a"], "weights": [1.0]},
        p=0.05,
    )
    # unseen "z", no holdout → stat ∞, p = 0 — a clean hard-fail EVR, not
    # an exception (round-3 fix: df was 0 for a 1-value partition_object and
    # chi2_sf raised, degrading this to an exception EVR)
    assert evr.exception_info["raised_exception"] is False
    assert evr.success is False
    assert evr.result["observed_value"] == 0.0

    evr2 = run_one(
        frame,
        "expect_column_chisquare_test_p_value_to_be_greater_than",
        column="v",
        partition_object={"values": ["a"], "weights": [1.0]},
        p=0.05,
        tail_weight_holdout=0.2,
    )
    # expected = [4.8, 1.2] vs observed [5, 1]: tiny stat → large p
    assert evr2.success is True


def test_ks_matching_distribution_passes(spark):
    frame = spark.createDataFrame([(float(i),) for i in range(100)], "v double")
    evr = run_one(
        frame,
        "expect_column_bootstrapped_ks_test_p_value_to_be_greater_than",
        column="v",
        partition_object={"bins": [0.0, 24.75, 49.5, 74.25, 99.0],
                          "weights": [0.25, 0.25, 0.25, 0.25]},
        p=0.05,
    )
    assert evr.exception_info["raised_exception"] is False
    assert evr.success is True
    assert evr.result["details"]["ks"]["statistic_at_boundaries"] < 0.02


def test_parameterized_ks_norm_fit_passes(spark):
    from great_expectations_spark.profile import _norm_ppf

    # deterministic perfect normal sample: inverse-CDF grid at n=200
    vals = [5.0 + 2.0 * _norm_ppf((i + 0.5) / 200) for i in range(200)]
    frame = spark.createDataFrame([(v,) for v in vals], "v double")
    evr = run_one(
        frame,
        "expect_column_parameterized_distribution_ks_test_p_value_to_be_greater_than",
        column="v",
        distribution="norm",
        params={"mean": 5.0, "std": 2.0},
        p=0.05,
    )
    assert evr.exception_info["raised_exception"] is False
    assert evr.success is True
    assert evr.result["details"]["ks"]["statistic_at_probes"] < 0.01


def test_parameterized_ks_wrong_distribution_fails(spark):
    # uniform [0, 1) data claimed to be norm(5, 2): ECDF(probe around 5)
    # is 1.0 vs CDF 0.5 → D ≈ 0.5 at n=400 → p ≈ 0
    frame = spark.createDataFrame(
        [((i % 100) / 100.0,) for i in range(400)], "v double"
    )
    evr = run_one(
        frame,
        "expect_column_parameterized_distribution_ks_test_p_value_to_be_greater_than",
        column="v",
        distribution="norm",
        params={"mean": 5.0, "std": 2.0},
        p=0.05,
    )
    assert evr.success is False
    assert evr.result["observed_value"] < 1e-10


def test_parameterized_ks_expon_fit(spark):
    import math

    vals = [-2.0 * math.log(1 - (i + 0.5) / 150) for i in range(150)]
    frame = spark.createDataFrame([(v,) for v in vals], "v double")
    evr = run_one(
        frame,
        "expect_column_parameterized_distribution_ks_test_p_value_to_be_greater_than",
        column="v",
        distribution="expon",
        params={"scale": 2.0},
        p=0.05,
    )
    assert evr.success is True


def test_ks_shifted_distribution_fails(spark):
    # all mass in the lower half of the claimed range
    frame = spark.createDataFrame([(float(i % 50),) for i in range(400)], "v double")
    evr = run_one(
        frame,
        "expect_column_bootstrapped_ks_test_p_value_to_be_greater_than",
        column="v",
        partition_object={"bins": [0.0, 25.0, 50.0, 75.0, 100.0],
                          "weights": [0.25, 0.25, 0.25, 0.25]},
        p=0.05,
    )
    # ECDF(50) = 1.0 vs CDF(50) = 0.5 → D = 0.5 at n=400 → p ≈ 0
    assert evr.success is False
    assert evr.result["details"]["ks"]["statistic_at_boundaries"] == pytest.approx(0.5)
    assert evr.result["observed_value"] < 1e-10


def test_cramers_phi_independent_passes(spark):
    # fully independent pair: every (a, b) combination equally frequent
    rows = [(a, b) for a in "xy" for b in "pq" for _ in range(25)]
    frame = spark.createDataFrame(rows, "a string, b string")
    evr = run_one(
        frame,
        "expect_column_pair_cramers_phi_value_to_be_less_than",
        column_A="a", column_B="b", threshold=0.1,
    )
    assert evr.exception_info["raised_exception"] is False
    assert evr.success is True
    assert evr.result["observed_value"] == pytest.approx(0.0, abs=1e-9)


def test_cramers_phi_perfect_association_fails(spark):
    rows = [("x", "p")] * 50 + [("y", "q")] * 50
    frame = spark.createDataFrame(rows, "a string, b string")
    evr = run_one(
        frame,
        "expect_column_pair_cramers_phi_value_to_be_less_than",
        column_A="a", column_B="b", threshold=0.99,
    )
    assert evr.success is False
    assert evr.result["observed_value"] == pytest.approx(1.0)


def test_cramers_phi_reads_the_row_condition_batch(spark):
    """Cramér's phi scans its row_condition's batch, like every check: the
    conditioned check reads what the same check reads on the filtered
    frame (here a perfect association, over 20 of the 30 rows)."""
    rows = ([("x", "p", 1)] * 10 + [("y", "q", 1)] * 10
            + [("x", "q", 0)] * 5 + [("y", "p", 0)] * 5)
    frame = spark.createDataFrame(rows, "a string, b string, k int")
    kw = dict(column_A="a", column_B="b", threshold=0.5)
    conditioned = run_one(
        frame, "expect_column_pair_cramers_phi_value_to_be_less_than",
        row_condition="k = 1", **kw,
    )
    filtered = run_one(
        frame.filter("k = 1"),
        "expect_column_pair_cramers_phi_value_to_be_less_than", **kw,
    )
    assert filtered.result["observed_value"] == pytest.approx(1.0)
    assert filtered.result["details"]["n"] == 20
    assert conditioned.success is filtered.success is False
    assert conditioned.result == filtered.result


def test_most_common_value_survives_bundle_isolation(spark):
    """A map check on a missing column fails the group's bundled pass; the
    isolated re-run still computes the most-common-value check's modes."""
    frame = spark.createDataFrame(
        [(1,), (1,), (2,), (2,), (3,)], "v int")
    suite = ExpectationSuite("iso")
    suite.add("expect_column_values_to_not_be_null", column="missing")
    suite.add("expect_column_most_common_value_to_be_in_set", column="v",
              value_set=[1, 2], ties_okay=True)
    broken, modes = validate(frame, suite).results
    assert broken.exception_info["raised_exception"] is True
    assert modes.exception_info["raised_exception"] is False
    assert modes.success is True
    assert modes.result["observed_value"] == [1, 2]


def test_cramers_phi_cell_guard(spark):
    frame = spark.createDataFrame(
        [(str(i), str(i * 7)) for i in range(50)], "a string, b string"
    )
    evr = run_one(
        frame,
        "expect_column_pair_cramers_phi_value_to_be_less_than",
        column_A="a", column_B="b", threshold=0.5,
        max_contingency_cells=10,
    )
    # guard trips -> exception EVR, suite survives
    assert evr.success is False
    assert evr.exception_info["raised_exception"] is True
    assert "max_contingency_cells" in evr.exception_info["exception_message"]


def test_multicolumn_values_to_be_unique_alias(df):
    evr = run_one(
        df,
        "expect_multicolumn_values_to_be_unique",
        column_list=["conv_id", "role"],
    )
    assert evr.exception_info["raised_exception"] is False
    # rows are (conv_id, role) pairs with no within-record duplicates
    assert evr.success is True


def test_unique_evr_lists_top_k_and_duplicate_keys(spark):
    """A uniqueness EVR reads its lists off the duplicate-key counts: the
    partial list repeats each duplicated key once per row, capped at
    partial_unexpected_count; SUMMARY's top-k partial_unexpected_counts
    order by count, then key; details count the duplicated keys. A
    single-column and a compound key, at BASIC and SUMMARY, under the
    default and a cutting partial_unexpected_count."""
    from collections import Counter
    from itertools import groupby

    rows = ([("a", 1)] * 3 + [("b", 1)] * 2
            + [("c", 2), ("c", 3), ("d", 1), (None, None), (None, 5), (None, 5)])
    frame = spark.createDataFrame(rows, "k string, j int")
    # a NULL k is a missing single key; a compound key is missing only when
    # all-NULL, so (None, 5) is a duplicated key like any other
    keys = {
        "expect_column_values_to_be_unique": (
            {"column": "k"}, 3, {"a": 3, "b": 2, "c": 2},
            [("a", 3), ("b", 2), ("c", 2)]),
        "expect_compound_columns_to_be_unique": (
            {"column_list": ["k", "j"]}, 1,
            {("a", 1): 3, ("b", 1): 2, (None, 5): 2},
            # a count tie orders by key, Spark's ascending NULL first
            [(("a", 1), 3), ((None, 5), 2), (("b", 1), 2)]),
    }
    suite = ExpectationSuite("unique-evr")
    for etype, (kwargs, *_) in keys.items():
        for level in ("BASIC", "SUMMARY"):
            for n in (20, 2):
                suite.add(etype, **kwargs, result_format={
                    "result_format": level, "partial_unexpected_count": n})

    def key(v):
        return (v["k"], v["j"]) if isinstance(v, dict) else v

    for evr in SuiteRunner(spark).validate(frame, suite).results:
        cfg = evr.expectation_config
        rf = cfg["kwargs"]["result_format"]
        n = rf["partial_unexpected_count"]
        _, missing, dups, top = keys[cfg["expectation_type"]]
        res = evr.result
        assert evr.success is False
        assert (res["element_count"], res["missing_count"],
                res["unexpected_count"]) == (11, missing, 7)
        assert res["details"] == {"duplicate_key_count": 3}
        partial = [key(v) for v in res["partial_unexpected_list"]]
        assert len(partial) == min(n, 7)
        # each key's rows come together, never more of them than it has
        assert len([k for k, _ in groupby(partial)]) == len(set(partial))
        assert all(c <= dups[k] for k, c in Counter(partial).items())
        if n >= 7:
            assert Counter(partial) == dups
        if rf["result_format"] == "SUMMARY":
            counts = [(key(c["value"]), c["count"])
                      for c in res["partial_unexpected_counts"]]
            assert counts == top[:n]
        else:
            assert "partial_unexpected_counts" not in res


# ---------------------------------------------------------------------------
# mostly edge semantics + invariants (SURVEY.md §5 property row)
# ---------------------------------------------------------------------------

def test_mostly_boundary_exact(spark):
    frame = spark.createDataFrame([(i,) for i in range(10)], "v int")
    # 8/10 pass, mostly=0.8 → success (>=)
    evr = run_one(frame, "expect_column_values_to_be_between",
                  column="v", min_value=0, max_value=7, mostly=0.8)
    assert evr.success is True
    evr = run_one(frame, "expect_column_values_to_be_between",
                  column="v", min_value=0, max_value=7, mostly=0.81)
    assert evr.success is False


def test_count_invariants(df):
    evr = run_one(df, "expect_column_values_to_match_regex",
                  column="text", regex="^a")
    r = evr.result
    assert r["unexpected_count"] <= r["element_count"] - r["missing_count"]
    assert r["missing_count"] + r["unexpected_count"] <= r["element_count"]


def test_statistical_tests_bad_kwargs_isolate(spark, df):
    """Invalid distribution / partition_object on the statistical tests must
    produce an exception-EVR and leave sibling expectations untouched."""
    suite = ExpectationSuite("mixed")
    suite.add("expect_column_values_to_not_be_null", column="conv_id")
    suite.add(
        "expect_column_parameterized_distribution_ks_test_p_value_to_be_greater_than",
        column="n", distribution="weibull", params={},
    )
    suite.add(
        "expect_column_chisquare_test_p_value_to_be_greater_than",
        column="role", partition_object={"values": ["a"], "weights": [0.5]},
    )
    out = validate(df, suite)
    by_type = {r.expectation_config["expectation_type"]: r for r in out.results}
    assert by_type["expect_column_values_to_not_be_null"].success is True
    for t in (
        "expect_column_parameterized_distribution_ks_test_p_value_to_be_greater_than",
        "expect_column_chisquare_test_p_value_to_be_greater_than",
    ):
        assert by_type[t].success is False
        assert by_type[t].exception_info["raised_exception"] is True


class TestTrainingDataGates:
    """Contamination + repetition gates (registry extensions over
    operators/decontamination.py and operators/textstats.py)."""

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        return spark.createDataFrame(
            [
                (0, "What is the capital of France? The capital of France is Paris."),
                (1, "what is the capital of FRANCE!!! the capital of france is paris"),
                (2, "Spark compiles declarative plans into whole stage codegen."),
                (3, "x y " * 40),
                (4, "every word used exactly once in this clean sentence today"),
                (5, None),
            ],
            "doc_id long, text string",
        )

    @pytest.fixture(scope="class")
    def eval_set(self, spark):
        return spark.createDataFrame(
            [(100, "What is the capital of France? The capital of France is Paris.")],
            "doc_id long, text string",
        )

    def test_contamination_gate(self, spark, corpus, eval_set):
        suite = ExpectationSuite("c")
        suite.add(
            "expect_table_benchmark_contamination_rate_to_be_less_than",
            column="text", id_column="doc_id", benchmark_table="eval",
            n=5, max_rate=0.5,
        )
        res = SuiteRunner(spark, tables={"eval": eval_set}).validate(corpus, suite)
        r = res.results[0]
        # docs 0 and 1 are copies of the benchmark question → 2/5 = 0.4
        assert r.success is True
        assert r.result["unexpected_count"] == 2
        assert r.result["observed_value"] == pytest.approx(0.4)

        strict = ExpectationSuite("c2")
        strict.add(
            "expect_table_benchmark_contamination_rate_to_be_less_than",
            column="text", id_column="doc_id", benchmark_table="eval",
            n=5, max_rate=0.4,  # strictly-less-than: 0.4 is NOT < 0.4
        )
        res2 = SuiteRunner(spark, tables={"eval": eval_set}).validate(corpus, strict)
        assert res2.results[0].success is False

    def test_repetition_gate_mostly(self, spark, corpus):
        suite = ExpectationSuite("r")
        suite.add(
            "expect_column_repetition_fractions_to_be_less_than",
            column="text", id_column="doc_id",
            max_fractions={"top_2gram_char_frac": 0.5, "dup_line_frac": 0.9},
            mostly=0.6,
        )
        res = validate(corpus, suite)
        r = res.results[0]
        # only doc 3 ('x y' * 40) trips the 2-gram coverage ceiling
        assert r.result["element_count"] == 5
        assert r.result["unexpected_count"] == 1
        assert r.success is True

        tight = ExpectationSuite("r2")
        tight.add(
            "expect_column_repetition_fractions_to_be_less_than",
            column="text", id_column="doc_id",
            max_fractions={"top_2gram_char_frac": 0.5},
        )
        assert validate(corpus, tight).results[0].success is False

    def test_repetition_gate_unknown_feature_isolates(self, spark, corpus):
        suite = ExpectationSuite("bad")
        suite.add("expect_column_values_to_not_be_null", column="doc_id")
        suite.add(
            "expect_column_repetition_fractions_to_be_less_than",
            column="text", id_column="doc_id",
            max_fractions={"top_0x2gram_frac": 0.5},
        )
        out = validate(corpus, suite)
        by_type = {r.expectation_config["expectation_type"]: r for r in out.results}
        assert by_type["expect_column_values_to_not_be_null"].success is True
        bad = by_type["expect_column_repetition_fractions_to_be_less_than"]
        assert bad.success is False
        assert bad.exception_info["raised_exception"] is True

    def test_repetition_sink_with_default_column(self, spark, corpus,
                                                 tmp_path):
        """The repetition gate's ``column`` defaults to ``text``; a failing
        check with a sink keeps its verdict and sinks its violating docs."""
        vp = str(tmp_path / "viol")
        suite = ExpectationSuite("rep-sink")
        suite.add(
            "expect_column_repetition_fractions_to_be_less_than",
            id_column="doc_id", max_fractions={"top_2gram_char_frac": 0.5},
        )
        r = SuiteRunner(spark, violations_path=vp).validate(
            corpus, suite).results[0]
        assert r.exception_info["raised_exception"] is False
        assert r.success is False and r.result["unexpected_count"] == 1
        v = spark.read.parquet(vp)
        assert v.count() == r.result["unexpected_count"]
        assert v.first()["observed_value"] == "x y " * 40

    def test_gate_violations_sink(self, spark, corpus, eval_set, tmp_path):
        vp = str(tmp_path / "viol")
        suite = ExpectationSuite("v")
        suite.add(
            "expect_table_benchmark_contamination_rate_to_be_less_than",
            column="text", id_column="doc_id", benchmark_table="eval",
            n=5, max_rate=0.5,
        )
        SuiteRunner(spark, tables={"eval": eval_set}, violations_path=vp).validate(
            corpus, suite
        )
        v = spark.read.parquet(vp)
        assert v.count() == 2  # exactly the two contaminated docs


# ---------------------------------------------------------------------------
# per-group dense-sequence check (extension; the transcripts turn_idx
# well-formedness invariant as a first-class expectation)
# ---------------------------------------------------------------------------

class TestContiguous:
    @pytest.fixture(scope="class")
    def turns(self, spark):
        rows = [
            ("c1", 0), ("c1", 1), ("c1", 2),   # dense from 0 — ok
            ("c2", 0), ("c2", 2),              # gap (missing 1)
            ("c3", 1), ("c3", 2),              # wrong origin for start=0
            ("c4", 0), ("c4", 0), ("c4", 1),   # duplicate index
            ("c5", None), ("c5", 0),           # null index ignored → dense
        ]
        return spark.createDataFrame(rows, "conv_id string, turn_idx int")

    def test_gap_dup_origin_all_flagged(self, turns):
        r = run_one(
            turns, "expect_column_values_to_be_contiguous",
            column="turn_idx", group_by=["conv_id"], start=0,
        )
        assert r.success is False
        assert r.result["element_count"] == 5   # groups
        assert r.result["unexpected_count"] == 3  # c2 gap, c3 origin, c4 dup

    def test_mostly_over_groups(self, turns):
        r = run_one(
            turns, "expect_column_values_to_be_contiguous",
            column="turn_idx", group_by=["conv_id"], start=0, mostly=0.4,
        )
        assert r.success is True  # 2/5 groups pass ≥ 0.4

    def test_start_offset(self, spark):
        df = spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 2)], "g string, i int"
        )
        r = run_one(
            df, "expect_column_values_to_be_contiguous",
            column="i", group_by=["g"], start=1,
        )
        assert r.success is False
        assert r.result["unexpected_count"] == 1  # b starts at 2

    def test_violations_sink_rows_of_broken_groups(self, spark, turns, tmp_path):
        vp = str(tmp_path / "viol")
        suite = ExpectationSuite("contig")
        suite.add(
            "expect_column_values_to_be_contiguous",
            column="turn_idx", group_by=["conv_id"], start=0,
        )
        SuiteRunner(
            spark, violations_path=vp,
            unexpected_index_column_names=["conv_id"],
        ).validate(turns, suite)
        v = spark.read.parquet(vp)
        got = {r["conv_id"] for r in v.collect()}
        assert got == {"c2", "c3", "c4"}

    def test_violations_reuse_run_stats(self, spark, turns, tmp_path,
                                        monkeypatch):
        """ONE aggregation of the table per validated run: the sink frame
        semi-joins the batch against the pass's cached broken-group stats
        (an InMemoryTableScan), and nothing outside that cached relation
        aggregates the table again."""
        import great_expectations_spark.runner as runner_mod

        plans: list[str] = []
        orig = runner_mod.unique_violations

        def spy(*a, **k):
            out = orig(*a, **k)
            plans.append(out._jdf.queryExecution().executedPlan().toString())
            return out

        monkeypatch.setattr(runner_mod, "unique_violations", spy)
        suite = ExpectationSuite("contig-reuse")
        suite.add(
            "expect_column_values_to_be_contiguous",
            column="turn_idx", group_by=["conv_id"], start=0,
        )
        vp = str(tmp_path / "viol")
        SuiteRunner(
            spark, violations_path=vp,
            unexpected_index_column_names=["conv_id"],
        ).validate(turns, suite)
        assert len(plans) == 1
        # the cached relation's own plan is printed below InMemoryRelation;
        # everything above it is the sink's semi-join
        sink_side = plans[0].split("InMemoryRelation")[0]
        assert "InMemoryTableScan" in sink_side
        assert "HashAggregate" not in sink_side
        got = {r["conv_id"] for r in spark.read.parquet(vp).collect()}
        assert got == {"c2", "c3", "c4"}

    def test_row_condition_filters_the_batch(self, spark):
        """Groups are counted in the row_condition's batch: conv ``a``'s
        rows are dense, conv ``b``'s gap lies outside the domain."""
        df = spark.createDataFrame(
            [("a", "x", 0), ("a", "x", 1), ("b", "y", 0), ("b", "y", 2)],
            "conv_id string, kind string, turn_idx int",
        )
        r = run_one(
            df, "expect_column_values_to_be_contiguous",
            column="turn_idx", group_by=["conv_id"], start=0,
            row_condition='conv_id = "a"',
        )
        assert r.success is True
        assert r.result["element_count"] == 1
        assert r.result["unexpected_count"] == 0

    def test_broken_null_key_group_sinks_its_rows(self, spark, tmp_path):
        """A NULL group key is a group like any other: its broken group's
        rows reach the sink (the semi-join is null-safe)."""
        df = spark.createDataFrame(
            [(1, None, 0), (2, None, 2), (3, "c1", 0), (4, "c1", 1)],
            "id int, conv_id string, turn_idx int",
        )
        suite = ExpectationSuite("contig-null")
        suite.add("expect_column_values_to_be_contiguous",
                  column="turn_idx", group_by=["conv_id"], start=0)
        vp = str(tmp_path / "viol")
        r = SuiteRunner(spark, violations_path=vp,
                        unexpected_index_column_names=["id"]
                        ).validate(df, suite).results[0]
        assert r.result["unexpected_count"] == 1
        viol = spark.read.parquet(vp).collect()
        assert sorted((v["id"], v["observed_value"]) for v in viol) == [
            (1, "0"), (2, "2")]


def test_pair_correlation_expectation(spark):
    """expect_column_pair_correlation_to_be_between (extension): Pearson r
    in one bundled agg; segmentable via validate_by_group."""
    import math

    from great_expectations_spark import validate_by_group

    rows = [("a", float(i), 2.0 * i + 1) for i in range(50)]          # r = 1
    rows += [("b", float(i), float(50 - i)) for i in range(50)]       # r = -1
    df = spark.createDataFrame(rows, "seg string, x double, y double")

    suite = ExpectationSuite("corr")
    suite.add("expect_column_pair_correlation_to_be_between",
              column_A="x", column_B="y", min_value=0.99)
    r = validate(df, suite).results[0]
    assert not r.success          # mixed segments blur the per-segment r
    assert abs(float(r.result["observed_value"])) < 0.5

    seg = {
        row["group"]: row
        for row in validate_by_group(df, suite, "seg").collect()
    }
    assert seg["a"]["success"]
    assert math.isclose(float(seg["a"]["observed_value"]), 1.0, abs_tol=1e-9)
    assert not seg["b"]["success"]
