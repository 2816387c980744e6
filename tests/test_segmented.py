"""Segmented validation (great_expectations_spark/segmented.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from great_expectations_spark import ExpectationSuite, validate_by_group


@pytest.fixture(scope="module")
def seg_df(spark):
    rows = []
    for i in range(40):
        rows.append(("a", i, float(i % 10), f"doc {i}"))
    for i in range(20):
        rows.append(("b", i, 100.0, None if i % 2 else f"doc {i}"))
    rows.append((None, 0, 1.0, "null segment"))
    return spark.createDataFrame(
        rows, "seg string, k int, v double, text string"
    )


def test_per_segment_map_and_agg(spark, seg_df):
    suite = ExpectationSuite("s")
    suite.add("expect_column_values_to_not_be_null", column="text",
              mostly=0.6)
    suite.add("expect_column_mean_to_be_between", column="v",
              min_value=0.0, max_value=10.0)
    out = {
        (r["group"], r["expectation_type"]): r
        for r in validate_by_group(seg_df, suite, "seg").collect()
    }
    nn_a = out[("a", "expect_column_values_to_not_be_null")]
    assert nn_a["success"] and nn_a["unexpected_count"] == 0
    nn_b = out[("b", "expect_column_values_to_not_be_null")]
    assert not nn_b["success"] and nn_b["unexpected_count"] == 10
    assert out[("a", "expect_column_mean_to_be_between")]["success"]
    assert not out[("b", "expect_column_mean_to_be_between")]["success"]
    # NULL segment validates as its own group (group stays genuinely null)
    assert out[(None, "expect_column_values_to_not_be_null")]["success"]


def test_per_segment_uniqueness(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 2), ("b", 1), ("b", 2), ("b", None)],
        "seg string, k int",
    )
    suite = ExpectationSuite("u")
    suite.add("expect_column_values_to_be_unique", column="k")
    out = {
        r["group"]: r
        for r in validate_by_group(df, suite, "seg").collect()
    }
    assert not out["a"]["success"] and out["a"]["unexpected_count"] == 2
    assert out["b"]["success"]
    assert out["b"]["missing_count"] == 1   # null key is missing, not dup


def test_unsupported_kind_raises_or_skips(spark, seg_df):
    suite = ExpectationSuite("w")
    suite.add("expect_table_row_count_to_equal_other_table",
              other_table="whatever")
    with pytest.raises(ValueError, match="not segmentable"):
        validate_by_group(seg_df, suite, "seg")
    out = validate_by_group(seg_df, suite, "seg", strict=False)
    assert out.count() == 0


def test_max_groups_guard(spark):
    df = spark.createDataFrame(
        [(str(i), i) for i in range(50)], "seg string, k int"
    )
    suite = ExpectationSuite("g")
    suite.add("expect_column_values_to_not_be_null", column="k")
    with pytest.raises(ValueError, match="max_groups"):
        validate_by_group(df, suite, "seg", max_groups=10)


def test_matches_per_group_suite_runner(spark, seg_df):
    """Segmented results equal running the same suite on each filtered
    segment (the NULL segment included) — the N-scan semantics in one pass,
    through the same keyed passes. The suite covers single-column
    uniqueness (salted in both executors), most_common_value with a
    four-way tie (segment a) and over an all-NULL column (segment b),
    z-score over a zero-stddev segment (b) and a windowed check."""
    from great_expectations_spark import validate

    df = (
        seg_df.withColumn("u", F.col("k") % 15)
        .withColumn("m", F.when(F.col("seg") == "a", F.col("k") % 4))
    )
    suite = ExpectationSuite("eq")
    suite.add("expect_column_values_to_not_be_null", column="text",
              mostly=0.6)
    suite.add("expect_column_mean_to_be_between", column="v",
              min_value=0.0, max_value=10.0)
    suite.add("expect_column_values_to_be_unique", column="u")
    suite.add("expect_column_most_common_value_to_be_in_set", column="m",
              value_set=[0, 1, 2, 3], ties_okay=True)
    suite.add("expect_column_most_common_value_to_be_in_set", column="m",
              value_set=[0])
    suite.add("expect_column_value_z_scores_to_be_less_than", column="v",
              threshold=1.5)
    suite.add("expect_column_values_to_be_decreasing", column="v",
              order_by="k")
    seg_rows = {
        (r["group"], r["expectation_id"]): (
            r["success"], r["missing_count"], r["unexpected_count"])
        for r in validate_by_group(df, suite, "seg").collect()
    }
    assert len(seg_rows) == 3 * len(suite.expectations)
    for g in ("a", "b", None):
        res = validate(df.filter(F.col("seg").eqNullSafe(g)), suite)
        for cfg, r in zip(suite, res.results):
            assert not r.exception_info["raised_exception"], r.exception_info
            assert seg_rows[(g, cfg.id)] == (
                r.success, int(r.result.get("missing_count") or 0),
                int(r.result.get("unexpected_count") or 0),
            ), (g, cfg.expectation_type)
    ids = [c.id for c in suite]
    # the kinds really exercise their edges: duplicates, ties, an all-NULL
    # column, a zero-stddev segment, window failures
    assert seg_rows[("a", ids[2])] == (False, 0, 40)
    assert seg_rows[("b", ids[2])] == (False, 0, 10)
    assert seg_rows[("a", ids[3])][0] and not seg_rows[("a", ids[4])][0]
    assert seg_rows[("b", ids[5])] == (False, 0, 20)
    assert seg_rows[("a", ids[5])] == (False, 0, 8)
    assert seg_rows[("a", ids[6])] == (False, 0, 36)
    assert seg_rows[("b", ids[6])] == (True, 0, 0)


def test_max_groups_guard_applies_to_unique_pass_too(spark):
    """Regression: the uniqueness pass must RAISE past max_groups, not
    silently truncate the report."""
    df = spark.createDataFrame(
        [(str(i), i) for i in range(50)], "seg string, k int"
    )
    suite = ExpectationSuite("u")
    suite.add("expect_column_values_to_be_unique", column="k")
    with pytest.raises(ValueError, match="max_groups"):
        validate_by_group(df, suite, "seg", max_groups=10)


def test_row_condition_honored_on_maps(spark):
    """row_condition shrinks the per-segment domain exactly like
    SuiteRunner's filter (review finding: it was silently ignored)."""
    from great_expectations_spark import validate

    df = spark.createDataFrame(
        [("a", "score", 0.5), ("a", "score", 2.0), ("a", "meta", 99.0),
         ("b", "score", 0.1), ("b", "meta", -5.0)],
        "seg string, kind string, v double",
    )
    suite = ExpectationSuite("rc")
    suite.add("expect_column_values_to_be_between", column="v",
              min_value=0.0, max_value=1.0, row_condition="kind = 'score'")
    seg = {
        r["group"]: r
        for r in validate_by_group(df, suite, "seg").collect()
    }
    # segment a: 2 in-domain rows, one (2.0) out of bounds; 99.0 excluded
    assert seg["a"]["element_count"] == 2
    assert seg["a"]["unexpected_count"] == 1 and not seg["a"]["success"]
    # segment b: the -5.0 meta row is outside the condition
    assert seg["b"]["element_count"] == 1 and seg["b"]["success"]
    # parity with the runner on the pre-filtered segment
    r = validate(df.filter("seg = 'a'").filter("kind = 'score'"),
                 _between_suite()).results[0]
    assert r.result["unexpected_count"] == seg["a"]["unexpected_count"]
    assert r.result["element_count"] == seg["a"]["element_count"]


def _between_suite():
    s = ExpectationSuite("one")
    s.add("expect_column_values_to_be_between", column="v",
          min_value=0.0, max_value=1.0)
    return s


def test_partial_null_compound_key_counts_as_duplicate(spark):
    """Review finding: the runner's compound domain excludes only
    all-null keys; a (1, NULL) pair appearing twice IS a duplicate."""
    df = spark.createDataFrame(
        [("a", 1, None), ("a", 1, None), ("a", None, None)],
        "seg string, k1 int, k2 int",
    )
    suite = ExpectationSuite("cu")
    suite.add("expect_compound_columns_to_be_unique",
              column_list=["k1", "k2"])
    row = validate_by_group(df, suite, "seg").collect()[0]
    assert row["unexpected_count"] == 2 and not row["success"]
    assert row["missing_count"] == 1          # only the all-null row


def test_most_common_value_per_segment(spark):
    """most_common_value is segmentable (round 5): one shared keyed pass,
    modes-with-ties per segment, all-null segment → empty modes."""
    df = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("a", "y"),          # a: mode [x]
         ("b", "x"), ("b", "y"),                       # b: tie [x, y]
         ("c", None), ("c", None)],                    # c: no values
        "seg string, v string",
    )
    suite = ExpectationSuite("mcv")
    suite.add("expect_column_most_common_value_to_be_in_set",
              column="v", value_set=["x"])
    suite.add("expect_column_most_common_value_to_be_in_set",
              column="v", value_set=["x", "y"], ties_okay=True)
    rows = validate_by_group(df, suite, "seg").collect()
    by = {}
    for r in rows:
        by.setdefault(r["group"], []).append(r)
    assert all(r["observed_value"] == "['x']" for r in by["a"])
    assert all(r["success"] for r in by["a"])          # [x] ⊆ both sets
    b_strict = [r for r in by["b"] if not r["success"]]
    assert len(b_strict) == 1                          # tie fails strict…
    b_ok = [r for r in by["b"] if r["success"]]
    assert b_ok and b_ok[0]["observed_value"] == "['x', 'y']"  # …passes ties
    c_strict = [r for r in by["c"] if not r["success"]]
    assert len(c_strict) == 1                          # [] fails strict
    assert all(r["observed_value"] == "[]" for r in by["c"])


def test_mcv_matches_suite_runner_per_segment(spark):
    """Segmented most_common_value ≡ SuiteRunner on each filtered segment
    (the runner computes modes via its value-counts mode_job)."""
    from great_expectations_spark import validate

    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 2), ("b", 2), ("b", 3), ("b", 3)],
        "seg string, v int",
    )
    suite = ExpectationSuite("mcv")
    suite.add("expect_column_most_common_value_to_be_in_set",
              column="v", value_set=[1, 3])
    seg = {r["group"]: r for r in validate_by_group(df, suite, "seg").collect()}
    for g in ("a", "b"):
        r = validate(df.filter(F.col("seg") == g), suite).results[0]
        assert seg[g]["success"] == r.success


def test_zscore_two_wave_per_segment(spark):
    """Two-wave z-score is segmentable (round 5): wave 1 computes
    per-segment mean/stddev inside the bundled groupBy, wave 2 rebuilds the
    condition with those stats joined back per segment. Each segment uses
    ITS OWN distribution — the outlier is only an outlier within 'a'."""
    from great_expectations_spark import validate

    rows = [("a", float(v)) for v in [10, 10, 10, 11, 9, 10, 10, 10, 500.0]]
    rows += [("b", float(v)) for v in range(100, 120)]   # spread, no outlier
    rows += [("c", None)]                                 # all-null segment
    df = spark.createDataFrame(rows, "seg string, v double")
    suite = ExpectationSuite("z")
    suite.add("expect_column_value_z_scores_to_be_less_than",
              column="v", threshold=2.0, double_sided=True, mostly=0.95)
    seg = {r["group"]: r for r in validate_by_group(df, suite, "seg").collect()}
    assert seg["a"]["unexpected_count"] >= 1 and not seg["a"]["success"]
    assert seg["b"]["unexpected_count"] == 0 and seg["b"]["success"]
    # all-null segment: vacuous success, missing == element_count
    assert seg["c"]["success"] and seg["c"]["missing_count"] == 1
    # runner parity on each filtered segment (two-wave literal path)
    for g in ("a", "b"):
        r = validate(df.filter(F.col("seg") == g), suite).results[0]
        assert seg[g]["success"] == r.success
        assert seg[g]["unexpected_count"] == r.result["unexpected_count"]


def test_zscore_with_row_condition_sub_pass(spark):
    """row_condition on a two-wave condition runs in its filtered domain
    group: per-segment stats are computed over the rc domain only —
    runner parity against validate(df.filter(rc)) per segment."""
    from great_expectations_spark import validate

    # within rc domain (flag=1): 'a' has an outlier, 'b' does not; the
    # rc-excluded rows (flag=0) carry wild values that would flip the
    # stats if the filter were ignored
    rows = [("a", 1, float(v)) for v in [10, 10, 10, 11, 9, 10, 10, 500]]
    rows += [("a", 0, 1e6)]
    rows += [("b", 1, float(v)) for v in range(100, 120)]
    rows += [("b", 0, -1e6)]
    df = spark.createDataFrame(rows, "seg string, flag int, v double")
    suite = ExpectationSuite("zrc")
    suite.add("expect_column_value_z_scores_to_be_less_than",
              column="v", threshold=2.0, double_sided=True, mostly=0.95,
              row_condition="flag = 1")
    seg = {r["group"]: r
           for r in validate_by_group(df, suite, "seg").collect()}
    assert not seg["a"]["success"] and seg["a"]["unexpected_count"] >= 1
    assert seg["b"]["success"] and seg["b"]["unexpected_count"] == 0
    for g in ("a", "b"):
        r = validate(df.filter(F.col("seg") == g), suite).results[0]
        assert seg[g]["success"] == r.success
        assert seg[g]["unexpected_count"] == r.result["unexpected_count"]


def test_rc_aggregate_and_unique_sub_pass(spark):
    """row_condition on aggregates / uniqueness runs in ONE filtered
    domain group per distinct rc. A segment entirely outside the rc domain
    produces no row for those expectations (the filtered batch never
    sees it), exactly like a filtered SuiteRunner run."""
    from great_expectations_spark import validate

    rows = [("a", 1, 1.0, 10), ("a", 1, 2.0, 11), ("a", 0, 900.0, 11),
            ("b", 1, 3.0, 20), ("b", 1, 4.0, 20),
            ("c", 0, 999.0, 30)]                 # c: no rows with flag=1
    df = spark.createDataFrame(rows, "seg string, flag int, v double, k int")
    suite = ExpectationSuite("rcau")
    suite.add("expect_column_mean_to_be_between", column="v",
              min_value=0.0, max_value=5.0, row_condition="flag = 1")
    suite.add("expect_column_values_to_be_unique", column="k",
              row_condition="flag = 1")
    seg = {
        (r["group"], r["expectation_type"]): r
        for r in validate_by_group(df, suite, "seg").collect()
    }
    mean_a = seg[("a", "expect_column_mean_to_be_between")]
    assert mean_a["success"] and mean_a["element_count"] == 2
    # the executor plans a window-rewritten copy of the suite, yet every
    # row keeps the user suite's expectation id
    for (_g, kind), r in seg.items():
        cfg = next(c for c in suite if c.expectation_type == kind)
        assert r["expectation_id"] == cfg.id
    uq_b = seg[("b", "expect_column_values_to_be_unique")]
    assert not uq_b["success"] and uq_b["unexpected_count"] == 2
    # segment c never enters the rc domain → no rows for either check
    assert not [k for k in seg if k[0] == "c"]
    for g in ("a", "b"):
        res = validate(df.filter(F.col("seg") == g), suite)
        for r in res.results:
            s = seg[(g, r.expectation_config["expectation_type"])]
            assert s["success"] == r.success


def test_windowed_increasing_per_segment(spark):
    """Window-backed increasing is segmentable (round 5): the condition is
    re-windowed by (segment, *partition_by) — lag never crosses a segment
    or key boundary, matching a per-segment filtered run."""
    from great_expectations_spark import validate

    rows = [("a", "k1", i, float(i)) for i in range(5)]          # increasing
    rows += [("a", "k2", i, float(10 - i)) for i in range(5)]    # decreasing
    rows += [("b", "k1", i, float(i * 2)) for i in range(5)]     # increasing
    df = spark.createDataFrame(rows, "seg string, key string, t int, v double")
    suite = ExpectationSuite("win")
    suite.add("expect_column_values_to_be_increasing", column="v",
              strictly=True, partition_by="key", order_by="t")
    seg = {r["group"]: r
           for r in validate_by_group(df, suite, "seg").collect()}
    assert not seg["a"]["success"] and seg["a"]["unexpected_count"] == 4
    assert seg["b"]["success"] and seg["b"]["unexpected_count"] == 0
    for g in ("a", "b"):
        r = validate(df.filter(F.col("seg") == g), suite).results[0]
        assert seg[g]["success"] == r.success
        assert seg[g]["unexpected_count"] == r.result["unexpected_count"]


def test_windowed_global_window_becomes_per_segment(spark):
    """An explicit partition_by=None (the runner's GLOBAL window) becomes a
    per-segment window — which IS the global window of each segment's
    filtered run. Order comes from order_by, so this is deterministic."""
    rows = [("a", i, float(i)) for i in range(5)]
    rows += [("b", i, float(5 - i)) for i in range(5)]   # decreasing in b
    df = spark.createDataFrame(rows, "seg string, t int, v double")
    suite = ExpectationSuite("wing")
    suite.add("expect_column_values_to_be_increasing", column="v",
              strictly=True, partition_by=None, order_by="t")
    seg = {r["group"]: r
           for r in validate_by_group(df, suite, "seg").collect()}
    assert seg["a"]["success"]
    assert not seg["b"]["success"] and seg["b"]["unexpected_count"] == 4


def test_windowed_default_keys_from_index_cols(spark):
    """Absent partition_by defaults from unexpected_index_column_names —
    the same default SuiteRunner's window pass takes — with the segment
    key in front."""
    rows = [("a", "k1", 1, 1.0), ("a", "k1", 2, 2.0), ("a", "k2", 1, 5.0),
            ("a", "k2", 2, 4.0), ("b", "k1", 1, 1.0), ("b", "k1", 2, 3.0)]
    df = spark.createDataFrame(rows, "seg string, key string, t int, v double")
    suite = ExpectationSuite("wind")
    suite.add("expect_column_values_to_be_increasing", column="v",
              strictly=True, order_by="t")
    seg = {r["group"]: r
           for r in validate_by_group(
               df, suite, "seg",
               unexpected_index_column_names=["key"]).collect()}
    assert not seg["a"]["success"] and seg["a"]["unexpected_count"] == 1
    assert seg["b"]["success"]


def test_windowed_with_row_condition(spark):
    """row_condition on a window condition filters the window pass's base
    frame (SuiteRunner domain-group semantics): excluded rows are invisible
    to lag, not merely uncounted."""
    from great_expectations_spark import validate

    # without the filter, the flag=0 row (v=100) breaks monotonicity for
    # its neighbors; within the rc domain the sequence is increasing
    rows = [("a", "k1", 0, 1, 1.0), ("a", "k1", 1, 0, 100.0),
            ("a", "k1", 2, 1, 2.0), ("a", "k1", 3, 1, 3.0)]
    df = spark.createDataFrame(
        rows, "seg string, key string, t int, flag int, v double")
    suite = ExpectationSuite("winrc")
    suite.add("expect_column_values_to_be_increasing", column="v",
              strictly=True, partition_by="key", order_by="t",
              row_condition="flag = 1")
    seg = {r["group"]: r
           for r in validate_by_group(df, suite, "seg").collect()}
    assert seg["a"]["success"] and seg["a"]["element_count"] == 3
    r = validate(df.filter(F.col("seg") == "a"), suite).results[0]
    assert r.success == seg["a"]["success"]


def test_windowed_violations_sink(spark, tmp_path):
    """Window-condition violations land in the sink with the offending
    value, through the same executor-side write path."""
    rows = [("a", "k1", 0, 1.0), ("a", "k1", 1, 5.0), ("a", "k1", 2, 3.0)]
    df = spark.createDataFrame(rows, "seg string, key string, t int, v double")
    suite = ExpectationSuite("winv")
    suite.add("expect_column_values_to_be_increasing", column="v",
              strictly=True, partition_by="key", order_by="t")
    vpath = str(tmp_path / "wviol")
    seg = {r["group"]: r
           for r in validate_by_group(
               df, suite, "seg", violations_path=vpath,
               unexpected_index_column_names=["t"]).collect()}
    assert seg["a"]["unexpected_count"] == 1
    viol = spark.read.parquet(vpath).collect()
    assert len(viol) == 1
    assert viol[0]["t"] == 2 and viol[0]["observed_value"] == "3.0"


def test_segmented_violations_sink(spark, tmp_path):
    """violations_path round-trip: every failing row lands as
    (group, index cols, expectation, observed_value) parquet — map,
    two-wave, and uniqueness kinds; row counts equal unexpected counts."""
    rows = [("a", i, float(v)) for i, v in enumerate(
        [10, 10, 10, 11, 9, 10, 10, 10, 500])]
    rows += [("b", i, float(100 + i)) for i in range(20)]
    rows += [("b", 0, None)]                       # duplicate id 0 in b
    df = spark.createDataFrame(rows, "seg string, id int, v double")
    suite = ExpectationSuite("vs")
    suite.add("expect_column_values_to_be_between", column="v",
              min_value=0.0, max_value=200.0, mostly=0.5)
    suite.add("expect_column_value_z_scores_to_be_less_than",
              column="v", threshold=2.0, mostly=0.95)
    suite.add("expect_column_values_to_be_unique", column="id")
    vpath = str(tmp_path / "viol")
    out = {
        (r["group"], r["expectation_type"]): r
        for r in validate_by_group(
            df, suite, "seg", violations_path=vpath,
            unexpected_index_column_names=["id"],
        ).collect()
    }
    viol = spark.read.parquet(vpath)
    assert set(viol.columns) == {"group", "id", "expectation",
                                 "observed_value"}
    got = {
        (r["group"], r["expectation"]): r["cnt"]
        for r in viol.groupBy("group", "expectation")
        .agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    for (g, et), r in out.items():
        if r["unexpected_count"]:
            assert got.get((g, et)) == r["unexpected_count"], (g, et)
    # nothing failing is absent from the sink, nothing passing is in it
    assert sum(got.values()) == sum(
        r["unexpected_count"] for r in out.values()
    )
    # the between violation carries the offending value for triage
    bv = viol.filter(
        (F.col("expectation") == "expect_column_values_to_be_between")
    ).collect()
    assert [r["observed_value"] for r in bv] == ["500.0"]
    assert [r["id"] for r in bv] == [8]


def test_null_segment_group_is_null_not_sentinel(spark):
    """Review finding: a data value that IS the string 'NULL' must stay
    a separate segment from genuinely-null group values."""
    df = spark.createDataFrame(
        [("NULL", 1), (None, None), (None, 2)],
        "seg string, k int",
    )
    suite = ExpectationSuite("n")
    suite.add("expect_column_values_to_not_be_null", column="k")
    rows = {r["group"]: r for r in validate_by_group(df, suite, "seg").collect()}
    assert set(rows) == {"NULL", None}
    assert rows["NULL"]["success"]
    assert not rows[None]["success"] and rows[None]["unexpected_count"] == 1


def test_expr_backed_aggregates_segment_parity(spark):
    """SURVEY §8.5 segmentability-audit hardening: quantile_values, KL
    divergence (categorical), distinct-set membership, and unique-value
    count are expression-backed CompiledAggs, so validate_by_group must
    produce the same per-segment verdicts as per-segment SuiteRunner
    runs — all from the ONE bundled groupBy."""
    from great_expectations_spark import validate

    rows = [("a", "u", float(v)) for v in range(1, 101)]
    rows += [("b", "u", 5.0), ("b", "x", 6.0), ("b", "x", 7.0)]
    df = spark.createDataFrame(rows, "seg string, role string, v double")
    suite = ExpectationSuite("exprs")
    suite.add(
        "expect_column_quantile_values_to_be_between", column="v",
        quantile_ranges={
            "quantiles": [0.5, 0.9],
            # a's median ~50 / p90 ~90 pass; b's median ~6 fails the [40, 60]
            "value_ranges": [[40.0, 60.0], [80.0, 100.0]],
        },
    )
    suite.add(
        "expect_column_kl_divergence_to_be_less_than", column="role",
        partition_object={"values": ["u", "x"], "weights": [0.5, 0.5]},
        threshold=0.2,
    )
    suite.add(
        "expect_column_distinct_values_to_be_in_set", column="role",
        value_set=["u"],
    )
    suite.add(
        "expect_column_unique_value_count_to_be_between", column="role",
        min_value=2, max_value=2,
    )
    seg = {
        (r["group"], r["expectation_type"]): r
        for r in validate_by_group(df, suite, "seg").collect()
    }
    # hand-checked expectations per segment
    assert seg[("a", "expect_column_quantile_values_to_be_between")]["success"]
    assert not seg[("b", "expect_column_quantile_values_to_be_between")]["success"]
    # a is 100% 'u' → KL vs 50/50 is ln(2)·1 > 0.2; b is 1/3-2/3 → < 0.2
    assert not seg[("a", "expect_column_kl_divergence_to_be_less_than")]["success"]
    assert seg[("b", "expect_column_kl_divergence_to_be_less_than")]["success"]
    assert seg[("a", "expect_column_distinct_values_to_be_in_set")]["success"]
    assert not seg[("b", "expect_column_distinct_values_to_be_in_set")]["success"]
    assert not seg[("a", "expect_column_unique_value_count_to_be_between")]["success"]
    assert seg[("b", "expect_column_unique_value_count_to_be_between")]["success"]
    # and full parity with per-segment filtered SuiteRunner runs
    for g in ("a", "b"):
        res = validate(df.filter(F.col("seg") == g), suite)
        for r in res.results:
            et = r.expectation_config["expectation_type"]
            assert seg[(g, et)]["success"] == r.success, (g, et)


def test_rc_uniqueness_violations_flow_through_sub_pass(spark, tmp_path):
    """row_condition uniqueness violations are written by the rc domain
    group through the same violations sink — rows outside the rc domain are
    invisible to the duplicate semi-join, not merely uncounted."""
    rows = [("a", 1, 10, 1), ("a", 1, 10, 2), ("a", 0, 10, 3),
            ("a", 1, 11, 4)]
    df = spark.createDataFrame(rows, "seg string, flag int, k int, id int")
    suite = ExpectationSuite("rcv")
    suite.add("expect_column_values_to_be_unique", column="k",
              row_condition="flag = 1")
    vpath = str(tmp_path / "rcviol")
    out = {r["group"]: r for r in validate_by_group(
        df, suite, "seg", violations_path=vpath,
        unexpected_index_column_names=["id"]).collect()}
    # only the two in-domain k=10 rows are duplicates (the flag=0 copy
    # does not make a third)
    assert out["a"]["unexpected_count"] == 2
    viol = spark.read.parquet(vpath).collect()
    assert sorted(r["id"] for r in viol) == [1, 2]


def test_rc_map_segment_outside_domain_gets_no_row(spark):
    """One row_condition rule for every kind: a segment with no rows inside
    a map's row_condition gets no row for it (no element_count-0 row),
    as an aggregate or a uniqueness check with that condition does."""
    df = spark.createDataFrame(
        [("a", 1, None), ("a", 0, 5), ("b", 1, 7), ("c", 0, None)],
        "seg string, flag int, v int",
    )
    suite = ExpectationSuite("rcm")
    nn = suite.add("expect_column_values_to_not_be_null", column="v",
                   row_condition="flag = 1")
    suite.add("expect_column_values_to_not_be_null", column="v")
    rows = validate_by_group(df, suite, "seg").collect()
    rc_rows = {r["group"]: r for r in rows if r["expectation_id"] == nn.id}
    assert set(rc_rows) == {"a", "b"}
    assert (rc_rows["a"]["element_count"], rc_rows["a"]["unexpected_count"]) \
        == (1, 1)
    # the plain map still reports every segment, c included
    assert {r["group"] for r in rows if r["expectation_id"] != nn.id} \
        == {"a", "b", "c"}


def _sink_rows(spark, path, drop=()):
    return sorted(
        tuple(r[c] for c in sorted(r.asDict()) if c not in drop)
        for r in spark.read.parquet(path).collect()
    )


@pytest.fixture(scope="module")
def partly_null_df(spark):
    return spark.createDataFrame(
        [(1, 1, 1), (2, 1, 2), (3, None, 5), (4, None, 5), (5, 7, None),
         (6, 7, None), (7, 5, None), (8, None, None)],
        "id int, a int, b int",
    ).withColumn("one", F.lit("all"))


def test_runner_unique_sink_keeps_partly_null_duplicates(spark, tmp_path,
                                                         partly_null_df):
    """The runner's uniqueness sink semi-joins null-safely: (NULL, 5) and
    (7, NULL) seen twice are duplicates, and every one of their rows is a
    sink row — an equi-join would never match them."""
    from great_expectations_spark import SuiteRunner

    suite = ExpectationSuite("cu")
    suite.add("expect_compound_columns_to_be_unique", column_list=["a", "b"])
    vpath = str(tmp_path / "viol")
    res = SuiteRunner(spark, violations_path=vpath,
                      unexpected_index_column_names=["id"]).validate(
        partly_null_df, suite)
    assert res.results[0].result["unexpected_count"] == 4
    viol = spark.read.parquet(vpath).collect()
    assert sorted(r["id"] for r in viol) == [3, 4, 5, 6]
    # (NULL, 5) and (5, NULL) render apart
    assert {r["observed_value"] for r in viol} == {'{"b":5}', '{"a":7}'}


def test_segmented_sink_equals_runner_sink(spark, tmp_path, partly_null_df):
    """One projection per violation kind: over a constant segment the
    segmented sink, once its ``group`` column is dropped, holds exactly the
    runner's rows — observed values included (a pair's JSON struct, a
    compound key's JSON with its NULL parts kept apart)."""
    from great_expectations_spark import SuiteRunner

    suite = ExpectationSuite("sinks")
    suite.add("expect_column_pair_values_to_be_equal",
              column_A="a", column_B="b")
    suite.add("expect_compound_columns_to_be_unique", column_list=["a", "b"])
    suite.add("expect_column_values_to_be_unique", column="b")
    suite.add("expect_column_values_to_be_between", column="a",
              min_value=0, max_value=4)
    suite.add("expect_column_values_to_be_increasing", column="a",
              order_by="id", partition_by="one")
    runner_path, seg_path = str(tmp_path / "runner"), str(tmp_path / "seg")
    res = SuiteRunner(spark, violations_path=runner_path,
                      unexpected_index_column_names=["id"]).validate(
        partly_null_df, suite)
    rows = validate_by_group(partly_null_df, suite, "one",
                             violations_path=seg_path,
                             unexpected_index_column_names=["id"]).collect()
    assert [r["unexpected_count"] for r in rows] == [
        r.result["unexpected_count"] for r in res.results]
    seg_rows = _sink_rows(spark, seg_path, drop=("group",))
    assert seg_rows == _sink_rows(spark, runner_path)
    assert len(seg_rows) == sum(r["unexpected_count"] for r in rows)
    pair = {r["observed_value"] for r in spark.read.parquet(seg_path)
            .filter(F.col("expectation")
                    == "expect_column_pair_values_to_be_equal").collect()}
    assert '{"A":1,"B":2}' in pair


def test_mixed_suite_job_count_pin(spark, job_ids):
    """Spark jobs of one validate_by_group over a mixed suite in which each
    distinct row_condition also carries an aggregate or a uniqueness check:
    the runner's keyed passes cost no more jobs than the previous executor
    (27 on this suite, measured with 8 local cores and 8 shuffle
    partitions). The passes run on pool threads, and every job they launch
    is filed under the caller's job group."""
    rows = [(s, i % 4, i, float(i % 7), i // 3) for s in ("a", "b")
            for i in range(30)]
    df = spark.createDataFrame(
        rows, "seg string, flag int, t int, v double, k int")
    suite = ExpectationSuite("mixed")
    suite.add("expect_column_values_to_not_be_null", column="v")
    suite.add("expect_column_values_to_be_between", column="v",
              min_value=0, max_value=5)
    suite.add("expect_column_mean_to_be_between", column="v",
              min_value=0, max_value=10)
    suite.add("expect_column_values_to_be_unique", column="k")
    suite.add("expect_column_values_to_be_increasing", column="t",
              order_by="t", partition_by="flag")
    suite.add("expect_column_most_common_value_to_be_in_set", column="flag",
              value_set=[0])
    suite.add("expect_column_values_to_not_be_null", column="v",
              row_condition="flag = 1")
    suite.add("expect_column_stdev_to_be_between", column="v",
              min_value=0, max_value=10, row_condition="flag = 1")
    suite.add("expect_column_values_to_be_unique", column="t",
              row_condition="flag > 1")
    suite.add("expect_column_value_z_scores_to_be_less_than", column="v",
              threshold=3.0, row_condition="flag > 1")
    validate_by_group(df, suite, "seg").collect()   # plan cache, JIT warm-up
    launched, grouped = job_ids(
        "segmented-job-pin",
        lambda: validate_by_group(df, suite, "seg").collect(),
    )
    assert grouped == launched
    assert 0 < len(launched) <= 27, len(launched)


def test_contiguous_per_segment_with_runner_sink(spark, tmp_path):
    """Contiguity is segmentable: each segment counts its own groups (a
    group key seen in two segments is a group of each), and per segment the
    sink holds exactly the rows of a SuiteRunner sink over that segment's
    batch, led by ``group`` — NULL segment and NULL group key included."""
    from great_expectations_spark import SuiteRunner

    rows = [(1, "a", "c1", 0), (2, "a", "c1", 1), (3, "b", "c1", 2),
            (4, "b", "c2", 0), (5, "b", "c2", 2), (6, None, "c3", 1),
            (7, "a", None, 0), (8, "a", None, 0), (9, "a", "c4", None)]
    df = spark.createDataFrame(
        rows, "id int, seg string, conv_id string, turn_idx int")
    suite = ExpectationSuite("contig-seg")
    suite.add("expect_column_values_to_be_contiguous", column="turn_idx",
              group_by=["conv_id"], start=0)
    seg_path = str(tmp_path / "seg")
    out = {r["group"]: r for r in validate_by_group(
        df, suite, "seg", violations_path=seg_path,
        unexpected_index_column_names=["id"]).collect()}
    assert {g: (r["success"], r["element_count"], r["unexpected_count"])
            for g, r in out.items()} == {
        "a": (False, 2, 1), "b": (False, 2, 2), None: (False, 1, 1)}
    seg_sink = spark.read.parquet(seg_path)
    for g in out:
        runner_path = str(tmp_path / f"runner-{g}")
        res = SuiteRunner(spark, violations_path=runner_path,
                          unexpected_index_column_names=["id"]).validate(
            df.filter(F.col("seg").eqNullSafe(F.lit(g))), suite)
        assert res.results[0].result["unexpected_count"] \
            == out[g]["unexpected_count"]
        got = sorted(
            tuple(r[c] for c in sorted(r.asDict()) if c != "group")
            for r in seg_sink.filter(
                F.col("group").eqNullSafe(F.lit(g))).collect()
        )
        assert got == _sink_rows(spark, runner_path), g
