"""The engine's thread pools keep the caller's Spark local properties: every
job a validation launches — passes, relational/query checks, EVR finishing,
checkpoint partitions — is filed under the caller's job group, so
``cancelJobGroup`` stops a validation and job tags reach every pass."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from great_expectations_spark import ExpectationSuite, SuiteRunner
from great_expectations_spark.checkpoint import Checkpoint
from great_expectations_spark.schema import generate_tools_dim, generate_transcripts

NORTH_STAR = Path(__file__).resolve().parents[1] / "suites" / "north_star.json"


@pytest.fixture(scope="module")
def mixed(spark):
    rows = [(s, i % 4, i, float(i % 7), i // 3) for s in ("a", "b")
            for i in range(30)]
    df = spark.createDataFrame(
        rows, "seg string, flag int, t int, v double, k int")
    suite = ExpectationSuite("pool")
    suite.add("expect_column_values_to_be_between", column="v",
              min_value=0, max_value=5, result_format="SUMMARY")
    suite.add("expect_column_mean_to_be_between", column="v",
              min_value=0, max_value=10)
    suite.add("expect_column_values_to_be_unique", column="k",
              result_format="SUMMARY")
    suite.add("expect_column_values_to_be_increasing", column="t",
              order_by="t", partition_by="flag")
    suite.add("expect_column_most_common_value_to_be_in_set", column="flag",
              value_set=[0])
    suite.add("expect_column_value_z_scores_to_be_less_than", column="v",
              threshold=1.0, row_condition="flag > 1")
    suite.add("expect_query_to_return_no_unexpected_rows",
              query="SELECT * FROM {active_batch} WHERE v > 5")
    return df, suite


def test_validate_jobs_land_in_callers_job_group(spark, job_ids, mixed,
                                                 tmp_path):
    """Every job of a SuiteRunner.validate run — bundled, wave-2, value
    counts, uniqueness, window, query and Cramér's phi side checks, partial
    lists and the violations write — is filed under the job group set on
    the calling thread."""
    df, suite = mixed
    suite = ExpectationSuite("pool-side", list(suite.expectations))
    suite.add("expect_column_pair_cramers_phi_value_to_be_less_than",
              column_A="seg", column_B="flag")
    runner = SuiteRunner(spark, violations_path=str(tmp_path / "v"),
                         unexpected_index_column_names=["seg", "t"])
    launched, grouped = job_ids("pool-validate",
                                lambda: runner.validate(df, suite))
    assert launched and grouped == launched


def test_validate_by_group_jobs_land_in_callers_job_group(spark, job_ids,
                                                         mixed):
    from great_expectations_spark import validate_by_group

    df, suite = mixed
    launched, grouped = job_ids(
        "pool-segmented",
        lambda: validate_by_group(df, suite, "seg", strict=False).collect(),
    )
    assert launched and grouped == launched


def test_checkpoint_partition_pool_keeps_job_group(spark, job_ids, mixed,
                                                   tmp_path):
    df, suite = mixed
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "m"),
                    evr_path=str(tmp_path / "evr"))
    launched, grouped = job_ids(
        "pool-checkpoint",
        lambda: ck.run(df, suite, run_id="r", partition_col="seg",
                       max_concurrent_partitions=2),
    )
    assert launched and grouped == launched


def test_north_star_runner_job_pin(spark, job_ids, tmp_path):
    """Spark jobs of one SuiteRunner.validate of the north-star suite on a
    small parquet table, all under the caller's job group: no more than
    the previous executor's 20 (its bundled aggregation split into column
    cohorts; measured by job-id delta with 8 local cores and 8 shuffle
    partitions, since its pass threads dropped the job group)."""
    path = str(tmp_path / "transcripts")
    generate_transcripts(spark, n_turns=2_000, seed=3).write.parquet(path)
    df = spark.read.parquet(path).withColumn("__text_len", F.length("text"))
    suite = ExpectationSuite.from_json(NORTH_STAR.read_text())
    runner = SuiteRunner(spark, tables={"tools": generate_tools_dim(spark)},
                         unexpected_index_column_names=["conv_id", "turn_idx"])
    runner.validate(df, suite)   # plan cache, JIT warm-up
    launched, grouped = job_ids("north-star-pin",
                                lambda: runner.validate(df, suite))
    assert grouped == launched
    assert 0 < len(launched) <= 20, len(launched)


def test_passing_keyed_sinks_cost_no_job(spark, job_ids, tmp_path):
    """Passing checks run no more Spark jobs with a violations sink than
    without one, and write no sink: contiguity and uniqueness checks and a
    map check in both executors, an ``exist_in`` in the runner
    (validate_by_group refuses relational kinds). A check's sink frame is
    built only when some key has unexpected rows."""
    from great_expectations_spark import validate_by_group

    rows = [(f"s{i // 10 % 2}", f"c{i // 10}", i % 10, i) for i in range(1_000)]
    df = spark.createDataFrame(
        rows, "seg string, conv_id string, turn_idx int, id int")
    ids = spark.createDataFrame([(i,) for i in range(1_000)], "id int")
    keyed = ExpectationSuite("keyed-pin")
    keyed.add("expect_column_values_to_be_contiguous", column="turn_idx",
              group_by=["conv_id"], start=0)
    keyed.add("expect_column_values_to_be_unique", column="id")
    maps = ExpectationSuite("map-pin")
    maps.add("expect_column_values_to_be_between", column="turn_idx",
             min_value=0, max_value=9)
    exist_in = ExpectationSuite("exist-in-pin")
    exist_in.add("expect_column_values_to_exist_in", column="id",
                 other_table="ids", other_column="id")

    def runner(suite):
        return lambda path: SuiteRunner(
            spark, tables={"ids": ids}, violations_path=path,
            unexpected_index_column_names=["id"],
        ).validate(df, suite).success

    def segmented(suite):
        return lambda path: all(r["success"] for r in validate_by_group(
            df, suite, "seg", violations_path=path,
            unexpected_index_column_names=["id"]).collect())

    cases = {
        "keyed-runner": runner(keyed),
        "keyed-segmented": segmented(keyed),
        "map-runner": runner(maps),
        "map-segmented": segmented(maps),
        "exist_in-runner": runner(exist_in),
    }
    for name, run in cases.items():
        sink = tmp_path / name
        jobs = {}
        for path in (None, str(sink)):
            passed = []
            launched, grouped = job_ids(f"{name}-{path is not None}",
                                        lambda: passed.append(run(path)))
            assert launched and grouped == launched
            assert passed == [True], name
            jobs[path is not None] = len(launched)
        assert jobs[True] <= jobs[False], (name, jobs)
        assert not sink.exists(), name


#: Spark jobs of the profilers on the frames below (job-id delta, 8 local
#: cores, 8 shuffle partitions; under adaptive execution one query launches
#: several jobs). profile_suite: the statistics, the value sets and the
#: exact uniqueness verification, plus the KS boundary counts with drift
#: gates; RuleBasedProfiler.profile: the per-batch statistics and one value
#: set. Their own metric bundles ran 10, 12 and 9.
PROFILE_JOBS = 10
PROFILE_DRIFT_JOBS = 12
RBP_PROFILE_JOBS = 7


@pytest.mark.parametrize("drift_gates,pin", [(False, PROFILE_JOBS),
                                             (True, PROFILE_DRIFT_JOBS)])
def test_profile_suite_job_pin(spark, job_ids, drift_gates, pin):
    """Spark jobs of one profile_suite call over a frame with a
    low-cardinality, a unique, a numeric and a temporal column, all under
    the caller's job group."""
    from great_expectations_spark.profiler import profile_suite

    df = spark.range(0, 2_000).select(
        (F.col("id") % 7).cast("string").alias("cat"),
        F.col("id").alias("uid"),
        (F.col("id") % 100).cast("double").alias("x"),
        F.timestamp_seconds(F.col("id")).alias("ts"),
    )
    launched, grouped = job_ids(
        f"profile-pin-{drift_gates}",
        lambda: profile_suite(df, drift_gates=drift_gates))
    assert grouped == launched
    assert 0 < len(launched) <= pin, len(launched)


def test_rule_based_profiler_job_pin(spark, job_ids):
    """Spark jobs of one RuleBasedProfiler.profile call over four batches
    with one value-set column, all under the caller's job group."""
    from great_expectations_spark import RuleBasedProfiler

    batches = [
        spark.range(i * 400, (i + 1) * 400).select(
            F.col("id"),
            (F.col("id") % 100).cast("double").alias("x"),
            ((F.col("id") * 37) % 5).cast("string").alias("cat"),
        )
        for i in range(4)
    ]
    profiler = RuleBasedProfiler(value_set_columns=["cat"])
    launched, grouped = job_ids("rbp-pin", lambda: profiler.profile(batches))
    assert grouped == launched
    assert 0 < len(launched) <= RBP_PROFILE_JOBS, len(launched)


#: Spark jobs of one build_continuous_partition_object call (job-id delta,
#: 8 local cores): one bundled aggregation for the edges, one for the
#: histogram weights; under adaptive execution each launches two jobs.
PARTITION_JOBS = {"uniform": 4, "ntile": 4, "auto": 4}


@pytest.mark.parametrize("bins", sorted(PARTITION_JOBS))
def test_partition_object_job_pin(spark, job_ids, bins):
    from great_expectations_spark.profile import build_continuous_partition_object

    df = spark.range(0, 2_000).select(
        (F.col("id") % 100).cast("double").alias("x"))
    launched, grouped = job_ids(
        f"partition-pin-{bins}",
        lambda: build_continuous_partition_object(df, "x", bins=bins))
    assert grouped == launched
    assert 0 < len(launched) <= PARTITION_JOBS[bins], len(launched)
