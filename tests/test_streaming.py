"""Structured-Streaming incremental validation (SURVEY.md §2.10 extension).

File-source stream drained with trigger(availableNow): every micro-batch is
validated with the same planner/runner as batch mode and committed as one
checkpoint partition, re-running from the same streaming checkpoint
re-validates nothing (exactly-once bookkeeping), and a replayed epoch counts
once in the checkpoint's merge view.
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F, types as T

from great_expectations_spark import ExpectationSuite, SuiteRunner
from great_expectations_spark.checkpoint import Checkpoint
from great_expectations_spark.streaming import (
    StreamingValidator,
    validate_stream,
)

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)


def _write_chunk(spark, path, start, n, bad_role_every=0):
    rows = [
        (
            f"c{start + i}",
            i,
            "oops" if bad_role_every and i % bad_role_every == 0 else "user",
            f"text {start + i}",
        )
        for i in range(n)
    ]
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


@pytest.fixture()
def suite():
    s = ExpectationSuite("stream-suite")
    s.add("expect_column_values_to_not_be_null", column="text")
    s.add("expect_column_values_to_be_in_set", column="role",
          value_set=["system", "user", "assistant", "tool"], mostly=0.5)
    s.add("expect_column_mean_to_be_between", column="turn_idx",
          min_value=0, max_value=1000)
    return s


def _stream(spark, src):
    return (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def _counters(rows):
    return {r["expectation_id"]: (r["element_count"], r["missing_count"],
                                  r["unexpected_count"]) for r in rows}


def test_stream_validates_microbatches_and_is_idempotent(spark, suite, tmp_path):
    src = str(tmp_path / "src")
    evr = str(tmp_path / "evr")
    ckpt = str(tmp_path / "ckpt")
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "manifest"),
                    evr_path=evr)

    _write_chunk(spark, src, 0, 40, bad_role_every=4)

    q, validator = validate_stream(_stream(spark, src), suite, ck, ckpt)
    q.awaitTermination(120)

    assert validator.results, "at least one micro-batch validated"
    epoch0 = dict(validator.results)[validator.results[0][0]]
    assert epoch0.statistics["evaluated_expectations"] == 3
    by_type = {
        r.expectation_config["expectation_type"]: r for r in epoch0.results
    }
    # 10 of 40 roles are 'oops' → 25% unexpected, mostly=0.5 passes
    in_set = by_type["expect_column_values_to_be_in_set"]
    assert in_set.success and in_set.result["unexpected_count"] == 10

    evrs = ck.committed_evrs()
    n_epochs = len({r["partition_id"] for r in evrs})
    assert len(evrs) == 3 * n_epochs
    # one EVR file and one manifest record written per epoch: no epoch was
    # validated twice
    assert len(list(Path(evr).rglob("*.json"))) == n_epochs
    assert len(list((tmp_path / "manifest").rglob("*.json"))) == n_epochs

    # ---- append more data; restart from the same checkpoint: only the new
    # file is validated (committed epochs not re-offered)
    _write_chunk(spark, src, 100, 20)
    q2, v2 = validate_stream(_stream(spark, src), suite, ck, ckpt)
    q2.awaitTermination(120)
    assert len(v2.results) == 1
    assert v2.results[0][1].results[0].result["element_count"] == 20

    evrs2 = ck.committed_evrs()
    assert len(evrs2) == 3 * (n_epochs + 1)
    assert len(list(Path(evr).rglob("*.json"))) == n_epochs + 1
    assert len(list((tmp_path / "manifest").rglob("*.json"))) == n_epochs + 1
    # every epoch appears exactly once (committed once per partition id)
    keys = [(r["partition_id"], r["expectation_id"]) for r in evrs2]
    assert len(set(keys)) == len(keys)


def test_validator_refuses_epoch_only_evr_layout(spark, suite, tmp_path):
    """An evr_path holding the old top-level ``epoch=`` layout is refused
    before any micro-batch is validated or written: its rows carry no
    commit id, so no manifest commit could ever name them."""
    evr = tmp_path / "evr"
    batch = spark.createDataFrame([("c0", 0, "user", "t")], SCHEMA)
    batch.write.parquet(str(evr / "epoch=0"))
    validator = StreamingValidator(suite, Checkpoint(
        spark, manifest_path=str(tmp_path / "manifest"), evr_path=str(evr)))
    with pytest.raises(ValueError, match="epoch="):
        validator(batch, 1)
    assert validator.results == []
    assert sorted(p.name for p in evr.iterdir()) == ["epoch=0"]


def test_stream_rows_merge_like_a_whole_table_run(spark, suite, tmp_path):
    """A stream's micro-batches are checkpoint partitions: the merge view
    over them equals one SuiteRunner run over all the streamed rows."""
    src = str(tmp_path / "src")
    _write_chunk(spark, src, 0, 40, bad_role_every=4)
    _write_chunk(spark, src, 100, 25, bad_role_every=5)
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "manifest"),
                    evr_path=str(tmp_path / "evr"))
    q, validator = validate_stream(_stream(spark, src), suite, ck,
                                   str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert len(validator.results) == 2

    whole = SuiteRunner(spark).validate(spark.read.parquet(src), suite)
    expected = {cfg.id: tuple(int(r.result.get(k) or 0) for k in (
        "element_count", "missing_count", "unexpected_count"))
        for cfg, r in zip(suite, whole.results)}
    assert _counters(ck.merged_map_verdicts().collect()) == expected
    assert expected[suite.expectations[1].id] == (65, 0, 15)


def test_checkpoint_run_and_stream_share_one_store(spark, suite, tmp_path):
    """A batch checkpoint run and a stream committing into the same
    manifest and EVR store both stay in the merge: the stream's appends
    never hide the batch run's committed rows."""
    src = str(tmp_path / "src")
    _write_chunk(spark, src, 0, 20)
    table = spark.createDataFrame(
        [(f"b{i}", i, "user", f"t{i}", i % 2) for i in range(30)],
        "conv_id string, turn_idx int, role string, text string, day int")
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "manifest"),
                    evr_path=str(tmp_path / "evr"))
    assert len(ck.run(table, suite, run_id="batch", partition_col="day")
               .validated) == 2
    q, _ = validate_stream(_stream(spark, src), suite, ck,
                           str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    merged = ck.merged_map_verdicts().collect()
    assert len(merged) == 3
    assert {r["element_count"] for r in merged} == {50}
    assert len(ck.read_manifest().collect()) == 3


def test_replayed_epoch_counts_once(spark, suite, tmp_path):
    """foreachBatch may replay an epoch after a restart. A replay after the
    epoch's commit is skipped; a replay after a torn write (EVR file
    written, manifest record never renamed into the log) re-validates, and
    the orphan rows stay out of the merge."""
    batch = spark.createDataFrame(
        [(f"c{i}", i, "user", None if i == 0 else "t") for i in range(5)],
        SCHEMA)
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "manifest"),
                    evr_path=str(tmp_path / "evr"))
    validator = StreamingValidator(suite, ck, run_id="q")
    validator(batch, 0)
    validator(batch, 0)                       # replay after the commit
    assert [e for e, _ in validator.results] == [0]

    commit = ck._commit

    def torn(record):                         # the kill at the commit point
        ck._commit = commit
        raise RuntimeError("simulated kill")

    ck._commit = torn
    with pytest.raises(RuntimeError, match="simulated kill"):
        validator(batch, 1)
    validator(batch, 1)                       # replay after the torn write
    assert [e for e, _ in validator.results] == [0, 1]

    written = list((tmp_path / "evr").rglob("*.json"))
    assert len(written) == 3                  # epoch 0, orphans, epoch 1
    assert len({r["commit_id"] for r in ck.committed_evrs()}) == 2
    merged = {r["expectation_type"]: r for r in ck.merged_map_verdicts()
              .collect()}
    nn = merged["expect_column_values_to_not_be_null"]
    assert (nn["element_count"], nn["unexpected_count"]) == (10, 2)
    assert sorted(r["partition_id"] for r in ck.read_manifest().collect()) \
        == ["q/epoch=0", "q/epoch=1"]


#: jobs of one micro-batch (8 local cores, 8 shuffle partitions): the
#: suite's own two. The replay lookup, the EVR file and the manifest commit
#: are driver-side file operations and run no job
MICROBATCH_JOBS = 2


def test_microbatch_job_pin(spark, suite, job_ids, tmp_path):
    """Spark jobs of one StreamingValidator call on a tiny batch, into a
    store already holding a committed epoch, all under the caller's job
    group. The commit adds no job to the suite's own."""
    batch = spark.createDataFrame(
        [(f"c{i}", i, "user", "t") for i in range(5)], SCHEMA)
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "manifest"),
                    evr_path=str(tmp_path / "evr"))
    validator = StreamingValidator(suite, ck, run_id="q")
    validator(batch, 0)
    launched, grouped = job_ids("micro-batch", lambda: validator(batch, 1))
    assert grouped == launched
    assert 0 < len(launched) <= MICROBATCH_JOBS, len(launched)


def test_microbatch_job_pin_with_violation_rows(spark, suite, job_ids,
                                                tmp_path):
    """A clean micro-batch into a store whose violations root already holds
    an earlier failing epoch's rows runs only the suite's own jobs: the
    check that one root holds one row shape reads a Parquet footer on the
    driver, not the root through Spark."""
    vroot = tmp_path / "violations"
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "manifest"),
                    evr_path=str(tmp_path / "evr"),
                    violations_path=str(vroot))
    validator = StreamingValidator(suite, ck, run_id="q")
    validator(spark.createDataFrame(
        [(f"c{i}", i, "user", None) for i in range(5)], SCHEMA), 0)
    assert list(vroot.rglob("*.parquet"))
    clean = spark.createDataFrame(
        [(f"c{i}", i, "user", "t") for i in range(5)], SCHEMA)
    launched, grouped = job_ids("clean-micro-batch",
                                lambda: validator(clean, 1))
    assert grouped == launched
    assert 0 < len(launched) <= MICROBATCH_JOBS, len(launched)


def test_pii_scan_composes_with_streams(spark, tmp_path):
    """scan_pii / redact_pii are stateless per-row expressions, so they
    apply unchanged to a streaming DataFrame — the firehose-scrubbing
    shape (round 4)."""
    from great_expectations_spark.operators.pii import redact_pii, scan_pii

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    spark.createDataFrame(
        [(0, "mail a@b.co"), (1, "clean"), (2, "ip 10.0.0.7")], schema
    ).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    scrubbed = scan_pii(stream).withColumn("text", redact_pii(F.col("text")))
    q = (
        scrubbed.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert got[0]["pii_email_count"] == 1 and got[0]["text"] == "mail [EMAIL]"
    assert got[1]["pii_total_count"] == 0
    assert got[2]["text"] == "ip [IPV4]"
