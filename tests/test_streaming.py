"""Structured-Streaming incremental validation (SURVEY.md §2.10 extension).

File-source stream drained with trigger(availableNow): every micro-batch is
validated with the same planner/runner as batch mode, EVR rows land in the
shared EVR_ROW_SCHEMA shape, and re-running from the same streaming
checkpoint re-validates nothing (exactly-once bookkeeping).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F, types as T

from great_expectations_spark import ExpectationSuite
from great_expectations_spark.streaming import validate_stream

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


def test_stream_validates_microbatches_and_is_idempotent(spark, suite, tmp_path):
    src = str(tmp_path / "src")
    evr = str(tmp_path / "evr")
    ckpt = str(tmp_path / "ckpt")

    _write_chunk(spark, src, 0, 40, bad_role_every=4)

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q, validator = validate_stream(stream, suite, evr, ckpt)
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

    evr_df = spark.read.parquet(evr)
    n_epochs = evr_df.select("epoch").distinct().count()
    assert evr_df.count() == 3 * n_epochs

    # ---- append more data; restart from the same checkpoint: only the new
    # file is validated (committed epochs not re-offered)
    _write_chunk(spark, src, 100, 20)
    stream2 = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q2, v2 = validate_stream(stream2, suite, evr, ckpt)
    q2.awaitTermination(120)
    assert len(v2.results) == 1
    assert v2.results[0][1].results[0].result["element_count"] == 20

    evr_df2 = spark.read.parquet(evr)
    assert evr_df2.count() == 3 * (n_epochs + 1)
    # every epoch appears exactly once (idempotent per-epoch overwrite)
    dup = (
        evr_df2.groupBy("epoch", "expectation_id")
        .count().filter(F.col("count") > 1).count()
    )
    assert dup == 0


def test_validator_refuses_epoch_only_evr_layout(spark, suite, tmp_path):
    """An evr_path holding the old top-level ``epoch=`` layout is refused
    before any micro-batch is validated or written: appending the
    ``run_id=…/epoch=…`` layout beside it makes the root unreadable."""
    from great_expectations_spark.streaming import StreamingValidator

    evr = tmp_path / "evr"
    batch = spark.createDataFrame([("c0", 0, "user", "t")], SCHEMA)
    batch.write.parquet(str(evr / "epoch=0"))
    validator = StreamingValidator(suite, str(evr))
    with pytest.raises(ValueError, match="epoch="):
        validator(batch, 1)
    assert validator.results == []
    assert sorted(p.name for p in evr.iterdir()) == ["epoch=0"]


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
