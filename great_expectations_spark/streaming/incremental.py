"""foreachBatch incremental suite validation.

Design (SURVEY.md §2.10): a streaming read (file source / Kafka / Iceberg
incremental scan) is validated micro-batch by micro-batch with the SAME
planner + bundled-agg runner the batch path uses — ``foreachBatch`` hands us
a plain DataFrame, so nothing is reimplemented. Each micro-batch appends:

- EVR rows ``(run_id, partition_id=epoch-<n>, suite_hash, expectation_id,
  expectation_type, success, counts, observed_value)`` to ``evr_path`` —
  the ``checkpoint.EVR_ROW_SCHEMA`` shape (whole-suite rows, segment
  columns NULL), mergeable with batch-checkpoint output; ``run_id`` is the
  caller-supplied name or a per-validator UUID (Spark's query id is not
  known until ``start()``, after ``foreachBatch`` may already have fired);
- optional violation rows via the runner's violations sink.

Exactly-once bookkeeping rides on Spark's own streaming checkpoint
(``checkpointLocation``): on restart, committed epochs are not re-offered to
``foreachBatch``. EVR appends are idempotent per (run_id, epoch_id) —
re-run epochs overwrite their own ``run_id=…/epoch=…`` partition directory,
so replays after a crash between write and commit don't double-count, and
two queries sharing one ``evr_path`` never clobber each other's epochs.

At scale: per-micro-batch aggregation is a narrow map-side pass over only
the new files (file-source maxFilesPerTrigger) or the new snapshot (Iceberg
``stream-from-timestamp``); no global state is kept, so watermarks are not
needed — suite metrics are per-epoch by construction, and cross-epoch
rollups happen at read time over the EVR table (counts add, per §4.2.5
mergeability).
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, functions as F

from great_expectations_spark.checkpoint import (
    EVR_ROW_SCHEMA,
    check_partitioned_layout,
    suite_hash,
    suite_result_rows,
)
from great_expectations_spark.result import ExpectationSuiteValidationResult
from great_expectations_spark.runner import SuiteRunner
from great_expectations_spark.suite import ExpectationSuite


class StreamingValidator:
    """Wraps a SuiteRunner as a ``foreachBatch`` callable.

    Parameters mirror :class:`SuiteRunner`; ``evr_path`` receives one small
    parquet append per micro-batch, partitioned by epoch for idempotent
    replay.
    """

    def __init__(
        self,
        suite: ExpectationSuite,
        evr_path: str,
        runner_kwargs: dict[str, Any] | None = None,
        on_result: Callable[[int, ExpectationSuiteValidationResult], None] | None = None,
        run_id: str | None = None,
    ) -> None:
        import uuid

        self.suite = suite
        self.evr_path = evr_path
        self.runner_kwargs = runner_kwargs or {}
        self.on_result = on_result
        # a stable-per-validator id, fixed BEFORE start() (the Spark query id
        # only exists after start, racing foreachBatch); callers wanting
        # resume-stable identity pass an explicit run_id / query name
        self.run_id = run_id or f"stream-{uuid.uuid4().hex[:12]}"
        self.results: list[tuple[int, ExpectationSuiteValidationResult]] = []
        self._layout_checked = False

    def _check_layout(self, spark) -> None:
        """One-time guard: refuse to append the ``run_id=…/epoch=…`` layout
        into a path already holding the pre-v2 ``epoch=…``-only layout
        (run_id as a data column) — mixing them makes the whole EVR path
        unreadable. Migrate by rewriting old files under
        ``run_id=<their run_id>/epoch=<n>/`` or pointing at a fresh path."""
        if self._layout_checked:
            return
        self._layout_checked = True
        check_partitioned_layout(
            spark, self.evr_path, stale_prefix="epoch",
            expected="run_id=<id>/epoch=<n>/",
        )

    # foreachBatch signature: (DataFrame, epoch_id)
    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        self._check_layout(spark)
        runner = SuiteRunner(spark, **self.runner_kwargs)
        result = runner.validate(batch_df, self.suite)
        shash = suite_hash(self.suite)
        rows = [
            (self.run_id, f"epoch={epoch_id}", shash, None, *row)
            for row in suite_result_rows(self.suite, result)
        ]
        # dynamic partition overwrite of THIS query's THIS epoch's directory
        # only (run_id=…/epoch=…) → idempotent under foreachBatch replay and
        # clobber-free across queries sharing one evr_path
        (
            spark.createDataFrame(rows, EVR_ROW_SCHEMA)
            .withColumn("epoch", F.lit(int(epoch_id)))
            .coalesce(1)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("run_id", "epoch")
            .parquet(self.evr_path)
        )
        self.results.append((int(epoch_id), result))
        if self.on_result is not None:
            self.on_result(int(epoch_id), result)


def validate_stream(
    stream_df: DataFrame,
    suite: ExpectationSuite,
    evr_path: str,
    checkpoint_location: str,
    runner_kwargs: dict[str, Any] | None = None,
    available_now: bool = True,
    run_id: str | None = None,
):
    """Attach suite validation to a streaming DataFrame.

    Returns the started ``StreamingQuery``; with ``available_now`` (default)
    it drains everything currently available and stops — the incremental
    batch-append pattern. Pass ``available_now=False`` for a continuous
    micro-batch trigger.
    """
    validator = StreamingValidator(suite, evr_path, runner_kwargs, run_id=run_id)
    writer = (
        stream_df.writeStream.foreachBatch(validator)
        .option("checkpointLocation", checkpoint_location)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start(), validator
