"""foreachBatch incremental suite validation.

Design (SURVEY.md §2.10): a streaming read (file source / Kafka / Iceberg
incremental scan) is validated micro-batch by micro-batch with the SAME
planner + bundled-agg runner the batch path uses — ``foreachBatch`` hands us
a plain DataFrame, so nothing is reimplemented. Each micro-batch is one
checkpoint partition: :meth:`Checkpoint.run_partition
<great_expectations_spark.checkpoint.Checkpoint.run_partition>` validates it
under the partition id ``<run_id>/epoch=<n>`` and commits it like any
partition of ``Checkpoint.run`` — violation rows to the checkpoint's
violations sink, whole-suite EVR rows as one file in its EVR store, then the
manifest record that commits them, all under one commit id. Stream and
batch rows therefore share one manifest, one EVR store and one merge view
(``Checkpoint.merged_map_verdicts``).

Exactly-once bookkeeping rides on Spark's own streaming checkpoint
(``checkpointLocation``): on restart, committed epochs are not re-offered to
``foreachBatch``. An epoch Spark does replay counts once: if its manifest
record was committed, the replay is skipped; if the write was torn, the
replay re-validates and the orphan rows, whose commit id the manifest never
named, stay out of every reader. ``run_id`` is the caller-supplied name or a
per-validator UUID (Spark's query id is not known until ``start()``, after
``foreachBatch`` may already have fired); a restart replays an epoch
idempotently only under the ``run_id`` of the first start. The run id in
the partition id keeps two queries that share a store from skipping each
other's epochs.

At scale: per-micro-batch aggregation is a narrow map-side pass over only
the new files (file-source maxFilesPerTrigger) or the new snapshot (Iceberg
``stream-from-timestamp``); no global state is kept, so watermarks are not
needed — suite metrics are per-epoch by construction, and cross-epoch
rollups happen at read time over the EVR store (counts add, per §4.2.5
mergeability). The commit adds no Spark job to the suite's own: the replay
lookup reads only its epoch's directory of the manifest log on the driver,
so it costs the same however old the stream is, and the EVR file and the
manifest record are two small files written through Hadoop's
``FileSystem``.
"""

from __future__ import annotations

import uuid
from typing import Callable

from pyspark.sql import DataFrame

from great_expectations_spark.checkpoint import Checkpoint
from great_expectations_spark.result import ExpectationSuiteValidationResult
from great_expectations_spark.suite import ExpectationSuite


class StreamingValidator:
    """A ``foreachBatch`` callable committing each micro-batch through
    ``checkpoint`` (which owns the manifest, EVR and violations paths and the
    :class:`SuiteRunner` options). ``results`` and ``on_result`` get the
    suite result of every micro-batch that was validated; a replayed epoch
    the manifest already commits is skipped and reported to neither."""

    def __init__(
        self,
        suite: ExpectationSuite,
        checkpoint: Checkpoint,
        on_result: Callable[[int, ExpectationSuiteValidationResult], None] | None = None,
        run_id: str | None = None,
    ) -> None:
        self.suite = suite
        self.checkpoint = checkpoint
        self.on_result = on_result
        # a stable-per-validator id, fixed BEFORE start() (the Spark query id
        # only exists after start, racing foreachBatch); callers wanting
        # resume-stable identity pass an explicit run_id / query name
        self.run_id = run_id or f"stream-{uuid.uuid4().hex[:12]}"
        self.results: list[tuple[int, ExpectationSuiteValidationResult]] = []

    # foreachBatch signature: (DataFrame, epoch_id)
    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        record = self.checkpoint.run_partition(
            batch_df, self.suite, self.run_id, f"{self.run_id}/epoch={epoch_id}"
        )
        if record.result is None:  # skipped: this epoch is already committed
            return
        self.results.append((int(epoch_id), record.result))
        if self.on_result is not None:
            self.on_result(int(epoch_id), record.result)


def validate_stream(
    stream_df: DataFrame,
    suite: ExpectationSuite,
    checkpoint: Checkpoint,
    checkpoint_location: str,
    available_now: bool = True,
    run_id: str | None = None,
):
    """Attach suite validation to a streaming DataFrame, committing every
    micro-batch through ``checkpoint``.

    Returns the started ``StreamingQuery`` and its
    :class:`StreamingValidator`; with ``available_now`` (default) it drains
    everything currently available and stops — the incremental batch-append
    pattern. Pass ``available_now=False`` for a continuous micro-batch
    trigger.
    """
    validator = StreamingValidator(suite, checkpoint, run_id=run_id)
    writer = (
        stream_df.writeStream.foreachBatch(validator)
        .option("checkpointLocation", checkpoint_location)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start(), validator
