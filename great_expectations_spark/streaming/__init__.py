"""Structured-Streaming incremental validation.

The reference has NO streaming support (SURVEY.md §2.10 — its Checkpoint is
a batch-run config, great_expectations/checkpoint/checkpoint.py). This module
is the post-v1 extension the survey plans: ``foreachBatch`` validation of
appended micro-batches (e.g. Iceberg snapshot appends / file drops), each
committed as one checkpoint partition, so batch and streaming results land
in one manifest, one EVR store and one merge view.
"""

from great_expectations_spark.streaming.dedup import streaming_exact_dedup
from great_expectations_spark.streaming.incremental import (
    StreamingValidator,
    validate_stream,
)

__all__ = ["StreamingValidator", "validate_stream", "streaming_exact_dedup"]
