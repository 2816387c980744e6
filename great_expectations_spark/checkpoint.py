"""Resumable checkpointed validation runs (SURVEY.md §7.2 M8).

The reference's ``Checkpoint`` (great_expectations/checkpoint/checkpoint.py,
≈1.5k LoC, unverified per SURVEY.md §0) is a batch-run config object: it
resolves (batch_request × suite) pairs and stores one validation result per
batch. Our engine lifts that to the north_rule contract:

- the input table is validated **per partition** (an Iceberg partition value
  or, in the sandbox, a distinct value of a partition column of a
  dir-partitioned parquet table — Catalyst prunes the scan to one partition
  per run unit);
- every finished partition appends one **manifest row** with lineage +
  metrics ``(run_id, partition_id, commit_id, status, suite_hash,
  rows_scanned, violations, elapsed_s, success, finished_ts)``;
- each partition attempt draws one ``commit_id``, written on its EVR rows
  and its manifest row: only EVR rows whose commit id the manifest names
  count, so the orphans of a torn write never do;
- a re-run with the same ``(suite_hash, partition_id)`` is **skipped**
  (resume = anti-diff against the manifest, computed driver-side from a
  manifest read — the manifest is tiny: one row per partition);
- suite-level statistics are re-derivable by **merging** the per-partition
  counters (counts add; ``mostly`` re-evaluated on merged counts) — see
  :func:`merge_map_counts`. This mirrors the reference's
  AGGREGATE_FN partial → finalize split lifted to partition granularity
  (SURVEY.md §4.2 item 5).

Determinism: verdicts use no unseeded randomness (the commit id only names
an attempt); the manifest is the only state, so kill/resume at any point
re-runs at most the one in-flight partition (writes are atomic per partition:
parquet append of a 1-row DataFrame after the partition's validation
completes).
"""

from __future__ import annotations

import hashlib
import os
import threading
import time
import urllib.parse
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from great_expectations_spark.plans.planner import plan_suite
from great_expectations_spark.registry import CompiledContiguous
from great_expectations_spark.result import (
    ExpectationSuiteValidationResult,
    calc_map_success,
)
from great_expectations_spark.runner import SparkThreadPool, SuiteRunner
from great_expectations_spark.segmented import _validate_rows
from great_expectations_spark.suite import ExpectationSuite

MANIFEST_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("partition_id", StringType()),
        StructField("commit_id", StringType()),
        StructField("status", StringType()),
        StructField("suite_hash", StringType()),
        StructField("rows_scanned", LongType()),
        StructField("violations", LongType()),
        StructField("elapsed_s", DoubleType()),
        StructField("success", BooleanType()),
        StructField("finished_ts", TimestampType()),
    ]
)

#: one row per (partition × segment × expectation) — the mergeable metrics
#: store of both run modes. Counts add across partitions; observed_value is
#: kept (``str(observed)``, NULL for None) for aggregate expectations, whose
#: verdicts are reported per partition. A whole-suite row (whole-partition
#: run, or an empty partition of a segmented run) has ``segment_col`` NULL;
#: a segmented row names its column, and its ``segment`` may be a genuine
#: NULL value. Merges key on ``(suite_hash, segment_col, segment,
#: expectation_id)``, so rows of different suites, modes, segments and
#: same-type expectations never add together.
EVR_ROW_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("partition_id", StringType()),
        StructField("commit_id", StringType()),
        StructField("suite_hash", StringType()),
        StructField("segment_col", StringType()),
        StructField("segment", StringType()),
        StructField("expectation_id", StringType()),
        StructField("expectation_type", StringType()),
        StructField("success", BooleanType()),
        StructField("element_count", LongType()),
        StructField("missing_count", LongType()),
        StructField("unexpected_count", LongType()),
        StructField("observed_value", StringType()),
    ]
)

#: the merge view's grouping key
MERGE_KEYS = ["suite_hash", "segment_col", "segment", "expectation_id"]


def check_partitioned_layout(spark: SparkSession, path: str) -> None:
    """One-time guard against mixing two partition-directory depths under the
    checkpoint's violations root: appending ``partition_id=<pid>/`` dirs into
    a root that already holds top-level ``expectation=`` dirs would make the
    whole root unreadable ("conflicting directory structures"). Raises
    ValueError; FS quirks never block."""
    try:
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        if not fs.exists(p):
            return
        for st in fs.listStatus(p):
            if st.getPath().getName().startswith("expectation="):
                raise ValueError(
                    f"{path!r} holds a stale top-level expectation= "
                    "partition layout; this sink now writes "
                    "partition_id=<pid>/expectation=<type>/. "
                    "Use a new path or migrate the old files first."
                )
    except ValueError:
        raise
    except Exception:  # pragma: no cover - FS quirks never block validation
        pass


def suite_hash(suite: ExpectationSuite, segment_col: str | None = None) -> str:
    """The run identity a manifest row and its EVR rows are keyed by: the
    suite's own :attr:`~ExpectationSuite.suite_hash`, salted with the segment
    column for a segmented run — so whole-partition and segmented runs of
    one suite never cross-skip, and each merge view pins only its own rows."""
    if segment_col is None:
        return suite.suite_hash
    return hashlib.sha256(
        f"{suite.suite_hash}|segmented:{segment_col}".encode()
    ).hexdigest()[:16]


def suite_result_rows(
    suite: ExpectationSuite, result: ExpectationSuiteValidationResult
) -> list[tuple]:
    """A SuiteRunner result as whole-suite rows in the segmented executor's
    row shape ``(segment=None, expectation_id, expectation_type, success,
    element_count, missing_count, unexpected_count, observed_value)``.
    Results come back in suite order, so each row carries the USER suite's
    expectation id even where the runner rewrote a config."""
    rows = []
    for cfg, r in zip(suite, result.results):
        res = r.result or {}
        observed = res.get("observed_value")
        rows.append((
            None, cfg.id, cfg.expectation_type, bool(r.success),
            int(res.get("element_count") or 0),
            int(res.get("missing_count") or 0),
            int(res.get("unexpected_count") or 0),
            None if observed is None else str(observed),
        ))
    return rows


@dataclass
class PartitionRunRecord:
    partition_id: str
    status: str  # "validated" | "skipped" | "failed"
    #: the SuiteRunner result when the whole suite ran on the partition
    #: (whole-partition runs, and empty partitions of segmented runs)
    result: ExpectationSuiteValidationResult | None = None
    rows_scanned: int = 0
    violations: int = 0
    elapsed_s: float = 0.0
    #: segmented mode: number of segments validated in this partition
    segments: int = 0
    #: this run's verdict if validated; the manifest's verdict if skipped
    #: (None when the manifest row predates the field)
    success: bool | None = None


@dataclass
class CheckpointRunResult:
    run_id: str
    suite_hash: str
    records: list[PartitionRunRecord] = field(default_factory=list)

    @property
    def validated(self) -> list[PartitionRunRecord]:
        return [r for r in self.records if r.status == "validated"]

    @property
    def skipped(self) -> list[PartitionRunRecord]:
        return [r for r in self.records if r.status == "skipped"]

    @property
    def success(self) -> bool:
        """True only if every partition of the TABLE passed — including
        partitions skipped on resume, judged by their manifest verdict (a
        resumed run over a previously-FAILING table must not report
        success just because the failing partitions were already done)."""
        return not any(r.success is False for r in self.records)


def merge_map_counts(
    per_partition: list[dict[str, Any]], mostly: float | None = None
) -> dict[str, Any]:
    """Merge per-partition map-expectation counters into suite-level ones.

    counts add; success is re-evaluated on the merged counts with the same
    ``mostly`` rule (reference `_calc_map_expectation_success`, SURVEY.md
    §1.4). This is what makes per-partition EVRs sufficient state for a
    resumable suite-level verdict.
    """
    element_count = sum(int(p.get("element_count") or 0) for p in per_partition)
    missing_count = sum(int(p.get("missing_count") or 0) for p in per_partition)
    unexpected_count = sum(
        int(p.get("unexpected_count") or 0) for p in per_partition
    )
    return {
        "element_count": element_count,
        "missing_count": missing_count,
        "unexpected_count": unexpected_count,
        "success": calc_map_success(
            element_count, missing_count, unexpected_count, mostly
        ),
    }


class Checkpoint:
    """Named, re-runnable (table × suite) validation with a resume manifest.

    Parameters
    ----------
    spark : session
    manifest_path : parquet dir holding the manifest table (created lazily)
    evr_path : optional parquet dir for per-(partition × expectation) EVR
        counter rows (the mergeable metrics store)
    violations_path : optional violations sink forwarded to SuiteRunner
    runner_kwargs : forwarded to :class:`SuiteRunner`
    """

    def __init__(
        self,
        spark: SparkSession,
        manifest_path: str,
        evr_path: str | None = None,
        violations_path: str | None = None,
        **runner_kwargs: Any,
    ) -> None:
        self.spark = spark
        self.manifest_path = manifest_path
        self.evr_path = evr_path
        self.violations_path = violations_path
        self.runner_kwargs = runner_kwargs
        # one writer at a time for the EVR/manifest appends: concurrent
        # partitions, and streaming queries sharing this checkpoint, never
        # race a committer staging dir
        self._write_lock = threading.Lock()

    # ------------------------------------------------------------ manifest io
    def read_manifest(self) -> DataFrame:
        try:
            return self.spark.read.schema(MANIFEST_SCHEMA).parquet(
                self.manifest_path
            )
        except Exception:  # noqa: BLE001 — first run: no manifest yet
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)

    def completed_partitions(self, shash: str) -> dict[str, bool | None]:
        """{partition_id: recorded suite success} for every partition the
        manifest marks validated under this suite hash (latest row wins —
        dict-like a set for membership, plus the verdict for resume
        reporting). A NULL success column (manifest written before the
        field existed, or by an external tool) stays ``None`` — coercing
        it to False would flip the whole resumed run's verdict to failed
        even when every partition actually passed
        (``PartitionRunRecord.success`` documents None as "predates this
        field" and only ``is False`` fails the run). The manifest is tiny,
        so it is sorted in one task: one Spark job, no range shuffle."""
        rows = (
            self.read_manifest()
            .filter(
                (F.col("suite_hash") == shash)
                & (F.col("status") == "validated")
            )
            .select("partition_id", "success", "finished_ts")
            .coalesce(1)
            .sortWithinPartitions("finished_ts")
            .collect()
        )
        return {
            r["partition_id"]: (None if r["success"] is None else bool(r["success"]))
            for r in rows
        }

    def _append_manifest(self, row: dict[str, Any]) -> None:
        import datetime as _dt

        row = dict(row, finished_ts=_dt.datetime.now())
        self.spark.createDataFrame([row], MANIFEST_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(self.manifest_path)

    def _append_evrs(self, rows: list[tuple]) -> None:
        self.spark.createDataFrame(rows, EVR_ROW_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(self.evr_path)

    def _stored_columns(self, path: str) -> list[str] | None:
        """The column names of the parquet store at ``path``, or None when
        it holds no rows yet (PATH_NOT_FOUND / unable to infer schema); a
        corrupt existing store still fails loudly here."""
        try:
            return self.spark.read.parquet(path).columns
        except AnalysisException:
            return None

    # ------------------------------------------------------------------- run
    def _check_stores(self, segment_col: str | None) -> None:
        """Refuse stores this run's rows cannot be read back from, naming
        the path, before any partition is validated."""
        if self.violations_path is not None:
            # refuse to append partition_id=<pid>/expectation=… under a root
            # still holding the pre-change expectation=… top-level layout
            check_partitioned_layout(self.spark, self.violations_path)
            existing = self._stored_columns(self.violations_path)
            if existing is not None and ("group" in existing) != (
                segment_col is not None
            ):
                # segmented violation rows lead with a `group` column under
                # the same partition_id=/expectation= layout: one root
                # holding both row shapes reads back with one side's
                # columns null-filled or dropped
                held = "segmented" if segment_col is None else "whole-partition"
                raise ValueError(
                    f"violations_path {self.violations_path!r} holds "
                    f"{held} violation rows; segmented and whole-partition "
                    "runs need separate violations paths"
                )
        if self.evr_path:
            existing = self._stored_columns(self.evr_path)
            if existing is not None and "commit_id" not in existing:
                # rows without a commit id can never be matched to a
                # manifest commit: a flat store of an earlier row shape, or
                # the run_id=/epoch= root the streaming writer used to keep
                raise ValueError(
                    f"evr_path {self.evr_path!r} holds EVR rows written "
                    "before rows carried their commit id, suite hash and "
                    "segment (or a streaming run_id=/epoch= root); use a new "
                    "EVR store path"
                )

    def run(
        self,
        df: DataFrame,
        suite: ExpectationSuite,
        run_id: str,
        partition_col: str,
        partition_values: list[Any] | None = None,
        max_concurrent_partitions: int = 1,
        segment_col: str | None = None,
        segment_max_groups: int = 100_000,
    ) -> CheckpointRunResult:
        """Validate ``df`` partition-by-partition, resuming from the manifest.

        ``partition_values`` defaults to the distinct values of
        ``partition_col`` (one extra scan of that column only — prunable).

        ``max_concurrent_partitions`` > 1 validates that many partitions as
        concurrent Spark job sets (thread pool) — small partitions rarely
        saturate the cluster alone, so overlapping them fills the scheduler.
        Manifest/EVR parquet appends are serialized through a lock (one
        writer at a time avoids committer staging races); a partition's
        manifest row still commits only after its validation finished, so
        resume semantics are identical to the sequential path.

        ``segment_col`` evaluates the suite once per distinct segment value
        WITHIN each partition (the segmented executor of
        :func:`~great_expectations_spark.segmented.validate_by_group`: one
        bundled groupBy per partition, not one scan per segment). Both modes
        write the same :data:`EVR_ROW_SCHEMA` rows through the same append
        and manifest commit, under :func:`suite_hash` ``(suite,
        segment_col)``; :meth:`merged_map_verdicts` reads both back.
        """
        self._check_stores(segment_col)
        shash = suite_hash(suite, segment_col)
        done = self.completed_partitions(shash)
        if partition_values is None:
            partition_values = sorted(
                r[partition_col]
                for r in df.select(partition_col).distinct().collect()
            )

        out = CheckpointRunResult(run_id=run_id, suite_hash=shash)
        todo: list[Any] = []
        for pv in partition_values:
            if str(pv) in done:
                out.records.append(PartitionRunRecord(
                    str(pv), "skipped", success=done[str(pv)]))
            else:
                todo.append(pv)

        def run_one(pv: Any) -> PartitionRunRecord:
            # Catalyst partition-prunes this filter when partition_col is a
            # physical partition column of the source (Iceberg / dir-parquet)
            return self._validate_partition(
                df.filter(F.col(partition_col) == F.lit(pv)), suite, run_id,
                str(pv), segment_col, segment_max_groups,
            )

        if max_concurrent_partitions <= 1:
            out.records.extend(map(run_one, todo))
        else:
            # partitions run under the caller's job group and description
            with SparkThreadPool(self.spark, max_concurrent_partitions) as pool:
                out.records.extend(pool.map(run_one, todo))
        return out

    def run_partition(
        self, df: DataFrame, suite: ExpectationSuite, run_id: str,
        partition_id: str,
    ) -> PartitionRunRecord:
        """Validate ``df`` whole as the one partition ``partition_id`` and
        commit it like a partition of :meth:`run`: the ``skipped`` record
        (with the recorded verdict) when the manifest already commits
        ``(suite hash, partition_id)``, else one validation whose EVR rows
        and manifest row carry one fresh commit id. A replay of a committed
        partition is therefore skipped, and a replay after a torn write is
        re-validated while the orphan rows stay out of the merge views.

        This is the commit step of a streaming micro-batch
        (:class:`~great_expectations_spark.streaming.StreamingValidator`);
        the suite runs in ``df``'s own session, so a query check's view is
        registered where foreachBatch's cloned session reads it."""
        self._check_stores(None)
        done = self.completed_partitions(suite_hash(suite))
        if partition_id in done:
            return PartitionRunRecord(
                partition_id, "skipped", success=done[partition_id])
        return self._validate_partition(df, suite, run_id, partition_id)

    def _validate_partition(
        self,
        pdf: DataFrame,
        suite: ExpectationSuite,
        run_id: str,
        pid: str,
        segment_col: str | None = None,
        segment_max_groups: int = 100_000,
    ) -> PartitionRunRecord:
        """Validate one partition's frame and commit it: EVR rows first,
        then the manifest row, both under one fresh commit id."""
        t0 = time.monotonic()
        # Each partition's violations go to their OWN Hive-style
        # subdirectory (violations_path/partition_id=<pid>/): concurrent
        # workers never append to the same parquet root, so no two threads
        # share a _temporary committer staging dir (the manifest/EVR lock
        # does not cover this write), and reading the root rediscovers
        # partition_id as a column.
        vpath = self.violations_path
        if vpath is not None:
            vpath = os.path.join(
                vpath, f"partition_id={urllib.parse.quote(pid, safe='')}"
            )

        rows: list[tuple] = []
        if segment_col is not None:
            rows = _validate_rows(
                pdf, suite, segment_col, strict=True,
                max_groups=segment_max_groups, violations_path=vpath,
                unexpected_index_column_names=self.runner_kwargs.get(
                    "unexpected_index_column_names"
                ),
            )
        segments = len({r[0] for r in rows})
        row_segment_col = segment_col
        result = None
        if not rows:
            # A whole-partition run — or an EMPTY partition of a segmented
            # run, which yields zero segments: the whole suite still runs
            # (map kinds succeed vacuously, a row-count floor fails),
            # recorded as whole-suite rows (segment_col NULL) that can never
            # merge into a genuine NULL segment.
            result = SuiteRunner(
                pdf.sparkSession, violations_path=vpath, **self.runner_kwargs
            ).validate(pdf, suite)
            rows = suite_result_rows(suite, result)
            row_segment_col = None
        elapsed = time.monotonic() - t0

        # rows_scanned is read off checks whose element_count is their
        # segment's row count: unconditioned checks of the domain groups,
        # bar contiguity (which counts groups); a suite without one pays one
        # count of the partition
        row_counting = {
            c.cfg.id for g in plan_suite(suite).groups if not g.row_condition
            for c in g.checks if not isinstance(c, CompiledContiguous)
        }
        per_segment_ec: dict[Any, int] = {}
        violations, ok = 0, True
        for segment, eid, _type, success, ec, _miss, unexpected, _obs in rows:
            if eid in row_counting:
                # max: a check that raised reports 0
                per_segment_ec[segment] = max(per_segment_ec.get(segment, 0), ec)
            violations += unexpected
            ok = ok and success
        rows_scanned = (
            sum(per_segment_ec.values()) if row_counting else pdf.count()
        )

        shash = suite_hash(suite, segment_col)
        commit_id = uuid.uuid4().hex
        with self._write_lock:
            if self.evr_path:
                self._append_evrs([
                    (run_id, pid, commit_id, shash, row_segment_col, *r)
                    for r in rows
                ])
            self._append_manifest({
                "run_id": run_id, "partition_id": pid, "commit_id": commit_id,
                "status": "validated", "suite_hash": shash,
                "rows_scanned": rows_scanned, "violations": violations,
                "elapsed_s": elapsed, "success": ok,
            })
        return PartitionRunRecord(
            partition_id=pid, status="validated", result=result,
            rows_scanned=rows_scanned, violations=violations,
            elapsed_s=elapsed, segments=segments, success=ok,
        )

    # ------------------------------------------------------------- merge view
    def _committed_rows(
        self, evrs: DataFrame, shash: str | None = None
    ) -> DataFrame:
        """Restrict an EVR frame to MANIFEST-COMMITTED rows: per (suite hash,
        partition), the latest ``status=validated`` manifest row AMONG THE
        COMMITS PRESENT IN THIS STORE names the one ``commit_id`` whose EVRs
        count. The manifest append is the commit point (EVRs are written
        first, inside the same lock) — a process killed between the two
        appends leaves orphan EVR rows that a resumed run re-validates under
        a new commit id (the same ``run_id`` included), and summing both
        sets would double every counter for that partition.

        Keying the lookup by suite hash keeps every suite and mode that
        shares this manifest and store: the latest commit of one suite never
        hides another suite's rows on a shared partition. Intersecting with
        the store's own (suite hash, partition, commit) triples keeps a store
        whose manifest is shared with other stores from semi-joining down to
        another store's commits. ``shash`` optionally pins one suite hash.
        The join side is tiny (one row per partition and suite) and
        broadcast."""
        keys = ["suite_hash", "partition_id", "commit_id"]
        validated = self.read_manifest().filter(
            F.col("status") == "validated"
        )
        if shash is not None:
            validated = validated.filter(F.col("suite_hash") == shash)
        latest = (
            evrs.select(*keys).distinct()
            .join(validated.select(*keys, "finished_ts"), on=keys)
            .groupBy("suite_hash", "partition_id")
            .agg(F.max_by("commit_id", "finished_ts").alias("commit_id"))
        )
        return evrs.join(F.broadcast(latest), on=keys, how="left_semi")

    def merged_map_verdicts(self, suite_hash: str | None = None) -> DataFrame:
        """Suite-level merged counters per ``(suite_hash, segment_col,
        segment, expectation_id)`` from the EVR store — counts add across
        partitions (SURVEY.md §4.2 item 5), so a resumed multi-partition run
        re-derives the numbers of a single whole-table run (or of a single
        ``validate_by_group`` for segmented rows). Only manifest-committed
        rows participate (``_committed_rows``); pass
        ``suite_hash(suite, segment_col)`` (or
        ``CheckpointRunResult.suite_hash``) to pin one run identity.

        Exactness caveat (inherent to per-partition validation, not to the
        merge): map/aggregate counters add exactly; uniqueness and window
        (increasing/decreasing) counters add exactly ONLY when the
        checkpoint's partition column does not split a key group — a
        duplicate pair or a lag window straddling two partitions is counted
        per partition."""
        if self.evr_path is None:
            raise ValueError("Checkpoint was created without evr_path")
        evrs = self._committed_rows(
            self.spark.read.schema(EVR_ROW_SCHEMA).parquet(self.evr_path),
            shash=suite_hash,
        )
        return (
            evrs.groupBy(*MERGE_KEYS, "expectation_type")
            .agg(
                F.sum("element_count").alias("element_count"),
                F.sum("missing_count").alias("missing_count"),
                F.sum("unexpected_count").alias("unexpected_count"),
                F.min(F.col("success").cast("int")).cast("boolean").alias(
                    "all_partitions_success"
                ),
            )
            .orderBy(*MERGE_KEYS)
        )
