"""Resumable checkpointed validation runs (SURVEY.md §7.2 M8).

The reference's ``Checkpoint`` (great_expectations/checkpoint/checkpoint.py,
≈1.5k LoC, unverified per SURVEY.md §0) is a batch-run config object: it
resolves (batch_request × suite) pairs and stores one validation result per
batch. Our engine lifts that to the north_rule contract:

- the input table is validated **per partition** (an Iceberg partition value
  or, in the sandbox, a distinct value of a partition column of a
  dir-partitioned parquet table — Catalyst prunes the scan to one partition
  per run unit);
- each partition attempt draws one ``commit_id`` before it validates and
  writes, in order, its violations under
  ``violations_path/partition_id=<pid>/commit_id=<cid>/``, its EVR rows as
  JSON lines in ``evr_path/<suite_hash>/<pid>/<cid>.json`` and its
  **manifest record** (:data:`MANIFEST_SCHEMA`) as
  ``manifest_path/<suite_hash>/<pid>/<cid>.json`` (keys URL-quoted), under
  a dot-prefixed temp name (Hadoop ``FileSystem.create(overwrite=False)``)
  then renamed: **the rename is the commit point**;
- readers list the manifest log on the driver and keep the latest
  ``validated`` record per ``(suite_hash, partition_id)``: no Spark job
  finds what is committed, a committed partition is **skipped** on re-run,
  and no reader opens a torn attempt's files. A lookup lists only its own
  key's directory: one partition's (a streaming micro-batch) or one suite's
  (a run's resume diff);
- every EVR row is the :class:`~great_expectations_spark.result.Verdict` a
  check was judged by, as :func:`~great_expectations_spark.segmented.store_row`
  builds every ``validate_by_group`` row, in every mode: a ``result_format``
  that shows no counts (BOOLEAN_ONLY) still stores them;
- suite-level statistics are re-derivable by **merging** the per-partition
  counters (counts add; ``mostly`` re-evaluated on merged counts) — see
  :func:`merge_map_counts`. This mirrors the reference's
  AGGREGATE_FN partial → finalize split lifted to partition granularity
  (SURVEY.md §4.2 item 5).

Determinism: verdicts use no unseeded randomness; the manifest log is the
only state, so kill/resume re-runs at most the one in-flight partition. On
an object store rename is not atomic (S3 copies, then deletes): a commit
there needs a create-if-absent of the final name (a conditional put). A
reader opens each record of its key, 2-3 ms each through py4j on a local
disk, so past ~10k records under one suite (a run's resume diff, a merge)
a read takes tens of seconds and the log needs compaction into one
snapshot file, as Delta's checkpoints do; none is built.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import re
import time
import urllib.parse
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
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
from great_expectations_spark.segmented import _validate_rows, store_row
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
#: store of both run modes, each row built by ``segmented.store_row``. Counts
#: add across partitions; observed_value is kept for aggregate expectations,
#: whose verdicts are reported per partition. A whole-suite row (whole-partition
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

MERGED_SCHEMA = StructType(
    [
        StructField("suite_hash", StringType()),
        StructField("segment_col", StringType()),
        StructField("segment", StringType()),
        StructField("expectation_id", StringType()),
        StructField("expectation_type", StringType()),
        StructField("element_count", LongType()),
        StructField("missing_count", LongType()),
        StructField("unexpected_count", LongType()),
        StructField("all_partitions_success", BooleanType()),
    ]
)


def _fs(spark: SparkSession, path: str):
    """The Hadoop ``FileSystem`` holding ``path``, and the ``Path``."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


def check_partitioned_layout(spark: SparkSession, path: str) -> bool | None:
    """Refuse a violations root in an earlier, shallower layout (top-level
    ``expectation=`` dirs, or ``partition_id=<pid>/expectation=<type>/``):
    mixing depths makes the whole root unreadable ("conflicting directory
    structures"). One layout writes a root, so its first ``partition_id=``
    dir tells which. Raises ValueError naming the path. Returns whether the
    root's rows carry a segmented run's ``group`` column, from the Parquet
    footer of its first data file (no Spark job); None for a root without
    rows, and FS quirks never block."""
    try:
        fs, p = _fs(spark, path)

        def ls(d, prefix: str = "") -> list:
            return [st.getPath() for st in fs.listStatus(d)
                    if st.getPath().getName().startswith(prefix)]

        top = ls(p) if fs.exists(p) else []
        pid_dirs = [q for q in top if q.getName().startswith("partition_id=")]
        under = ls(pid_dirs[0]) if pid_dirs else []
        for stale, names in (("top-level expectation=", top),
                             ("partition_id=<pid>/expectation=<type>/", under)):
            if any(q.getName().startswith("expectation=") for q in names):
                raise ValueError(
                    f"{path!r} holds a stale {stale} partition layout; this "
                    "sink now writes partition_id=<pid>/commit_id=<cid>/"
                    "expectation=<type>/. "
                    "Use a new path or migrate the old files first."
                )
        first = next((f for pid in pid_dirs for cid in ls(pid, "commit_id=")
                      for e in ls(cid, "expectation=") for f in ls(e)
                      if not f.getName().startswith(("_", "."))), None)
        if first is None:
            return None
        parquet = spark._jvm.org.apache.parquet.hadoop
        reader = parquet.ParquetFileReader.open(
            parquet.util.HadoopInputFile.fromPath(
                first, spark.sparkContext._jsc.hadoopConfiguration()))
        try:
            return reader.getFileMetaData().getSchema().containsField("group")
        finally:
            reader.close()
    except ValueError:
        raise
    except Exception:  # pragma: no cover - FS quirks never block validation
        return None


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
    manifest_path : dir of the manifest log, one JSON record per commit
    evr_path : optional dir of per-attempt JSON-lines files of
        :data:`EVR_ROW_SCHEMA` counter rows (the mergeable metrics store)
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

    # ----------------------------------------------------------------- log io
    # Both logs lay out one attempt's file (EVR rows, manifest record) as
    # ``<root>/<suite_hash>/<pid>/<cid>.json``, each key URL-quoted into one
    # path segment, so a lookup lists only its own key's directory.
    @staticmethod
    def _key_path(root: str, *key: str) -> str:
        return "/".join([root, *(urllib.parse.quote(k, safe="") for k in key)])

    def _check_log(self, root: str, role: str):
        """The ``FileSystem`` of the log at ``root``; a root in an older
        layout is refused, naming the path. Its top level holds only suite
        hash dirs, where a parquet store holds files and a streaming root
        ``k=v`` dirs (a quoted key holds no ``=``)."""
        fs, p = _fs(self.spark, root)
        for st in fs.listStatus(p) if fs.exists(p) else []:
            name = st.getPath().getName()
            if not name.startswith(".") and (not st.isDirectory() or "=" in name):
                raise ValueError(
                    f"{role} {root!r} holds no commit log but parquet rows "
                    "without a commit id, suite hash and segment (or a "
                    f"streaming run_id=/epoch= root); use a new {role}")
        return fs

    def _log(self, root: str, role: str, *key: str | None):
        """The log at ``root``: its ``FileSystem`` and ``{commit id: file
        Path}`` of the records under ``key`` (a suite hash, then a
        partition; None for all), skipping temp and checksum files."""
        fs = self._check_log(root, role)
        key = tuple(k for k in key if k is not None)
        # a glob lists on the JVM side; the root's own metacharacters are
        # escaped, and a quoted key holds none
        literal = re.sub(r"([\\*?\[\]{}])", r"\\\1", self._key_path(root, *key))
        pattern = "/".join([literal, *["*"] * (2 - len(key)), "*.json"])
        files = {}
        for st in fs.globStatus(
                self.spark._jvm.org.apache.hadoop.fs.Path(pattern)) or []:
            file = st.getPath()
            if not file.getName().startswith("."):
                files[file.getName()[:-len(".json")]] = file
        return fs, files

    def _read(self, fs, file, schema: StructType) -> list[dict]:
        """The JSON-lines records of one log file, as dicts of ``schema``'s
        fields; a record that fails to parse raises, naming the file."""
        stream = fs.open(file)
        try:
            data = bytes(stream.readAllBytes())
        finally:
            stream.close()
        try:
            return [{f: rec[f] for f in schema.fieldNames()}
                    for rec in map(json.loads, data.decode().splitlines())]
        except (ValueError, KeyError, TypeError) as e:
            raise ValueError(
                f"unreadable commit record {file.toString()!r}: {e!r}") from e

    def _write(self, path: str, records: list[dict]) -> None:
        """Write ``records`` as JSON lines to a dot-prefixed temp file, then
        rename it to ``path``."""
        fs, final = _fs(self.spark, path)
        tmp = self.spark._jvm.org.apache.hadoop.fs.Path(
            final.getParent(), f".{final.getName()}.tmp")
        out = fs.create(tmp, False)
        try:
            out.write("".join(json.dumps(r) + "\n" for r in records).encode())
        finally:
            out.close()
        if not fs.rename(tmp, final):
            raise OSError(f"could not rename {tmp.toString()!r} to {path!r}")

    def _commit(self, record: dict[str, Any]) -> None:
        """The commit point: the manifest record renamed into the log."""
        record = dict(record, finished_ts=datetime.datetime.now().isoformat())
        self._write(self._key_path(
            self.manifest_path, *(record[k] for k in (
                "suite_hash", "partition_id", "commit_id"))) + ".json", [record])

    def _committed(self, shash: str | None = None, pid: str | None = None,
                   store: dict | None = None) -> list[dict]:
        """The latest ``validated`` manifest record per (suite hash,
        partition) — so no suite sharing the log hides another's — optionally
        pinned to one suite hash, then one partition (only their directory of
        the log is listed), and to the commit ids in ``store``. A record
        without ``finished_ts`` (an external tool's) sorts first."""
        fs, files = self._log(self.manifest_path, "manifest_path", shash, pid)
        records = [rec for file in files.values()
                   for rec in self._read(fs, file, MANIFEST_SCHEMA)]
        latest: dict[tuple[str, str], dict] = {}
        for rec in sorted(records, key=lambda r: (r["finished_ts"] or "",
                                                  r["commit_id"] or "")):
            if (rec["status"] == "validated" and shash in (None, rec["suite_hash"])
                    and (store is None or rec["commit_id"] in store)):
                latest[(rec["suite_hash"], rec["partition_id"])] = rec
        return list(latest.values())

    # ---------------------------------------------------------------- readers
    def read_manifest(self) -> DataFrame:
        """The committed manifest records as a :data:`MANIFEST_SCHEMA` frame."""
        return self.spark.createDataFrame([
            dict(r, finished_ts=r["finished_ts"] and
                 datetime.datetime.fromisoformat(r["finished_ts"]))
            for r in self._committed()], MANIFEST_SCHEMA)

    def completed_partitions(self, shash: str) -> dict[str, bool | None]:
        """{partition_id: recorded suite success} for every partition the
        manifest commits under this suite hash. A NULL success (an external
        tool's record) stays ``None``, which never fails a resumed run."""
        return {r["partition_id"]: r["success"] for r in self._committed(shash)}

    def committed_evrs(self, suite_hash: str | None = None) -> list[dict]:
        """The committed :data:`EVR_ROW_SCHEMA` rows as dicts: per (suite hash,
        partition), the latest validated commit AMONG THOSE IN THIS STORE, so
        a manifest shared by stores never reads one down to another's."""
        if self.evr_path is None:
            raise ValueError("Checkpoint was created without evr_path")
        fs, files = self._log(self.evr_path, "evr_path", suite_hash)
        return [row for rec in self._committed(suite_hash, store=files)
                for row in self._read(fs, files[rec["commit_id"]],
                                      EVR_ROW_SCHEMA)]

    def read_violations(self, suite_hash: str | None = None) -> DataFrame:
        """The violation rows of committed attempts only, read with the root
        as ``basePath``: a resumed partition's rows count once.
        ``partition_id`` and ``commit_id`` come back as the strings written,
        not as Spark's inferred partition types."""
        if self.violations_path is None:
            raise ValueError("Checkpoint was created without violations_path")
        fs, _ = _fs(self.spark, self.violations_path)
        dirs = [d for d in (self._attempt_dir(r["partition_id"], r["commit_id"])
                            for r in self._committed(suite_hash))
                # a passing attempt writes no sink dir
                if fs.exists(self.spark._jvm.org.apache.hadoop.fs.Path(d))]
        if not dirs:
            return self.spark.createDataFrame(
                [], "partition_id string, commit_id string")
        reader = self.spark.read.option("basePath", self.violations_path)
        return reader.schema(StructType([
            StructField(f.name, StringType()) if f.name in (
                "partition_id", "commit_id") else f
            for f in reader.parquet(*dirs).schema
        ])).parquet(*dirs)

    def _attempt_dir(self, pid: str, commit_id: str) -> str:
        return (f"{self.violations_path}/partition_id="
                f"{urllib.parse.quote(pid, safe='')}/commit_id={commit_id}")

    # ------------------------------------------------------------------- run
    def _check_stores(self, segment_col: str | None) -> None:
        """Refuse stores this run's rows cannot be read back from, naming
        the path, before any partition is validated."""
        if self.violations_path is not None:
            grouped = check_partitioned_layout(self.spark, self.violations_path)
            # segmented violation rows lead with a `group` column: one root
            # holding both row shapes reads back null-filled
            if grouped is not None and grouped != (segment_col is not None):
                held = "segmented" if segment_col is None else "whole-partition"
                raise ValueError(
                    f"violations_path {self.violations_path!r} holds "
                    f"{held} violation rows; segmented and whole-partition "
                    "runs need separate violations paths"
                )
        if self.evr_path:
            self._check_log(self.evr_path, "evr_path")

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
        ``partition_col``, observed by one no-output scan of that column
        (prunable): one job, where a ``distinct`` runs two under AQE.

        ``max_concurrent_partitions`` > 1 validates that many partitions as
        concurrent Spark job sets (thread pool) — small partitions rarely
        saturate the cluster alone, so overlapping them fills the scheduler.
        Each attempt writes only files of its own commit id.

        ``segment_col`` evaluates the suite once per distinct segment value
        WITHIN each partition (the segmented executor of
        :func:`~great_expectations_spark.segmented.validate_by_group`: one
        bundled groupBy per partition, not one scan per segment). Both modes
        write the same :data:`EVR_ROW_SCHEMA` rows and manifest commit,
        under :func:`suite_hash` ``(suite, segment_col)``;
        :meth:`merged_map_verdicts` reads both back.
        """
        self._check_stores(segment_col)
        shash = suite_hash(suite, segment_col)
        done = self.completed_partitions(shash)
        if partition_values is None:
            seen = Observation()
            df.select(partition_col).observe(
                seen, F.collect_set(partition_col).alias("values"),
                F.max(F.col(partition_col).isNull()).alias("null"),
            ).write.format("noop").mode("overwrite").save()
            if seen.get["null"]:
                raise ValueError(f"partition_col {partition_col!r} holds "
                                 "NULLs, which no partition filter matches")
            partition_values = sorted(seen.get["values"])

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
        ``(suite hash, partition_id)``, else one validated attempt under a
        fresh commit id. This is the commit step of a streaming micro-batch
        (:class:`~great_expectations_spark.streaming.StreamingValidator`);
        the suite runs in ``df``'s own session, so a query check's view is
        registered where foreachBatch's cloned session reads it."""
        self._check_stores(None)
        done = self._committed(suite_hash(suite), partition_id)
        if done:
            return PartitionRunRecord(
                partition_id, "skipped", success=done[0]["success"])
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
        """Validate one partition's frame and commit it under one fresh
        commit id: violations, then the EVR file, then the manifest record."""
        t0 = time.monotonic()
        commit_id = uuid.uuid4().hex
        # each attempt's violations go to their OWN Hive-style subdirectory:
        # concurrent workers never share a parquet root, and a torn attempt's
        # rows stay apart from its resume's
        vpath = self.violations_path and self._attempt_dir(pid, commit_id)

        # every store row comes from the verdict its check was judged by
        # (segmented.store_row), never from its EVR's result dict: a
        # BOOLEAN_ONLY check commits the counts it measured
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
            # run: the whole suite still runs (a row-count floor fails), as
            # whole-suite rows (segment_col NULL) that never merge into a
            # genuine NULL segment.
            result = SuiteRunner(
                pdf.sparkSession, violations_path=vpath, **self.runner_kwargs
            ).validate(pdf, suite)
            rows = [store_row(None, r.expectation_config["id"],
                              r.expectation_config["expectation_type"],
                              r.verdict) for r in result.results]
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
        if self.evr_path:
            self._write(self._key_path(
                self.evr_path, shash, pid, commit_id) + ".json", [
                dict(zip(EVR_ROW_SCHEMA.fieldNames(),
                         (run_id, pid, commit_id, shash, row_segment_col, *r)))
                for r in rows
            ])
        self._commit({
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
    def merged_map_verdicts(self, suite_hash: str | None = None) -> DataFrame:
        """Suite-level merged counters per ``(suite_hash, segment_col,
        segment, expectation_id)`` of the committed EVR rows, ordered by that
        key (NULLs first) — counts add across partitions (SURVEY.md §4.2
        item 5), so a resumed multi-partition run re-derives the numbers of a
        single whole-table run (or ``validate_by_group`` for segmented rows).
        ``suite_hash`` pins one run identity.

        Exactness caveat (inherent to per-partition validation, not to the
        merge): map/aggregate counters add exactly; uniqueness and window
        (increasing/decreasing) counters add exactly ONLY when the
        checkpoint's partition column does not split a key group — a
        duplicate pair or a lag window straddling two partitions is counted
        per partition."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        groups: dict[tuple, list[dict]] = {}
        for r in self.committed_evrs(suite_hash):
            key = tuple(r[k] for k in (*MERGE_KEYS, "expectation_type"))
            groups.setdefault(key, []).append(r)
        counts = ("element_count", "missing_count", "unexpected_count")
        merged = [
            dict(zip(MERGED_SCHEMA.fieldNames(), (
                *key, *(sum(r[c] for r in rs) for c in counts),
                all(r["success"] for r in rs))))
            for key, rs in sorted(groups.items(), key=lambda kv: [
                (v is not None, v) for v in kv[0]])
        ]
        # an Arrow table becomes a local relation: collecting it runs no job
        return self.spark.createDataFrame(pa.Table.from_pylist(
            merged, schema=to_arrow_schema(MERGED_SCHEMA)), MERGED_SCHEMA)
