"""The workloads: the north-star suite through the three executor paths users
run. Each is a closed loop of one client issuing the next operation when the
previous one returns.

A workload names its input table (``table``, registered in the current
session by ``make_context``), runs one operation (``op``, the timed part),
and checks the operation's output against the oracle and the warm-up
operation (``check``, untimed).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass
from typing import Any

import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession, functions as F

from perfbench import oracle
from perfbench.inputs import InputCache, tools_dim
from perfbench.trace import Tracer

SUITE_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "north_star.json")
INDEX_COLS = ["conv_id", "turn_idx"]

#: input sizes for a 4-core host: a 10 s run holds a few whole-table
#: operations, and a checkpoint run (JVM start, warm-up, two measured
#: operations) stays near a minute (see CHANGES.md)
WHOLE_ROWS = 300_000
WHOLE_BUCKETS = 4
CKPT_ROWS = 20_000
CKPT_PARTS = 1


def load_suite() -> tuple[dict[str, Any], Any]:
    from great_expectations_spark import ExpectationSuite

    with open(SUITE_PATH) as f:
        text = f.read()
    return json.loads(text), ExpectationSuite.from_json(text)


@dataclass
class Context:
    spark: SparkSession
    df: DataFrame
    dim: DataFrame
    suite_json: dict[str, Any]
    suite: Any
    expected: dict[int, oracle.Verdict]
    store_root: str
    reference: Any = None
    op_count: int = 0


def _verdicts_by_index(result, suite) -> list[tuple]:
    by_id = {r.expectation_config.get("id"): r for r in result.results}
    out = []
    for i, cfg in enumerate(suite.expectations):
        r = by_id.get(cfg.id, result.results[i])
        res = r.result or {}
        out.append((bool(r.success), res.get("element_count"), res.get("unexpected_count")))
    return out


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(base, n))
    return files, size


class Workload:
    name: str
    rows: int
    #: discarded operations before measuring: the first fills Spark's code-gen
    #: cache, the rest take the steepest part of the JIT warm-up, which spans
    #: more short operations than long ones (a whole-table operation's CPU
    #: time still falls by a sixth from the 4th to the 6th, and by a few
    #: percent after). A count, not a time, so that every run measures from
    #: the same point
    warmup_ops: int = 1

    def table(self, spark: SparkSession, cache: InputCache, seed: int) -> DataFrame:
        raise NotImplementedError

    def frame(self, df: DataFrame) -> DataFrame:
        return df.withColumn("__text_len", F.length("text"))

    def op(self, ctx: Context, tracer: Tracer) -> Any:
        raise NotImplementedError

    def check(self, ctx: Context, out: Any) -> list[str]:
        raise NotImplementedError

    def phases(self, ctx: Context, out: Any) -> dict[str, float]:
        """Untraced measurements of one operation beside its wall time."""
        return {}

    def layer_extra(self, ctx: Context, out: Any) -> dict[str, float]:
        return {}

    def release(self, ctx: Context, out: Any) -> None:
        pass


def _check_reference(ctx: Context, label: str, got: Any, problems: list[str]) -> None:
    """The first checked operation (the warm-up) is every later one's reference."""
    if ctx.reference is None:
        ctx.reference = got
    else:
        oracle.compare(label, got, ctx.reference, problems)


class SuiteWhole(Workload):
    name = "suite_whole"
    rows = WHOLE_ROWS
    warmup_ops = 5

    def table(self, spark, cache, seed):
        return cache.bucketed(spark, seed, WHOLE_ROWS, WHOLE_BUCKETS)

    def op(self, ctx, tracer):
        from great_expectations_spark import SuiteRunner

        runner = SuiteRunner(ctx.spark, tables={"tools": ctx.dim},
                             unexpected_index_column_names=INDEX_COLS)
        return runner.validate(ctx.df, ctx.suite)

    def check(self, ctx, out):
        problems: list[str] = []
        got = _verdicts_by_index(out, ctx.suite)
        for i, want in ctx.expected.items():
            oracle.compare(f"expectation {i} vs oracle", got[i], want, problems)
        _check_reference(ctx, "verdicts vs warm-up", got, problems)
        return problems


def _segment_sums(rows: list) -> dict[str, list[tuple[int, int]]]:
    """Per expectation type, the (element_count, unexpected_count) sums over
    segments of each same-type expectation. The k-th row of a type within a
    segment is the k-th expectation of that type in suite order; the sums are
    returned sorted so same-type expectations compare as a multiset."""
    sums: dict[tuple[str, int], list[int]] = {}
    seen: dict[tuple[Any, str], int] = {}
    for r in rows:
        key = (r["group"], r["expectation_type"])
        k = seen[key] = seen.get(key, -1) + 1
        acc = sums.setdefault((r["expectation_type"], k), [0, 0])
        acc[0] += int(r["element_count"] or 0)
        acc[1] += int(r["unexpected_count"] or 0)
    by_type: dict[str, list[tuple[int, int]]] = {}
    for (kind, _k), (ec, uc) in sorted(sums.items()):
        by_type.setdefault(kind, []).append((ec, uc))
    return {kind: sorted(v) for kind, v in by_type.items()}


class SegmentedRole(Workload):
    """``validate_by_group`` by role on the ``suite_whole`` table. The oracle
    counts are the whole-table counts ``suite_whole`` is checked against, so
    per-type segment sums are compared with them."""

    name = "segmented_role"
    rows = WHOLE_ROWS
    warmup_ops = 5

    def table(self, spark, cache, seed):
        return cache.bucketed(spark, seed, WHOLE_ROWS, WHOLE_BUCKETS)

    def op(self, ctx, tracer):
        from great_expectations_spark import segmented

        return segmented.validate_by_group(ctx.df, ctx.suite, "role", strict=False).collect()

    def check(self, ctx, out):
        problems: list[str] = []
        got = _segment_sums(out)
        want: dict[str, list] = {}
        for i, (_ok, ec, uc) in ctx.expected.items():
            kind = ctx.suite_json["expectations"][i]["expectation_type"]
            if kind in got:
                want.setdefault(kind, []).append((ec, uc))
        if len(want) < 3:
            problems.append(f"too few oracle-checked kinds in segment rows: {sorted(got)}")
        for kind, w in want.items():
            oracle.compare(f"{kind} segment sums vs whole-table counts", got[kind], sorted(w), problems)
        rows = sorted(
            (str(r["group"]), r["expectation_type"], bool(r["success"]),
             r["element_count"], r["missing_count"], r["unexpected_count"])
            for r in out
        )
        _check_reference(ctx, "segment rows vs warm-up", rows, problems)
        return problems


@dataclass
class CheckpointOut:
    paths: dict[str, str]
    run: Any
    resume: Any
    merged: list
    phases: dict[str, float]


class CheckpointPartitions(Workload):
    name = "checkpoint_partitions"
    rows = CKPT_ROWS

    def table(self, spark, cache, seed):
        return cache.partitioned(spark, seed, CKPT_ROWS, CKPT_PARTS)

    def op(self, ctx, tracer):
        from great_expectations_spark.checkpoint import Checkpoint

        ctx.op_count += 1
        base = os.path.join(ctx.store_root, f"op{ctx.op_count}")
        paths = {k: os.path.join(base, k) for k in ("manifest", "evr", "violations")}
        ckpt = Checkpoint(
            ctx.spark, paths["manifest"], paths["evr"], violations_path=paths["violations"],
            tables={"tools": ctx.dim}, unexpected_index_column_names=INDEX_COLS,
        )
        t0 = time.perf_counter()
        with tracer.span("checkpoint.run"):
            run = ckpt.run(ctx.df, ctx.suite, run_id="run", partition_col="conv_bucket")
        t1 = time.perf_counter()
        with tracer.span("checkpoint.resume"):
            resume = ckpt.run(ctx.df, ctx.suite, run_id="resume", partition_col="conv_bucket")
        t2 = time.perf_counter()
        with tracer.span("checkpoint.merge"):
            merged = ckpt.merged_map_verdicts().collect()
        t3 = time.perf_counter()
        return CheckpointOut(paths, run, resume, merged,
                             {"run_s": t1 - t0, "resume_s": t2 - t1, "merge_s": t3 - t2})

    def check(self, ctx, out):
        problems: list[str] = []
        run, n_expect = out.run, len(ctx.suite.expectations)
        oracle.compare("partitions validated", len(run.validated), CKPT_PARTS, problems)
        sums = [[0, 0] for _ in range(n_expect)]
        for rec in run.validated:
            for i, (_ok, ec, uc) in enumerate(_verdicts_by_index(rec.result, ctx.suite)):
                sums[i][0] += int(ec or 0)
                sums[i][1] += int(uc or 0)
        for i, (_ok, ec, uc) in ctx.expected.items():
            oracle.compare(f"expectation {i} partition sums vs oracle", tuple(sums[i]), (ec, uc), problems)
        # read back outside Spark, so the check adds no job between operations
        violations = ds.dataset(out.paths["violations"], format="parquet",
                                partitioning="hive").count_rows()
        oracle.compare("violation rows vs summed unexpected counts", violations,
                       sum(uc for _ec, uc in sums), problems)
        oracle.compare("resume skipped partitions", (len(out.resume.skipped), len(out.resume.validated)),
                       (CKPT_PARTS, 0), problems)
        # merge-view totals per expectation_type only: the view's grouping key
        # is not asserted, so both a per-type and a per-expectation view pass
        merged: dict[str, list[int]] = {}
        for r in out.merged:
            acc = merged.setdefault(r["expectation_type"], [0, 0])
            acc[0] += int(r["element_count"] or 0)
            acc[1] += int(r["unexpected_count"] or 0)
        want: dict[str, list[int]] = {}
        for i, (_ok, ec, uc) in ctx.expected.items():
            acc = want.setdefault(ctx.suite_json["expectations"][i]["expectation_type"], [0, 0])
            acc[0] += ec
            acc[1] += uc
        for kind, totals in want.items():
            oracle.compare(f"merged {kind} totals", merged.get(kind), totals, problems)
        verdicts = sorted(
            (rec.partition_id, tuple(_verdicts_by_index(rec.result, ctx.suite))) for rec in run.validated
        )
        _check_reference(ctx, "partition verdicts vs warm-up", verdicts, problems)
        return problems

    def phases(self, ctx, out):
        store_bytes = sum(_dir_stats(p)[1] for p in out.paths.values())
        return {**out.phases, "store_bytes_per_row": store_bytes / CKPT_ROWS}

    def layer_extra(self, ctx, out):
        stats = {k: _dir_stats(p) for k, p in out.paths.items()}
        total_bytes = sum(size for _files, size in stats.values())
        return {
            "partitions_validated": len(out.run.validated),
            "partition_s_p50": statistics.median(r.elapsed_s for r in out.run.validated),
            "files_written": sum(files for files, _size in stats.values()),
            "manifest_bytes": stats["manifest"][1],
            "evr_bytes": stats["evr"][1],
            "violations_bytes": stats["violations"][1],
            "store_bytes_per_row": total_bytes / CKPT_ROWS,
            "resume_skipped_frac": len(out.resume.skipped) / max(1, len(out.resume.records)),
        }

    def release(self, ctx, out):
        shutil.rmtree(os.path.dirname(out.paths["manifest"]), ignore_errors=True)


#: BENCHMARK.json names the workloads the benchmark gates; ``suite_whole``
#: runs on request (``--workload suite_whole``)
WORKLOADS = {w.name: w for w in (SuiteWhole(), SegmentedRole(), CheckpointPartitions())}


def make_context(workload: Workload, spark: SparkSession, cache: InputCache, seed: int,
                 store_root: str, expected: dict[int, oracle.Verdict] | None = None) -> Context:
    """Register the workload's input in ``spark`` (the set-up's registration step)."""
    suite_json, suite = load_suite()
    df = workload.frame(workload.table(spark, cache, seed))
    return Context(spark=spark, df=df, dim=tools_dim(spark), suite_json=suite_json,
                   suite=suite, expected=expected or {}, store_root=store_root)
