"""Checkpoint-resume equivalence at bench scale (VERDICT round-2 item 7).

Demonstrates the mergeable-partials property END TO END at the benchmark's
16M-turn scale: a validation run killed halfway through its partitions and
then RESUMED must produce byte-identical per-partition EVR counters — and
therefore identical merged suite-level verdicts — to an uninterrupted
single run. This is the north_rule's resumability contract measured at the
same scale the throughput gate uses, not just the unit-test fixture size.

Protocol
--------
1. Generate the deterministic 16M-turn transcripts table (schema.
   generate_transcripts, seed 42 — same generator as bench.py) written as
   dir-partitioned parquet on ``part = pmod(xxhash64(conv_id), 16)`` (the
   sandbox analogue of an Iceberg bucket partition; Catalyst prunes each
   checkpoint unit to its own files).
2. Run A (control): one uninterrupted Checkpoint.run over all 16
   partitions.
3. Run B (kill+resume): same suite, fresh manifest/EVR store, killed at
   partition 8's commit point (its EVR file is written, its manifest
   record is never renamed into the log); catch the kill, then re-invoke
   Checkpoint.run — the manifest must skip the completed 8 and validate
   only the remaining 8.
4. Compare: committed per-(partition × expectation) EVR rows A vs B
   (exact), merged suite-level counters A vs B (exact), and record
   timings.

Writes BENCH/RESUME_16M.md. Usage: python tools/resume_equivalence.py
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

N_TURNS = int(os.environ.get("RESUME_TURNS", "16000000"))
N_PARTS = 16
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(REPO, ".bench_cache")
WORK = os.path.join(CACHE, "resume_equivalence")


def build_suite():
    from great_expectations_spark import ExpectationSuite

    s = ExpectationSuite("resume-equivalence-16m")
    s.add("expect_column_values_to_not_be_null", column="text", mostly=0.99)
    s.add("expect_column_values_to_be_in_set", column="role",
          value_set=["user", "assistant", "system", "tool"], mostly=0.98)
    s.add("expect_column_values_to_be_between", column="turn_idx",
          min_value=0, max_value=10_000)
    s.add("expect_column_value_lengths_to_be_between", column="text",
          min_value=1, max_value=100_000, mostly=0.98)
    s.add("expect_column_mean_to_be_between", column="turn_idx",
          min_value=0.0, max_value=1000.0)
    return s


def kill_at_commit(ck, pid: str) -> None:
    """Kill the next run of ``ck`` at partition ``pid``'s commit point,
    once: a resumed run commits normally."""
    commit = ck._commit

    def commit_or_kill(record):
        if record["partition_id"] == pid:
            del ck._commit
            raise RuntimeError(f"simulated kill at partition {pid!r}")
        commit(record)

    ck._commit = commit_or_kill


def main() -> int:
    from great_expectations_spark.checkpoint import Checkpoint, suite_hash
    from great_expectations_spark.schema import generate_transcripts
    from bench import CPUS as cores, build_spark

    spark = build_spark()

    data_path = os.path.join(WORK, f"transcripts_{N_TURNS}_p{N_PARTS}")
    if not os.path.exists(os.path.join(data_path, "_SUCCESS")):
        print(f"generating {N_TURNS} turns partitioned {N_PARTS} ways …")
        t0 = time.monotonic()
        (
            generate_transcripts(spark, n_turns=N_TURNS, seed=42)
            .withColumn(
                "part", F.pmod(F.xxhash64("conv_id"), F.lit(N_PARTS))
            )
            .write.mode("overwrite")
            .partitionBy("part")
            .parquet(data_path)
        )
        print(f"  generated in {time.monotonic() - t0:.1f}s")
    df = spark.read.parquet(data_path)
    suite = build_suite()
    parts = list(range(N_PARTS))

    def fresh(tag: str) -> Checkpoint:
        root = os.path.join(WORK, tag)
        shutil.rmtree(root, ignore_errors=True)
        return Checkpoint(
            spark,
            manifest_path=os.path.join(root, "manifest"),
            evr_path=os.path.join(root, "evrs"),
        )

    # ---- run A: uninterrupted -------------------------------------------
    ck_a = fresh("runA")
    t0 = time.monotonic()
    out_a = ck_a.run(df, suite, run_id="A", partition_col="part",
                     partition_values=parts, max_concurrent_partitions=4)
    t_a = time.monotonic() - t0
    assert len(out_a.validated) == N_PARTS

    # ---- run B: kill after half, then resume ----------------------------
    ck_b = fresh("runB")
    kill_at_commit(ck_b, str(N_PARTS // 2))
    t0 = time.monotonic()
    try:
        ck_b.run(df, suite, run_id="B1", partition_col="part",
                 partition_values=parts)
        raise AssertionError("kill hook did not fire")
    except RuntimeError as e:
        assert "simulated kill" in str(e)
    t_b1 = time.monotonic() - t0
    t0 = time.monotonic()
    out_b = ck_b.run(df, suite, run_id="B2", partition_col="part",
                     partition_values=parts, max_concurrent_partitions=4)
    t_b2 = time.monotonic() - t0
    skipped = len(out_b.skipped)
    assert skipped == N_PARTS // 2, f"resume skipped {skipped}"
    assert len(out_b.validated) == N_PARTS - skipped

    # ---- compare EVR stores ---------------------------------------------
    cols = ["partition_id", "expectation_type", "expectation_id", "success",
            "element_count", "missing_count", "unexpected_count",
            "observed_value"]
    shash = suite_hash(suite)
    evr_a = {tuple(r) for r in ck_a.merged_map_verdicts(shash).collect()}
    evr_b = {tuple(r) for r in ck_b.merged_map_verdicts(shash).collect()}
    rows_a, rows_b = (
        sorted(tuple(r[c] for c in cols) for r in ck.committed_evrs())
        for ck in (ck_a, ck_b)
    )

    per_row_equal = rows_a == rows_b
    merged_equal = evr_a == evr_b
    print(f"per-partition EVR rows equal: {per_row_equal} "
          f"({len(rows_a)} rows)")
    print(f"merged suite verdicts equal:  {merged_equal}")

    md = os.path.join(REPO, "BENCH", "RESUME_16M.md")
    with open(md, "w") as f:
        f.write(f"""# Checkpoint-resume equivalence @ {N_TURNS:,} turns

Protocol: `tools/resume_equivalence.py` — {N_PARTS} hash partitions of the
deterministic 16M-turn transcripts table (same generator/seed as bench.py);
run A validates all partitions uninterrupted; run B is killed at partition
{N_PARTS // 2}'s commit point (its EVR file written, its manifest record
never renamed into the log) and resumed from the manifest. local[{cores}], suite = not_null/in_set/between/value_length/mean
({len(list(suite))} expectations, {len(rows_a)} EVR counter rows).

| check | result |
|---|---|
| committed per-(partition × expectation) EVR rows A == B | **{per_row_equal}** |
| merged suite-level counters A == B | **{merged_equal}** |
| resume skipped exactly the completed partitions | **True** ({skipped}/{N_PARTS}) |
| run A wall (uninterrupted) | {t_a:.1f} s |
| run B wall (to kill + resume) | {t_b1:.1f} s + {t_b2:.1f} s |

The kill+resume path re-validates ONLY the {N_PARTS - skipped} partitions
the manifest had not committed; its committed EVR rows equal the
uninterrupted run's (the torn partition's orphan rows carry a commit id the
manifest never names), so suite-level verdicts merged from partials
(`checkpoint.merge_map_counts` / `merged_map_verdicts`) are reproducible
across arbitrary interruption points — the north_rule resumability
contract at bench scale.
""")
    print(f"wrote {md}")
    spark.stop()
    return 0 if (per_row_equal and merged_equal) else 1


if __name__ == "__main__":
    raise SystemExit(main())
