"""Checkpoint/resume tests (SURVEY.md §7.2 M8: kill/resume pytest).

Reference analogue: Checkpoint.run produces one validation result per
batch; ours produces per-partition EVRs + a manifest, and a second run
must skip everything already validated (the resumability contract in
north_rule).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from great_expectations_spark import ExpectationSuite
from great_expectations_spark.checkpoint import (
    Checkpoint,
    merge_map_counts,
    suite_hash,
)


def _kill_at_commit(ck, pid):
    """Kill the next run of ``ck`` at partition ``pid``'s commit point: its
    violations and EVR file are written and its manifest record is never
    renamed into the log. The kill fires once; a resumed run commits
    normally."""
    commit = ck._commit

    def commit_or_kill(record):
        if record["partition_id"] == pid:
            del ck._commit
            raise RuntimeError(f"simulated kill at partition {pid!r}")
        commit(record)

    ck._commit = commit_or_kill


@pytest.fixture()
def suite():
    s = ExpectationSuite("ckpt-suite")
    s.add("expect_column_values_to_not_be_null", column="text", mostly=0.5)
    s.add("expect_column_values_to_be_between", column="turn_idx",
          min_value=0, max_value=100)
    return s


@pytest.fixture()
def tdf(spark):
    rows = []
    for part in ("2025-01-01", "2025-01-02", "2025-01-03"):
        for i in range(10):
            rows.append((f"c-{part}-{i % 3}", i, "user",
                         None if i == 9 else f"msg {i}", part))
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, day string"
    )


def test_full_run_then_resume_skips_all(spark, tmp_path, suite, tdf):
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "manifest"),
                    evr_path=str(tmp_path / "evrs"))
    r1 = ck.run(tdf, suite, run_id="r1", partition_col="day")
    assert len(r1.validated) == 3 and not r1.skipped
    assert r1.success

    r2 = ck.run(tdf, suite, run_id="r2", partition_col="day")
    assert len(r2.skipped) == 3 and not r2.validated


def test_kill_and_resume(spark, tmp_path, suite, tdf):
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "manifest"))
    _kill_at_commit(ck, "2025-01-03")
    with pytest.raises(RuntimeError, match="simulated kill"):
        ck.run(tdf, suite, run_id="r1", partition_col="day")
    # two partitions made it into the manifest before the kill
    assert len(ck.completed_partitions(suite_hash(suite))) == 2

    r2 = ck.run(tdf, suite, run_id="r2", partition_col="day")
    assert len(r2.skipped) == 2
    assert [r.partition_id for r in r2.validated] == ["2025-01-03"]


def test_suite_change_invalidates_manifest(spark, tmp_path, suite, tdf):
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "manifest"))
    ck.run(tdf, suite, run_id="r1", partition_col="day")

    other = ExpectationSuite("ckpt-suite-2")
    other.add("expect_column_values_to_not_be_null", column="conv_id")
    assert suite_hash(other) != suite_hash(suite)
    r2 = ck.run(tdf, other, run_id="r2", partition_col="day")
    assert len(r2.validated) == 3  # different suite → nothing skipped


def test_manifest_lineage_fields(spark, tmp_path, suite, tdf):
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "manifest"))
    ck.run(tdf, suite, run_id="r1", partition_col="day")
    m = ck.read_manifest().collect()
    assert len(m) == 3
    for row in m:
        assert row["run_id"] == "r1"
        assert row["status"] == "validated"
        assert row["rows_scanned"] == 10
        assert row["elapsed_s"] > 0
        assert row["violations"] >= 1  # one null-text row per partition


def test_rows_scanned_counts_rows_without_a_row_counting_check(spark, tmp_path,
                                                              tdf):
    """A row-conditioned check counts its filtered rows and a contiguity
    check counts groups, so neither gives a partition's row count: a suite
    holding only such checks counts the partition, in both modes."""
    s = ExpectationSuite("no-row-count")
    s.add("expect_column_values_to_not_be_null", column="text",
          row_condition="turn_idx > 2")
    s.add("expect_column_values_to_be_contiguous", column="turn_idx",
          group_by=["conv_id"], start=0)
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "manifest"))
    for segment_col in (None, "conv_id"):
        res = ck.run(tdf, s, run_id="r1", partition_col="day",
                     segment_col=segment_col)
        assert [r.rows_scanned for r in res.validated] == [10, 10, 10], \
            segment_col


def test_merged_verdicts_equal_whole_table_counts(spark, tmp_path, suite, tdf):
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "manifest"),
                    evr_path=str(tmp_path / "evrs"))
    ck.run(tdf, suite, run_id="r1", partition_col="day")
    merged = {
        r["expectation_type"]: r
        for r in ck.merged_map_verdicts(suite_hash(suite)).collect()
    }
    nn = merged["expect_column_values_to_not_be_null"]
    assert nn["element_count"] == 30
    assert nn["unexpected_count"] == 3  # one null per partition


def test_torn_partition_resumed_under_same_run_id_counts_once(spark, tmp_path,
                                                              suite, tdf):
    """Re-submitting a killed run under its own run id: the torn
    partition's orphan EVR rows share that run id with the resumed rows,
    but not their commit id, so the merge counts the partition once."""
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "manifest"),
                    evr_path=str(tmp_path / "evrs"))
    _kill_at_commit(ck, "2025-01-03")
    with pytest.raises(RuntimeError, match="simulated kill"):
        ck.run(tdf, suite, run_id="r1", partition_col="day")
    resumed = ck.run(tdf, suite, run_id="r1", partition_col="day")
    assert [r.partition_id for r in resumed.validated] == ["2025-01-03"]
    merged = {r["expectation_type"]: r for r in ck.merged_map_verdicts()
              .collect()}
    nn = merged["expect_column_values_to_not_be_null"]
    assert (nn["element_count"], nn["unexpected_count"]) == (30, 3)
    written = {p.stem for p in (tmp_path / "evrs").rglob("*.json")
               if '"2025-01-03"' in p.read_text()}
    committed = {r["commit_id"] for r in ck.committed_evrs()
                 if r["partition_id"] == "2025-01-03"}
    assert len(written) == 2                             # orphans + resumed
    assert len(committed) == 1 and committed < written


def test_merge_map_counts_reapplies_mostly():
    parts = [
        {"element_count": 100, "missing_count": 0, "unexpected_count": 4},
        {"element_count": 100, "missing_count": 0, "unexpected_count": 0},
    ]
    merged = merge_map_counts(parts, mostly=0.97)
    assert merged["unexpected_count"] == 4
    # 196/200 = 0.98 >= 0.97 → success even though partition 1 alone was 0.96
    assert merged["success"] is True
    assert merge_map_counts(parts, mostly=0.99)["success"] is False


def test_concurrent_partition_run_matches_sequential(spark, tmp_path):
    """max_concurrent_partitions>1 must produce the same manifest/EVR state
    and per-partition results as the sequential path, and resume cleanly."""
    from pyspark.sql import functions as F

    from great_expectations_spark import ExpectationSuite
    from great_expectations_spark.checkpoint import Checkpoint
    from great_expectations_spark.schema import generate_transcripts

    tdf = generate_transcripts(spark, n_turns=4_000, seed=11).withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(4))
    )
    suite = ExpectationSuite("cc")
    suite.add("expect_column_values_to_not_be_null", column="text", mostly=0.9)
    suite.add("expect_column_mean_to_be_between", column="turn_idx",
              min_value=0, max_value=10_000)

    seq = Checkpoint(spark, manifest_path=str(tmp_path / "m_seq"),
                     evr_path=str(tmp_path / "e_seq"))
    conc = Checkpoint(spark, manifest_path=str(tmp_path / "m_conc"),
                      evr_path=str(tmp_path / "e_conc"))
    r_seq = seq.run(tdf, suite, run_id="r", partition_col="bucket")
    r_conc = conc.run(tdf, suite, run_id="r", partition_col="bucket",
                      max_concurrent_partitions=4)

    def summarize(res):
        return sorted(
            (rec.partition_id, rec.rows_scanned, rec.violations,
             rec.result.success)
            for rec in res.validated
        )

    assert summarize(r_seq) == summarize(r_conc)
    cols = ["partition_id", "expectation_type", "success",
            "element_count", "unexpected_count"]

    def stored(ck):
        return sorted(tuple(r[c] for c in cols) for r in ck.committed_evrs())

    assert len(stored(seq)) == 4 * 2
    assert stored(seq) == stored(conc)
    # one EVR file and one manifest record written per partition in both
    # modes: no partition was validated twice
    for m, e in (("m_seq", "e_seq"), ("m_conc", "e_conc")):
        assert len(list((tmp_path / e).rglob("*.json"))) == 4
        assert len(list((tmp_path / m).rglob("*.json"))) == 4

    # resume: everything skipped on a re-run (concurrent mode too)
    r2 = conc.run(tdf, suite, run_id="r2", partition_col="bucket",
                  max_concurrent_partitions=4)
    assert len(r2.skipped) == 4 and not r2.validated


def test_violations_path_stale_layout_refused(spark, tmp_path, suite, tdf):
    """Round-3 guard: a pre-change violations root holding top-level
    expectation=<type>/ dirs must be refused — appending the new
    partition_id=<pid>/ layout on top would mix two directory depths and
    make the whole root unreadable."""
    import os

    vroot = tmp_path / "violations"
    (vroot / "expectation=expect_column_values_to_not_be_null").mkdir(
        parents=True
    )
    ck = Checkpoint(
        spark,
        manifest_path=str(tmp_path / "manifest"),
        violations_path=str(vroot),
    )
    with pytest.raises(ValueError, match="stale top-level expectation="):
        ck.run(tdf, suite, run_id="r1", partition_col="day")

    # a fresh root (or the new layout itself) is accepted
    ck2 = Checkpoint(
        spark,
        manifest_path=str(tmp_path / "manifest2"),
        violations_path=str(tmp_path / "violations2"),
    )
    out = ck2.run(tdf, suite, run_id="r1", partition_col="day")
    assert len(out.validated) == 3
    # re-running against the now-populated partition_id= layout still works
    out2 = ck2.run(tdf, suite, run_id="r2", partition_col="day")
    assert len(out2.skipped) == 3


def _violations_mode_refused(spark, tmp_path, suite, df, first, second):
    vroot = str(tmp_path / "violations")
    Checkpoint(spark, manifest_path=str(tmp_path / "m1"),
               violations_path=vroot).run(
        df, suite, run_id="r1", partition_col="day", segment_col=first)
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "m2"),
                    violations_path=vroot)
    with pytest.raises(ValueError, match="violations_path") as exc:
        ck.run(df, suite, run_id="r2", partition_col="day",
               segment_col=second)
    assert vroot in str(exc.value)


def test_segmented_run_refuses_whole_partition_violations(spark, tmp_path,
                                                          seg_suite, tdf):
    """Segmented violation rows lead with a `group` column under the same
    partition_id=/expectation= layout: a segmented run into a root whose
    rows lack `group` is refused, naming the path."""
    _violations_mode_refused(spark, tmp_path, seg_suite, tdf, None, "role")


def test_whole_run_refuses_segmented_violations(spark, tmp_path, seg_suite,
                                                tdf):
    """The reverse: a whole-partition run into a root holding segmented
    (`group`-led) violation rows is refused, naming the path."""
    _violations_mode_refused(spark, tmp_path, seg_suite, tdf, "role", None)


def test_resumed_run_reports_failed_skipped_partitions(spark, tmp_path, tdf):
    """A resume that skips previously-FAILING partitions must not report
    success=True just because nothing re-ran (round-3 fix: skipped records
    now carry the manifest verdict)."""
    failing = ExpectationSuite("always-fails")
    failing.add("expect_column_values_to_be_between", column="turn_idx",
                min_value=100, max_value=200)  # all rows violate
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "m"))
    first = ck.run(tdf, failing, run_id="r1", partition_col="day")
    assert first.success is False and len(first.validated) == 3

    resumed = ck.run(tdf, failing, run_id="r2", partition_col="day")
    assert len(resumed.skipped) == 3
    assert all(r.success is False for r in resumed.skipped)
    assert resumed.success is False


def test_checkpoint_suite_hash_is_the_suite_hash(suite):
    """One suite-hash definition: a whole-partition run is keyed by the
    suite's own hash; a segmented run's key derives from it and differs."""
    assert suite_hash(suite) == suite.suite_hash
    assert suite_hash(suite, "role") != suite.suite_hash
    assert suite_hash(suite, "role") != suite_hash(suite, "day")


def test_refuses_evr_store_without_suite_hash(spark, tmp_path, suite, tdf):
    """A store written before EVR rows carried their suite hash cannot be
    keyed by the merge view — refused, naming the path."""
    old = str(tmp_path / "old_evrs")
    spark.createDataFrame(
        [("r0", "2025-01-01", "expect_column_values_to_not_be_null", True)],
        "run_id string, partition_id string, expectation_type string, "
        "success boolean",
    ).write.parquet(old)
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "m"), evr_path=old)
    with pytest.raises(ValueError, match="old_evrs"):
        ck.run(tdf, suite, run_id="r1", partition_col="day")


# ---------------------------------------------------------------- segmented


@pytest.fixture()
def seg_suite():
    s = ExpectationSuite("seg-ckpt")
    s.add("expect_column_values_to_not_be_null", column="text", mostly=0.5)
    s.add("expect_column_values_to_be_unique", column="conv_id")
    return s


def _by_segment_and_id(rows, segment_key):
    return {(r[segment_key], r["expectation_id"]): r for r in rows}


def test_segmented_checkpoint_kill_resume_equals_single_run(
    spark, tmp_path, seg_suite, tdf
):
    """Kill/resume WITH segments (round 5): a killed segmented run resumes
    at partition granularity, and the merged per-segment verdicts from the
    resumed EVR store equal a single whole-table validate_by_group."""
    from great_expectations_spark import validate_by_group

    ck = Checkpoint(spark, manifest_path=str(tmp_path / "m"),
                    evr_path=str(tmp_path / "evr"))
    _kill_at_commit(ck, "2025-01-03")
    with pytest.raises(RuntimeError, match="simulated kill"):
        ck.run(tdf, seg_suite, run_id="r1", partition_col="day",
               segment_col="role")

    r2 = ck.run(tdf, seg_suite, run_id="r2", partition_col="day",
                segment_col="role")
    assert len(r2.skipped) == 2
    assert [r.partition_id for r in r2.validated] == ["2025-01-03"]
    assert all(r.segments == 1 for r in r2.validated)  # one role value

    merged = _by_segment_and_id(ck.merged_map_verdicts().collect(), "segment")
    single = _by_segment_and_id(
        validate_by_group(tdf, seg_suite, "role").collect(), "group"
    )
    assert set(merged) == set(single)
    for k, m in merged.items():
        s = single[k]
        assert m["segment_col"] == "role", k
        assert m["element_count"] == s["element_count"], k
        assert m["missing_count"] == s["missing_count"], k
        # conv_id repeats across days WITHIN a partition only (ids embed
        # the day), so per-partition unexpected counts add cleanly here
        assert m["unexpected_count"] == s["unexpected_count"], k


def test_segmented_and_whole_runs_never_cross_skip(spark, tmp_path, suite,
                                                   tdf):
    """The segmented run identity derives from the suite hash AND the
    segment column: a finished whole-partition run must NOT mark the
    segmented run's partitions done (and vice versa)."""
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "m"))
    ck.run(tdf, suite, run_id="r1", partition_col="day")
    r2 = ck.run(tdf, suite, run_id="r2", partition_col="day",
                segment_col="role")
    assert len(r2.validated) == 3 and not r2.skipped


def _legacy_evr_store(spark, path, segmented):
    """An EVR store in the row shape written before rows carried their
    suite hash: whole-partition rows, or segmented rows with a ``segment``
    column."""
    cols = ["run_id string", "partition_id string"]
    row = ["r0", "2025-01-01"]
    if segmented:
        cols.append("segment string")
        row.append("user")
    cols += ["expectation_type string", "success boolean",
             "element_count long"]
    row += ["expect_column_values_to_not_be_null", True, 10]
    spark.createDataFrame([tuple(row)], ", ".join(cols)).write.parquet(path)


def test_segmented_refuses_whole_partition_evr_store(spark, tmp_path, suite,
                                                     tdf):
    """A segmented run appending into a whole-partition EVR store of the
    earlier row shape would null-fill its suite hash and segment on read
    — must raise, naming the path."""
    old = str(tmp_path / "whole_evrs")
    _legacy_evr_store(spark, old, segmented=False)
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "m"), evr_path=old)
    with pytest.raises(ValueError, match="whole_evrs.*segment"):
        ck.run(tdf, suite, run_id="r1", partition_col="day",
               segment_col="role")


def test_whole_run_refuses_segmented_evr_store(spark, tmp_path, suite, tdf):
    """The other direction: a whole-partition run into a segmented EVR
    store of the earlier row shape is refused too — its rows would carry
    no suite hash to keep them apart from the segmented ones."""
    old = str(tmp_path / "seg_evrs")
    _legacy_evr_store(spark, old, segmented=True)
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "m"), evr_path=old)
    with pytest.raises(ValueError, match="seg_evrs.*segment"):
        ck.run(tdf, suite, run_id="r1", partition_col="day")


def test_whole_and_segmented_runs_share_one_evr_store(spark, tmp_path,
                                                      seg_suite, tdf):
    """Every EVR row carries its suite hash and segment column, so both
    modes of one suite may share one manifest and one EVR store: neither
    skips the other's partitions, whole-suite rows never merge into a
    segment (a genuine NULL segment included), and each pinned merge
    returns only its own rows."""
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "m"),
                    evr_path=str(tmp_path / "evr"))
    whole = ck.run(tdf, seg_suite, run_id="r-whole", partition_col="day")
    # NULL role in one partition: a genuine NULL segment
    seg_df = tdf.withColumn(
        "role",
        F.when(F.col("day") == "2025-01-02", F.lit(None)).otherwise("user"),
    )
    seg = ck.run(seg_df, seg_suite, run_id="r-seg", partition_col="day",
                 segment_col="role")
    assert len(seg.validated) == 3 and not seg.skipped
    again = ck.run(tdf, seg_suite, run_id="r-whole2", partition_col="day")
    assert len(again.skipped) == 3 and not again.validated
    assert whole.suite_hash == suite_hash(seg_suite)
    assert seg.suite_hash == suite_hash(seg_suite, "role")

    whole_rows = ck.merged_map_verdicts(whole.suite_hash).collect()
    assert len(whole_rows) == 2
    assert all(r["segment_col"] is None and r["element_count"] == 30
               for r in whole_rows)
    seg_rows = ck.merged_map_verdicts(seg.suite_hash).collect()
    assert {(r["segment"], r["element_count"]) for r in seg_rows} == {
        ("user", 20), (None, 10)
    }
    assert all(r["segment_col"] == "role" for r in seg_rows)
    assert len(ck.merged_map_verdicts().collect()) == 6


def test_segmented_checkpoint_failure_verdict(spark, tmp_path, tdf):
    """A failing segment fails its partition's manifest row AND the run
    verdict — including on resume (skipped partitions keep their recorded
    failure)."""
    s = ExpectationSuite("failing")
    s.add("expect_column_values_to_not_be_null", column="text")  # 1 null/day
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "m"),
                    evr_path=str(tmp_path / "evr"))
    r1 = ck.run(tdf, s, run_id="r1", partition_col="day", segment_col="role")
    assert not r1.success
    assert all(r.success is False for r in r1.validated)
    r2 = ck.run(tdf, s, run_id="r2", partition_col="day", segment_col="role")
    assert len(r2.skipped) == 3 and not r2.success


def test_merged_segment_verdicts_ignore_orphan_evrs(spark, tmp_path,
                                                    seg_suite, tdf):
    """A kill BETWEEN the EVR file and the manifest commit leaves an orphan
    EVR file; the resumed run re-validates the partition and writes a
    second full set. The merge must count ONLY manifest-committed rows
    (round-5 review fix), or every counter of that partition doubles."""
    from great_expectations_spark import validate_by_group
    from great_expectations_spark.checkpoint import EVR_ROW_SCHEMA
    from great_expectations_spark.segmented import _validate_rows

    ck = Checkpoint(spark, manifest_path=str(tmp_path / "m"),
                    evr_path=str(tmp_path / "evr"))
    r1 = ck.run(tdf, seg_suite, run_id="r1", partition_col="day",
                segment_col="role")
    assert r1.success is not None

    # simulate the torn write: EVR file written, manifest record lost
    orphan_rows = _validate_rows(
        tdf.filter(F.col("day") == "2025-01-02"),
        seg_suite, "role", strict=True,
        max_groups=100, violations_path=None,
        unexpected_index_column_names=None,
    )
    ck._write(ck._key_path(str(tmp_path / "evr"), r1.suite_hash,
                           "2025-01-02", "c-orphan") + ".json", [
        dict(zip(EVR_ROW_SCHEMA.fieldNames(), (
            "r-orphan", "2025-01-02", "c-orphan", r1.suite_hash, "role", *r)))
        for r in orphan_rows])

    merged = _by_segment_and_id(ck.merged_map_verdicts().collect(), "segment")
    single = _by_segment_and_id(
        validate_by_group(tdf, seg_suite, "role").collect(), "group"
    )
    assert set(merged) == set(single)
    for k, m in merged.items():
        assert m["element_count"] == single[k]["element_count"], k
        assert m["unexpected_count"] == single[k]["unexpected_count"], k


def test_shared_manifest_does_not_wipe_merge_views(spark, tmp_path,
                                                   seg_suite, tdf):
    """A manifest may be shared by several EVR stores (one per mode here).
    The commit lookup must pick the latest validated run AMONG THE RUNS
    PRESENT IN EACH STORE — picking the manifest-wide latest would name
    the other store's run_id and semi-join a store down to nothing
    (round-5 second-review fix)."""
    m = str(tmp_path / "m")
    ck_whole = Checkpoint(spark, manifest_path=m,
                          evr_path=str(tmp_path / "e_whole"))
    ck_seg = Checkpoint(spark, manifest_path=m,
                        evr_path=str(tmp_path / "e_seg"))
    ck_whole.run(tdf, seg_suite, run_id="r-whole", partition_col="day")
    ck_seg.run(tdf, seg_suite, run_id="r-seg", partition_col="day",
               segment_col="role")

    whole = ck_whole.merged_map_verdicts(suite_hash(seg_suite)).collect()
    assert len(whole) == 2                      # both expectations survive
    assert all(r["element_count"] == 30 for r in whole)
    seg = ck_seg.merged_map_verdicts().collect()
    assert len(seg) == 2                        # one role value x 2 checks
    assert all(r["element_count"] == 30 for r in seg)


def test_unpinned_merge_keeps_every_suite(spark, tmp_path, suite, seg_suite,
                                          tdf):
    """Two suites share one manifest and one EVR store and validate the
    same partitions. The commit lookup picks the latest run per (suite
    hash, partition), so the later suite never hides the earlier one's
    rows; each pinned merge reports only its own suite."""
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "m"),
                    evr_path=str(tmp_path / "evr"))
    first = ck.run(tdf, suite, run_id="r-a", partition_col="day")
    second = ck.run(tdf, seg_suite, run_id="r-b", partition_col="day")
    ids = {
        first.suite_hash: {c.id for c in suite},
        second.suite_hash: {c.id for c in seg_suite},
    }
    rows = ck.merged_map_verdicts().collect()
    assert {(r["suite_hash"], r["expectation_id"]) for r in rows} == {
        (h, i) for h, eids in ids.items() for i in eids
    }
    assert all(r["element_count"] == 30 for r in rows)
    for h, eids in ids.items():
        pinned = ck.merged_map_verdicts(h).collect()
        assert {r["expectation_id"] for r in pinned} == eids
        assert {r["suite_hash"] for r in pinned} == {h}


def test_empty_partition_segmented_honors_row_count_guard(spark, tmp_path,
                                                          tdf):
    """An empty partition yields zero segments; the WHOLE suite must still
    evaluate against the empty frame (whole-partition parity: map kinds
    succeed vacuously, a row-count floor FAILS instead of the partition
    being vacuously marked passed), recorded as whole-suite rows
    (segment_col NULL) under the segmented run's suite hash — so they never
    merge into a genuine NULL segment other partitions may hold."""
    s = ExpectationSuite("empty-guard")
    s.add("expect_column_values_to_not_be_null", column="text", mostly=0.5)
    s.add("expect_table_row_count_to_be_between", min_value=1)
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "m"),
                    evr_path=str(tmp_path / "evr"))
    res = ck.run(tdf, s, run_id="r1", partition_col="day",
                 partition_values=["2025-01-01", "2099-12-31"],
                 segment_col="role")
    by_pid = {r.partition_id: r for r in res.records}
    assert by_pid["2025-01-01"].success is True
    ghost = by_pid["2099-12-31"]
    assert ghost.segments == 0
    assert ghost.success is False               # row-count floor fired
    assert res.success is False
    # every verdict visible in the store as a whole-suite row, with the
    # runner's real observed value explaining the failure
    rows = {r["expectation_type"]: r for r in ck.committed_evrs()
            if r["partition_id"] == "2099-12-31"}
    assert len(rows) == 2
    for r in rows.values():
        assert r["suite_hash"] == res.suite_hash == suite_hash(s, "role")
        assert r["segment_col"] is None and r["segment"] is None
    rc = rows["expect_table_row_count_to_be_between"]
    assert rc["success"] is False and rc["observed_value"] == "0"
    assert rows["expect_column_values_to_not_be_null"]["success"] is True
    # the merge keeps them apart from the partition's genuine segment rows
    merged = ck.merged_map_verdicts(res.suite_hash).collect()
    assert {(r["segment_col"], r["segment"]) for r in merged} == {
        (None, None), ("role", "user")
    }
    whole_suite = {r["expectation_type"]: r for r in merged
                   if r["segment_col"] is None}
    assert whole_suite["expect_table_row_count_to_be_between"][
        "all_partitions_success"] is False


def test_merged_view_pins_one_run_identity(spark, tmp_path, seg_suite, tdf):
    """Pinning the merge view to one segmented run: the run's suite hash
    and ``suite_hash(suite, segment_col)`` are the same string and pin the
    same rows; the whole-partition hash of the suite pins none of them."""
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "m"),
                    evr_path=str(tmp_path / "evr"))
    res = ck.run(tdf, seg_suite, run_id="r1", partition_col="day",
                 segment_col="role")
    assert res.suite_hash == suite_hash(seg_suite, "role")
    n = len(ck.merged_map_verdicts().collect())
    assert n == 2
    assert len(ck.merged_map_verdicts(res.suite_hash).collect()) == n
    assert ck.merged_map_verdicts(suite_hash(seg_suite)).collect() == []


def test_empty_partition_named_segment_validates_like_any_value(
    spark, tmp_path, seg_suite
):
    """No segment value is reserved: a genuine '__empty_partition__' value
    validates and merges like any other segment."""
    df = spark.createDataFrame(
        [("c1", 0, "__empty_partition__", "hello", "d1"),
         ("c2", 1, "__empty_partition__", None, "d2")],
        "conv_id string, turn_idx int, role string, text string, day string",
    )
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "m"),
                    evr_path=str(tmp_path / "evr"))
    res = ck.run(df, seg_suite, run_id="r1", partition_col="day",
                 segment_col="role")
    assert [r.segments for r in res.validated] == [1, 1]
    merged = ck.merged_map_verdicts(res.suite_hash).collect()
    assert {(r["segment_col"], r["segment"]) for r in merged} == {
        ("role", "__empty_partition__")
    }
    assert all(r["element_count"] == 2 for r in merged)


@pytest.fixture()
def two_part_df(spark):
    """40 rows over 2 partitions of 20: ``a`` holds 10 nulls, ``b`` none;
    the (c, p) key repeats only within a partition; ``one`` is constant."""
    rows = [(i // 20, None if i < 10 else i, i, i % 15, "all")
            for i in range(40)]
    return spark.createDataFrame(
        rows, "p long, a long, b long, c long, one string"
    )


def test_same_type_expectations_merge_apart_in_both_modes(spark, tmp_path,
                                                          two_part_df):
    """Two not_null expectations must stay two merged rows in both modes —
    a merge keyed by expectation type would fold b's clean verdict into
    a's failing one."""
    s = ExpectationSuite("two-not-null")
    s.add("expect_column_values_to_not_be_null", column="a")
    s.add("expect_column_values_to_not_be_null", column="b")
    for segment_col in (None, "one"):
        ck = Checkpoint(spark, manifest_path=str(tmp_path / "m"),
                        evr_path=str(tmp_path / "evr"))
        res = ck.run(two_part_df, s, run_id="r", partition_col="p",
                     segment_col=segment_col)
        got = sorted(
            (r["element_count"], r["missing_count"], r["unexpected_count"],
             r["all_partitions_success"])
            for r in ck.merged_map_verdicts(res.suite_hash).collect()
        )
        assert got == [(40, 0, 0, True), (40, 0, 10, False)], segment_col


def test_whole_table_one_segment_and_merged_partitions_agree(
    spark, tmp_path, two_part_df
):
    """whole table ≡ one segment ≡ merged partitions, per expectation id:
    SuiteRunner over the table, validate_by_group over a constant segment
    column, and the merge views of a whole-partition and of a segmented
    checkpoint give the same counters (the partitions split no key group,
    window key or z-score distribution). The kinds cover a row_condition
    map and aggregate, a decreasing check whose partition_by defaults from
    the index columns, a z-score check, a most_common_value check and a
    contiguity check whose groups hold the partition column. Every
    expectation's (element_count, missing_count, unexpected_count) agrees in
    all four views — an aggregate's element_count is its domain's row count
    in each."""
    from great_expectations_spark import SuiteRunner, validate_by_group

    # d repeats 0..19 in each partition: same z-scores per partition
    df = two_part_df.withColumn("d", F.col("b") % 20)
    index_cols = ["p", "c"]
    s = ExpectationSuite("three-way")
    s.add("expect_column_values_to_not_be_null", column="a")
    s.add("expect_column_values_to_not_be_null", column="b")
    s.add("expect_compound_columns_to_be_unique", column_list=["c", "p"])
    aggs = [s.add("expect_column_mean_to_be_between", column="b",
                  min_value=0, max_value=100)]
    rc_map = s.add("expect_column_values_to_not_be_null", column="a",
                   row_condition="c < 10")
    aggs.append(s.add("expect_column_mean_to_be_between", column="b",
                      min_value=0, max_value=100, row_condition="c < 10"))
    window = s.add("expect_column_values_to_be_decreasing", column="b",
                   order_by="b")
    zscore = s.add("expect_column_value_z_scores_to_be_less_than",
                   column="d", threshold=1.5)
    aggs.append(s.add("expect_column_most_common_value_to_be_in_set",
                      column="c", value_set=[0]))
    # per p, a is 10..19 (plus NULLs) and 20..39: one dense group, one not
    contig = s.add("expect_column_values_to_be_contiguous", column="a",
                   group_by=["p", "one"], start=10)

    def counters(rows, key="expectation_id"):
        return {r[key]: (r["element_count"], r["missing_count"],
                         r["unexpected_count"]) for r in rows}

    runner = {}
    result = SuiteRunner(spark, unexpected_index_column_names=index_cols
                         ).validate(df, s)
    for cfg, r in zip(s, result.results):
        res = r.result or {}
        runner[cfg.id] = tuple(int(res.get(k) or 0) for k in (
            "element_count", "missing_count", "unexpected_count"))
    one_segment = counters(validate_by_group(
        df, s, "one", unexpected_index_column_names=index_cols).collect())
    merged = {}
    for segment_col in (None, "one"):
        ck = Checkpoint(spark, manifest_path=str(tmp_path / "m"),
                        evr_path=str(tmp_path / "evr"),
                        unexpected_index_column_names=index_cols)
        res = ck.run(df, s, run_id="r", partition_col="p",
                     segment_col=segment_col)
        merged[segment_col] = counters(
            ck.merged_map_verdicts(res.suite_hash).collect())

    assert set(runner) == set(one_segment) == set(merged[None]) \
        == set(merged["one"]) == {c.id for c in s}
    assert runner == one_segment == merged[None] == merged["one"]
    assert [runner[a.id] for a in aggs] == [
        (40, 0, 0), (30, 0, 0), (40, 0, 0)]
    assert runner[s.expectations[0].id] == (40, 0, 10)
    assert runner[s.expectations[2].id] == (40, 0, 20)
    assert runner[rc_map.id] == (30, 0, 10)
    # windows over (p, c): every row but the first of its window fails
    assert runner[window.id] == (40, 0, 10)
    assert runner[zscore.id] == (40, 0, 4)
    assert runner[contig.id] == (2, 0, 1)


def test_store_rows_carry_user_expectation_ids(spark, tmp_path, tdf):
    """Both executors re-key an increasing check's window before planning
    (from the index columns, and the segmented one with the segment column
    in front), so they plan rebuilt configs with different ids. Both modes
    still store the user suite's ids."""
    s = ExpectationSuite("ids")
    s.add("expect_column_values_to_be_increasing", column="turn_idx")
    s.add("expect_column_mean_to_be_between", column="turn_idx",
          min_value=0, max_value=100, row_condition="turn_idx > 2")
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "m"),
                    evr_path=str(tmp_path / "evr"),
                    unexpected_index_column_names=["conv_id"])
    for segment_col in (None, "role"):
        res = ck.run(tdf, s, run_id="r", partition_col="day",
                     segment_col=segment_col)
        rows = ck.merged_map_verdicts(res.suite_hash).collect()
        assert sorted(r["expectation_id"] for r in rows) == sorted(
            c.id for c in s), segment_col


def test_contiguous_concurrent_partitions_pair_correct_stats(spark,
                                                             tmp_path):
    """Concurrent partitions each sink the rows of their OWN broken groups
    (compiled checks are plan-cache-shared across threads) — a wrong
    pairing would sink phantom violations."""
    rows = []
    for day, bad in (("d1", True), ("d2", False)):
        for conv in range(4):
            idxs = [0, 2, 3] if (bad and conv == 0) else [0, 1, 2]
            rows += [(f"{day}-c{conv}", i, day) for i in idxs]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, day string")
    s = ExpectationSuite("contig")
    s.add("expect_column_values_to_be_contiguous", column="turn_idx",
          group_by=["conv_id"], start=0)
    vpath = str(tmp_path / "viol")
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "m"),
                    evr_path=str(tmp_path / "evr"), violations_path=vpath,
                    unexpected_index_column_names=["conv_id"])
    res = ck.run(df, s, run_id="r1", partition_col="day",
                 max_concurrent_partitions=2)
    assert len(res.validated) == 2
    viol = spark.read.parquet(vpath).collect()
    # exactly the broken d1 conversation's rows — nothing from d2
    assert {r["conv_id"] for r in viol} == {"d1-c0"}
    assert len(viol) == 3


def test_torn_partition_violations_count_once(spark, tmp_path, suite, tdf):
    """A kill at the commit point leaves the torn attempt's violation rows
    on disk under their own commit id; the resumed attempt writes its own.
    The committed-violations reader reads each null row once, as the merge
    counts it, with the partition and commit ids as the strings written."""
    vroot = tmp_path / "violations"
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "m"),
                    evr_path=str(tmp_path / "evr"), violations_path=str(vroot),
                    unexpected_index_column_names=["conv_id", "turn_idx"])
    two_days = tdf.filter(F.col("day") != "2025-01-03")
    _kill_at_commit(ck, "2025-01-02")
    with pytest.raises(RuntimeError, match="simulated kill"):
        ck.run(two_days, suite, run_id="r1", partition_col="day")
    ck.run(two_days, suite, run_id="r1", partition_col="day")

    assert len(list(vroot.glob("partition_id=2025-01-02/commit_id=*"))) == 2
    viol = ck.read_violations()
    nulls = viol.filter(
        F.col("expectation") == "expect_column_values_to_not_be_null")
    assert nulls.count() == 2                       # one null text per day
    merged = {r["expectation_type"]: r["unexpected_count"]
              for r in ck.merged_map_verdicts().collect()}
    assert merged["expect_column_values_to_not_be_null"] == 2
    assert dict(viol.dtypes)["commit_id"] == "string"
    assert dict(viol.dtypes)["partition_id"] == "string"
    assert {r["partition_id"] for r in nulls.collect()} == {
        "2025-01-01", "2025-01-02"}


def test_violations_path_old_partition_depth_refused(spark, tmp_path, suite,
                                                     tdf):
    """A violations root in the partition_id=<pid>/expectation=<type>/
    layout written before attempts carried a commit id directory is
    refused, naming the path: one more directory level under it would mix
    two depths and make the root unreadable."""
    vroot = tmp_path / "violations"
    (vroot / "partition_id=2025-01-01" /
     "expectation=expect_column_values_to_not_be_null").mkdir(parents=True)
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "m"),
                    violations_path=str(vroot))
    with pytest.raises(ValueError, match="partition_id=<pid>/expectation=") \
            as exc:
        ck.run(tdf, suite, run_id="r1", partition_col="day")
    assert str(vroot) in str(exc.value)


def test_unreadable_manifest_log_fails_loudly(spark, tmp_path, suite, tdf):
    """A missing log means no commits, and readers skip temp and checksum
    files; a committed record that fails to parse raises, naming the file,
    instead of silently re-validating every partition. A parquet manifest
    written before the commit log is refused, naming the path."""
    m = tmp_path / "m"
    ck = Checkpoint(spark, manifest_path=str(m))
    assert ck.completed_partitions(suite_hash(suite)) == {}
    key = m / suite_hash(suite) / "2025-01-01"
    key.mkdir(parents=True)
    (key / ".c1.json.tmp").write_text("{half a rec")
    (key / "c2.json.crc").write_text("crc")
    assert ck.completed_partitions(suite_hash(suite)) == {}
    assert ck.read_manifest().collect() == []
    (key / "c3.json").write_text('{"run_id": "r1", "partition_id": ')
    with pytest.raises(ValueError, match="c3.json"):
        ck.read_manifest()
    with pytest.raises(ValueError, match="c3.json"):
        ck.completed_partitions(suite_hash(suite))
    with pytest.raises(ValueError, match="c3.json"):
        ck.run(tdf, suite, run_id="r1", partition_col="day")

    old = str(tmp_path / "old_manifest")
    spark.createDataFrame([("r0", "2025-01-01")],
                          "run_id string, partition_id string") \
        .write.parquet(old)
    with pytest.raises(ValueError, match="old_manifest"):
        Checkpoint(spark, manifest_path=old).run(
            tdf, suite, run_id="r1", partition_col="day")


def test_null_partition_value_refused(spark, tmp_path, suite, tdf):
    """Rows whose partition value is NULL match no partition filter, so they
    would never be validated: the run refuses them, naming the column."""
    df = tdf.withColumn("day", F.when(F.col("turn_idx") == 0, F.lit(None))
                        .otherwise(F.col("day")))
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "m"))
    with pytest.raises(ValueError, match="'day' holds NULLs"):
        ck.run(df, suite, run_id="r1", partition_col="day")
    assert ck.read_manifest().collect() == []


def test_results_carry_the_suite_ids(spark, tmp_path, tdf):
    """An increasing check with no partition_by takes its window key from
    the index columns at run time; every executor's result echoes the
    config as the suite holds it: SuiteRunner EVRs, validate_by_group rows
    and the checkpoint's EVR rows in both modes."""
    from great_expectations_spark import SuiteRunner, validate_by_group

    s = ExpectationSuite("ids")
    s.add("expect_column_values_to_be_increasing", column="turn_idx",
          strictly=True, order_by="turn_idx")
    s.add("expect_column_values_to_not_be_null", column="text")
    ids = [c.id for c in s]
    index = ["conv_id", "turn_idx"]
    res = SuiteRunner(spark, unexpected_index_column_names=index).validate(
        tdf, s)
    assert [r.expectation_config for r in res.results] == [
        c.to_dict() for c in s]
    # per conversation the turns ascend; the global window would repeat them
    assert res.results[0].success
    rows = validate_by_group(tdf, s, "day",
                             unexpected_index_column_names=index).collect()
    assert {r["expectation_id"] for r in rows} == set(ids)
    assert all(r["success"] for r in rows
               if r["expectation_id"] == ids[0])
    for segment_col in (None, "role"):
        ck = Checkpoint(spark, manifest_path=str(tmp_path / f"m{segment_col}"),
                        evr_path=str(tmp_path / f"e{segment_col}"),
                        unexpected_index_column_names=index)
        ck.run(tdf, s, run_id="r", partition_col="day",
               segment_col=segment_col)
        evrs = ck.committed_evrs()
        assert len(evrs) == 3 * len(ids)
        assert {r["expectation_id"] for r in evrs} == set(ids)


def test_boolean_only_checks_store_their_counts_in_every_mode(spark,
                                                              tmp_path):
    """The store records what a check measured, not what its EVR shows: one
    suite with a failing map check and a failing uniqueness check, run at
    BASIC and at BOOLEAN_ONLY, commits the same manifest rows_scanned and
    violations and merges to the same counts through a whole-partition run,
    a segmented run and run_partition — the counts validate_by_group gives.
    A BOOLEAN_ONLY EVR still shows no counts."""
    from great_expectations_spark import validate_by_group

    # per day: text NULL in 2 rows, conversation c8 twice
    rows = [(f"c{min(i, 8)}", i, "user", None if i < 2 else f"msg {i}", day)
            for day in ("d1", "d2") for i in range(10)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, day string"
    )
    days = ("d1", "d2")

    def counts(rows):
        return {r["expectation_type"]: (r["element_count"], r["missing_count"],
                                        r["unexpected_count"]) for r in rows}

    seen = {}
    for level in ("BASIC", "BOOLEAN_ONLY"):
        s = ExpectationSuite(f"store-{level}")
        s.add("expect_column_values_to_not_be_null", column="text",
              result_format=level)
        s.add("expect_compound_columns_to_be_unique",
              column_list=["day", "conv_id"], result_format=level)

        whole, seg, stream = (
            Checkpoint(spark, manifest_path=str(tmp_path / level / m / "m"),
                       evr_path=str(tmp_path / level / m / "e"))
            for m in ("whole", "seg", "stream"))
        res = whole.run(df, s, run_id="r", partition_col="day")
        if level == "BOOLEAN_ONLY":
            assert all(r.result == {} for rec in res.validated
                       for r in rec.result.results)
        seg.run(df, s, run_id="r", partition_col="day", segment_col="role")
        for day in days:
            stream.run_partition(df.filter(F.col("day") == day), s, "r", day)
        for mode, ck in (("whole", whole), ("seg", seg), ("stream", stream)):
            manifest = {r["partition_id"]: (r["rows_scanned"], r["violations"])
                        for r in ck.read_manifest().collect()}
            seen[level, mode] = (manifest,
                                 counts(ck.merged_map_verdicts().collect()))
        seen[level, "by_group"] = (None, counts(
            validate_by_group(df, s, "role").collect()))

    expected = {"expect_column_values_to_not_be_null": (20, 0, 4),
                "expect_compound_columns_to_be_unique": (20, 0, 4)}
    for key, (manifest, merged) in seen.items():
        assert merged == expected, key
        if manifest is not None:
            assert manifest == {day: (10, 4) for day in days}, key
