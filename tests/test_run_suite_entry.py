"""End-to-end tests for the spark-submit entrypoint ``tools/run_suite.py`` —
including the flag-gated Data Docs rendering (VERDICT round-3 item 7): the
submit path must be able to produce the HTML site from the EVR store it just
wrote, without a second tool.

Reference analogue: upstream Checkpoint actions (`UpdateDataDocsAction`)
render sites from the validation-result store after a checkpoint run.
"""

from __future__ import annotations

import json
import os

import pytest

import tools.run_suite as run_suite
from great_expectations_spark import ExpectationSuite


@pytest.fixture()
def table_path(spark, tmp_path):
    rows = []
    for part in ("2025-01-01", "2025-01-02"):
        for i in range(20):
            rows.append((f"c-{part}-{i % 4}", i, "user", f"msg {i}", part))
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, day string",
    )
    path = str(tmp_path / "table")
    df.write.parquet(path)
    return path


@pytest.fixture()
def suite_path(tmp_path):
    s = ExpectationSuite("run-suite-e2e")
    s.add("expect_column_values_to_not_be_null", column="text")
    s.add(
        "expect_column_values_to_be_between",
        column="turn_idx", min_value=0, max_value=100,
    )
    path = str(tmp_path / "suite.json")
    with open(path, "w") as f:
        f.write(s.to_json())
    return path


def test_partitioned_run_renders_docs_site(
    spark, tmp_path, table_path, suite_path, capsys
):
    site = str(tmp_path / "site")
    rc = run_suite.main([
        "--table", table_path,
        "--suite", suite_path,
        "--manifest", str(tmp_path / "manifest"),
        "--evr", str(tmp_path / "evrs"),
        "--partition-col", "day",
        "--docs", site,
        "--run-id", "e2e-1",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["success"] and out["partitions_validated"] == 2
    assert out["docs_index"] == os.path.join(site, "index.html")

    index = open(out["docs_index"]).read()
    assert "PASS" in index and "FAIL" not in index
    # one page per (run, partition) + the suite page
    pages = sorted(os.listdir(site))
    assert "suite.html" in pages
    assert sum(p.startswith("run_e2e-1__part_") for p in pages) == 2
    part_page = open(os.path.join(
        site, [p for p in pages if p.startswith("run_")][0])).read()
    assert "expect_column_values_to_not_be_null" in part_page


def test_docs_requires_evr_store(spark, tmp_path, table_path, suite_path):
    rc = run_suite.main([
        "--table", table_path,
        "--suite", suite_path,
        "--manifest", str(tmp_path / "manifest2"),
        "--partition-col", "day",
        "--docs", str(tmp_path / "site2"),
    ])
    assert rc == 2


def test_whole_table_run_renders_single_page(
    spark, tmp_path, table_path, suite_path, capsys
):
    site = str(tmp_path / "site3")
    rc = run_suite.main([
        "--table", table_path,
        "--suite", suite_path,
        "--manifest", str(tmp_path / "manifest3"),
        "--docs", site,
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["docs_index"] == os.path.join(site, "index.html")
    index = open(out["docs_index"]).read()
    assert "expect_column_values_to_be_between" in index
    assert os.path.exists(os.path.join(site, "suite.html"))


def test_manifest_needed_only_by_partitioned_runs(
    spark, tmp_path, table_path, suite_path, capsys
):
    """The one-shot whole-table run reads no manifest, so it runs without
    --manifest; --partition-col without it is a usage error, raised before
    any work."""
    rc = run_suite.main(["--table", table_path, "--suite", suite_path])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["success"] and out["statistics"]["evaluated_expectations"] == 2
    with pytest.raises(SystemExit) as exc:
        run_suite.main(["--table", table_path, "--suite", suite_path,
                        "--partition-col", "day"])
    assert exc.value.code == 2
    assert "--manifest" in capsys.readouterr().err


def test_curation_gates_suite_on_documents(spark, tmp_path, capsys):
    """The shipped suites/curation_gates.json (PII / token-count /
    repetition gates) runs whole-table on the real documents parquet
    through the spark-submit entry."""
    rc = run_suite.main([
        "--table", "/root/testdata/sf0.001/documents.parquet",
        "--suite", os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "suites", "curation_gates.json"),
        "--manifest", str(tmp_path / "m_cur"),
        "--index-cols", "doc_id",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["statistics"]["evaluated_expectations"] == 4
    # clean synthetic corpus passes every gate
    assert out["statistics"]["success_percent"] == 100.0


def test_segmented_mode(spark, tmp_path, table_path, suite_path, capsys):
    """--segment-col evaluates the suite once per segment value and
    writes the long-format EVR rows to --segment-out."""
    out = str(tmp_path / "seg_evr")
    rc = run_suite.main([
        "--table", table_path,
        "--suite", suite_path,
        "--manifest", str(tmp_path / "m_seg"),
        "--segment-col", "day",
        "--segment-out", out,
        "--docs", str(tmp_path / "seg_site"),
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["segments"] == 2 and rep["success"] is True
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 4          # 2 segments x 2 expectations
    assert all(r["success"] for r in rows)
    page = open(rep["docs_index"]).read()
    assert "all segments pass" in page and "2025-01-02" in page


def test_segmented_checkpoint_refuses_segment_out(
    spark, tmp_path, table_path, suite_path
):
    """--segment-out belongs to the one-shot mode; the checkpointed mode
    must refuse it loudly (round-5 review fix: it was silently ignored)."""
    rc = run_suite.main([
        "--table", table_path,
        "--suite", suite_path,
        "--manifest", str(tmp_path / "m"),
        "--evr", str(tmp_path / "e"),
        "--partition-col", "day",
        "--segment-col", "role",
        "--segment-out", str(tmp_path / "seg_out"),
    ])
    assert rc == 2
    assert not os.path.exists(str(tmp_path / "seg_out"))


def test_segmented_checkpoint_renders_merged_docs(
    spark, tmp_path, table_path, suite_path, capsys
):
    """--docs on the checkpointed segmented path renders the segment
    report from the MERGED EVR store (was silently dropped); --docs
    without --evr is a usage error there like everywhere else."""
    rc = run_suite.main([
        "--table", table_path,
        "--suite", suite_path,
        "--manifest", str(tmp_path / "m"),
        "--partition-col", "day",
        "--segment-col", "role",
        "--docs", str(tmp_path / "site"),
    ])
    assert rc == 2  # no --evr
    rc = run_suite.main([
        "--table", table_path,
        "--suite", suite_path,
        "--manifest", str(tmp_path / "m"),
        "--evr", str(tmp_path / "e"),
        "--partition-col", "day",
        "--segment-col", "role",
        "--docs", str(tmp_path / "site"),
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["mode"] == "segmented-checkpoint"
    page = open(rep["docs_index"]).read()
    assert "merged across partitions" in page and "all segments pass" in page


def test_partitioned_docs_precondition_checked_before_work(
    spark, tmp_path, table_path, suite_path
):
    """--docs without --evr on the partitioned path must fail BEFORE
    validating anything (round-5 second-review fix: it used to validate
    the whole table first, then exit 2)."""
    manifest = str(tmp_path / "m")
    rc = run_suite.main([
        "--table", table_path,
        "--suite", suite_path,
        "--manifest", manifest,
        "--partition-col", "day",
        "--docs", str(tmp_path / "site"),
    ])
    assert rc == 2
    assert not os.path.exists(manifest)   # no partition was validated
