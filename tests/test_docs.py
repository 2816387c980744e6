"""Data Docs analog (docs.py) — static rendering of suites, results, and
checkpoint EVR stores. Round 3: closes SURVEY §2.1 item 10 (previously
descoped) with a zero-dependency renderer over driver-side EVRs only."""

from __future__ import annotations

import os

import pytest

from great_expectations_spark import ExpectationSuite, SuiteRunner
from great_expectations_spark.checkpoint import Checkpoint
from great_expectations_spark.docs import (
    build_data_docs,
    render_result_html,
    render_result_markdown,
    render_suite_html,
    render_suite_markdown,
)


@pytest.fixture()
def suite():
    s = ExpectationSuite("docs-suite")
    s.add("expect_column_values_to_not_be_null", column="text", mostly=0.5)
    s.add("expect_column_values_to_be_between", column="turn_idx",
          min_value=0, max_value=3)  # will fail (turn_idx goes to 9)
    return s


@pytest.fixture()
def tdf(spark):
    rows = [(f"c{i % 3}", i, None if i == 9 else f"msg {i}", f"d{i % 2}")
            for i in range(10)]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, day string")


def test_render_suite_and_result(spark, suite, tdf):
    md = render_suite_markdown(suite)
    assert "expect_column_values_to_not_be_null" in md
    assert '"mostly": 0.5' in md
    html_page = render_suite_html(suite)
    assert html_page.startswith("<!doctype html>")
    assert "expect_column_values_to_be_between" in html_page

    res = SuiteRunner(spark).validate(tdf, suite)
    rmd = render_result_markdown(res)
    assert "FAIL" in rmd and "## Failures" in rmd
    assert "sample unexpected values" in rmd
    rhtml = render_result_html(res)
    assert "class='fail'" in rhtml and "class='pass'" in rhtml


def test_build_data_docs_site(spark, suite, tdf, tmp_path):
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "m"),
                    evr_path=str(tmp_path / "e"))
    ck.run(tdf, suite, run_id="r1", partition_col="day")
    site = str(tmp_path / "site")
    index = build_data_docs(ck, site, suite=suite)
    assert os.path.exists(index)
    with open(index) as f:
        idx = f.read()
    assert "run_id" in idx and "suite.html" in idx
    pages = [p for p in os.listdir(site) if p.startswith("run_")]
    assert len(pages) == 2  # one per partition (day d0/d1)
    with open(os.path.join(site, pages[0])) as f:
        page = f.read()
    assert "expect_column_values_to_be_between" in page
    assert os.path.exists(os.path.join(site, "suite.html"))


def test_data_docs_list_committed_rows_only(spark, suite, tdf, tmp_path):
    """After a kill at the commit point and a resume under the same run
    id, the torn partition's page lists each expectation once, and the
    index's total unexpected counts no orphan row."""
    ck = Checkpoint(spark, manifest_path=str(tmp_path / "m"),
                    evr_path=str(tmp_path / "e"))
    commit = ck._commit

    def commit_or_kill(record):
        if record["partition_id"] == "d1":
            ck._commit = commit
            raise RuntimeError("simulated kill")
        commit(record)

    ck._commit = commit_or_kill
    with pytest.raises(RuntimeError, match="simulated kill"):
        ck.run(tdf, suite, run_id="r1", partition_col="day")
    ck.run(tdf, suite, run_id="r1", partition_col="day")
    assert len(list((tmp_path / "e").rglob("*.json"))) == 3  # one orphan

    site = str(tmp_path / "site")
    index = build_data_docs(ck, site)
    with open(os.path.join(site, "run_r1__part_d1.html")) as f:
        page = f.read()
    assert page.count("expect_column_values_to_be_between") == 1
    assert page.count("expect_column_values_to_not_be_null") == 1
    # d0: turn_idx 4, 6, 8 out of range; d1: 5, 7, 9 plus the null text
    with open(index) as f:
        idx = f.read()
    assert "<td>3</td>" in idx and "<td>4</td>" in idx
    assert "<td>8</td>" not in idx
