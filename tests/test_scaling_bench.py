"""The two-level bench harness end to end: one round of the lm_vocab op set
at a tiny size into a fresh JSONL — one worker JVM per level."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = 4


def test_one_round_appends_one_record_per_op(tmp_path):
    out = tmp_path / "runs.jsonl"
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "scaling_bench.py"),
         "lm_vocab", "1000", "1", str(out)],
        env=dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS)),
        capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    records = [json.loads(line) for line in out.read_text().splitlines()]
    assert [r["op"] for r in records] == ["vocab_build", "score"]
    for r in records:
        n, four_n = r["levels"]
        assert (n, four_n) == (CPUS // 4, CPUS)
        assert r["host"]["cpus_available"] == len(os.sched_getaffinity(0))
        assert all(r["samples_sec"][str(lv)] for lv in (n, four_n))
        t_n, t_4n = r["min_sec"][str(n)], r["min_sec"][str(four_n)]
        assert r["efficiency"] == pytest.approx((t_n / t_4n) / 4, abs=1e-3)
        assert r["observed"][str(n)] == r["observed"][str(four_n)]
