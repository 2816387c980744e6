"""Independent oracle for the suite's count kinds, and the output checks
every operation must pass.

The oracle never calls the engine or Spark: it reads the input's Parquet
files with Arrow and counts nulls, out-of-set values, duplicate keys,
dangling references and order breaks with pandas, with SQL's NULL rules
(a NULL never fails a comparison; NULL keys group together). It then
predicts ``(success, element_count, unexpected_count)`` for every row-level
expectation of the suite with the reference ``mostly`` rule. Aggregate
expectations (mean, stdev, quantiles, KL) have no oracle count; they are
checked against the warm-up operation instead.
"""

from __future__ import annotations

import urllib.parse
from typing import Any

import pyarrow.parquet as pq

Verdict = tuple[bool, int, int]  # (success, element_count, unexpected_count)

ROLE_SET = ("system", "user", "assistant", "tool")


def count_oracle(files: list[str], tool_names: list[str]) -> dict[str, int]:
    """Counts over the rows of ``files``, the input's file URIs as Spark lists them."""
    paths = [urllib.parse.unquote(urllib.parse.urlparse(f).path) for f in files]
    t = pq.read_table(
        paths, columns=["conv_id", "turn_idx", "role", "text", "tool"], partitioning=None,
    ).to_pandas()
    key_rows = t.groupby(["conv_id", "turn_idx"], dropna=False)["conv_id"].transform("size")
    ordered = t.sort_values(["conv_id", "turn_idx"], na_position="first", kind="stable")
    prev_turn = ordered.groupby("conv_id", dropna=False)["turn_idx"].shift()
    counts = {
        "n": len(t),
        "null_conv_id": t.conv_id.isna().sum(),
        "null_text": t.text.isna().sum(),
        "null_role": t.role.isna().sum(),
        "bad_role": (t.role.notna() & ~t.role.isin(ROLE_SET)).sum(),
        "null_turn_idx": t.turn_idx.isna().sum(),
        "neg_turn_idx": (t.turn_idx < 0).sum(),
        "null_tool": t.tool.isna().sum(),
        "dangling_tool": (t.tool.notna() & ~t.tool.isin(tool_names)).sum(),
        "dup_key_rows": (key_rows > 1).sum(),
        "turn_order_breaks": (ordered.turn_idx <= prev_turn).sum(),
    }
    return {k: int(v) for k, v in counts.items()}


def _map_verdict(n: int, missing: int, unexpected: int, mostly: float | None) -> Verdict:
    nonmissing = n - missing
    if mostly is None:
        ok = unexpected == 0
    else:
        ok = nonmissing <= 0 or (nonmissing - unexpected) / nonmissing >= mostly
    return ok, n, unexpected


def expected_verdicts(counts: dict[str, int], suite: dict[str, Any]) -> dict[int, Verdict]:
    """Oracle verdict per expectation index, for the row-level kinds."""
    n = counts["n"]
    out: dict[int, Verdict] = {}
    for i, exp in enumerate(suite["expectations"]):
        kind, kw = exp["expectation_type"], exp["kwargs"]
        col, mostly = kw.get("column"), kw.get("mostly")
        if kind == "expect_column_values_to_not_be_null":
            out[i] = _map_verdict(n, 0, counts[f"null_{col}"], mostly)
        elif kind == "expect_column_values_to_be_in_set" and col == "role":
            out[i] = _map_verdict(n, counts["null_role"], counts["bad_role"], mostly)
        elif kind == "expect_column_values_to_be_between" and col == "turn_idx":
            out[i] = _map_verdict(n, counts["null_turn_idx"], counts["neg_turn_idx"], mostly)
        elif kind == "expect_compound_columns_to_be_unique":
            out[i] = _map_verdict(n, 0, counts["dup_key_rows"], mostly)
        elif kind == "expect_column_values_to_exist_in" and col == "tool":
            out[i] = _map_verdict(n, counts["null_tool"], counts["dangling_tool"], mostly)
        elif kind == "expect_column_values_to_be_increasing" and col == "turn_idx":
            out[i] = _map_verdict(n, counts["null_turn_idx"], counts["turn_order_breaks"], mostly)
    return out


def compare(label: str, got: Any, want: Any, problems: list[str]) -> None:
    if got != want:
        problems.append(f"{label}: got {got!r}, want {want!r}")
