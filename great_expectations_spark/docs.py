"""Data Docs analog — static HTML/Markdown rendering of suites and results.

Reference: ``great_expectations/render/`` + ``data_docs`` site builder
(≈20k LoC of Jinja/React tooling upstream, unverified — SURVEY.md §0/§2.1
item "Data Docs sink"). That subsystem has NO query semantics; what a user
actually needs from it is (a) a human-readable page per validation run and
(b) a suite overview. This module renders both from the engine's own
objects with zero dependencies (hand-written HTML, no Jinja) and zero Spark
work — EVRs are already driver-side and tiny, so rendering is O(pages), not
O(data).

Surfaces:
- :func:`render_suite_markdown` / :func:`render_suite_html` — suite page.
- :func:`render_result_markdown` / :func:`render_result_html` — one
  validation run (EVR table, statistics, failed-expectation detail).
- :func:`build_data_docs` — write a small static site for a checkpoint's
  committed EVR rows: index + one page per (run_id, partition_id), links
  included. Reads ONLY the checkpoint's commit log and the committed EVR
  files (one row per partition × expectation), never the validated data.
"""

from __future__ import annotations

import html
import json
import os
from typing import Any

from great_expectations_spark.result import (
    ExpectationSuiteValidationResult,
)
from great_expectations_spark.suite import ExpectationSuite

_CSS = """
body{font-family:system-ui,sans-serif;margin:2rem;max-width:72rem}
table{border-collapse:collapse;width:100%;margin:1rem 0}
th,td{border:1px solid #ccc;padding:.35rem .6rem;text-align:left;
      font-size:.9rem;vertical-align:top}
th{background:#f2f2f2}
.pass{color:#166534;font-weight:600}.fail{color:#991b1b;font-weight:600}
code{background:#f6f6f6;padding:0 .25rem;border-radius:3px}
h1,h2{margin-bottom:.3rem}.muted{color:#666;font-size:.85rem}
"""


def _page(title: str, body: str) -> str:
    return (
        "<!doctype html><html><head><meta charset='utf-8'>"
        f"<title>{html.escape(title)}</title><style>{_CSS}</style></head>"
        f"<body>{body}</body></html>"
    )


def _kw(kwargs: dict[str, Any], limit: int = 160) -> str:
    s = json.dumps(
        {k: v for k, v in kwargs.items() if k != "result_format"},
        default=str, sort_keys=True,
    )
    return s if len(s) <= limit else s[: limit - 1] + "…"


# ---------------------------------------------------------------------------
# suite pages
# ---------------------------------------------------------------------------

def render_suite_markdown(suite: ExpectationSuite) -> str:
    lines = [f"# Expectation suite: {suite.name}", ""]
    if suite.meta:
        lines += [f"*meta:* `{json.dumps(suite.meta, default=str)}`", ""]
    lines += ["| # | expectation_type | kwargs |", "|---|---|---|"]
    for i, cfg in enumerate(suite):
        lines.append(f"| {i} | `{cfg.expectation_type}` | `{_kw(cfg.kwargs)}` |")
    lines.append("")
    return "\n".join(lines)


def render_suite_html(suite: ExpectationSuite) -> str:
    rows = "".join(
        f"<tr><td>{i}</td><td><code>{html.escape(cfg.expectation_type)}</code>"
        f"</td><td><code>{html.escape(_kw(cfg.kwargs))}</code></td></tr>"
        for i, cfg in enumerate(suite)
    )
    body = (
        f"<h1>Expectation suite: {html.escape(suite.name)}</h1>"
        f"<p class='muted'>{len(list(suite))} expectations</p>"
        f"<table><tr><th>#</th><th>expectation_type</th><th>kwargs</th></tr>"
        f"{rows}</table>"
    )
    return _page(f"suite {suite.name}", body)


# ---------------------------------------------------------------------------
# validation-result pages
# ---------------------------------------------------------------------------

def _evr_rows(result: ExpectationSuiteValidationResult):
    for r in result.results:
        res = r.result or {}
        exc = (r.exception_info or {}).get("raised_exception")
        yield {
            "type": r.expectation_config.get("expectation_type"),
            "kwargs": _kw(r.expectation_config.get("kwargs", {})),
            "success": bool(r.success),
            "exception": bool(exc),
            "element_count": res.get("element_count"),
            "unexpected_count": res.get("unexpected_count"),
            "unexpected_percent": res.get("unexpected_percent"),
            "observed_value": res.get("observed_value"),
            "partial_unexpected_list": res.get("partial_unexpected_list"),
            "exception_message": (r.exception_info or {}).get(
                "exception_message"
            ),
        }


def render_result_markdown(result: ExpectationSuiteValidationResult) -> str:
    st = result.statistics
    lines = [
        "# Validation result",
        "",
        f"**Overall:** {'PASS' if result.success else 'FAIL'} — "
        f"{st.get('successful_expectations')}/{st.get('evaluated_expectations')}"
        f" expectations passed "
        f"({st.get('success_percent') if st.get('success_percent') is not None else '—'}%)",
        "",
        "| status | expectation_type | kwargs | unexpected | observed |",
        "|---|---|---|---|---|",
    ]
    for row in _evr_rows(result):
        status = ("EXC" if row["exception"]
                  else "PASS" if row["success"] else "FAIL")
        unexp = row["unexpected_count"]
        pct = row["unexpected_percent"]
        unexp_s = ("—" if unexp is None
                   else f"{unexp}" + (f" ({pct:.3f}%)" if pct is not None else ""))
        obs = json.dumps(row["observed_value"], default=str)
        lines.append(
            f"| {status} | `{row['type']}` | `{row['kwargs']}` | {unexp_s} "
            f"| `{obs if len(obs) <= 80 else obs[:79] + '…'}` |"
        )
    fails = [r for r in _evr_rows(result) if not r["success"]]
    if fails:
        lines += ["", "## Failures", ""]
        for row in fails:
            lines.append(f"### `{row['type']}` `{row['kwargs']}`")
            if row["exception"]:
                lines.append(f"- exception: `{row['exception_message']}`")
            if row["partial_unexpected_list"]:
                sample = json.dumps(
                    row["partial_unexpected_list"][:10], default=str
                )
                lines.append(f"- sample unexpected values: `{sample}`")
            lines.append("")
    lines.append("")
    return "\n".join(lines)


def render_result_html(result: ExpectationSuiteValidationResult) -> str:
    st = result.statistics
    rows = []
    for row in _evr_rows(result):
        cls = "pass" if row["success"] else "fail"
        status = ("EXC" if row["exception"]
                  else "PASS" if row["success"] else "FAIL")
        obs = json.dumps(row["observed_value"], default=str)
        rows.append(
            f"<tr><td class='{cls}'>{status}</td>"
            f"<td><code>{html.escape(str(row['type']))}</code></td>"
            f"<td><code>{html.escape(row['kwargs'])}</code></td>"
            f"<td>{'' if row['unexpected_count'] is None else row['unexpected_count']}</td>"
            f"<td><code>{html.escape(obs[:120])}</code></td></tr>"
        )
    verdict = "<span class='pass'>PASS</span>" if result.success else \
        "<span class='fail'>FAIL</span>"
    body = (
        f"<h1>Validation result {verdict}</h1>"
        f"<p class='muted'>{st.get('successful_expectations')}/"
        f"{st.get('evaluated_expectations')} passed</p>"
        "<table><tr><th>status</th><th>expectation_type</th><th>kwargs</th>"
        "<th>unexpected</th><th>observed</th></tr>"
        + "".join(rows) + "</table>"
    )
    return _page("validation result", body)


# ---------------------------------------------------------------------------
# checkpoint EVR-store site
# ---------------------------------------------------------------------------

def build_data_docs(
    checkpoint,
    site_dir: str,
    suite: ExpectationSuite | None = None,
) -> str:
    """Write a static site for a checkpoint's (or a stream's) EVR store.

    One index page (per-partition verdict rollup) plus one page per
    (run_id, partition_id), over the committed rows only
    (:meth:`~great_expectations_spark.checkpoint.Checkpoint.committed_evrs`):
    a torn attempt's rows are never listed or counted. Reads one tiny row
    per partition × expectation on the driver, so this stays
    O(partitions), independent of validated-data size. Returns the index
    path.
    """
    evrs = checkpoint.committed_evrs()
    os.makedirs(site_dir, exist_ok=True)

    by_part: dict[tuple[str, str], list] = {}
    for r in evrs:
        by_part.setdefault((r["run_id"], r["partition_id"]), []).append(r)

    def segment_cell(r) -> str:
        label = (f"{r['segment_col']}={r['segment']}" if r["segment_col"]
                 else "whole suite")
        return f"<td><code>{html.escape(label)}</code></td>"

    index_rows = []
    for (run_id, pid), rows in sorted(by_part.items()):
        ok = all(r["success"] for r in rows)
        fname = f"run_{_safe(run_id)}__part_{_safe(pid)}.html"
        # a segmented run's page names each row's segment; a whole-partition
        # page keeps its plain per-expectation table
        segmented = any(r["segment_col"] for r in rows)
        trs = "".join(
            f"<tr><td class='{'pass' if r['success'] else 'fail'}'>"
            f"{'PASS' if r['success'] else 'FAIL'}</td>"
            + (segment_cell(r) if segmented else "") +
            f"<td><code>{html.escape(str(r['expectation_type']))}</code></td>"
            f"<td>{r['element_count']}</td><td>{r['unexpected_count']}</td>"
            f"<td><code>{html.escape(str(r['observed_value'])[:120])}</code></td></tr>"
            for r in rows
        )
        body = (
            f"<h1>run <code>{html.escape(run_id)}</code> · partition "
            f"<code>{html.escape(pid)}</code></h1>"
            "<p><a href='index.html'>← index</a></p>"
            "<table><tr><th>status</th>"
            + ("<th>segment</th>" if segmented else "") +
            "<th>expectation_type</th>"
            "<th>element_count</th><th>unexpected</th><th>observed</th></tr>"
            f"{trs}</table>"
        )
        with open(os.path.join(site_dir, fname), "w") as f:
            f.write(_page(f"{run_id} / {pid}", body))
        index_rows.append(
            f"<tr><td class='{'pass' if ok else 'fail'}'>"
            f"{'PASS' if ok else 'FAIL'}</td>"
            f"<td><code>{html.escape(run_id)}</code></td>"
            f"<td><a href='{fname}'><code>{html.escape(pid)}</code></a></td>"
            f"<td>{sum(int(r['unexpected_count'] or 0) for r in rows)}</td></tr>"
        )

    suite_link = ""
    if suite is not None:
        with open(os.path.join(site_dir, "suite.html"), "w") as f:
            f.write(render_suite_html(suite))
        suite_link = "<p><a href='suite.html'>expectation suite</a></p>"
    body = (
        "<h1>Validation results</h1>" + suite_link +
        "<table><tr><th>verdict</th><th>run_id</th><th>partition</th>"
        "<th>total unexpected</th></tr>" + "".join(index_rows) + "</table>"
    )
    index = os.path.join(site_dir, "index.html")
    with open(index, "w") as f:
        f.write(_page("validation results", body))
    return index


def _safe(s: str) -> str:
    """Filesystem-safe name. The sanitized form alone is NOT injective
    ('p/1' and 'p_1' both map to 'p_1'), so names that actually lose
    characters get a short content hash appended — distinct inputs can
    never overwrite each other's pages."""
    s = str(s)
    safe = "".join(c if c.isalnum() or c in "-_." else "_" for c in s)
    if safe == s:
        return safe
    import hashlib

    return f"{safe}-{hashlib.sha256(s.encode()).hexdigest()[:8]}"


# ---------------------------------------------------------------------------
# segmented-report page (round 4; pairs with segmented.validate_by_group)
# ---------------------------------------------------------------------------

def render_segments_html(rows: list, title: str = "segmented report",
                         max_rows: int = 5_000) -> str:
    """One HTML page from collected ``validate_by_group`` rows: failing
    segments first, a summary banner, and a PASS/FAIL cell per
    (segment, expectation). Caps at ``max_rows`` rendered rows (the page
    stays O(report), never O(data); ``validate_by_group`` already bounds
    segment cardinality with its own guard)."""
    recs = [
        r.asDict() if hasattr(r, "asDict") else dict(r) for r in rows
    ]
    recs.sort(key=lambda r: (bool(r["success"]), str(r["group"]),
                             r["expectation_type"]))
    failing = sorted({str(r["group"]) for r in recs if not r["success"]})
    segs = {str(r["group"]) for r in recs}
    banner = (
        f"<p class='muted'>{len(segs)} segments · {len(recs)} checks · "
        + (f"<b>{len(failing)} failing segment(s):</b> "
           + ", ".join(html.escape(g) for g in failing[:50])
           if failing else "all segments pass")
        + "</p>"
    )
    cells = "".join(
        "<tr><td>{}</td><td><code>{}</code></td><td>{}</td>"
        "<td>{}</td><td>{}</td><td>{}</td><td>{}</td></tr>".format(
            html.escape(str(r["group"])),
            html.escape(r["expectation_type"]),
            "<b>FAIL</b>" if not r["success"] else "PASS",
            r["element_count"], r["missing_count"], r["unexpected_count"],
            html.escape(str(r.get("observed_value"))) if
            r.get("observed_value") is not None else "",
        )
        for r in recs[:max_rows]
    )
    more = (
        f"<p class='muted'>… {len(recs) - max_rows} more rows not "
        f"rendered</p>" if len(recs) > max_rows else ""
    )
    body = (
        f"<h1>{html.escape(title)}</h1>{banner}"
        f"<table><tr><th>segment</th><th>expectation</th><th>status</th>"
        f"<th>rows</th><th>missing</th><th>unexpected</th>"
        f"<th>observed</th></tr>{cells}</table>{more}"
    )
    return _page(title, body)
