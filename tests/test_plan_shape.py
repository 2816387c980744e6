"""Physical-plan shape checks — the scale contract, not just correctness.

A validation pass over a parquet/Iceberg table must:
- prune columns at the scan (ReadSchema carries only referenced columns —
  a 100 TB table with a wide text column must not read text for a
  turn_idx-only suite);
- broadcast the dim side of referential checks (no shuffle-sort-merge join
  against a 50-row dimension);
- keep map-condition counters inside WholeStageCodegen (no Python in the
  hot path).

These assert on ``explain``-style plan text of the DataFrames the engine
builds, on real parquet written to tmp storage.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from great_expectations_spark.schema import generate_transcripts


@pytest.fixture(scope="module")
def tpath(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plan") / "transcripts")
    generate_transcripts(spark, n_turns=2_000, seed=3).write.parquet(p)
    return p


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_agg_bundle_prunes_columns(spark, tpath):
    """A turn_idx-only bundled agg over parquet must not read text/tool."""
    df = spark.read.parquet(tpath)
    bundle = df.agg(
        F.count(F.lit(1)).alias("element_count"),
        F.mean("turn_idx").alias("mean_turn"),
        F.sum(F.when(F.col("turn_idx").isNull(), 1).otherwise(0)).alias("nulls"),
    )
    plan = _plan(bundle)
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan, plan
    read_schema = scan[0].split("ReadSchema:")[1]
    assert "turn_idx" in read_schema
    assert "text" not in read_schema and "tool" not in read_schema, read_schema


def test_row_condition_pushes_down(spark, tpath):
    """row_condition filters must reach the parquet scan as PushedFilters."""
    df = spark.read.parquet(tpath).filter(F.expr("role = 'user'"))
    counted = df.agg(F.count(F.lit(1)).alias("n"))
    plan = _plan(counted)
    assert "PushedFilters:" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "role" in pushed and "EqualTo" in pushed, pushed


def test_referential_join_broadcasts(spark, tpath):
    from great_expectations_spark.schema import generate_tools_dim

    df = spark.read.parquet(tpath)
    dim = generate_tools_dim(spark).select(F.col("tool_name").alias("tool"))
    orphans = df.filter(F.col("tool").isNotNull()).join(
        F.broadcast(dim), "tool", "left_anti"
    )
    plan = _plan(orphans)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_map_counters_stay_in_codegen(spark, tpath):
    """Condition counters (F.sum(F.when(...))) compile into
    WholeStageCodegen — no Python evaluation nodes in the plan."""
    df = spark.read.parquet(tpath)
    counters = df.agg(
        F.sum(F.when(~F.col("role").isin("user", "assistant", "system", "tool"), 1)
              .otherwise(0)).alias("uc_role"),
        F.sum(F.when(F.length("text") > 10_000, 1).otherwise(0)).alias("uc_len"),
    )
    counters.collect()  # AQE: codegen spans only appear in the final plan
    plan = _plan(counters)
    # "*(n)" prefixes mark WholeStageCodegen stages in the plan string
    assert "WholeStageCodegen" in plan or "*(" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    # map-side partial aggregation (combine before shuffle) must be present
    assert "partial_sum" in plan, plan


def test_ivf_build_has_no_global_window(spark):
    """Round-2 fix: the IVF centroid sample must plan as
    TakeOrderedAndProject (executor-local top-k heaps), never a
    row_number window over a single-partition global sort; the
    assignment pass must be a shuffle-free projection (no Exchange, no
    Window) over the corpus."""
    import random

    from great_expectations_spark.operators import similarity as S

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    centroids, assigned = S.build_ivf_index(
        corpus, "vec_id", "embedding", n_centroids=8
    )
    plan = _plan(assigned)
    assert "Window" not in plan, plan
    assert "Exchange" not in plan, plan
    assert centroids.count() == 8
    # every corpus row assigned exactly once, centroid ids in range
    a = assigned.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("centroid_id").alias("lo"),
        F.max("centroid_id").alias("hi"),
    ).collect()[0]
    assert a["n"] == 200 and 1 <= a["lo"] and a["hi"] <= 8


def test_exist_in_default_lets_aqe_decide(spark, tpath):
    """exist_in no longer force-broadcasts the dim: with no kwarg the plan
    carries no mandatory broadcast hint (AQE decides); broadcast=True
    forces it; broadcast=False forbids it (sort-merge)."""
    from great_expectations_spark.registry import compile_expectation
    from great_expectations_spark.schema import generate_tools_dim
    from great_expectations_spark.suite import ExpectationConfiguration

    df = spark.read.parquet(tpath)
    dim = generate_tools_dim(spark)
    tables = {"tools": dim}

    def viol_plan(**extra):
        cfg = ExpectationConfiguration(
            expectation_type="expect_column_values_to_exist_in",
            kwargs={"column": "tool", "other_table": "tools",
                    "other_column": "tool_name", **extra},
        )
        cr = compile_expectation(cfg)
        return _plan(cr.violations(df, tables))

    assert "BroadcastHashJoin" in viol_plan(broadcast=True)
    forbidden = viol_plan(broadcast=False)
    assert "SortMergeJoin" in forbidden or "ShuffledHashJoin" in forbidden, forbidden


def test_minhash_banding_shuffles_slim_rows(spark):
    """Round-2 rework: the banding exchange must NOT carry the signature
    array — band rows are (id, band, band_hash) only; signatures join back
    for candidate pairs at the end."""
    from great_expectations_spark.operators.dedup import minhash_lsh_candidates

    docs = spark.createDataFrame(
        [(i, ("abcdefg hij klmnop " * 6) + str(i % 3)) for i in range(60)],
        "doc_id long, text string",
    )
    out = minhash_lsh_candidates(
        docs, "text", "doc_id", n_hashes=16, bands=4, shingle_size=4,
        min_jaccard=None, persist=False,
    )
    plan = _plan(out)
    # every Exchange between banding and the self-join must be signature-free
    for block in plan.split("Exchange")[1:]:
        first_line = block.splitlines()[0]
        if "band_hash" in first_line:
            assert "signature" not in first_line, first_line
    assert out.count() > 0


def test_rbp_multi_batch_is_one_aggregation(spark, job_ids):
    """multi_batch_metrics: k batches → union + groupBy(batch_id), one
    aggregation whatever k — over 3 batches it launches as many Spark jobs
    as over 1 (not one job per batch), all in the caller's job group."""
    from great_expectations_spark.rule_based_profiler import multi_batch_metrics

    def batches(k):
        return [
            spark.range(i * 100, (i + 1) * 100).select(
                F.col("id"), (F.col("id") % 7).cast("double").alias("x")
            )
            for i in range(k)
        ]

    jobs = []
    for k in (1, 3):
        rows = []
        launched, grouped = job_ids(f"rbp-batches-{k}", lambda: rows.extend(
            multi_batch_metrics(batches(k), columns=["x"])[1]))
        assert launched and grouped == launched
        assert len(rows) == k
        jobs.append(len(launched))
    assert jobs[0] == jobs[1], jobs


def test_repetition_profile_single_explode(spark):
    """repetition_profile must be one linear chain: ONE Generate feeding
    one (id,n,gram)-keyed shuffle (line rows ride the same explode under
    the n=-1 sentinel). A filter-split two-branch form re-explodes the
    full text column per branch — at 100 TB that is a second full scan."""
    from great_expectations_spark.operators.textstats import repetition_profile

    df = spark.createDataFrame(
        [(1, "a b a b\nx y"), (2, "c d e")], "doc_id long, text string"
    )
    plan = _plan(repetition_profile(df, "text", "doc_id",
                                    top_ns=(2,), dup_ns=(3,),
                                    strategy="shuffle"))
    assert plan.count("Generate explode") == 1, plan
    # the default (rowlocal) strategy is map-only: no Exchange, no Generate
    plan_rl = _plan(repetition_profile(df, "text", "doc_id",
                                       top_ns=(2,), dup_ns=(3,)))
    assert "Exchange" not in plan_rl and "Generate" not in plan_rl, plan_rl


# ---------------------------------------------------------------------------
# round-4 curation operators — scale-shape contracts
# ---------------------------------------------------------------------------

def test_pii_scan_is_map_only(spark, tmp_path):
    """PII scan + redaction compose into a zero-Exchange plan: pure
    per-row regexp/HOF expressions that ride the scan's codegen stage."""
    from great_expectations_spark.operators.pii import redact_pii, scan_pii

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"doc {i} mail user{i}@example.com") for i in range(50)],
        "doc_id long, text string",
    ).write.parquet(p)
    df = scan_pii(spark.read.parquet(p)).withColumn(
        "red", redact_pii(F.col("text"))
    )
    plan = _plan(df)
    assert "Exchange" not in plan, plan


def test_line_dedup_distinct_agg_is_skew_safe(spark):
    """groupBy(line_hash).count_distinct(id) must plan as the TWO-PHASE
    distinct: the first Exchange keys on (line_hash, __id) — a line
    duplicated in 10^9 docs spreads across reducers instead of landing
    on one — and only pre-deduplicated partial counts shuffle on the
    bare hash."""
    from great_expectations_spark.operators.lines import duplicate_line_hashes

    docs = spark.createDataFrame(
        [(i, "hot line\nunique %d" % i) for i in range(20)],
        "doc_id long, text string",
    )
    plan = _plan(duplicate_line_hashes(docs))
    assert "hashpartitioning(line_hash" in plan
    first_exchange = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ][-1]  # deepest exchange appears last in the tree dump
    assert "__id" in first_exchange, plan
    assert "partial_count(distinct" in plan, plan


def test_lm_score_broadcasts_vocab(spark):
    """score_documents joins the driver-bounded top-K vocab as a
    broadcast — never a sort-merge join against the corpus tokens."""
    from great_expectations_spark.operators.lm import (
        score_documents,
        unigram_vocab,
    )

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(10)],
        "doc_id long, text string",
    )
    s = score_documents(docs, unigram_vocab(docs, top_k=5), oov_logp=-9.0)
    plan = _plan(s)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_one_compile_per_suite(spark, monkeypatch):
    """SuiteRunner with index columns, validate_by_group and plan_suite
    all plan the caller's suite as written: one compile per suite, a
    defaulted window check included."""
    from great_expectations_spark import (
        ExpectationSuite,
        SuiteRunner,
        validate_by_group,
    )
    from great_expectations_spark.plans import planner

    compiles = []
    uncached = planner._plan_suite_uncached

    def counted(suite):
        compiles.append(suite)
        return uncached(suite)

    monkeypatch.setattr(planner, "_PLAN_CACHE", {})
    monkeypatch.setattr(planner, "_plan_suite_uncached", counted)
    df = spark.createDataFrame(
        [("a", "c1", 1), ("a", "c1", 2), ("b", "c2", 1)],
        "g string, conv_id string, turn_idx int")
    suite = ExpectationSuite("once")
    suite.add("expect_column_values_to_be_increasing", column="turn_idx",
              order_by="turn_idx")
    suite.add("expect_column_values_to_not_be_null", column="conv_id")
    index = ["conv_id", "turn_idx"]
    assert SuiteRunner(spark, unexpected_index_column_names=index).validate(
        df, suite).success
    validate_by_group(df, suite, "g",
                      unexpected_index_column_names=index).collect()
    planner.plan_suite(suite)
    assert len(compiles) == 1
