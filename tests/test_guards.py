"""Round-2 guard tests: the scale footguns found by the round-1 review.

- COMPLETE result format degrades (never collects) past max_complete_rows;
- two histogram/KL expectations with identical endpoints but different
  interior edges must not collide in the domain-group bundle;
- suite_hash excludes the derived expectation id (manifest stability);
- duplicate_clusters iterative lineage stays flat (localCheckpoint each
  round — plan depth must not grow with max_iter).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from great_expectations_spark import ExpectationSuite, SuiteRunner


def test_complete_degrades_past_max_complete_rows(spark):
    df = spark.range(0, 1000).withColumn("v", F.col("id") % 10)
    suite = ExpectationSuite("s")
    suite.add(
        "expect_column_values_to_be_between",
        column="v",
        min_value=0,
        max_value=4,
        result_format={"result_format": "COMPLETE"},
    )
    res = SuiteRunner(spark, max_complete_rows=100).validate(df, suite)
    r = res.results[0].result
    assert r["unexpected_count"] == 500
    # full list skipped, partial content retained, truncation recorded
    assert "unexpected_list" not in r or r["unexpected_list"] is None
    assert r["partial_unexpected_list"]
    assert r["details"]["complete_truncated"]["max_complete_rows"] == 100

    # guard off (None) or above the count → full list present
    res2 = SuiteRunner(spark, max_complete_rows=None).validate(df, suite)
    assert len(res2.results[0].result["unexpected_list"]) == 500


def test_histograms_same_endpoints_different_edges_dont_collide(spark):
    """uniform vs skewed interior edges over the same column/range: both KL
    expectations must see THEIR OWN bucket counts (round-1 alias collision
    overwrote one bundle expr with the other)."""
    df = spark.range(0, 100).select(F.col("id").cast("double").alias("x"))
    uniform = {
        "bins": [0.0, 25.0, 50.0, 75.0, 100.0],
        "weights": [0.25, 0.25, 0.25, 0.25],
    }
    skewed = {
        "bins": [0.0, 10.0, 20.0, 30.0, 100.0],
        "weights": [0.40, 0.30, 0.20, 0.10],
    }
    suite = ExpectationSuite("kl2")
    suite.add(
        "expect_column_kl_divergence_to_be_less_than",
        column="x", partition_object=uniform, threshold=0.01,
    )
    suite.add(
        "expect_column_kl_divergence_to_be_less_than",
        column="x", partition_object=skewed, threshold=0.01,
    )
    res = SuiteRunner(spark).validate(df, suite)
    kl_uniform = res.results[0].result["observed_value"]
    kl_skewed = res.results[1].result["observed_value"]
    # uniform data on [0,100): observed fractions per skewed bins are
    # (0.1, 0.1, 0.1, 0.7) → KL vs (0.4, 0.3, 0.2, 0.1) = 1.0443…; a
    # collision feeding the uniform histogram's counts would yield 0.1217
    assert kl_uniform < 1e-9, (kl_uniform, kl_skewed)
    assert kl_skewed == pytest.approx(1.0443, abs=0.01), (kl_uniform, kl_skewed)


def test_suite_hash_excludes_derived_id():
    s = ExpectationSuite("h")
    cfg = s.add("expect_column_values_to_not_be_null", column="a")
    h1 = s.suite_hash
    # simulate a round-trip through a manifest written before to_dict()
    # carried 'id': same expectations → same hash regardless of the field
    s2 = ExpectationSuite("h")
    s2.add("expect_column_values_to_not_be_null", column="a")
    assert h1 == s2.suite_hash
    d = cfg.to_dict()
    assert "id" in d  # still serialized for EVR linkage


def test_duplicate_clusters_plan_depth_constant(spark):
    """localCheckpoint each round: the returned labels plan must not embed
    the full k-round join lineage (round-1 bug re-executed an
    exponentially deepening DAG)."""
    from great_expectations_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12)], "id_a long, id_b long"
    )
    labels = duplicate_clusters(pairs, max_iter=6)
    plan = labels._jdf.queryExecution().executedPlan().toString()
    # a checkpointed frame plans as a scan over the materialized RDD —
    # no joins from the iteration remain in the lineage
    assert "Join" not in plan, plan
    got = {
        (r["id"], r["cluster_id"])
        for r in labels.collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10), (12, 10)}


def test_checkpoint_concurrent_violations_partitioned(spark, tmp_path):
    """Concurrent partitions write violations under distinct
    partition_id=… roots; the union read sees every partition's rows."""
    from great_expectations_spark.checkpoint import Checkpoint

    df = spark.createDataFrame(
        [(p, i, -1 if i % 3 == 0 else 1) for p in ("a", "b", "c", "d") for i in range(30)],
        "part string, idx int, v int",
    )
    suite = ExpectationSuite("cc")
    suite.add("expect_column_values_to_be_between", column="v", min_value=0, max_value=9)
    vio = str(tmp_path / "violations")
    cp = Checkpoint(
        spark,
        manifest_path=str(tmp_path / "manifest"),
        evr_path=str(tmp_path / "evrs"),
        violations_path=vio,
        unexpected_index_column_names=["part", "idx"],
    )
    out = cp.run(df, suite, partition_col="part", run_id="r1",
                 max_concurrent_partitions=4)
    assert all(r.status == "validated" for r in out.records)
    got = spark.read.parquet(vio)
    assert got.select("partition_id").distinct().count() == 4
    assert got.count() == 4 * 10


def test_json_parseable_strict_rejects_trailing_garbage(spark):
    """Reference json.loads parity: a valid JSON prefix followed by garbage
    must FAIL strict parsing (Spark's native variant parse accepts it)."""
    from great_expectations_spark.functions import conditions as C
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [('{"k": 1}',), ('{"k": 1}{',), ("[1, 2]",), ("nope",), (None,)],
        "js string",
    )
    strict = C.json_parseable("js")
    n_bad = df.select(strict.unexpected.alias("u")).filter("u").count()
    assert n_bad == 2  # trailing-garbage + nope; null is out of domain
    lenient = C.json_parseable("js", strict=False)
    n_bad_lenient = df.select(lenient.unexpected.alias("u")).filter("u").count()
    assert n_bad_lenient == 1  # native parse accepts the prefix


def test_token_count_and_vector_norm_expectations(spark):
    """Pipeline-gate extensions registered as first-class expectations."""
    docs = spark.createDataFrame(
        [("one two three four five",), ("just two",), (None,)], "text string"
    )
    suite = ExpectationSuite("gates")
    suite.add("expect_column_token_counts_to_be_between",
              column="text", min_value=3, max_value=10)
    res = SuiteRunner(spark).validate(docs, suite)
    r = res.results[0].result
    assert r["unexpected_count"] == 1 and r["missing_count"] == 1

    vecs = spark.createDataFrame(
        [(1, [0.6, 0.8]), (2, [3.0, 4.0]), (3, None)],
        "id long, v array<double>",
    )
    s2 = ExpectationSuite("norms")
    s2.add("expect_column_vector_norms_to_be_between",
           column="v", min_value=0.5, max_value=1.5)
    res2 = SuiteRunner(spark).validate(vecs, s2)
    r2 = res2.results[0].result
    assert r2["unexpected_count"] == 1 and r2["missing_count"] == 1
    # observed value for the violating row is the norm itself
    assert res2.results[0].result["partial_unexpected_list"] == [5.0]


def test_duplicate_clusters_long_chain_converges_or_warns(spark):
    """Round-3 convergence contract: a duplicate CHAIN longer than the old
    cap must either fully merge (pointer jumping gives O(log d) rounds) or
    warn loudly — silent under-merge is the failure mode being pinned."""
    import warnings

    from great_expectations_spark.operators.dedup import duplicate_clusters

    # chain 0-1-2-...-14: diameter 14 > the old max_iter=5
    chain = [(i, i + 1) for i in range(14)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")

    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any non-convergence warning fails
        labels = duplicate_clusters(pairs)
    assert {r["cluster_id"] for r in labels.collect()} == {0}

    # capped run: must NOT silently return under-merged labels
    with pytest.warns(RuntimeWarning, match="did not converge"):
        duplicate_clusters(pairs, max_iter=1)
    with pytest.raises(ValueError, match="did not converge"):
        duplicate_clusters(pairs, max_iter=1, raise_on_nonconverged=True)


def test_completed_partitions_null_success_stays_none(spark, tmp_path):
    """A manifest record with NULL success (written by an external tool)
    must surface as None, not False — coercion to False flipped a
    fully-passing resumed run's verdict to failed. A NULL finished_ts
    sorts before every timestamped record of its partition and reads back
    as NULL."""
    import json

    from great_expectations_spark.checkpoint import Checkpoint, MANIFEST_SCHEMA

    mp = tmp_path / "manifest"
    for pid, cid, success, ts in (
            ("p0", "c0", None, "2026-01-01T00:00:00"),
            ("p1", "c1", True, "2026-01-01T00:00:00"),
            ("p1", "c2", False, None), ("p2", "c3", True, None)):
        (mp / "H" / pid).mkdir(parents=True, exist_ok=True)
        (mp / "H" / pid / f"{cid}.json").write_text(json.dumps(dict(zip(
            MANIFEST_SCHEMA.fieldNames(),
            ("r1", pid, cid, "validated", "H", 10, 0, 0.1, success, ts)))))
    ck = Checkpoint(spark, manifest_path=str(mp))
    assert ck.completed_partitions("H") == {"p0": None, "p1": True, "p2": True}
    assert sorted((r["partition_id"], r["finished_ts"] is None)
                  for r in ck.read_manifest().collect()) == [
        ("p0", False), ("p1", False), ("p2", True)]



def test_log_root_with_glob_metacharacters_reads_its_records(spark, tmp_path):
    """The log is listed with a Hadoop glob: a root whose own name holds
    glob metacharacters still finds its committed records instead of
    silently reading none (which would re-validate every partition)."""
    from great_expectations_spark.checkpoint import Checkpoint

    ck = Checkpoint(spark, manifest_path=str(tmp_path / "m[1]{a,b}*?"))
    ck._commit({"run_id": "r1", "partition_id": "a/b=c", "commit_id": "c0",
                "status": "validated", "suite_hash": "H", "rows_scanned": 1,
                "violations": 0, "elapsed_s": 0.1, "success": True})
    assert ck.completed_partitions("H") == {"a/b=c": True}
    assert [r["partition_id"] for r in ck._committed("H", "a/b=c")] == ["a/b=c"]

def test_docs_safe_names_do_not_collide(tmp_path):
    from great_expectations_spark.docs import _safe

    assert _safe("p/1") != _safe("p_1")
    assert _safe("r:1") != _safe("r_1")
    # clean names stay readable and unsuffixed
    assert _safe("part-0.A") == "part-0.A"


def test_fused_value_counts_beyond_grouping_sets_limit(spark):
    """Spark caps GROUPING SETS at 64; >64 columns must chunk, not raise
    GROUPING_SIZE_LIMIT_EXCEEDED."""
    from pyspark.sql import functions as F

    from great_expectations_spark.profiler import _fused_value_counts

    df = spark.range(0, 60)
    cols = []
    for i in range(70):
        name = f"c{i}"
        cols.append(name)
        df = df.withColumn(name, (F.col("id") % (2 + i % 3)).cast("string"))
    out = _fused_value_counts(df.drop("id"), cols, max_values=100)
    assert set(out) == set(cols)
    assert sorted(v for v, _ in out["c0"]) == ["0", "1"]
    assert sum(cnt for _, cnt in out["c69"]) == 60


def _spy_persist(monkeypatch, df_cls):
    """Record every DataFrame.persist call (round-5 review: Spark's SQL
    CacheManager holds persisted relations until an EXPLICIT unpersist —
    ContextCleaner never cleans SQL-cache entries — so library paths that
    cannot guarantee the unpersist must localCheckpoint instead)."""
    calls: list = []
    orig = df_cls.persist

    def spy(self, *a, **k):
        calls.append(self)
        return orig(self, *a, **k)

    monkeypatch.setattr(df_cls, "persist", spy)
    return calls


def test_contiguous_validate_unpersists_what_it_persists(spark, monkeypatch,
                                                         tmp_path):
    """Every relation a contiguous check's validate() persists — its
    broken-group frame — is unpersisted when validate() returns, with or
    without a violations sink: a per-partition checkpoint loop must not
    accumulate CacheManager entries."""
    df = spark.createDataFrame(
        [("c1", 0), ("c1", 1), ("c2", 0), ("c2", 2)],
        "conv_id string, turn_idx int",
    )
    suite = ExpectationSuite("contig-cache")
    suite.add("expect_column_values_to_be_contiguous", column="turn_idx",
              group_by=["conv_id"], start=0)
    persisted = _spy_persist(monkeypatch, type(df))
    unpersisted: list = []
    orig_unpersist = type(df).unpersist

    def spy_unpersist(self, *a, **k):
        unpersisted.append(self)
        return orig_unpersist(self, *a, **k)

    monkeypatch.setattr(type(df), "unpersist", spy_unpersist)
    for sink in (None, str(tmp_path / "v")):
        persisted.clear()
        runner = SuiteRunner(spark, violations_path=sink,
                             unexpected_index_column_names=["conv_id"])
        r = runner.validate(df, suite).results[0]
        assert r.result["unexpected_count"] == 1
        assert persisted, sink
        assert all(any(p is u for u in unpersisted) for p in persisted), sink
    viol = spark.read.parquet(str(tmp_path / "v")).collect()
    assert {v["conv_id"] for v in viol} == {"c2"}


def test_contiguous_run_and_violations_never_persist(spark, monkeypatch,
                                                      tmp_path):
    """A contiguous check's pass and its violations sink never leave a
    persisted relation in Spark's CacheManager once validate() returns,
    with or without a sink: the cache holds no entry for any relation the
    run persisted, so a per-partition checkpoint loop cannot accumulate
    them."""
    df = spark.createDataFrame(
        [("c1", 0), ("c1", 1), ("c2", 0), ("c2", 2)],
        "conv_id string, turn_idx int",
    )
    suite = ExpectationSuite("contig-cm")
    suite.add("expect_column_values_to_be_contiguous", column="turn_idx",
              group_by=["conv_id"], start=0)
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    persisted = _spy_persist(monkeypatch, type(df))
    for sink in (None, str(tmp_path / "v")):
        persisted.clear()
        runner = SuiteRunner(spark, violations_path=sink,
                             unexpected_index_column_names=["conv_id"])
        r = runner.validate(df, suite).results[0]
        assert not r.success and r.result["unexpected_count"] == 1
        assert persisted, sink
        assert not any(cache_manager.lookupCachedData(p._jdf).isDefined()
                       for p in persisted), sink
    viol = spark.read.parquet(str(tmp_path / "v")).collect()
    assert {v["conv_id"] for v in viol} == {"c2"}


def test_score_documents_default_oov_never_persists(spark, monkeypatch):
    """score_documents(oov_logp=None) must not register a CacheManager
    entry per call — a per-batch pipeline would leak one ≤top_k-row cached
    relation per batch."""
    from great_expectations_spark.operators.lm import (
        score_documents,
        unigram_vocab,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha zzz")], "doc_id long, text string"
    )
    vocab = unigram_vocab(docs, top_k=2)
    calls = _spy_persist(monkeypatch, type(docs))
    scored = {r["doc_id"]: r for r in
              score_documents(docs, vocab).collect()}
    assert scored[1]["n_scored"] == 2 and scored[2]["n_scored"] == 2
    # doc 2 carries an OOV token, so it must score strictly lower
    assert scored[2]["mean_logp"] < scored[1]["mean_logp"]
    assert calls == []


def test_validate_by_group_unpersists_on_max_groups_overflow(
    spark, monkeypatch
):
    """The segmented passes release every persisted relation even when
    _capped_collect raises (try/finally, round-5 review fix) — a
    checkpointed per-partition loop must not accumulate cache entries."""
    from great_expectations_spark import validate_by_group

    df = spark.createDataFrame(
        [(str(i), float(i)) for i in range(12)], "seg string, v double"
    )
    suite = ExpectationSuite("ov")
    # z-score forces the wave-1 persist (dep_maps path)
    suite.add("expect_column_value_z_scores_to_be_less_than",
              column="v", threshold=3.0)
    persisted = _spy_persist(monkeypatch, type(df))
    unpersisted: list = []
    orig_unpersist = type(df).unpersist

    def spy_unpersist(self, *a, **k):
        unpersisted.append(self)
        return orig_unpersist(self, *a, **k)

    monkeypatch.setattr(type(df), "unpersist", spy_unpersist)
    with pytest.raises(ValueError, match="max_groups"):
        validate_by_group(df, suite, "seg", max_groups=3)
    assert len(persisted) == 1          # the wave-1 grouped relation
    assert persisted[0] in unpersisted  # released despite the raise


def test_unresolved_row_condition_fails_only_its_group(spark):
    """A row_condition naming an unknown column fails the checks of its
    domain group with exception EVRs; the other group still validates. The
    segmented executor raises, as it does for a config that does not
    compile."""
    from great_expectations_spark import validate_by_group

    df = spark.createDataFrame([(1,), (None,), (3,)], "v int")
    suite = ExpectationSuite("bad-rc")
    suite.add("expect_column_values_to_not_be_null", column="v")
    suite.add("expect_column_values_to_not_be_null", column="v",
              row_condition="nope = 1")
    healthy, bad = SuiteRunner(spark).validate(df, suite).results
    assert not healthy.exception_info["raised_exception"]
    assert healthy.result["unexpected_count"] == 1
    assert bad.exception_info["raised_exception"]
    assert "nope" in bad.exception_info["exception_message"]
    assert bad.expectation_config == suite.expectations[1].to_dict()
    with pytest.raises(Exception, match="nope"):
        SuiteRunner(spark, catch_exceptions=False).validate(df, suite)
    with pytest.raises(Exception, match="nope"):
        validate_by_group(df.withColumn("g", F.lit("a")), suite, "g")
