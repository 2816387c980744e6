"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <sf>, ...extras}

Headline workload (the north_rule metric is *validated turns/sec for the
full expectation-suite run*):

- ``suite_transcripts``: full constraint suite (not_null, unique
  (conv_id,turn_idx), in_set(role), mean/stddev/quantile-between over
  turn_idx and length(text), referential tool→dim, KL-divergence of the
  text-length distribution vs a baseline profile) over a deterministic
  synthetic transcripts table scaled to the sf (BASELINE.json north_star).
- ``suite_lineitem``: the flagship mixed suite over the TPC-H-ish lineitem.
- ``unique_salted`` / ``referential_anti`` / ``kl_text_len``: the three
  scale-critical operators in isolation.
- ``minhash_dedup`` / ``ann_topk`` (when operators module present):
  training-data pipeline ops over documents/embeddings.
- ``decontamination`` / ``repetition``: the round-3 corpus-curation ops
  over documents (per-round regression tracking; their two-level scaling
  record is ``tools/scaling_bench.py curation``, BENCH/PIPELINE_OPS.md).

Environment:
    SPARK_GRAFT_SF_DIR  parquet dir   (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS    local[N]      (default: the CPUs this process may use)
    BENCH_DRIVER_MEM    driver heap   (default: half the host's physical memory)
    BENCH_TURNS         transcript rows override (default 2_000_000 * sf * 10)
    BENCH_SWEEPS        minimum recorded interleaved sweeps (default 5)
    BENCH_WARMUP        discarded warm-up sweeps before recording (default 1)
    BENCH_MAX_SWEEPS    convergence-extension cap (default BENCH_SWEEPS + 4)

Noise protocol (round 4): queries run as INTERLEAVED sweeps — the whole set
once per sweep, BENCH_SWEEPS times, per-query min reported and the raw
per-sweep sample lists published in the JSON (``samples``). A host noise
burst then costs one sweep of every query instead of every sample of one
query, making round-over-round deltas attributable (BENCH/BASELINE.md
measured 2.6x spread on identical configs with the old back-to-back form).

Convergence stop (round 5): one discarded warm-up sweep absorbs JIT /
shuffle-service / page-cache warm-up (round 4's suite_transcripts samples
were still strictly decreasing at sweep 5, so its recorded min was a
warm-up artifact, not a converged figure), then recording continues PAST
BENCH_SWEEPS — up to BENCH_MAX_SWEEPS — until the latest sweep improved no
query's running min by ≥5%. The JSON publishes ``sweeps`` actually run.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from pyspark.sql import SparkSession, functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# the one place the bench session's cores are decided: SPARK_GRAFT_CPUS, else
# every CPU this process may run on (its affinity mask, which a container's
# cpuset narrows below the host's nproc)
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
CACHE_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_cache")


def _sf_of(path: str) -> float:
    m = re.search(r"sf([0-9.]+)", path)
    return float(m.group(1).rstrip(".")) if m else 0.1


SF = _sf_of(SF_DIR)
# transcripts scale: sf0.1 → 16M turns — the SAME scale as BENCH/BASELINE.md's
# recorded two-level scaling runs, so the per-round suite_transcripts number is
# directly comparable to the baseline's 845k (N) / 2.75M (4N) turns/sec.
# Deterministic, generated once and cached as a bucketed table.
N_TURNS = int(os.environ.get("BENCH_TURNS", str(max(20_000, int(160_000_000 * SF)))))


def build_spark(cpus: int = CPUS) -> SparkSession:
    """The engine's own session (``skew.build_session``: AQE on, ANSI off)
    on ``cpus`` cores and shuffle partitions, with a driver heap of half the
    host's physical memory unless ``BENCH_DRIVER_MEM`` says otherwise."""
    from great_expectations_spark.skew import build_session

    # shuffle/spill to tmpfs: the sandbox's virtio disk serializes shuffle
    # I/O and caps local[32] scaling; a real cluster's per-node NVMe is the
    # moral equivalent of /dev/shm here (override with SPARK_GRAFT_LOCAL_DIR)
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")
    try:
        os.makedirs(local_dir, exist_ok=True)
    except OSError:
        local_dir = "/tmp/spark-local"
        os.makedirs(local_dir, exist_ok=True)
    host_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    return build_session(
        f"gx-spark-bench-sf{SF}", master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.local.dir": local_dir,
            "spark.sql.warehouse.dir": os.path.join(CACHE_ROOT, "warehouse"),
            "spark.ui.enabled": "false",
            "spark.driver.memory": os.environ.get(
                "BENCH_DRIVER_MEM", f"{max(1, host_gb // 2)}g"),
        },
    )


def transcripts_path(spark: SparkSession) -> str:
    """Generate-once parquet cache of the deterministic transcripts table."""
    from great_expectations_spark.schema import generate_transcripts

    path = os.path.join(CACHE_ROOT, f"transcripts_{N_TURNS}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        generate_transcripts(spark, n_turns=N_TURNS, seed=42).write.mode(
            "overwrite"
        ).parquet(path)
    return path


N_BUCKETS = 32


def transcripts_table(spark: SparkSession) -> str:
    """Generate-once BUCKETED+SORTED transcripts table — the 100 TB layout.

    ``CLUSTERED BY (conv_id) SORTED BY (conv_id, turn_idx)`` is the
    single-box analogue of an Iceberg table bucket-partitioned by conv hash
    with sorted data files (the input_hint's stable turn ordering made
    physical). Payoff measured at 16M rows / local[16]: the compound-unique
    groupBy loses its Exchange entirely (10.3s → 1.2s) and the
    increasing-per-conv window loses both shuffle and sort (4.5s → 0.1s) —
    the two passes that otherwise dominate and scale worst.
    """
    name = f"t_transcripts_{N_TURNS}"
    loc = os.path.join(CACHE_ROOT, "warehouse", name)
    if os.path.exists(os.path.join(loc, "_SUCCESS")):
        # files exist from a prior process — re-register in this session's
        # in-memory catalog as an external bucketed table
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {name} "
            "(conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp) USING PARQUET "
            f"CLUSTERED BY (conv_id) SORTED BY (conv_id, turn_idx) "
            f"INTO {N_BUCKETS} BUCKETS LOCATION '{loc}'"
        )
    elif not spark.catalog.tableExists(name):
        df = spark.read.parquet(transcripts_path(spark))
        (
            df.write.bucketBy(N_BUCKETS, "conv_id")
            .sortBy("conv_id", "turn_idx")
            .option("path", loc)
            .mode("overwrite")
            .saveAsTable(name)
        )
    return name


def _load(spark, name):
    return spark.read.parquet(os.path.join(SF_DIR, f"{name}.parquet"))


# --------------------------------------------------------------------------
# headline queries — each returns a small materialized value (forces the job)
# --------------------------------------------------------------------------

_BASELINE_CACHE: dict = {}


def _text_len_baseline(spark: SparkSession) -> dict:
    """KL baseline profile — built ONCE outside the timed suite run: in
    production the baseline comes from a prior profiling run (a stored
    partition_object), not from the batch being validated."""
    if "b" not in _BASELINE_CACHE:
        from great_expectations_spark.profile import build_continuous_partition_object

        tdf = spark.table(transcripts_table(spark))
        _BASELINE_CACHE["b"] = build_continuous_partition_object(
            tdf.select(F.length("text").alias("len")), "len",
            bins="uniform", n_bins=20,
        )
    return _BASELINE_CACHE["b"]


def q_suite_transcripts(spark: SparkSession) -> dict:
    from great_expectations_spark import ExpectationSuite, SuiteRunner
    from great_expectations_spark.schema import generate_tools_dim

    tdf = spark.table(transcripts_table(spark))
    tools = generate_tools_dim(spark)
    baseline = _text_len_baseline(spark)

    suite = ExpectationSuite("north-star")
    suite.add("expect_column_values_to_not_be_null", column="text", mostly=0.99)
    suite.add("expect_column_values_to_not_be_null", column="conv_id")
    suite.add("expect_compound_columns_to_be_unique",
              column_list=["conv_id", "turn_idx"])
    suite.add("expect_column_values_to_be_in_set", column="role",
              value_set=["system", "user", "assistant", "tool"], mostly=0.98)
    suite.add("expect_column_mean_to_be_between", column="turn_idx",
              min_value=0.0, max_value=500.0)
    suite.add("expect_column_stdev_to_be_between", column="turn_idx",
              min_value=0.0, max_value=10_000.0)
    suite.add("expect_column_quantile_values_to_be_between", column="turn_idx",
              quantile_ranges={"quantiles": [0.25, 0.5, 0.75],
                               "value_ranges": [[0, None], [0, None], [0, None]]})
    suite.add("expect_column_values_to_exist_in", column="tool",
              other_table="tools", other_column="tool_name", mostly=0.99)
    suite.add("expect_column_kl_divergence_to_be_less_than",
              column="__text_len", partition_object=baseline, threshold=0.5)
    suite.add("expect_column_values_to_be_increasing", column="turn_idx",
              strictly=True, partition_by="conv_id", order_by="turn_idx")

    tdf2 = tdf.withColumn("__text_len", F.length("text"))
    runner = SuiteRunner(
        spark, tables={"tools": tools},
        unexpected_index_column_names=["conv_id", "turn_idx"],
    )
    res = runner.validate(tdf2, suite)
    return {
        "rows": N_TURNS,
        "success_pct": res.statistics["success_percent"],
        "evaluated": res.statistics["evaluated_expectations"],
    }


def q_suite_lineitem(spark: SparkSession) -> dict:
    from great_expectations_spark import ExpectationSuite, SuiteRunner

    li = _load(spark, "lineitem")
    suite = ExpectationSuite("flagship")
    suite.add("expect_column_values_to_not_be_null", column="l_orderkey")
    suite.add("expect_column_values_to_be_between", column="l_discount",
              min_value=0.0, max_value=0.1)
    suite.add("expect_column_values_to_be_in_set", column="l_returnflag",
              value_set=["A", "N", "R"])
    suite.add("expect_column_mean_to_be_between", column="l_quantity",
              min_value=1.0, max_value=50.0)
    suite.add("expect_column_quantile_values_to_be_between",
              column="l_extendedprice",
              quantile_ranges={"quantiles": [0.5], "value_ranges": [[0.0, None]]})
    suite.add("expect_compound_columns_to_be_unique",
              column_list=["l_orderkey", "l_linenumber"])
    suite.add("expect_table_row_count_to_be_between", min_value=1)
    res = SuiteRunner(spark).validate(li, suite)
    return {"evaluated": res.statistics["evaluated_expectations"]}


def q_unique_salted(spark: SparkSession) -> dict:
    from great_expectations_spark.skew import salted_value_counts

    li = _load(spark, "lineitem")
    vc = salted_value_counts(li, ["l_orderkey", "l_linenumber"])
    n = vc.filter(F.col("count") > 1).count()
    return {"dup_keys": n}


def q_referential_anti(spark: SparkSession) -> dict:
    orders, customer = _load(spark, "orders"), _load(spark, "customer")
    dim = customer.select(F.col("c_custkey").alias("o_custkey")).distinct()
    n = (
        orders.filter(F.col("o_custkey").isNotNull())
        .join(F.broadcast(dim), "o_custkey", "left_anti")
        .count()
    )
    return {"orphans": n}


def q_kl_text_len(spark: SparkSession) -> dict:
    from great_expectations_spark.profile import (
        build_continuous_partition_object,
        kl_divergence_metric,
    )

    docs = _load(spark, "documents").select(F.length("text").alias("len"))
    baseline = build_continuous_partition_object(docs, "len", n_bins=20)
    metric = kl_divergence_metric("len", baseline)
    vals = docs.agg(
        *[e.alias(a) for a, e in metric.exprs.items()]
    ).collect()[0].asDict()
    return {"kl": float(metric.finalize(vals))}


def q_minhash_dedup(spark: SparkSession) -> dict:
    from great_expectations_spark.operators.dedup import minhash_lsh_candidates

    docs = _load(spark, "documents")
    cand = minhash_lsh_candidates(
        docs, text_col="text", id_col="doc_id",
        n_hashes=64, bands=16, shingle_size=4, min_jaccard=0.8,
    )
    return {"candidate_pairs": cand.count()}


def q_ann_topk(spark: SparkSession) -> dict:
    from great_expectations_spark.operators.similarity import brute_force_topk

    emb = _load(spark, "embeddings")
    queries = emb.limit(16).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = brute_force_topk(queries, emb, id_col="vec_id",
                           vec_col="embedding", k=10)
    return {"result_rows": top.count()}


def q_ann_topk_arrow(spark: SparkSession) -> dict:
    """Arrow/numpy brute-force path at 32x the query batch of q_ann_topk —
    the BLAS matmul makes batch size ~free while the expression form scales
    linearly in interpreted lambda evals."""
    from great_expectations_spark.operators.similarity import brute_force_topk_arrow

    emb = _load(spark, "embeddings")
    queries = emb.limit(512).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = brute_force_topk_arrow(queries, emb, id_col="vec_id",
                                 vec_col="embedding", k=10)
    return {"result_rows": top.count()}


def q_text_stats(spark: SparkSession) -> dict:
    from great_expectations_spark.operators.textstats import text_quality_profile

    docs = _load(spark, "documents")
    prof = text_quality_profile(docs, "text")
    n = prof.agg(F.count(F.lit(1))).collect()[0][0]
    return {"rows": n}


def q_decontamination(spark: SparkSession) -> dict:
    from great_expectations_spark.operators.decontamination import contaminated_docs

    docs = _load(spark, "documents")
    # benchmark set: a deterministic ~0.5% slice of the corpus itself —
    # guarantees hits exist without external data
    bench_set = docs.filter(F.col("doc_id") % 200 == 0)
    hits = contaminated_docs(
        docs, bench_set, text_col="text", id_col="doc_id",
        n=13, hash_fn="xxhash64",
    )
    return {"contaminated_docs": hits.count()}


def q_repetition(spark: SparkSession) -> dict:
    from great_expectations_spark.operators.textstats import repetition_profile

    docs = _load(spark, "documents")
    rp = repetition_profile(docs, "text", "doc_id", top_ns=(2,), dup_ns=(5,))
    row = rp.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(
            F.when(F.col("top_2gram_char_frac") > 0.2, 1).otherwise(0)
        ).alias("repetitive"),
    ).collect()[0]
    return {"rows": row["docs"], "repetitive": int(row["repetitive"] or 0)}


def segmented_suite():
    """The round-4 map+agg suite of :func:`q_segmented_suite` — one bundled
    groupBy covers all of it."""
    from great_expectations_spark import ExpectationSuite

    suite = ExpectationSuite("seg")
    suite.add("expect_column_values_to_not_be_null", column="text",
              mostly=0.99)
    suite.add("expect_column_values_to_be_between", column="turn_idx",
              min_value=0, max_value=100_000)
    suite.add("expect_column_mean_to_be_between", column="turn_idx",
              min_value=0.0, max_value=500.0)
    suite.add("expect_table_row_count_to_be_between", min_value=1)
    return suite


def q_segmented_suite(spark: SparkSession, suite=None) -> dict:
    """Per-role segmented validation over the 16M-turn transcripts table
    (round 4; segmented.py) of ``suite``, by default
    :func:`segmented_suite`."""
    from great_expectations_spark import validate_by_group

    tdf = spark.table(transcripts_table(spark))
    rows = validate_by_group(tdf, suite or segmented_suite(), "role").collect()
    return {"segments": len({r["group"] for r in rows}),
            "evr_rows": len(rows),
            "failing_rows": sum(not r["success"] for r in rows),
            "unexpected_count": sum(r["unexpected_count"] or 0 for r in rows)}


def q_pii_scan(spark: SparkSession) -> dict:
    """Map-only PII scan + Luhn HOF + redaction over documents — tracks
    the per-row regexp/codegen cost (round 4; operators/pii.py).

    Round 5: PII is planted into ~2% of docs (one snippet per class,
    deterministic by doc_id hash) so the measured cost includes the
    match + redaction path, not just the clean-text scan — `flagged` in
    extras must be nonzero. Quality rates: BENCH/PII_QUALITY.md."""
    from great_expectations_spark.operators.pii import redact_pii, scan_pii

    docs = _load(spark, "documents")
    snippets = F.array(
        F.lit(" reach me at alice.smith@example.org"),
        F.lit(" card 4111 1111 1111 1111 on file"),
        F.lit(" origin ip 192.168.1.1 logged"),
        F.lit(" ssn 123-45-6789 redacted later"),
        F.lit(" call (415) 555-2671 after 5"),
    )
    # class chosen by an independent hash — pmod(h,50)==0 forces
    # pmod(h,5)==0, so reusing h would plant only the first class
    cls = F.pmod(F.xxhash64("doc_id", F.lit(1)), F.lit(5))
    docs = docs.withColumn(
        "text",
        F.when(
            F.pmod(F.xxhash64("doc_id"), F.lit(50)) == 0,
            F.concat(F.col("text"),
                     F.element_at(snippets, (cls + 1).cast("int"))),
        ).otherwise(F.col("text")),
    )
    scanned = scan_pii(docs, "text")
    row = scanned.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.when(F.col("pii_total_count") > 0, 1).otherwise(0))
        .alias("flagged"),
        F.sum(F.length(redact_pii(F.col("text")))).alias("chars"),
    ).collect()[0]
    return {"rows": row["docs"], "flagged": int(row["flagged"] or 0)}


def q_line_dedup(spark: SparkSession) -> dict:
    """C4-style corpus line dedup over documents (round 4;
    operators/lines.py) — slim-hash shuffle + HOF rebuild."""
    from great_expectations_spark.operators.lines import strip_duplicate_lines

    docs = _load(spark, "documents")
    out = strip_duplicate_lines(docs, min_docs=2, out_col="stripped")
    row = out.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.when(F.col("stripped") != F.col("text"), 1).otherwise(0))
        .alias("changed"),
    ).collect()[0]
    return {"rows": row["docs"], "changed": int(row["changed"] or 0)}


def main() -> None:
    spark = build_spark()
    # warm the JVM + generate the bucketed transcripts table + KL baseline
    # profile outside the timed region
    transcripts_table(spark)
    _text_len_baseline(spark)
    _load(spark, "lineitem").count()

    queries = {
        "suite_transcripts": q_suite_transcripts,
        "suite_lineitem": q_suite_lineitem,
        "unique_salted": q_unique_salted,
        "referential_anti": q_referential_anti,
        "kl_text_len": q_kl_text_len,
        "minhash_dedup": q_minhash_dedup,
        "ann_topk": q_ann_topk,
        "ann_topk_arrow": q_ann_topk_arrow,
        "text_stats": q_text_stats,
        "decontamination": q_decontamination,
        "repetition": q_repetition,
        "segmented_suite": q_segmented_suite,
        "pii_scan": q_pii_scan,
        "line_dedup": q_line_dedup,
    }
    # INTERLEAVED sweeps (round-4 protocol, matching BENCH/BASELINE.md):
    # the host shows >2x multi-tenancy noise, and back-to-back repeats of
    # ONE query let a noise burst poison every sample of that query while
    # leaving the others clean — which made r02→r03 drift unattributable.
    # Instead run the FULL query set as one sweep, repeat BENCH_SWEEPS
    # times (default 5), take the per-query MIN across sweeps (the
    # least-contended, cluster-representative sample), and publish the raw
    # per-sweep sample lists so any residual drift is attributable.
    n_sweeps = max(1, int(os.environ.get("BENCH_SWEEPS", "5")))
    max_sweeps = max(n_sweeps, int(os.environ.get("BENCH_MAX_SWEEPS",
                                                  str(n_sweeps + 4))))
    warmup = max(0, int(os.environ.get("BENCH_WARMUP", "1")))

    samples: dict[str, list[float]] = {name: [] for name in queries}
    extras: dict[str, dict] = {}
    failed: set[str] = set()

    def one_sweep(record: bool) -> None:
        for name, fn in queries.items():
            if name in failed:
                continue
            t0 = time.monotonic()
            try:
                extras[name] = fn(spark)
                if record:
                    samples[name].append(round(time.monotonic() - t0, 3))
            except Exception as exc:  # noqa: BLE001 — report, don't die
                failed.add(name)
                extras[name] = {"error": f"{type(exc).__name__}: {exc}"[:300]}

    for _ in range(warmup):
        one_sweep(record=False)

    # convergence stop: at least n_sweeps recorded, then keep sweeping while
    # the latest sweep still lowered any query's running min by ≥5% (the
    # running min has not flattened), capped at max_sweeps
    sweeps_run = 0
    while sweeps_run < max_sweeps:
        prev_min = {n: min(s) for n, s in samples.items() if s}
        one_sweep(record=True)
        sweeps_run += 1
        if sweeps_run < n_sweeps:
            continue
        improved = any(
            s and n in prev_min and min(s) < prev_min[n] * 0.95
            for n, s in samples.items()
        )
        if not improved:
            break

    timings = {
        name: (min(s) if s else -1.0) for name, s in samples.items()
    }
    total = round(sum(t for t in timings.values() if t > 0), 3)
    suite_s = timings.get("suite_transcripts", 0)
    out = {
        "metric": "full-suite validation wall time (headline: validated turns/sec on transcripts)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": SF,
        "cpus": CPUS,
        "transcript_turns": N_TURNS,
        "turns_per_sec": round(N_TURNS / suite_s, 1) if suite_s and suite_s > 0 else None,
        "protocol": (
            f"interleaved sweeps (warmup {warmup} discarded, {sweeps_run} "
            f"recorded, converge-until-min-flat<5% cap {max_sweeps}), "
            "per-query min, single JVM"
        ),
        "sweeps": sweeps_run,
        "samples": samples,
        "extras": extras,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
