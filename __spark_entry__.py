"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: a full expectation-suite run (the engine's
production path) over the sf0.001 tables, returning the EVR table.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2, each checked against DuckDB on the same parquet at sf0.01.
Column names are aliased identically on both sides (the driver hashes values
after sorting columns by name).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Full constraint-suite run on sf0.001 → EVR table.

    Exercises the engine end-to-end: planner → ONE bundled agg pass per
    domain + salted-groupBy uniqueness + left-anti referential join →
    EVR rows (SURVEY.md §3 entry point B).
    """
    from great_expectations_spark import ExpectationSuite, SuiteRunner

    sf_dir = "/root/testdata/sf0.001"
    lineitem = _load(spark, sf_dir, "lineitem")
    customer = _load(spark, sf_dir, "customer")
    orders = _load(spark, sf_dir, "orders")

    suite = ExpectationSuite("flagship")
    suite.add("expect_column_values_to_not_be_null", column="l_orderkey")
    suite.add("expect_column_values_to_be_between", column="l_discount",
              min_value=0.0, max_value=0.1)
    suite.add("expect_column_values_to_be_in_set", column="l_returnflag",
              value_set=["A", "N", "R"])
    suite.add("expect_column_mean_to_be_between", column="l_quantity",
              min_value=1.0, max_value=50.0)
    suite.add("expect_column_quantile_values_to_be_between", column="l_extendedprice",
              quantile_ranges={"quantiles": [0.5], "value_ranges": [[0.0, None]]})
    suite.add("expect_compound_columns_to_be_unique",
              column_list=["l_orderkey", "l_linenumber"])
    suite.add("expect_table_row_count_to_be_between", min_value=1)

    runner = SuiteRunner(spark, tables={"customer": customer, "orders": orders})
    result = runner.validate(lineitem, suite)

    rows = [
        (
            r.expectation_config["expectation_type"],
            bool(r.success),
            int(r.result.get("element_count") or 0),
            int(r.result.get("unexpected_count") or 0),
            str(r.result.get("observed_value")),
        )
        for r in result.results
    ]
    return spark.createDataFrame(
        rows,
        "expectation_type string, success boolean, element_count long, "
        "unexpected_count long, observed_value string",
    )


# ---------------------------------------------------------------------------
# operator queries + DuckDB oracles
# ---------------------------------------------------------------------------

def _unexpected_count_df(df: DataFrame, cond) -> DataFrame:
    return df.agg(
        F.sum(F.when(cond.unexpected, 1).otherwise(0))
        .cast("long")
        .alias("unexpected_count")
    )


def q_map_basic_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEN map conditions in one long-format result (check, violations) —
    not_null / in_set / between / value_length / regex / regex_list any+all
    / like single+list / strftime, each over its own table. Formerly eight
    separate driver queries (map_not_null … map_strftime, green since
    r01/r03); merged because the driver records the FIRST 50 ``queries()``
    rows only — one slot now carries the whole §2.3 basic-map family with
    the identical per-check oracle rigor (the oracle is the UNION ALL of
    the eight originals, labeled)."""
    from functools import reduce

    from great_expectations_spark.functions import conditions as C

    ev = _load(spark, sf_dir, "events")
    li = _load(spark, sf_dir, "lineitem")
    docs = _load(spark, sf_dir, "documents")
    cust = _load(spark, sf_dir, "customer")
    docs_nn = docs.filter(F.col("text").isNotNull())
    # strftime input: every 7th row corrupted (same construction the
    # standalone map_strftime query used through round 3)
    ds = ev.filter(F.col("ts").isNotNull()).select(
        F.when(
            F.col("event_id") % 7 == 0,
            F.concat(F.lit("bad-"), F.date_format("ts", "yyyy-MM-dd")),
        )
        .otherwise(F.date_format("ts", "yyyy-MM-dd"))
        .alias("ds")
    )

    def cnt(df: DataFrame, cond, label: str) -> DataFrame:
        return df.agg(
            F.sum(F.when(cond.unexpected, 1).otherwise(0))
            .cast("long")
            .alias("violations")
        ).select(F.lit(label).alias("check"), "violations")

    parts = [
        cnt(ev, C.not_be_null("props"), "not_null"),
        cnt(ev, C.be_in_set("event_type", ["click", "view", "purchase"]), "in_set"),
        cnt(li, C.be_between("l_discount", min_value=0.0, max_value=0.05), "between"),
        cnt(docs, C.value_lengths_be_between("text", min_value=20, max_value=500),
            "value_length"),
        cnt(docs, C.match_regex("text", r"^[a-z ]+$"), "regex"),
        cnt(docs_nn, C.match_regex_list("text", [r"the", r"data"], match_on="any"),
            "regex_list_any"),
        cnt(docs_nn, C.match_regex_list("text", [r"the", r"data"], match_on="all"),
            "regex_list_all"),
        cnt(cust, C.match_like_pattern("c_mktsegment", "%A%"), "like_single"),
        cnt(cust, C.match_like_pattern_list(
            "c_name", ["Customer#0000001%", "Customer#0000002%"], match_on="any"),
            "like_list"),
        cnt(ds, C.match_strftime_format("ds", "%Y-%m-%d"), "strftime"),
    ]
    return reduce(DataFrame.unionByName, parts)


def q_contiguous_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """expect_column_values_to_be_contiguous (registry.py — per-group dense
    sequence, the transcripts turn_idx/conv_id well-formedness invariant)
    through the FULL suite path, on lineitem with every 10th order's
    line 2 removed: orders with ≥3 lines gain a gap; 2-line orders stay
    contiguous (1..1) — the oracle replays both."""
    from great_expectations_spark import ExpectationSuite, SuiteRunner

    li = _load(spark, sf_dir, "lineitem").filter(
        ~((F.col("l_linenumber") == 2) & (F.col("l_orderkey") % 10 == 0))
    )
    suite = ExpectationSuite("contig")
    suite.add(
        "expect_column_values_to_be_contiguous",
        column="l_linenumber", group_by=["l_orderkey"], start=1,
    )
    r = SuiteRunner(spark).validate(li, suite).results[0]
    return spark.createDataFrame(
        [(int(r.result["element_count"]), int(r.result["unexpected_count"]))],
        "total_groups long, bad_groups long",
    )


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style k-gram document fingerprints
    (operators/textstats.py::kgram_fingerprint_rows, "0 mod p" selection
    with min-hash fallback) in hash_fn='md5' oracle mode — DuckDB replays
    the rolling char-8-gram hashing, the mod-4 selection AND the fallback,
    so the value hash proves the whole fingerprint pipeline."""
    from great_expectations_spark.operators.textstats import kgram_fingerprint_rows

    docs = _load(spark, sf_dir, "documents")
    fp = kgram_fingerprint_rows(docs, "text", "doc_id", k=8, p=4, hash_fn="md5")
    return fp.agg(
        F.count(F.lit(1)).cast("long").alias("n_prints"),
        F.count_distinct(F.col("__id")).cast("long").alias("n_docs"),
        F.count_distinct(F.col("fp")).cast("long").alias("distinct_fps"),
    )


def q_agg_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bundled aggregate metrics, grouped — mean/sum/min/max/count over an
    exact-in-floating-point domain (l_quantity is integral)."""
    li = _load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
        F.avg("l_quantity").alias("mean_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


def q_unique_dup_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """column_values.unique semantics: rows whose key value occurs more than
    once (ALL rows of a duplicated value are unexpected) — via the salted
    two-level groupBy, never a full-table window (SURVEY.md §4.3)."""
    from great_expectations_spark.skew import salted_value_counts

    orders = _load(spark, sf_dir, "orders")
    vc = salted_value_counts(orders.filter(F.col("o_custkey").isNotNull()), ["o_custkey"])
    return vc.filter(F.col("count") > 1).agg(
        F.coalesce(F.sum("count"), F.lit(0)).cast("long").alias("unexpected_count"),
        F.count(F.lit(1)).cast("long").alias("duplicate_key_count"),
    )


def q_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential check via broadcast LEFT-ANTI join (SURVEY.md §2.7)."""
    orders = _load(spark, sf_dir, "orders")
    customer = _load(spark, sf_dir, "customer")
    dim = customer.select(F.col("c_custkey").alias("o_custkey")).distinct()
    orphans = orders.filter(F.col("o_custkey").isNotNull()).join(
        F.broadcast(dim), on="o_custkey", how="left_anti"
    )
    return orphans.agg(F.count(F.lit(1)).cast("long").alias("unexpected_count"))


def q_table_row_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _load(spark, sf_dir, "lineitem")
    return li.agg(F.count(F.lit(1)).cast("long").alias("row_count"))


def q_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _load(spark, sf_dir, "events")
    return ev.agg(F.countDistinct("event_type").cast("long").alias("distinct_count"))


def q_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """column.value_counts — ordered by value for EVR determinism
    (SURVEY.md §2.9)."""
    ev = _load(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type").isNotNull())
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("count"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# training-data pipeline operators (operators/)
# ---------------------------------------------------------------------------

def q_exact_dedup_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text — rows kept (operators/dedup.py)."""
    from great_expectations_spark.operators.dedup import exact_dedup

    docs = _load(spark, sf_dir, "documents")
    kept = exact_dedup(docs, "text", "doc_id")
    return kept.agg(F.count(F.lit(1)).cast("long").alias("kept_rows"))


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token totals: whitespace + BPE-ish regex segmentation
    (operators/textstats.py)."""
    from great_expectations_spark.operators import textstats as T

    docs = _load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return docs.agg(
        F.sum(T.token_count_ws("text")).cast("long").alias("ws_tokens"),
        F.sum(T.token_count_bpe_ish("text")).cast("long").alias("bpe_tokens"),
    )


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate: docs passing alpha-ratio ≥ 0.6 AND ≥ 20 ws-tokens."""
    from great_expectations_spark.operators import textstats as T

    docs = _load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    feats = T.quality_features(F.col("text"))
    passing = docs.filter(
        (feats["alpha_ratio"] >= 0.6) & (feats["n_tokens"] >= 20)
    )
    return passing.agg(F.count(F.lit(1)).cast("long").alias("passing_docs"))


def q_lang_en_stopword_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs whose English-stopword hit fraction ≥ 0.05 (the 'en' vote of
    the stopword-profile language ID)."""
    from great_expectations_spark.operators.textstats import (
        STOPWORD_PROFILES,
        tokens,
    )

    docs = _load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = tokens("text")
    sw = F.array(*[F.lit(w) for w in STOPWORD_PROFILES["en"]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    ratio = F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))
    return (
        docs.filter(ratio >= 0.05)
        .agg(F.count(F.lit(1)).cast("long").alias("en_docs"))
    )


def q_cosine_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding near-dup pair count at cosine ≥ 0.95 (the
    brute-force correctness baseline of operators/dedup.py; the LSH variant
    is the scale path, checked rows-only below)."""
    from great_expectations_spark.operators.dedup import (
        embedding_near_duplicates,
    )

    emb = _load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    pairs = embedding_near_duplicates(
        emb, "vec_id", "embedding", min_cosine=0.95, exact=True
    )
    return pairs.agg(F.count(F.lit(1)).cast("long").alias("dup_pairs"))


def q_ann_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-1 neighbor for the first 8 vectors."""
    from great_expectations_spark.operators.similarity import brute_force_topk

    emb = _load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = brute_force_topk(q, emb, "vec_id", "embedding", k=1)
    return top.select("query_id", "neighbor_id").orderBy("query_id")


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs through the FULL engine pipeline
    (operators/dedup.py::minhash_lsh_candidates) in ``hash_fn='md5'`` mode —
    every hash (shingle → permutation → band) is the md5-derived 60-bit
    form DuckDB can replay, so the whole shingling→signature→banding→
    bucket-join→estimate pipeline is oracle-checked end to end (round-3:
    was rows-only with xxhash64). Production default stays xxhash64."""
    from great_expectations_spark.operators.dedup import minhash_lsh_candidates

    docs = _load(spark, sf_dir, "documents")
    cand = minhash_lsh_candidates(
        docs, "text", "doc_id", n_hashes=32, bands=8, shingle_size=4,
        min_jaccard=0.8, hash_fn="md5",
    )
    return cand.agg(F.count(F.lit(1)).cast("long").alias("candidate_pairs"))


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance 3, ``hash_fn='md5'``
    (oracle-checked fingerprints/chunks/hamming in DuckDB — round 3)."""
    from great_expectations_spark.operators.dedup import simhash_candidates

    docs = _load(spark, sf_dir, "documents")
    pairs = simhash_candidates(
        docs, "text", "doc_id", max_hamming=3, hash_fn="md5"
    )
    return pairs.agg(F.count(F.lit(1)).cast("long").alias("simhash_pairs"))


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end (rows-only — stubbed codec per round
    brief): synthesize a deterministic binary media table, decode to
    feature vectors via Arrow mapInPandas, return per-format decode stats
    (operators/multimodal.py). No SQL oracle: the fake encoder is
    sha256+numpy, not expressible in DuckDB."""
    from great_expectations_spark.operators.multimodal import (
        decode_image_features,
        synthesize_media_table,
    )

    media = synthesize_media_table(spark, n_rows=128, seed=42)
    feats = decode_image_features(media, dim=16)
    return feats.agg(
        F.count(F.lit(1)).cast("long").alias("decoded_rows"),
        F.sum("decode_ok").cast("long").alias("decode_ok"),
        F.round(F.sum(F.aggregate(
            "features", F.lit(0.0),
            lambda acc, x: acc + (x * x).cast("double"),
        )), 3).alias("sum_sq_norm"),
    )


def q_media_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image codec end-to-end (round 3 de-stub): encode one actual
    PPM P6 per document (dims/fill are closed forms of doc_id), decode with
    the pure-numpy parser (operators/multimodal.py::decode_ppm), aggregate
    the recovered metadata. The oracle recomputes the same sums directly
    from the doc_id arithmetic — any header/pixel-layout bug breaks the
    hash match."""
    from great_expectations_spark.operators.multimodal import (
        decode_image_stats,
        synthesize_real_image_table,
    )

    ids = _load(spark, sf_dir, "documents").select("doc_id")
    media = synthesize_real_image_table(ids, id_col="doc_id", fmt="ppm")
    stats = decode_image_stats(media)
    return stats.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("decode_ok").cast("long").alias("decoded"),
        F.sum("width").cast("long").alias("sum_w"),
        F.sum("height").cast("long").alias("sum_h"),
        F.round(F.sum("mean_pixel"), 3).alias("sum_mean"),
    )


def q_media_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV (PCM16) codec end-to-end: encode one clip per document
    (sample count/amplitude closed forms of doc_id), decode with the
    pure-numpy RIFF parser, aggregate recovered metadata vs the oracle's
    direct arithmetic."""
    from great_expectations_spark.operators.multimodal import (
        decode_audio_stats,
        synthesize_real_audio_table,
    )

    ids = _load(spark, sf_dir, "documents").select("doc_id")
    media = synthesize_real_audio_table(ids, id_col="doc_id")
    stats = decode_audio_stats(media)
    return stats.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("decode_ok").cast("long").alias("decoded"),
        F.sum("n_samples").cast("long").alias("sum_samples"),
        F.min("sample_rate").cast("long").alias("rate"),
        F.round(F.sum("mean_abs"), 3).alias("sum_mean_abs"),
    )


def q_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantiles through the engine's quantile metric
    (functions/aggregates.py::quantile_values, approximate=False — Spark
    ``percentile``, linear interpolation, same as DuckDB quantile_cont)."""
    from great_expectations_spark.functions.aggregates import quantile_values

    li = _load(spark, sf_dir, "lineitem")
    m = quantile_values("l_quantity", [0.25, 0.5, 0.75], approximate=False)
    vals = li.agg(*[e.alias(a) for a, e in m.exprs.items()]).collect()[0].asDict()
    q25, q50, q75 = [round(float(x), 6) for x in m.finalize(vals)]
    return spark.createDataFrame([(q25, q50, q75)],
                                 "q25 double, q50 double, q75 double")


def q_kl_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical KL divergence of l_returnflag vs a uniform 3-way baseline
    (profile.py::_categorical_kl — the engine's bundled-agg KL path),
    rounded to 6dp on both sides to make the float hash-comparable."""
    from great_expectations_spark.profile import kl_divergence_metric

    li = _load(spark, sf_dir, "lineitem")
    baseline = {"values": ["A", "N", "R"], "weights": [1 / 3, 1 / 3, 1 / 3]}
    metric = kl_divergence_metric("l_returnflag", baseline)
    vals = li.agg(*[e.alias(a) for a, e in metric.exprs.items()]).collect()[0].asDict()
    kl = float(metric.finalize(vals))
    return spark.createDataFrame([(round(kl, 6),)], "kl double")


def q_ann_top1_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow/numpy brute-force top-1 (operators/similarity.py::
    brute_force_topk_arrow) — BLAS matmul per Arrow batch with
    partition-local top-k; same oracle as the expression path."""
    from great_expectations_spark.operators.similarity import brute_force_topk_arrow

    emb = _load(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = brute_force_topk_arrow(queries_df, emb, id_col="vec_id",
                                 vec_col="embedding", k=1)
    return top.select("query_id", "neighbor_id").orderBy("query_id")


def q_ann_ivf_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe = all centroids — exhaustive probing makes IVF
    EXACT, so the brute-force cosine top-1 SQL oracle applies; this checks
    the whole index-build + probe + score path end-to-end
    (operators/similarity.py::build_ivf_index / ivf_topk)."""
    from great_expectations_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
    )

    emb = _load(spark, sf_dir, "embeddings")
    centroids, assigned = build_ivf_index(emb, "vec_id", "embedding",
                                          n_centroids=16)
    queries_df = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = ivf_topk(queries_df, centroids, assigned, "vec_id", "embedding",
                   k=1, nprobe=16)
    return top.select("query_id", "neighbor_id").orderBy("query_id")


def q_split_mod_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split_on_mod_integer batch slice — row count of residue class 3 of 8
    (sources/splitters.py; SURVEY.md §2.2 splitters row)."""
    from great_expectations_spark.sources import splitters

    orders = _load(spark, sf_dir, "orders")
    part = splitters.split_on_mod_integer(orders, "o_orderkey", 8, {"o_orderkey": 3})
    return part.agg(F.count(F.lit(1)).cast("long").alias("batch_rows"))


def q_split_year_month_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part split discovery — per-(year,month) batch sizes over events.ts
    (sources/splitters.py split_on_year_and_month)."""
    ev = _load(spark, sf_dir, "events")
    return (
        ev.filter(F.col("ts").isNotNull())
        .groupBy(
            F.year("ts").cast("long").alias("yr"),
            F.month("ts").cast("long").alias("mth"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("batch_rows"))
        .orderBy("yr", "mth")
    )


def q_splitter_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both splitter driver rows in ONE long-format result (formerly the
    separate split_mod_batch / split_year_month_counts rows, green since
    r01; merged to fund segment_validation under the 50-row cap — the
    oracle is the labeled UNION ALL of the originals, mod-batch rows
    carrying (-1, -1) date placeholders)."""
    mod = q_split_mod_batch(spark, sf_dir).select(
        F.lit("mod3of8").alias("split"),
        F.lit(-1).cast("long").alias("yr"),
        F.lit(-1).cast("long").alias("mth"),
        F.col("batch_rows"),
    )
    ym = q_split_year_month_counts(spark, sf_dir).select(
        F.lit("year_month").alias("split"), "yr", "mth", "batch_rows"
    )
    return mod.unionByName(ym)


def q_segment_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segmented validation (segmented.py::validate_by_group): the whole
    suite per l_returnflag segment from ONE bundled groupBy — map counts,
    per-segment aggregate bounds, per-segment compound uniqueness (the
    planted duplicate keys make it FAIL per segment, proving the success
    logic both ways). observed_value is dropped (float repr is not
    SQL-reproducible); every counter and boolean is value-hashed."""
    from great_expectations_spark import ExpectationSuite, validate_by_group

    li = _load(spark, sf_dir, "lineitem")
    suite = ExpectationSuite("seg")
    suite.add("expect_column_values_to_be_between", column="l_discount",
              min_value=0.0, max_value=0.05, mostly=0.5)
    suite.add("expect_column_mean_to_be_between", column="l_quantity",
              min_value=1.0, max_value=50.0)
    suite.add("expect_table_row_count_to_be_between", min_value=100)
    suite.add("expect_compound_columns_to_be_unique",
              column_list=["l_orderkey", "l_linenumber"])
    # round 5: two-wave (per-segment mean/stddev feed wave-2 counters) and
    # value-counts-backed (modes with ties) kinds are now segmentable
    suite.add("expect_column_value_z_scores_to_be_less_than",
              column="l_extendedprice", threshold=1.5, double_sided=True,
              mostly=0.8)
    suite.add("expect_column_most_common_value_to_be_in_set",
              column="l_linenumber", value_set=[1])
    # round 5 (second pass): window-backed conditions re-windowed per
    # segment (lag never crosses a (segment, l_orderkey) boundary) and
    # row_condition on aggregates via ONE filtered domain group per distinct rc
    # composite order_by: the synthetic lineitem has duplicate
    # (l_orderkey, l_linenumber) keys, so (key, value) ordering is what
    # makes the lag sequence deterministic for the oracle replay
    suite.add("expect_column_values_to_be_increasing",
              column="l_extendedprice", strictly=True,
              partition_by="l_orderkey",
              order_by=["l_linenumber", "l_extendedprice"],
              mostly=0.5)
    suite.add("expect_column_mean_to_be_between", column="l_quantity",
              min_value=1.0, max_value=50.0,
              row_condition="l_linenumber > 2")
    out = validate_by_group(li, suite, "l_returnflag")
    return out.select(
        F.col("group").alias("seg"), "expectation_type", "success",
        "element_count", "missing_count", "unexpected_count",
    )


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sample_using_hash — md5-suffix content-stable sample (sources/
    samplers.py; native F.md5, bit-identical to the reference's hashlib)."""
    from great_expectations_spark.sources import samplers

    ev = _load(spark, sf_dir, "events")
    s = samplers.sample_using_hash(ev, "event_id", hash_digits=1, hash_value="a")
    return s.agg(F.count(F.lit(1)).cast("long").alias("sample_rows"))


# ---------------------------------------------------------------------------
# round-2 catalog closure: oracle-checked queries for every implemented
# map/pair/multicolumn condition and aggregate metric (VERDICT.md item 4)
# ---------------------------------------------------------------------------

def _flagged_count(df: DataFrame, cond, alias: str = "unexpected_count") -> DataFrame:
    """Project the condition THEN aggregate — window-backed conditions are
    illegal inside an agg, so flags go through a select first."""
    flags = df.select(cond.unexpected.alias("__u"))
    return flags.agg(
        F.sum(F.when(F.col("__u"), 1).otherwise(0)).cast("long").alias(alias)
    )


def q_map_json_parseable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """json_parseable (default strict json.loads Arrow UDF, matching the
    oracle's json_valid) — every 5th row corrupted."""
    from great_expectations_spark.functions import conditions as C

    ev = _load(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    js = ev.select(
        F.when(
            F.col("event_id") % 5 == 0, F.concat(F.col("props"), F.lit("{"))
        )
        .otherwise(F.col("props"))
        .alias("js")
    )
    return _unexpected_count_df(js, C.json_parseable("js"))


def q_map_dateutil_parseable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dateutil_parseable (Arrow pd.to_datetime UDF) on an ISO-subset
    dataset where DuckDB ``try_cast(.. AS TIMESTAMP)`` provably agrees by
    construction: ISO 'yyyy-MM-dd HH:mm:ss' strings parse in both, the
    injected 'junk-<id>' rows parse in neither (round 3 — this map
    condition previously had no driver oracle row)."""
    from great_expectations_spark.functions import conditions as C

    ev = _load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    ds = ev.select(
        F.when(
            F.col("event_id") % 7 == 0,
            F.concat(F.lit("junk-"), F.col("event_id").cast("string")),
        )
        .otherwise(F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
        .alias("dstr")
    )
    return _unexpected_count_df(ds, C.dateutil_parseable("dstr"))


def q_map_json_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """match_json_schema (Arrow UDF) on JSON built from orders rows; every
    4th row drops the required 's' property. The oracle counts the missing
    field directly — agreement by construction (all 'k' are integers, all
    's' strings, so the required-clause is the only discriminator)."""
    from great_expectations_spark.functions import conditions as C

    od = _load(spark, sf_dir, "orders")
    js = od.select(
        F.when(
            F.col("o_orderkey") % 4 == 0,
            F.to_json(F.struct(F.col("o_orderkey").alias("k"))),
        )
        .otherwise(
            F.to_json(
                F.struct(
                    F.col("o_orderkey").alias("k"),
                    F.col("o_orderstatus").alias("s"),
                )
            )
        )
        .alias("js")
    )
    schema = {
        "type": "object",
        "required": ["k", "s"],
        "properties": {"k": {"type": "integer"}, "s": {"type": "string"}},
    }
    return _unexpected_count_df(js, C.match_json_schema("js", schema))


def q_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """z_score under threshold through the FULL two-wave runner path
    (wave-1 bundled mean/stddev_samp, wave-2 rebuilt condition)."""
    from great_expectations_spark import ExpectationSuite, SuiteRunner

    li = _load(spark, sf_dir, "lineitem")
    suite = ExpectationSuite("z")
    suite.add(
        "expect_column_value_z_scores_to_be_less_than",
        column="l_extendedprice", threshold=2.0, double_sided=True,
    )
    res = SuiteRunner(spark).validate(li, suite)
    uc = int(res.results[0].result["unexpected_count"])
    return spark.createDataFrame([(uc,)], "unexpected_count long")


def q_increasing_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-key monotone check: o_orderdate non-decreasing per customer in
    o_orderkey order (the transcripts turn_idx-per-conv invariant shape)."""
    from great_expectations_spark.functions import conditions as C

    orders = _load(spark, sf_dir, "orders")
    cond = C.increasing(
        "o_orderdate", strictly=False, partition_by="o_custkey",
        order_by="o_orderkey",
    ).window_expr([], [])
    return _flagged_count(orders.filter(F.col("o_orderdate").isNotNull()), cond)


def q_pair_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pair_equal + pair A>B + pair_in_set violations in one bundled pass
    (functions/conditions.py §2.4 pair family)."""
    from great_expectations_spark.functions import conditions as C

    li = _load(spark, sf_dir, "lineitem")
    eq = C.pair_equal("l_returnflag", "l_linestatus")
    gt = C.pair_a_greater_than_b("l_discount", "l_tax", or_equal=False)
    inset = C.pair_in_set(
        "l_returnflag", "l_linestatus",
        value_pairs_set=[("A", "F"), ("R", "F"), ("N", "O")],
    )
    flags = li.select(
        eq.unexpected.alias("__u1"),
        gt.unexpected.alias("__u2"),
        inset.unexpected.alias("__u3"),
    )
    return flags.agg(
        F.sum(F.when(F.col("__u1"), 1).otherwise(0)).cast("long").alias("pair_equal_violations"),
        F.sum(F.when(F.col("__u2"), 1).otherwise(0)).cast("long").alias("pair_gt_violations"),
        F.sum(F.when(F.col("__u3"), 1).otherwise(0)).cast("long").alias("pair_in_set_violations"),
    )


def q_multicolumn_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multicolumn_sum_equal (integral doubles — exact) and
    select_column_values_unique_within_record violations."""
    from great_expectations_spark.functions import conditions as C

    li = _load(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("q1"),
        (F.lit(50.0) - F.col("l_quantity") + (F.col("l_linenumber") % 2)).alias("q2"),
    )
    sum_c = C.multicolumn_sum_equal(["q1", "q2"], sum_total=50)
    nat = _load(spark, sf_dir, "nation")
    uniq_c = C.select_column_values_unique_within_record(
        ["n_nationkey", "n_regionkey"]
    )
    a = _flagged_count(li, sum_c, "sum_violations")
    b = _flagged_count(nat, uniq_c, "record_dup_violations")
    return a.crossJoin(b)


def q_kl_continuous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-KL branch: fixed-bin baseline over l_extendedprice through
    profile.kl_divergence_metric (bundled histogram array expr)."""
    from great_expectations_spark.profile import kl_divergence_metric

    li = _load(spark, sf_dir, "lineitem")
    baseline = {
        "bins": [0.0, 25_000.0, 50_000.0, 75_000.0, 110_000.0],
        "weights": [0.25, 0.25, 0.25, 0.25],
    }
    metric = kl_divergence_metric("l_extendedprice", baseline)
    vals = li.agg(*[e.alias(a) for a, e in metric.exprs.items()]).collect()[0].asDict()
    kl = float(metric.finalize(vals))
    return spark.createDataFrame([(round(kl, 6),)], "kl double")


def q_chisq_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square goodness-of-fit statistic over events.event_type vs a
    uniform 5-way baseline, through profile.chisquare_test_metric (counts
    ride one bundled agg). The p-value needs the incomplete gamma (not SQL);
    the STATISTIC and df have a closed-form DuckDB oracle."""
    from great_expectations_spark.profile import chisquare_test_metric

    ev = _load(spark, sf_dir, "events")
    metric = chisquare_test_metric(
        "event_type",
        {"values": ["click", "error", "purchase", "signup", "view"],
         "weights": [0.2, 0.2, 0.2, 0.2, 0.2]},
    )
    vals = ev.agg(*[e.alias(a) for a, e in metric.exprs.items()]).collect()[0].asDict()
    d = metric.details(vals)["chisquare"]
    return spark.createDataFrame(
        [(round(float(d["statistic"]), 6), int(d["df"]))],
        "chisq_stat double, df long",
    )


def q_ks_boundary_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary-KS statistic of lineitem.l_quantity against a uniform
    [1, 50] baseline, through profile.ks_test_metric (cumulative counts in
    one bundled agg). D at the bin boundaries is SQL-closed-form."""
    from great_expectations_spark.profile import ks_test_metric

    li = _load(spark, sf_dir, "lineitem")
    metric = ks_test_metric(
        "l_quantity",
        {"bins": [1.0, 13.25, 25.5, 37.75, 50.0],
         "weights": [0.25, 0.25, 0.25, 0.25]},
    )
    vals = li.agg(*[e.alias(a) for a, e in metric.exprs.items()]).collect()[0].asDict()
    d = metric.details(vals)["ks"]
    return spark.createDataFrame(
        [(round(float(d["statistic_at_boundaries"]), 6), int(d["n"]))],
        "ks_stat double, n long",
    )


def q_param_ks_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized-distribution KS statistic of lineitem.l_quantity vs
    uniform(loc=1, scale=49), probed at 4 interior quantiles — the probe
    points (1 + 49·p) and D are closed-form SQL."""
    from great_expectations_spark.profile import parameterized_ks_test_metric

    li = _load(spark, sf_dir, "lineitem")
    metric = parameterized_ks_test_metric(
        "l_quantity", "uniform", {"loc": 1.0, "scale": 49.0}, n_probes=4
    )
    vals = li.agg(*[e.alias(a) for a, e in metric.exprs.items()]).collect()[0].asDict()
    d = metric.details(vals)["ks"]
    return spark.createDataFrame(
        [(round(float(d["statistic_at_probes"]), 6), int(d["n"]))],
        "ks_stat double, n long",
    )


def q_cramers_phi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's phi between orders.o_orderstatus and o_orderpriority through
    the expectation (one groupBy job + driver chi2); the full-grid
    contingency chi2 has a closed-form DuckDB oracle."""
    from great_expectations_spark import ExpectationSuite, validate

    orders = _load(spark, sf_dir, "orders")
    suite = ExpectationSuite("phi")
    suite.add(
        "expect_column_pair_cramers_phi_value_to_be_less_than",
        column_A="o_orderstatus", column_B="o_orderpriority", threshold=0.5,
    )
    evr = validate(orders, suite).results[0]
    return spark.createDataFrame(
        [(round(float(evr.result["observed_value"]), 6),)], "phi double"
    )


def q_agg_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median + unique_proportion + values_between_count through the
    engine's aggregate metrics (functions/aggregates.py), one bundled agg."""
    from great_expectations_spark.functions import aggregates as A

    li = _load(spark, sf_dir, "lineitem")
    med = A.median("l_extendedprice", approximate=False)
    upr = A.unique_proportion("l_quantity")
    vbc = A.values_between_count("l_quantity", 10, 20)
    cor = A.pair_correlation("l_quantity", "l_extendedprice")
    exprs = {}
    for m in (med, upr, vbc, cor):
        exprs.update(m.exprs)
    vals = li.agg(*[e.alias(a) for a, e in exprs.items()]).collect()[0].asDict()
    return spark.createDataFrame(
        [(
            round(float(med.finalize(vals)), 6),
            round(float(upr.finalize(vals)), 6),
            int(vbc.finalize(vals)),
            round(float(cor.finalize(vals)), 6),
        )],
        "median double, unique_prop double, between_count long, "
        "corr_qp double",
    )


def q_most_common_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """most_common_value through the runner's groupBy pass; ties broken by
    taking the smallest value of the tie list (oracle orders the same)."""
    from great_expectations_spark import ExpectationSuite, SuiteRunner

    ev = _load(spark, sf_dir, "events")
    suite = ExpectationSuite("m")
    suite.add(
        "expect_column_most_common_value_to_be_in_set",
        column="event_type",
        value_set=["click", "view", "purchase", "signup", "error"],
        ties_okay=True,
    )
    res = SuiteRunner(spark).validate(ev, suite)
    observed = res.results[0].result["observed_value"]
    vals = observed if isinstance(observed, list) else [observed]
    return spark.createDataFrame([(sorted(vals)[0],)], "mode_value string")


def q_rowcount_vs_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_count_equal_other_table observed pair (registry §2.6)."""
    orders = _load(spark, sf_dir, "orders")
    cust = _load(spark, sf_dir, "customer")
    return orders.agg(F.count(F.lit(1)).cast("long").alias("rc_self")).crossJoin(
        cust.agg(F.count(F.lit(1)).cast("long").alias("rc_other"))
    )


def q_rbp_mean_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-Based Profiler analog: per-batch mean(value) over 4 mod-split
    batches of events → quantile range estimator (fpr=0.05). The estimator
    uses numpy linear-interpolation quantiles == SQL quantile_cont, so the
    whole multi-batch parameter-build path has a closed-form oracle
    (rule_based_profiler.py::multi_batch_metrics / estimate_range)."""
    from great_expectations_spark.rule_based_profiler import (
        estimate_range,
        multi_batch_metrics,
    )

    ev = _load(spark, sf_dir, "events")
    batches = [ev.filter(F.col("event_id") % 5 == i) for i in range(4)]
    _, rows = multi_batch_metrics(batches, columns=["value"])
    est = estimate_range(
        [r["value__mean"] for r in rows],
        estimator="quantile", false_positive_rate=0.05,
    )
    return spark.createDataFrame(
        [(round(est.lo, 6), round(est.hi, 6))], "lo double, hi double"
    )


def q_partition_auto_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`auto` partition strategy (FD ∨ Sturges from EXACT n/min/max/q25/q75
    — profile.py::auto_bin_edges) + the bundled histogram over the chosen
    uniform edges; per-bucket counts vs the same closed form in SQL."""
    from great_expectations_spark.profile import (
        build_continuous_partition_object,
    )

    ev = _load(spark, sf_dir, "events")
    # exact_quantiles: the oracle's quantile_cont is the exact interpolated
    # quantile; the production default is percentile_approx (scale-safe)
    p = build_continuous_partition_object(
        ev, "value", bins="auto", exact_quantiles=True
    )
    n_bins = len(p["weights"])
    total = ev.filter(F.col("value").isNotNull()).count()
    rows = [
        (i, int(round(w * total)))
        for i, w in enumerate(p["weights"])
        if w > 0  # oracle GROUP BY emits only non-empty buckets
    ]
    return spark.createDataFrame(rows, "bucket long, cnt long").orderBy("bucket")


def q_table_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """table.head metric with stable ordering (profile.py::table_head —
    TakeOrderedAndProject, no global sort)."""
    from great_expectations_spark.profile import table_head

    li = _load(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic data, so the
    # full column list participates in the ordering for a deterministic head
    return table_head(
        li.select("l_orderkey", "l_linenumber", "l_quantity"),
        n=5,
        order_by=["l_orderkey", "l_linenumber", "l_quantity"],
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified sample: 7 content-stably-chosen events per
    event_type (sources/samplers.py::sample_stratified_exact — md5-hex
    ranking is bit-identical across engines)."""
    from great_expectations_spark.sources.samplers import (
        sample_stratified_exact,
    )

    ev = _load(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    s = sample_stratified_exact(ev, "event_type", 7, "event_id")
    return s.select("event_type", "event_id").orderBy("event_type", "event_id")


def q_token_count_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """expect_column_token_counts_to_be_between through the full runner —
    the dataset-curation length gate as a first-class expectation
    (functions/conditions.py::token_counts_be_between)."""
    from great_expectations_spark import ExpectationSuite, SuiteRunner

    docs = _load(spark, sf_dir, "documents")
    suite = ExpectationSuite("tok")
    suite.add(
        "expect_column_token_counts_to_be_between",
        column="text", min_value=20, max_value=80, tokenizer="ws",
    )
    res = SuiteRunner(spark).validate(docs, suite)
    uc = int(res.results[0].result["unexpected_count"])
    return spark.createDataFrame([(uc,)], "unexpected_count long")


def q_vector_norm_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """expect_column_vector_norms_to_be_between (Arrow numpy batch norms);
    every 10th vector is deterministically scaled 2x so the gate has real
    violations to count (functions/conditions.py::vector_norms_be_between)."""
    from great_expectations_spark import ExpectationSuite, SuiteRunner

    emb = _load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.when(
            F.col("vec_id") % 10 == 0,
            F.transform("embedding", lambda x: x * F.lit(2.0)),
        )
        .otherwise(F.col("embedding").cast("array<double>"))
        .alias("vec"),
    )
    suite = ExpectationSuite("norm")
    suite.add(
        "expect_column_vector_norms_to_be_between",
        column="vec", min_value=0.9, max_value=1.1,
    )
    res = SuiteRunner(spark).validate(emb, suite)
    r = res.results[0].result
    return spark.createDataFrame(
        [(int(r["unexpected_count"]), int(r["element_count"]))],
        "unexpected_count long, element_count long",
    )


def q_decontamination_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontamination.py): corpus =
    documents, benchmark = every-20th doc; word 5-gram overlap with the
    benchmark side broadcast. hash_fn='none' keeps raw gram strings so the
    DuckDB oracle reproduces the join byte-for-byte (production uses
    xxhash64; test_hashed_mode_matches_raw pins the equivalence)."""
    from great_expectations_spark.operators import decontamination as X

    docs = _load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    return X.contaminated_docs(
        docs, bench, text_col="text", id_col="doc_id", n=5, hash_fn="none"
    )


def q_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality features
    (operators/textstats.py::repetition_profile): per-doc line stats plus
    top-2-gram / duplicate-2,3-gram character-coverage fractions."""
    from great_expectations_spark.operators import textstats as T

    docs = _load(spark, sf_dir, "documents")
    rp = T.repetition_profile(docs, "text", "doc_id", top_ns=(2,), dup_ns=(2, 3))
    return rp.select(
        "doc_id",
        "n_lines",
        "top_2gram_char_frac",
        "dup_2gram_char_frac",
        "dup_3gram_char_frac",
    )


def q_stat_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four statistical-test metrics in ONE long-format result — chisquare
    goodness-of-fit, boundary-KS, parameterized-KS, Cramér's phi (formerly
    the separate chisq_stat / ks_boundary_stat / param_ks_stat /
    cramers_phi driver rows, green since r02/r03; merged to keep the
    registry at the driver's 50-row cap with identical per-test rigor —
    the oracle is the UNION ALL of the four originals, labeled)."""
    c = q_chisq_stat(spark, sf_dir).collect()[0]
    k = q_ks_boundary_stat(spark, sf_dir).collect()[0]
    p = q_param_ks_stat(spark, sf_dir).collect()[0]
    f = q_cramers_phi(spark, sf_dir).collect()[0]
    rows = [
        ("chisq", float(c["chisq_stat"]), int(c["df"])),
        ("ks_boundary", float(k["ks_stat"]), int(k["n"])),
        ("param_ks", float(p["ks_stat"]), int(p["n"])),
        ("cramers_phi", float(f["phi"]), 0),
    ]
    return spark.createDataFrame(
        rows, "test string, statistic double, param long"
    )


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan + Luhn-verified card counting + redaction
    (operators/pii.py) over documents with deterministically PLANTED PII
    (the corpus text itself is digit-free word salad): emails on doc_id%5,
    ipv4 on %7, a Luhn-VALID card on %11, a Luhn-INVALID card on %13
    (must count 0 — the oracle replays the checksum with list HOFs),
    ssn+phone on %17. redacted_chars value-hashes the chained
    regexp_replace redaction end-to-end on both engines."""
    from great_expectations_spark.operators import pii as P

    docs = _load(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit(" contact user"),
                         F.col("doc_id").cast("string"),
                         F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.lit(" host 10.2."),
                         (F.col("doc_id") % 200).cast("string"),
                         F.lit(".4")),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0,
                   F.lit(" card 4532 0151 1283 0366")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0,
                   F.lit(" card 4532-0151-1283-0367")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 17 == 0,
                   F.lit(" ssn 987-65-4320 call (415) 555-2671")
                   ).otherwise(F.lit("")),
        ).alias("text"),
    )
    scanned = P.scan_pii(planted, "text")
    return scanned.agg(
        F.sum("pii_email_count").cast("long").alias("emails"),
        F.sum("pii_ipv4_count").cast("long").alias("ipv4s"),
        F.sum("pii_phone_count").cast("long").alias("phones"),
        F.sum("pii_ssn_count").cast("long").alias("ssns"),
        F.sum("pii_credit_card_count").cast("long").alias("cards"),
        F.sum(F.when(F.col("pii_total_count") > 0, 1).otherwise(0))
        .cast("long").alias("docs_with_pii"),
        F.sum(F.length(P.redact_pii(F.col("text"))))
        .cast("long").alias("redacted_chars"),
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus line dedup (operators/lines.py): documents are
    reshaped to 3 lines each (two text slices + a boilerplate line planted
    on doc_id%3); strip_duplicate_lines(min_docs=5) must remove the
    boilerplate from every doc — and any genuinely coincident slices —
    keeping original line order. The oracle replays normalization
    (trim/lower/whitespace-fold), the ≥5-distinct-docs rule, the blank-line
    exclusion, and the ordered rebuild."""
    from great_expectations_spark.operators.lines import (
        duplicate_line_hashes,
        strip_duplicate_lines,
    )

    docs = _load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    planted = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.substring("text", 1, 40),
            F.substring("text", 41, 40),
            F.when(F.col("doc_id") % 3 == 0,
                   F.lit("subscribe to our newsletter today"))
            .otherwise(F.substring("text", 81, 40)),
        ).alias("text"),
    )
    res = strip_duplicate_lines(planted, min_docs=5, out_col="stripped")
    agg1 = res.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("stripped") != F.col("text"), 1).otherwise(0))
        .cast("long").alias("docs_changed"),
        F.sum(F.length("stripped")).cast("long").alias("kept_chars"),
    )
    agg2 = duplicate_line_hashes(planted, min_docs=5).agg(
        F.count(F.lit(1)).cast("long").alias("dup_lines")
    )
    return agg1.crossJoin(agg2)


def _planted_urls(docs: DataFrame) -> DataFrame:
    """Deterministic URL planting shared by q_url_domain_stats and
    q_url_blocklist_gate — _PLANT_URLS_SQL is the byte-for-byte oracle
    twin; edit BOTH or neither."""
    return docs.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.lit(" see https://site"),
                         (F.col("doc_id") % 20).cast("string"),
                         F.lit(".Example.com/p?x="),
                         F.col("doc_id").cast("string")),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0,
                   F.lit(" ref http://u:p@www.Blocked.example.NET:8080/x")
                   ).otherwise(F.lit("")),
        ).alias("text"),
    )


def q_url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL extraction + host normalization + corpus domain table
    (operators/urls.py::domain_counts) over documents with planted URLs
    (mixed-case hosts, userinfo/port forms, www. prefixes — the
    normalization is what the value hash proves): per-domain URL
    occurrences and distinct citing docs."""
    from great_expectations_spark.operators.urls import domain_counts

    docs = _load(spark, sf_dir, "documents")
    planted = _planted_urls(docs)
    return domain_counts(planted)


def q_text_gate_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token totals + the two text-quality gates in ONE long-format
    result (formerly the separate token_counts / quality_filter /
    lang_en_stopword_gate driver rows, green since r01/r02; merged to fund
    the round-4 unigram-LM and URL-blocklist rows under the driver's
    50-row cap — the oracle is the labeled UNION ALL of the originals)."""
    from functools import reduce

    t = q_token_counts(spark, sf_dir).collect()[0]
    parts = [
        spark.createDataFrame(
            [("ws_tokens", int(t["ws_tokens"])),
             ("bpe_tokens", int(t["bpe_tokens"]))],
            "check string, value long",
        ),
        q_quality_filter(spark, sf_dir).select(
            F.lit("quality_pass").alias("check"),
            F.col("passing_docs").alias("value"),
        ),
        q_lang_en_stopword_gate(spark, sf_dir).select(
            F.lit("lang_en").alias("check"),
            F.col("en_docs").alias("value"),
        ),
        # corpus distinct-2-gram diversity counts (round 4 second pass;
        # operators/textstats.py::corpus_ngram_diversity) — the oracle
        # counts distinct gram STRINGS, Spark distinct xxhash64 values:
        # equal absent 64-bit collisions (~10^-11 odds at this corpus)
        _diversity_rows(spark, sf_dir),
    ]
    return reduce(DataFrame.unionByName, parts)


def _diversity_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from great_expectations_spark.operators.textstats import (
        corpus_ngram_diversity,
    )

    docs = _load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    d = corpus_ngram_diversity(docs, ns=(2,)).collect()[0]
    return spark.createDataFrame(
        [("grams2_total", int(d["total_grams"])),
         ("grams2_distinct", int(d["distinct_grams"]))],
        "check string, value long",
    )


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KenLM-lite corpus-fit quality scoring (operators/lm.py): top-100
    unigram vocabulary estimated from the corpus itself (deterministic
    count-DESC/token-ASC boundary), per-doc mean token log-prob with the
    rarest-in-vocab−ln2 OOV penalty. The oracle replays tokenization, the
    top-K cut, the OOV derivation, and the per-doc averaging in SQL."""
    from great_expectations_spark.operators.lm import (
        score_documents,
        unigram_vocab,
    )

    docs = _load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    vocab = unigram_vocab(docs, top_k=100)
    scores = score_documents(docs, vocab)
    return scores.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("mean_logp"), 6).alias("avg_logp"),
        F.round(F.min("mean_logp"), 6).alias("min_logp"),
        F.round(F.max("mean_logp"), 6).alias("max_logp"),
        F.sum("n_scored").cast("long").alias("scored_tokens"),
    )


def q_url_blocklist_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklisted-domain flag (operators/urls.py::flag_blocklisted_domains,
    AQE-decided semi-join on exploded (id, domain)): the planted corpus
    from url_domain_stats against a blocklist whose entries are
    deliberately un-normalized (www. prefix, mixed case) — the count
    proves both sides normalize before matching."""
    from great_expectations_spark.operators.urls import flag_blocklisted_domains

    docs = _load(spark, sf_dir, "documents")
    planted = _planted_urls(docs)
    bl = spark.createDataFrame(
        [("www.Blocked.example.net",), ("evil.org",)], "domain string"
    )
    flagged = flag_blocklisted_domains(planted, bl)
    return flagged.agg(
        F.sum(F.when(F.col("blocklisted"), 1).otherwise(0))
        .cast("long").alias("blocked_docs"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver's correctness harness records at most 50
    # rows in registry order (CORRECTNESS_r03 = exactly the first 50 keys).
    # With 55 registered queries, the five keys that therefore missed r03
    # (decontamination_hits, repetition_profile, stratified_sample,
    # token_count_gate, vector_norm_gate) now run FIRST; the five pushed
    # past the cap (map_not_null/in_set/between/value_length/regex) are
    # trivial single-agg map checks already driver-green in r01+r02+r03.
    return {
        "decontamination_hits": q_decontamination_hits,
        "repetition_profile": q_repetition_profile,
        "stratified_sample": q_stratified_sample,
        "token_count_gate": q_token_count_gate,
        "vector_norm_gate": q_vector_norm_gate,
        # round-4 curation family (new): PII scan/redact, corpus line
        # dedup, URL domain stats — fronted so their first driver round
        # records them even if the registry ever exceeds the cap again.
        "pii_scan": q_pii_scan,
        "line_dedup": q_line_dedup,
        "url_domain_stats": q_url_domain_stats,
        "url_blocklist_gate": q_url_blocklist_gate,
        "unigram_logprob": q_unigram_logprob,
        "map_basic_checks": q_map_basic_checks,
        "contiguous_index": q_contiguous_index,
        "doc_fingerprints": q_doc_fingerprints,
        "agg_profile": q_agg_profile,
        "unique_dup_rows": q_unique_dup_rows,
        "referential_orphans": q_referential_orphans,
        "table_row_count": q_table_row_count,
        "distinct_count": q_distinct_count,
        "value_counts": q_value_counts,
        "exact_dedup_kept": q_exact_dedup_kept,
        # token_counts / quality_filter / lang_en_stopword_gate merged
        # into ONE long-format slot (round 4) to fund the unigram-LM and
        # URL-blocklist rows — per-check rigor unchanged (labeled UNION).
        "text_gate_checks": q_text_gate_checks,
        "cosine_dup_pairs": q_cosine_dup_pairs,
        "ann_top1": q_ann_top1,
        "minhash_pairs": q_minhash_pairs,
        "simhash_pairs": q_simhash_pairs,
        "media_features": q_media_features,
        "media_image_stats": q_media_image_stats,
        "media_audio_stats": q_media_audio_stats,
        "quantiles_exact": q_quantiles_exact,
        "kl_categorical": q_kl_categorical,
        "ann_top1_arrow": q_ann_top1_arrow,
        "ann_ivf_top1": q_ann_ivf_top1,
        # split_mod_batch + split_year_month_counts merged into ONE
        # long-format slot (round 4) to fund segment_validation — per-row
        # rigor unchanged (labeled UNION).
        "splitter_checks": q_splitter_checks,
        "segment_validation": q_segment_validation,
        "hash_sample": q_hash_sample,
        "map_json_parseable": q_map_json_parseable,
        "map_dateutil_parseable": q_map_dateutil_parseable,
        "map_json_schema": q_map_json_schema,
        "map_zscore": q_map_zscore,
        "increasing_per_key": q_increasing_per_key,
        "pair_checks": q_pair_checks,
        "multicolumn_checks": q_multicolumn_checks,
        "kl_continuous": q_kl_continuous,
        # chisq / boundary-KS / param-KS / cramers-phi merged into ONE
        # long-format slot (round 4) to fund the three new curation rows
        # under the 50-row cap — per-test rigor unchanged (labeled UNION).
        "stat_tests": q_stat_tests,
        "agg_extras": q_agg_extras,
        "most_common_value": q_most_common_value,
        "rowcount_vs_other": q_rowcount_vs_other,
        "rbp_mean_bounds": q_rbp_mean_bounds,
        "partition_auto_hist": q_partition_auto_hist,
        "table_head": q_table_head,
    }


def oracle_sql() -> dict[str, str]:
    o = _oracle_sql_base()
    # round 4: the four single-row stat oracles become ONE labeled UNION —
    # byte-identical math, one registry slot (pairs with q_stat_tests).
    o["stat_tests"] = (
        f"SELECT 'chisq' AS test, chisq_stat AS statistic, df AS param "
        f"FROM ({o.pop('chisq_stat')}) "
        f"UNION ALL SELECT 'ks_boundary', ks_stat, n "
        f"FROM ({o.pop('ks_boundary_stat')}) "
        f"UNION ALL SELECT 'param_ks', ks_stat, n "
        f"FROM ({o.pop('param_ks_stat')}) "
        f"UNION ALL SELECT 'cramers_phi', phi, CAST(0 AS BIGINT) "
        f"FROM ({o.pop('cramers_phi')})"
    )
    # round 4 (second pass): token_counts + quality_filter +
    # lang_en_stopword_gate become ONE labeled UNION (pairs with
    # q_text_gate_checks) — byte-identical math, one registry slot.
    tc = o.pop("token_counts")
    o["text_gate_checks"] = (
        f"SELECT 'ws_tokens' AS check, ws_tokens AS value FROM ({tc}) "
        f"UNION ALL SELECT 'bpe_tokens', bpe_tokens FROM ({tc}) "
        f"UNION ALL SELECT 'quality_pass', passing_docs "
        f"FROM ({o.pop('quality_filter')}) "
        f"UNION ALL SELECT 'lang_en', en_docs "
        f"FROM ({o.pop('lang_en_stopword_gate')}) "
        f"UNION ALL {_diversity_oracle()}"
    )
    # round 4: the two splitter oracles become ONE labeled UNION (pairs
    # with q_splitter_checks; -1 date placeholders on the mod-batch row).
    o["splitter_checks"] = (
        f"SELECT 'mod3of8' AS split, CAST(-1 AS BIGINT) AS yr, "
        f"CAST(-1 AS BIGINT) AS mth, batch_rows "
        f"FROM ({o.pop('split_mod_batch')}) "
        f"UNION ALL SELECT 'year_month', yr, mth, batch_rows "
        f"FROM ({o.pop('split_year_month_counts')})"
    )
    o["segment_validation"] = _segment_validation_oracle()
    o.update(_curation_oracles())
    return o


def _segment_validation_oracle() -> str:
    """Per-l_returnflag replay of the segmented suite: map counters with
    mostly=0.5, mean/row-count bounds, per-segment compound uniqueness
    (element=all rows, missing=null-key rows, unexpected=rows of keys
    seen >1x within the segment), two-wave z-score (per-segment
    mean/stddev_samp joined back per row; NULL/zero stddev makes every
    non-null row unexpected — coalesce(success,false) parity), and
    most_common_value (modes with ties; strict = exactly one mode, in the
    set), per-segment windowed increasing (lag over (seg, l_orderkey)
    ordered by l_linenumber — first row of a window, or one following a
    NULL value, is vacuously in order), and a row_condition aggregate
    (mean over the filtered domain only; element_count = domain rows) —
    calc_map_success semantics inline."""
    return (
        "WITH g AS (SELECT l_returnflag AS seg, count(*) AS ec, "
        "sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS miss_b, "
        "sum(CASE WHEN l_discount IS NOT NULL AND NOT (l_discount >= 0.0 "
        "AND l_discount <= 0.05) THEN 1 ELSE 0 END) AS ux_b, "
        "sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) "
        "AS miss_z, "
        "avg(l_extendedprice) AS mu, stddev_samp(l_extendedprice) AS sd, "
        "avg(l_quantity) AS mean_q FROM lineitem GROUP BY 1), "
        "u AS (SELECT seg, sum(cnt) AS ec2, "
        "sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup FROM "
        "(SELECT l_returnflag AS seg, l_orderkey, l_linenumber, "
        "count(*) AS cnt FROM lineitem GROUP BY 1, 2, 3) GROUP BY 1), "
        "zx AS (SELECT l.l_returnflag AS seg, "
        "sum(CASE WHEN l.l_extendedprice IS NOT NULL AND (g.sd IS NULL "
        "OR g.sd = 0 OR NOT (abs((l.l_extendedprice - g.mu) / g.sd) < 1.5)) "
        "THEN 1 ELSE 0 END) AS ux_z "
        "FROM lineitem l JOIN g ON l.l_returnflag = g.seg GROUP BY 1), "
        "v AS (SELECT l_returnflag AS seg, l_linenumber AS val, count(*) "
        "AS c FROM lineitem WHERE l_linenumber IS NOT NULL GROUP BY 1, 2), "
        "vm AS (SELECT seg, max(c) AS mc FROM v GROUP BY 1), "
        "m AS (SELECT v.seg, count(*) AS nmodes, "
        "bool_and(v.val = 1) AS allin FROM v JOIN vm "
        "ON v.seg = vm.seg AND v.c = vm.mc GROUP BY 1), "
        "wl AS (SELECT l_returnflag AS seg, l_extendedprice AS wv, "
        "lag(l_extendedprice) OVER (PARTITION BY l_returnflag, l_orderkey "
        "ORDER BY l_linenumber, l_extendedprice) AS prev FROM lineitem), "
        "w AS (SELECT seg, count(*) AS ecw, "
        "sum(CASE WHEN wv IS NULL THEN 1 ELSE 0 END) AS miss_w, "
        "sum(CASE WHEN wv IS NOT NULL AND NOT (CASE WHEN prev IS NULL "
        "THEN true ELSE wv > prev END) THEN 1 ELSE 0 END) AS ux_w "
        "FROM wl GROUP BY 1), "
        "rca AS (SELECT l_returnflag AS seg, count(*) AS ecr, "
        "avg(l_quantity) AS mq FROM lineitem WHERE l_linenumber > 2 "
        "GROUP BY 1) "
        "SELECT seg, 'expect_column_values_to_be_between' "
        "AS expectation_type, "
        "(CASE WHEN ec - miss_b = 0 THEN true ELSE "
        "(CAST(ec - miss_b - ux_b AS DOUBLE) / (ec - miss_b)) >= 0.5 END) "
        "AS success, CAST(ec AS BIGINT) AS element_count, "
        "CAST(miss_b AS BIGINT) AS missing_count, "
        "CAST(ux_b AS BIGINT) AS unexpected_count FROM g "
        "UNION ALL SELECT seg, 'expect_column_mean_to_be_between', "
        "mean_q >= 1.0 AND mean_q <= 50.0, CAST(ec AS BIGINT), "
        "CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM g "
        "UNION ALL SELECT seg, 'expect_table_row_count_to_be_between', "
        "ec >= 100, CAST(ec AS BIGINT), CAST(0 AS BIGINT), "
        "CAST(0 AS BIGINT) FROM g "
        "UNION ALL SELECT seg, 'expect_compound_columns_to_be_unique', "
        "dup = 0, CAST(ec2 AS BIGINT), CAST(0 AS BIGINT), "
        "CAST(dup AS BIGINT) FROM u "
        "UNION ALL SELECT g.seg, "
        "'expect_column_value_z_scores_to_be_less_than', "
        "(CASE WHEN ec - miss_z = 0 THEN true ELSE "
        "(CAST(ec - miss_z - ux_z AS DOUBLE) / (ec - miss_z)) >= 0.8 END), "
        "CAST(ec AS BIGINT), CAST(miss_z AS BIGINT), "
        "CAST(ux_z AS BIGINT) FROM g JOIN zx ON g.seg = zx.seg "
        "UNION ALL SELECT g.seg, "
        "'expect_column_most_common_value_to_be_in_set', "
        "(m.nmodes = 1 AND m.allin), CAST(ec AS BIGINT), "
        "CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM g JOIN m "
        "ON g.seg = m.seg "
        "UNION ALL SELECT seg, 'expect_column_values_to_be_increasing', "
        "(CASE WHEN ecw - miss_w = 0 THEN true ELSE "
        "(CAST(ecw - miss_w - ux_w AS DOUBLE) / (ecw - miss_w)) >= 0.5 "
        "END), CAST(ecw AS BIGINT), CAST(miss_w AS BIGINT), "
        "CAST(ux_w AS BIGINT) FROM w "
        "UNION ALL SELECT seg, 'expect_column_mean_to_be_between', "
        "mq >= 1.0 AND mq <= 50.0, CAST(ecr AS BIGINT), "
        "CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM rca"
    )


def _diversity_oracle() -> str:
    """Corpus 2-gram total/distinct (pairs with _diversity_rows): DuckDB
    range() is end-exclusive, so bigram positions are range(1, len)."""
    grams = (
        "WITH base AS (SELECT list_filter(string_split_regex(lower(trim("
        "text)), '\\s+'), x -> len(x) > 0) AS toks "
        "FROM documents WHERE text IS NOT NULL), "
        "g AS (SELECT array_to_string(list_slice(toks, i, i + 1), ' ') "
        "AS gram FROM base, unnest(range(1, greatest(len(toks), 1))) "
        "AS t(i)) "
    )
    return (
        f"SELECT 'grams2_total' AS check, CAST(count(*) AS BIGINT) AS value "
        f"FROM ({grams} SELECT gram FROM g) "
        f"UNION ALL SELECT 'grams2_distinct', "
        f"CAST(count(DISTINCT gram) AS BIGINT) "
        f"FROM ({grams} SELECT gram FROM g)"
    )


def _host_norm_sql(expr: str) -> str:
    """DuckDB twin of operators/urls._normalize_host: lower → strip
    trailing prose punctuation (HOST_TRAILING_PUNCT) → strip www. —
    order and regexes byte-identical to the Spark side."""
    return (
        f"regexp_replace(regexp_replace(lower({expr}), "
        "'[.,;:!?]+$', ''), '^www\\.', '')"
    )


def _curation_oracles() -> dict[str, str]:
    """Round-4 curation-family oracles (pii_scan / line_dedup /
    url_domain_stats) — every regex is RE2-safe and byte-identical to the
    Spark side's pattern; DuckDB's regexp_replace needs the explicit 'g'
    flag where Spark replaces globally by default."""
    import great_expectations_spark.operators.pii as P
    from great_expectations_spark.operators.urls import HOST_PATTERN, URL_PATTERN

    def q(pat: str) -> str:  # SQL single-quote escaping
        return pat.replace("'", "''")

    email, ipv4 = q(P.PII_PATTERNS["email"]), q(P.PII_PATTERNS["ipv4"])
    phone, ssn = q(P.PII_PATTERNS["phone"]), q(P.PII_PATTERNS["ssn"])
    card = q(P.PII_PATTERNS["credit_card"])
    # Luhn over one candidate string (digits-only helper repeated inline)
    dg = "regexp_replace(cand, '[^0-9]', '', 'g')"
    luhn = (
        f"(list_sum(list_transform(range(1, len({dg}) + 1), i -> "
        f"CASE WHEN i % 2 = 0 THEN "
        f"CASE WHEN CAST(substring(reverse({dg}), i, 1) AS INT) * 2 > 9 "
        f"THEN CAST(substring(reverse({dg}), i, 1) AS INT) * 2 - 9 "
        f"ELSE CAST(substring(reverse({dg}), i, 1) AS INT) * 2 END "
        f"ELSE CAST(substring(reverse({dg}), i, 1) AS INT) END)) % 10 = 0 "
        f"AND len({dg}) BETWEEN 13 AND 19)"
    )
    redacted = "t"
    for typ in P.REDACT_ORDER:  # same chain + order as redact_pii
        redacted = (
            f"regexp_replace({redacted}, '{q(P.PII_PATTERNS[typ])}', "
            f"'[{typ.upper()}]', 'g')"
        )
    pii_scan = (
        "WITH d AS (SELECT doc_id, text "
        "|| CASE WHEN doc_id % 5 = 0 THEN ' contact user' "
        "|| CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END "
        "|| CASE WHEN doc_id % 7 = 0 THEN ' host 10.2.' "
        "|| CAST(doc_id % 200 AS VARCHAR) || '.4' ELSE '' END "
        "|| CASE WHEN doc_id % 11 = 0 THEN ' card 4532 0151 1283 0366' "
        "ELSE '' END "
        "|| CASE WHEN doc_id % 13 = 0 THEN ' card 4532-0151-1283-0367' "
        "ELSE '' END "
        "|| CASE WHEN doc_id % 17 = 0 THEN "
        "' ssn 987-65-4320 call (415) 555-2671' ELSE '' END AS t "
        "FROM documents), "
        "c AS (SELECT doc_id, t, "
        f"coalesce(len(regexp_extract_all(t, '{email}')), 0) AS e, "
        f"coalesce(len(regexp_extract_all(t, '{ipv4}')), 0) AS ip, "
        f"coalesce(len(regexp_extract_all(t, '{phone}')), 0) AS ph, "
        f"coalesce(len(regexp_extract_all(t, '{ssn}')), 0) AS ss, "
        f"coalesce(len(list_filter(regexp_extract_all(t, '{card}'), "
        f"cand -> {luhn})), 0) AS cc FROM d) "
        "SELECT CAST(sum(e) AS BIGINT) AS emails, "
        "CAST(sum(ip) AS BIGINT) AS ipv4s, "
        "CAST(sum(ph) AS BIGINT) AS phones, "
        "CAST(sum(ss) AS BIGINT) AS ssns, "
        "CAST(sum(cc) AS BIGINT) AS cards, "
        "CAST(sum(CASE WHEN e + ip + ph + ss + cc > 0 THEN 1 ELSE 0 END) "
        "AS BIGINT) AS docs_with_pii, "
        f"CAST(sum(len({redacted})) AS BIGINT) AS redacted_chars FROM c"
    )

    line_dedup = (
        "WITH d AS (SELECT doc_id, concat_ws(chr(10), substr(text, 1, 40), "
        "substr(text, 41, 40), CASE WHEN doc_id % 3 = 0 "
        "THEN 'subscribe to our newsletter today' "
        "ELSE substr(text, 81, 40) END) AS t "
        "FROM documents WHERE text IS NOT NULL), "
        "l AS (SELECT doc_id, t, "
        "unnest(string_split(t, chr(10))) AS line, "
        "unnest(range(0, len(string_split(t, chr(10))))) AS idx FROM d), "
        "k AS (SELECT doc_id, t, idx, line, "
        "CASE WHEN len(trim(line)) >= 1 THEN "
        "regexp_replace(lower(trim(line)), '\\s+', ' ', 'g') END AS key "
        "FROM l), "
        "dups AS (SELECT key FROM k WHERE key IS NOT NULL GROUP BY key "
        "HAVING count(DISTINCT doc_id) >= 5), "
        "kept AS (SELECT doc_id, any_value(t) AS t, "
        "coalesce(string_agg(CASE WHEN key IS NULL "
        "OR key NOT IN (SELECT key FROM dups) THEN line END, chr(10) "
        "ORDER BY idx), '') AS stripped FROM k GROUP BY doc_id) "
        "SELECT CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(CASE WHEN stripped <> t THEN 1 ELSE 0 END) AS BIGINT) "
        "AS docs_changed, "
        "CAST(sum(len(stripped)) AS BIGINT) AS kept_chars, "
        "(SELECT CAST(count(*) AS BIGINT) FROM dups) AS dup_lines FROM kept"
    )

    host_expr = f"regexp_extract(url, '{q(HOST_PATTERN)}', 1)"
    # the byte-for-byte oracle twin of __spark_entry__._planted_urls —
    # edit BOTH or neither (shared by url_stats and blocklist_gate)
    plant = (
        "WITH d AS (SELECT doc_id, coalesce(text, '') "
        "|| CASE WHEN doc_id % 2 = 0 THEN ' see https://site' "
        "|| CAST(doc_id % 20 AS VARCHAR) || '.Example.com/p?x=' "
        "|| CAST(doc_id AS VARCHAR) ELSE '' END "
        "|| CASE WHEN doc_id % 11 = 0 THEN "
        "' ref http://u:p@www.Blocked.example.NET:8080/x' ELSE '' END AS t "
        "FROM documents), "
        f"u AS (SELECT doc_id, unnest(regexp_extract_all(t, "
        f"'{q(URL_PATTERN)}')) AS url FROM d), "
        f"doms AS (SELECT doc_id, "
        f"{_host_norm_sql(host_expr)} AS domain FROM u)"
    )
    url_stats = (
        f"{plant} "
        "SELECT domain, CAST(count(*) AS BIGINT) AS n_urls, "
        "CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM doms "
        "WHERE domain <> '' GROUP BY domain"
    )
    # tokenization identical to operators/textstats.tokens: lower, trim,
    # split on \s+, drop empties; ln() is natural log on both engines.
    toks = (
        "SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim("
        "text)), '\\s+'), x -> len(x) > 0)) AS token "
        "FROM documents WHERE text IS NOT NULL"
    )
    unigram = (
        f"WITH toks AS ({toks}), "
        "cnt AS (SELECT token, count(*) AS c FROM toks GROUP BY token), "
        "tot AS (SELECT sum(c) AS t FROM cnt), "
        "vocab AS (SELECT token, ln(c / t) AS logp FROM cnt, tot "
        "ORDER BY c DESC, token ASC LIMIT 100), "
        "oov AS (SELECT min(logp) - ln(2) AS ol FROM vocab), "
        "scores AS (SELECT doc_id, "
        "avg(coalesce(v.logp, (SELECT ol FROM oov))) AS mean_logp, "
        "count(*) AS n_scored FROM toks LEFT JOIN vocab v USING (token) "
        "GROUP BY doc_id) "
        "SELECT CAST(count(*) AS BIGINT) AS n_docs, "
        "round(avg(mean_logp), 6) AS avg_logp, "
        "round(min(mean_logp), 6) AS min_logp, "
        "round(max(mean_logp), 6) AS max_logp, "
        "CAST(sum(n_scored) AS BIGINT) AS scored_tokens FROM scores"
    )

    blocklist_gate = (
        f"{plant}, "
        # blocklist entries ride the IDENTICAL _normalize_host chain
        f"bl AS (SELECT {_host_norm_sql('domain')} AS b "
        "FROM (VALUES ('www.Blocked.example.net'), ('evil.org')) v(domain)), "
        "hits AS (SELECT DISTINCT doc_id FROM doms WHERE domain IN "
        "(SELECT b FROM bl)) "
        "SELECT CAST((SELECT count(*) FROM hits) AS BIGINT) AS blocked_docs, "
        "CAST(count(*) AS BIGINT) AS n_docs FROM d"
    )
    return {
        "pii_scan": pii_scan,
        "line_dedup": line_dedup,
        "url_domain_stats": url_stats,
        "unigram_logprob": unigram,
        "url_blocklist_gate": blocklist_gate,
    }


def _oracle_sql_base() -> dict[str, str]:
    return {
        # the whole §2.3 basic-map family in one long-format UNION — each
        # branch is byte-identical to the standalone oracle it replaces
        # (green r01–r03); labels pair with q_map_basic_checks
        "map_basic_checks": (
            "SELECT 'not_null' AS check, CAST(count(*) FILTER (WHERE props "
            "IS NULL) AS BIGINT) AS violations FROM events "
            "UNION ALL SELECT 'in_set', CAST(count(*) FILTER (WHERE "
            "event_type IS NOT NULL AND event_type NOT IN "
            "('click','view','purchase')) AS BIGINT) FROM events "
            "UNION ALL SELECT 'between', CAST(count(*) FILTER (WHERE "
            "l_discount IS NOT NULL AND NOT (l_discount >= 0.0 AND "
            "l_discount <= 0.05)) AS BIGINT) FROM lineitem "
            "UNION ALL SELECT 'value_length', CAST(count(*) FILTER (WHERE "
            "text IS NOT NULL AND NOT (length(text) >= 20 AND length(text) "
            "<= 500)) AS BIGINT) FROM documents "
            "UNION ALL SELECT 'regex', CAST(count(*) FILTER (WHERE text IS "
            "NOT NULL AND NOT regexp_matches(text, '^[a-z ]+$')) AS BIGINT) "
            "FROM documents "
            "UNION ALL SELECT 'regex_list_any', CAST(count(*) FILTER (WHERE "
            "NOT (regexp_matches(text, 'the') OR regexp_matches(text, "
            "'data'))) AS BIGINT) FROM documents WHERE text IS NOT NULL "
            "UNION ALL SELECT 'regex_list_all', CAST(count(*) FILTER (WHERE "
            "NOT (regexp_matches(text, 'the') AND regexp_matches(text, "
            "'data'))) AS BIGINT) FROM documents WHERE text IS NOT NULL "
            "UNION ALL SELECT 'like_single', CAST(count(*) FILTER (WHERE "
            "c_mktsegment IS NOT NULL AND c_mktsegment NOT LIKE '%A%') "
            "AS BIGINT) FROM customer "
            "UNION ALL SELECT 'like_list', CAST(count(*) FILTER (WHERE "
            "c_name IS NOT NULL AND NOT (c_name LIKE 'Customer#0000001%' OR "
            "c_name LIKE 'Customer#0000002%')) AS BIGINT) FROM customer "
            "UNION ALL SELECT 'strftime', CAST(count(*) FILTER (WHERE "
            "try_strptime(ds, '%Y-%m-%d') IS NULL) AS BIGINT) FROM ("
            "SELECT CASE WHEN event_id % 7 = 0 THEN 'bad-' || "
            "strftime(ts, '%Y-%m-%d') ELSE strftime(ts, '%Y-%m-%d') END AS "
            "ds FROM events WHERE ts IS NOT NULL)"
        ),
        "contiguous_index": (
            "WITH li AS (SELECT l_orderkey, l_linenumber FROM lineitem "
            "WHERE NOT (l_linenumber = 2 AND l_orderkey % 10 = 0)), "
            "g AS (SELECT l_orderkey, count(*) AS n, min(l_linenumber) AS mn, "
            "max(l_linenumber) AS mx, count(DISTINCT l_linenumber) AS nd "
            "FROM li WHERE l_linenumber IS NOT NULL GROUP BY l_orderkey) "
            "SELECT CAST(count(*) AS BIGINT) AS total_groups, "
            "CAST(count(*) FILTER (WHERE NOT (mn = 1 AND mx = n AND nd = n))"
            " AS BIGINT) AS bad_groups FROM g"
        ),
        # replays kgram_fingerprint_rows(k=8, p=4, hash_fn='md5') end to
        # end: normalize, roll char-8-grams, 60-bit md5 hash, keep ≡0 mod 4,
        # min-hash fallback for docs that select nothing
        "doc_fingerprints": (
            "WITH base AS (SELECT doc_id, "
            "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t "
            "FROM documents WHERE text IS NOT NULL), "
            "eligible AS (SELECT doc_id, t FROM base WHERE length(t) >= 8), "
            "pos AS (SELECT doc_id, t, unnest(range(1, length(t) - 6)) AS i "
            "FROM eligible), "
            "g AS (SELECT doc_id, CAST('0x' || substr(md5("
            "substr(t, CAST(i AS INT), 8)), 1, 15) AS BIGINT) AS fp FROM pos), "
            "sel AS (SELECT DISTINCT doc_id, fp FROM g WHERE fp % 4 = 0), "
            "fb AS (SELECT doc_id, min(fp) AS fp FROM g WHERE doc_id NOT IN "
            "(SELECT doc_id FROM sel) GROUP BY doc_id), "
            "allfp AS (SELECT * FROM sel UNION ALL SELECT * FROM fb) "
            "SELECT CAST(count(*) AS BIGINT) AS n_prints, "
            "CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, "
            "CAST(count(DISTINCT fp) AS BIGINT) AS distinct_fps FROM allfp"
        ),
        "agg_profile": (
            "SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows, "
            "sum(l_quantity) AS sum_qty, avg(l_quantity) AS mean_qty, "
            "min(l_quantity) AS min_qty, max(l_quantity) AS max_qty "
            "FROM lineitem GROUP BY l_returnflag"
        ),
        "unique_dup_rows": (
            "WITH vc AS (SELECT o_custkey, count(*) AS cnt FROM orders "
            "WHERE o_custkey IS NOT NULL GROUP BY o_custkey) "
            "SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS unexpected_count, "
            "CAST(count(*) AS BIGINT) AS duplicate_key_count FROM vc WHERE cnt > 1"
        ),
        "referential_orphans": (
            "SELECT CAST(count(*) AS BIGINT) AS unexpected_count FROM orders "
            "WHERE o_custkey IS NOT NULL AND o_custkey NOT IN "
            "(SELECT c_custkey FROM customer)"
        ),
        "table_row_count": (
            "SELECT CAST(count(*) AS BIGINT) AS row_count FROM lineitem"
        ),
        "distinct_count": (
            "SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS distinct_count "
            "FROM events"
        ),
        "value_counts": (
            "SELECT event_type, CAST(count(*) AS BIGINT) AS count FROM events "
            "WHERE event_type IS NOT NULL GROUP BY event_type ORDER BY event_type"
        ),
        "exact_dedup_kept": (
            "SELECT CAST(count(DISTINCT regexp_replace(lower(trim(text)), "
            "'\\s+', ' ', 'g')) + count(*) FILTER (WHERE text IS NULL) AS BIGINT)"
            " AS kept_rows FROM documents"
        ),
        "token_counts": (
            "SELECT CAST(sum(len(list_filter(string_split_regex(lower(trim(text)),"
            " '\\s+'), x -> len(x) > 0))) AS BIGINT) AS ws_tokens, "
            "CAST(sum(len(regexp_extract_all(text, "
            "'[A-Za-z]+|[0-9]+|[^\\sA-Za-z0-9]'))) AS BIGINT) AS bpe_tokens "
            "FROM documents WHERE text IS NOT NULL"
        ),
        "quality_filter": (
            "SELECT CAST(count(*) AS BIGINT) AS passing_docs FROM documents "
            "WHERE text IS NOT NULL "
            "AND length(regexp_replace(text, '[^A-Za-z]', '', 'g'))"
            " >= 0.6 * length(text) "
            "AND len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),"
            " x -> len(x) > 0)) >= 20"
        ),
        "lang_en_stopword_gate": (
            "WITH t AS (SELECT list_filter(string_split_regex(lower(trim(text)),"
            " '\\s+'), x -> len(x) > 0) AS toks FROM documents"
            " WHERE text IS NOT NULL) "
            "SELECT CAST(count(*) AS BIGINT) AS en_docs FROM t WHERE"
            " len(toks) > 0 AND len(list_filter(toks, x -> x IN ("
            "'the','of','and','to','in','is','it','you','that','was','for',"
            "'on','are','with','as','this','have','from','they')))"
            " >= 0.05 * len(toks)"
        ),
        "cosine_dup_pairs": (
            "SELECT CAST(count(*) AS BIGINT) AS dup_pairs FROM embeddings a "
            "JOIN embeddings b ON a.vec_id < b.vec_id "
            "WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.95"
        ),
        "ann_top1": (
            "SELECT query_id, neighbor_id FROM ("
            "SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, "
            "row_number() OVER (PARTITION BY a.vec_id ORDER BY "
            "list_cosine_similarity(a.embedding, b.embedding) DESC,"
            " b.vec_id ASC) AS rnk "
            "FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id "
            "WHERE a.vec_id < 8) WHERE rnk = 1 ORDER BY query_id"
        ),
        "quantiles_exact": (
            "SELECT round(quantile_cont(l_quantity, 0.25), 6) AS q25, "
            "round(quantile_cont(l_quantity, 0.5), 6) AS q50, "
            "round(quantile_cont(l_quantity, 0.75), 6) AS q75 FROM lineitem"
        ),
        "kl_categorical": (
            "WITH c AS (SELECT l_returnflag AS v, CAST(count(*) AS DOUBLE) AS n "
            "FROM lineitem WHERE l_returnflag IS NOT NULL GROUP BY 1), "
            "t AS (SELECT sum(n) AS s FROM c) "
            "SELECT round(SUM((n/s) * ln((n/s) / (1.0/3))), 6) AS kl FROM c, t"
        ),
        "ann_top1_arrow": (
            "SELECT query_id, neighbor_id FROM ("
            "SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, "
            "row_number() OVER (PARTITION BY a.vec_id ORDER BY "
            "list_cosine_similarity(a.embedding, b.embedding) DESC,"
            " b.vec_id ASC) AS rnk "
            "FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id "
            "WHERE a.vec_id < 8) WHERE rnk = 1 ORDER BY query_id"
        ),
        "ann_ivf_top1": (
            "SELECT query_id, neighbor_id FROM ("
            "SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, "
            "row_number() OVER (PARTITION BY a.vec_id ORDER BY "
            "list_cosine_similarity(a.embedding, b.embedding) DESC,"
            " b.vec_id ASC) AS rnk "
            "FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id "
            "WHERE a.vec_id < 8) WHERE rnk = 1 ORDER BY query_id"
        ),
        "split_mod_batch": (
            "SELECT CAST(count(*) AS BIGINT) AS batch_rows FROM orders "
            "WHERE o_orderkey % 8 = 3"
        ),
        "split_year_month_counts": (
            "SELECT CAST(year(ts) AS BIGINT) AS yr, "
            "CAST(month(ts) AS BIGINT) AS mth, "
            "CAST(count(*) AS BIGINT) AS batch_rows FROM events "
            "WHERE ts IS NOT NULL GROUP BY 1, 2 ORDER BY yr, mth"
        ),
        "hash_sample": (
            "SELECT CAST(count(*) AS BIGINT) AS sample_rows FROM events "
            "WHERE md5(CAST(event_id AS VARCHAR)) LIKE '%a'"
        ),
        "map_json_parseable": (
            "WITH d AS (SELECT CASE WHEN event_id % 5 = 0 THEN props || '{' "
            "ELSE props END AS js FROM events WHERE props IS NOT NULL) "
            "SELECT CAST(count(*) FILTER (WHERE NOT json_valid(js)) AS BIGINT)"
            " AS unexpected_count FROM d"
        ),
        "map_dateutil_parseable": (
            "WITH d AS (SELECT CASE WHEN event_id % 7 = 0 THEN "
            "'junk-' || CAST(event_id AS VARCHAR) "
            "ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END AS dstr "
            "FROM events WHERE ts IS NOT NULL) "
            "SELECT CAST(count(*) FILTER (WHERE "
            "try_cast(dstr AS TIMESTAMP) IS NULL) AS BIGINT) "
            "AS unexpected_count FROM d"
        ),
        "map_json_schema": (
            "WITH d AS (SELECT CASE WHEN o_orderkey % 4 = 0 THEN "
            "json_object('k', o_orderkey) "
            "ELSE json_object('k', o_orderkey, 's', o_orderstatus) END AS js "
            "FROM orders) "
            "SELECT CAST(count(*) FILTER (WHERE "
            "json_extract(js, '$.s') IS NULL) AS BIGINT) "
            "AS unexpected_count FROM d"
        ),
        "map_zscore": (
            "WITH s AS (SELECT avg(l_extendedprice) AS m, "
            "stddev_samp(l_extendedprice) AS sd FROM lineitem) "
            "SELECT CAST(count(*) FILTER (WHERE abs((l_extendedprice - m) / sd)"
            " >= 2.0) AS BIGINT) AS unexpected_count FROM lineitem, s "
            "WHERE l_extendedprice IS NOT NULL"
        ),
        "increasing_per_key": (
            "WITH w AS (SELECT o_orderdate, lag(o_orderdate) OVER "
            "(PARTITION BY o_custkey ORDER BY o_orderkey) AS prev FROM orders "
            "WHERE o_orderdate IS NOT NULL) "
            "SELECT CAST(count(*) FILTER (WHERE prev IS NOT NULL AND "
            "o_orderdate < prev) AS BIGINT) AS unexpected_count FROM w"
        ),
        "pair_checks": (
            "SELECT CAST(count(*) FILTER (WHERE l_returnflag IS DISTINCT FROM "
            "l_linestatus) AS BIGINT) AS pair_equal_violations, "
            "CAST(count(*) FILTER (WHERE NOT (l_discount > l_tax)) AS BIGINT)"
            " AS pair_gt_violations, "
            "CAST(count(*) FILTER (WHERE (l_returnflag, l_linestatus) NOT IN "
            "(('A','F'), ('R','F'), ('N','O'))) AS BIGINT)"
            " AS pair_in_set_violations FROM lineitem"
        ),
        "multicolumn_checks": (
            "SELECT (SELECT CAST(count(*) FILTER (WHERE l_quantity + "
            "(50.0 - l_quantity + (l_linenumber % 2)) <> 50.0) AS BIGINT) "
            "FROM lineitem) AS sum_violations, "
            "(SELECT CAST(count(*) FILTER (WHERE n_nationkey = n_regionkey) "
            "AS BIGINT) FROM nation) AS record_dup_violations"
        ),
        "chisq_stat": (
            "WITH c AS (SELECT "
            "count(*) FILTER (WHERE event_type = 'click') AS c1, "
            "count(*) FILTER (WHERE event_type = 'error') AS c2, "
            "count(*) FILTER (WHERE event_type = 'purchase') AS c3, "
            "count(*) FILTER (WHERE event_type = 'signup') AS c4, "
            "count(*) FILTER (WHERE event_type = 'view') AS c5, "
            "count(event_type) AS total FROM events) "
            "SELECT round("
            "(c1 - 0.2*total)*(c1 - 0.2*total)/(0.2*total) + "
            "(c2 - 0.2*total)*(c2 - 0.2*total)/(0.2*total) + "
            "(c3 - 0.2*total)*(c3 - 0.2*total)/(0.2*total) + "
            "(c4 - 0.2*total)*(c4 - 0.2*total)/(0.2*total) + "
            "(c5 - 0.2*total)*(c5 - 0.2*total)/(0.2*total), 6) AS chisq_stat, "
            "CAST(4 AS BIGINT) AS df FROM c"
        ),
        "ks_boundary_stat": (
            "WITH c AS (SELECT count(l_quantity) AS n, "
            "count(*) FILTER (WHERE l_quantity <= 1.0) AS e0, "
            "count(*) FILTER (WHERE l_quantity <= 13.25) AS e1, "
            "count(*) FILTER (WHERE l_quantity <= 25.5) AS e2, "
            "count(*) FILTER (WHERE l_quantity <= 37.75) AS e3, "
            "count(*) FILTER (WHERE l_quantity <= 50.0) AS e4 "
            "FROM lineitem) "
            "SELECT round(greatest("
            "abs(e0/CAST(n AS DOUBLE) - 0.0), "
            "abs(e1/CAST(n AS DOUBLE) - 0.25), "
            "abs(e2/CAST(n AS DOUBLE) - 0.5), "
            "abs(e3/CAST(n AS DOUBLE) - 0.75), "
            "abs(e4/CAST(n AS DOUBLE) - 1.0)), 6) AS ks_stat, "
            "CAST(n AS BIGINT) AS n FROM c"
        ),
        "cramers_phi": (
            "WITH cells AS (SELECT o_orderstatus AS a, o_orderpriority AS b, "
            "CAST(count(*) AS DOUBLE) AS c FROM orders WHERE o_orderstatus IS "
            "NOT NULL AND o_orderpriority IS NOT NULL GROUP BY 1, 2), "
            "rt AS (SELECT a, sum(c) AS ra FROM cells GROUP BY a), "
            "ct AS (SELECT b, sum(c) AS cb FROM cells GROUP BY b), "
            "tot AS (SELECT sum(c) AS nn, count(*) FROM cells), "
            "dims AS (SELECT (SELECT count(*) FROM rt) AS r, "
            "(SELECT count(*) FROM ct) AS cc) "
            "SELECT round(sqrt(sum("
            "(coalesce(cells.c, 0) - rt.ra*ct.cb/tot.nn)"
            "*(coalesce(cells.c, 0) - rt.ra*ct.cb/tot.nn)"
            "/(rt.ra*ct.cb/tot.nn)) "
            "/ (max(tot.nn) * (least(max(dims.r), max(dims.cc)) - 1))), 6) "
            "AS phi FROM rt CROSS JOIN ct "
            "LEFT JOIN cells ON cells.a = rt.a AND cells.b = ct.b "
            "CROSS JOIN tot CROSS JOIN dims"
        ),
        "param_ks_stat": (
            "WITH c AS (SELECT count(l_quantity) AS n, "
            "count(*) FILTER (WHERE l_quantity <= 1.0 + 49.0*0.2) AS e0, "
            "count(*) FILTER (WHERE l_quantity <= 1.0 + 49.0*0.4) AS e1, "
            "count(*) FILTER (WHERE l_quantity <= 1.0 + 49.0*0.6) AS e2, "
            "count(*) FILTER (WHERE l_quantity <= 1.0 + 49.0*0.8) AS e3 "
            "FROM lineitem) "
            "SELECT round(greatest("
            "abs(e0/CAST(n AS DOUBLE) - 0.2), "
            "abs(e1/CAST(n AS DOUBLE) - 0.4), "
            "abs(e2/CAST(n AS DOUBLE) - 0.6), "
            "abs(e3/CAST(n AS DOUBLE) - 0.8)), 6) AS ks_stat, "
            "CAST(n AS BIGINT) AS n FROM c"
        ),
        "kl_continuous": (
            "WITH h AS (SELECT count(*) FILTER (WHERE l_extendedprice >= 0 AND "
            "l_extendedprice < 25000) AS b0, count(*) FILTER (WHERE "
            "l_extendedprice >= 25000 AND l_extendedprice < 50000) AS b1, "
            "count(*) FILTER (WHERE l_extendedprice >= 50000 AND "
            "l_extendedprice < 75000) AS b2, count(*) FILTER (WHERE "
            "l_extendedprice >= 75000 AND l_extendedprice <= 110000) AS b3, "
            "count(l_extendedprice) AS n FROM lineitem) "
            "SELECT round("
            "  (b0/CAST(n AS DOUBLE)) * ln((b0/CAST(n AS DOUBLE)) / 0.25)"
            "+ (b1/CAST(n AS DOUBLE)) * ln((b1/CAST(n AS DOUBLE)) / 0.25)"
            "+ (b2/CAST(n AS DOUBLE)) * ln((b2/CAST(n AS DOUBLE)) / 0.25)"
            "+ (b3/CAST(n AS DOUBLE)) * ln((b3/CAST(n AS DOUBLE)) / 0.25), 6)"
            " AS kl FROM h"
        ),
        "agg_extras": (
            "SELECT round(quantile_cont(l_extendedprice, 0.5), 6) AS median, "
            "round(CAST(count(DISTINCT l_quantity) AS DOUBLE) / "
            "count(l_quantity), 6) AS unique_prop, "
            "CAST(count(*) FILTER (WHERE l_quantity BETWEEN 10 AND 20) "
            "AS BIGINT) AS between_count, "
            "round(corr(l_quantity, l_extendedprice), 6) AS corr_qp "
            "FROM lineitem"
        ),
        "most_common_value": (
            "SELECT event_type AS mode_value FROM events "
            "WHERE event_type IS NOT NULL GROUP BY event_type "
            "ORDER BY count(*) DESC, event_type ASC LIMIT 1"
        ),
        "rowcount_vs_other": (
            "SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS rc_self, "
            "(SELECT CAST(count(*) AS BIGINT) FROM customer) AS rc_other"
        ),
        "rbp_mean_bounds": (
            "WITH pb AS (SELECT event_id % 5 AS g, avg(value) AS m "
            "FROM events WHERE event_id % 5 < 4 GROUP BY 1) "
            "SELECT round(quantile_cont(m, 0.025), 6) AS lo, "
            "round(quantile_cont(m, 0.975), 6) AS hi FROM pb"
        ),
        "partition_auto_hist": (
            "WITH s AS (SELECT count(value) AS n, min(value) AS lo, "
            "max(value) AS hi, quantile_cont(value, 0.25) AS q25, "
            "quantile_cont(value, 0.75) AS q75 FROM events), "
            "p AS (SELECT n, lo, hi, CASE WHEN (q75 - q25) > 0 THEN "
            "least(2.0*(q75-q25)/pow(n, 1.0/3.0), "
            "(hi-lo)/ceil(ln(n)/ln(2)+1.0)) ELSE "
            "(hi-lo)/ceil(ln(n)/ln(2)+1.0) END AS width FROM s), "
            "b AS (SELECT lo, hi, CAST(greatest(1, ceil((hi-lo)/width)) "
            "AS BIGINT) AS nb FROM p) "
            "SELECT CAST(least(CAST(floor((e.value - b.lo)/"
            "((b.hi-b.lo)/b.nb)) AS BIGINT), b.nb-1) AS BIGINT) AS bucket, "
            "CAST(count(*) AS BIGINT) AS cnt FROM events e, b "
            "WHERE e.value IS NOT NULL GROUP BY 1 ORDER BY bucket"
        ),
        "table_head": (
            "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem "
            "ORDER BY l_orderkey, l_linenumber, l_quantity LIMIT 5"
        ),
        "stratified_sample": (
            "SELECT event_type, event_id FROM ("
            "SELECT event_type, event_id, row_number() OVER ("
            "PARTITION BY event_type ORDER BY md5(CAST(event_id AS VARCHAR)),"
            " event_id) AS rk FROM events WHERE event_type IS NOT NULL) "
            "WHERE rk <= 7 ORDER BY event_type, event_id"
        ),
        "token_count_gate": (
            "SELECT CAST(count(*) FILTER (WHERE NOT ("
            "len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),"
            " x -> len(x) > 0)) BETWEEN 20 AND 80)) AS BIGINT)"
            " AS unexpected_count FROM documents WHERE text IS NOT NULL"
        ),
        "vector_norm_gate": (
            "WITH v AS (SELECT CASE WHEN vec_id % 10 = 0 THEN "
            "list_transform(embedding, x -> x * 2.0) ELSE embedding END AS vec "
            "FROM embeddings) "
            "SELECT CAST(count(*) FILTER (WHERE NOT ("
            "sqrt(list_dot_product(vec, vec)) BETWEEN 0.9 AND 1.1)) AS BIGINT)"
            " AS unexpected_count, CAST(count(*) AS BIGINT) AS element_count "
            "FROM v"
        ),
        # minhash_pairs / simhash_pairs run the engine in hash_fn='md5' mode
        # (round 3): every hash is CAST('0x'||substr(md5(x),1,15) AS BIGINT),
        # so DuckDB replays the ENTIRE LSH pipeline. The Spark-side bucket
        # guard (max_bucket_size=5000) is a no-op at sf0.01 (500 docs), so
        # the oracle omits it.
        "minhash_pairs": (
            "WITH base AS (SELECT doc_id, "
            "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t "
            "FROM documents WHERE text IS NOT NULL), "
            "eligible AS (SELECT doc_id, t FROM base WHERE length(t) >= 4), "
            "pos AS (SELECT doc_id, t, "
            "unnest(range(1, length(t) - 2)) AS i FROM eligible), "
            "sh AS (SELECT doc_id, CAST('0x' || substr(md5("
            "substr(t, CAST(i AS INT), 4)), 1, 15) AS BIGINT) AS h FROM pos), "
            "sig AS (SELECT doc_id, p, min(CAST('0x' || substr(md5("
            "CAST(h AS VARCHAR) || '#' || CAST(p AS VARCHAR)), 1, 15) "
            "AS BIGINT)) AS v "
            "FROM sh CROSS JOIN range(0, 32) AS rp(p) GROUP BY doc_id, p), "
            "band AS (SELECT doc_id, p // 4 AS band, CAST('0x' || substr(md5("
            "string_agg(CAST(v AS VARCHAR), ',' ORDER BY p)), 1, 15) "
            "AS BIGINT) AS bh FROM sig GROUP BY doc_id, p // 4), "
            "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
            "FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh "
            "AND a.doc_id < b.doc_id), "
            "est AS (SELECT c.id_a, c.id_b, "
            "sum(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END) / 32.0 AS ej "
            "FROM cand c JOIN sig sa ON sa.doc_id = c.id_a "
            "JOIN sig sb ON sb.doc_id = c.id_b AND sb.p = sa.p "
            "GROUP BY c.id_a, c.id_b) "
            "SELECT CAST(count(*) AS BIGINT) AS candidate_pairs FROM est "
            "WHERE ej >= 0.8"
        ),
        # real-codec round trips: the synth tables' dims/fill/samples are
        # closed forms of doc_id, so the oracle needs no codec at all —
        # if Spark's decode recovers anything else, the hash mismatches.
        "media_image_stats": (
            "SELECT CAST(count(*) AS BIGINT) AS n, "
            "CAST(count(*) AS BIGINT) AS decoded, "
            "CAST(sum(8 + doc_id % 5) AS BIGINT) AS sum_w, "
            "CAST(sum(6 + doc_id % 3) AS BIGINT) AS sum_h, "
            "round(sum(CAST(doc_id % 256 AS DOUBLE)), 3) AS sum_mean "
            "FROM documents"
        ),
        "media_audio_stats": (
            "SELECT CAST(count(*) AS BIGINT) AS n, "
            "CAST(count(*) AS BIGINT) AS decoded, "
            "CAST(sum(100 + doc_id % 50) AS BIGINT) AS sum_samples, "
            "CAST(16000 AS BIGINT) AS rate, "
            "round(sum(abs(CAST(doc_id % 1000 AS DOUBLE) - 500)), 3) "
            "AS sum_mean_abs FROM documents"
        ),
        "simhash_pairs": (
            "WITH base AS (SELECT doc_id, "
            "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t "
            "FROM documents WHERE text IS NOT NULL), "
            "tok AS (SELECT doc_id, w FROM (SELECT doc_id, "
            "unnest(string_split(t, ' ')) AS w FROM base) WHERE length(w) > 0), "
            "th AS (SELECT doc_id, CAST('0x' || substr(md5(w), 1, 15) "
            "AS BIGINT) AS h FROM tok), "
            "votes AS (SELECT doc_id, i, sum(CASE WHEN "
            "(h >> CAST(i AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v "
            "FROM th CROSS JOIN range(0, 64) AS r(i) GROUP BY doc_id, i), "
            "fp AS (SELECT doc_id, sum(CASE WHEN v > 0 THEN "
            "(CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE CAST(0 AS BIGINT) "
            "END) AS f FROM votes GROUP BY doc_id), "
            "ch AS (SELECT doc_id, f, c AS chunk, "
            "(f >> CAST(c * 16 AS INT)) & 65535 AS cv "
            "FROM fp CROSS JOIN range(0, 4) AS rc(c)), "
            "pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, "
            "a.f AS fa, b.f AS fb FROM ch a JOIN ch b ON a.chunk = b.chunk "
            "AND a.cv = b.cv AND a.doc_id < b.doc_id) "
            "SELECT CAST(count(*) AS BIGINT) AS simhash_pairs FROM pairs "
            "WHERE bit_count(xor(fa, fb)) <= 3"
        ),
        "decontamination_hits": (
            "WITH corpus AS (SELECT doc_id, "
            "list_filter(string_split(trim(regexp_replace(lower(trim(text)), "
            "'[^\\p{L}\\p{N}]+', ' ', 'g')), ' '), t -> len(t) > 0) AS toks "
            "FROM documents WHERE text IS NOT NULL), "
            "grams AS (SELECT DISTINCT doc_id, "
            "array_to_string(list_slice(toks, i, i + 4), ' ') AS gram "
            "FROM corpus, unnest(range(1, greatest(len(toks) - 3, 1))) AS t(i)), "
            "bgrams AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 20 = 0) "
            "SELECT g.doc_id, CAST(count(*) AS BIGINT) AS hit_grams "
            "FROM grams g JOIN bgrams b USING (gram) GROUP BY g.doc_id"
        ),
        "repetition_profile": (
            "WITH base AS (SELECT doc_id, length(text) AS n_chars, "
            "list_filter(string_split_regex(lower(trim(text)), '\\s+'), "
            "t -> len(t) > 0) AS toks, "
            "list_filter(list_transform(string_split(text, chr(10)), "
            "l -> trim(l)), l -> len(l) > 0) AS lines "
            "FROM documents WHERE text IS NOT NULL), "
            "bi AS (SELECT doc_id, "
            "array_to_string(list_slice(toks, i, i + 1), ' ') AS gram "
            "FROM base, unnest(range(1, greatest(len(toks), 1))) AS t(i)), "
            "bic AS (SELECT doc_id, gram, count(*) AS cnt FROM bi GROUP BY 1, 2), "
            "bia AS (SELECT doc_id, max(cnt * len(gram)) AS topcov, "
            "coalesce(sum(cnt * len(gram)) FILTER (WHERE cnt > 1), 0) AS dupcov "
            "FROM bic GROUP BY 1), "
            "tri AS (SELECT doc_id, "
            "array_to_string(list_slice(toks, i, i + 2), ' ') AS gram "
            "FROM base, unnest(range(1, greatest(len(toks) - 1, 1))) AS t(i)), "
            "tric AS (SELECT doc_id, gram, count(*) AS cnt FROM tri GROUP BY 1, 2), "
            "tria AS (SELECT doc_id, "
            "coalesce(sum(cnt * len(gram)) FILTER (WHERE cnt > 1), 0) AS dupcov "
            "FROM tric GROUP BY 1) "
            "SELECT b.doc_id, CAST(len(b.lines) AS BIGINT) AS n_lines, "
            "CASE WHEN b.n_chars > 0 THEN CAST(coalesce(bia.topcov, 0) AS DOUBLE) "
            "/ b.n_chars ELSE 0.0 END AS top_2gram_char_frac, "
            "CASE WHEN b.n_chars > 0 THEN CAST(coalesce(bia.dupcov, 0) AS DOUBLE) "
            "/ b.n_chars ELSE 0.0 END AS dup_2gram_char_frac, "
            "CASE WHEN b.n_chars > 0 THEN CAST(coalesce(tria.dupcov, 0) AS DOUBLE) "
            "/ b.n_chars ELSE 0.0 END AS dup_3gram_char_frac "
            "FROM base b LEFT JOIN bia USING (doc_id) "
            "LEFT JOIN tria USING (doc_id)"
        ),
    }
