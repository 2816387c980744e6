"""LSH candidate-quality record — recall/precision vs exact ground truth.

The dedup pipeline's correctness is oracle-proven (the candidate SETS match
DuckDB), but a user tuning ``n_bands`` / ``max_hamming`` for a real dedup
run needs a recorded recall/precision curve. This harness measures both
LSH families against EXACT char-5-gram Jaccard ground truth:

- corpus: the same deterministic planted-near-dup generator as the
  ``curation`` ops of tools/scaling_bench.py — ~40-word texts over a
  64-word vocabulary, every id ≡ 0 (mod 17) re-generated from id-1 plus one
  appended word.
  Planted pairs land at true Jaccard ≈ 0.95-0.98; random pairs from the
  shared vocabulary sit ≈ 0.2-0.4 — a realistic "near-dup vs topical
  sibling" gap.
- ground truth: brute-force all-pairs exact Jaccard (crossJoin id_a <
  id_b, ``ngram_jaccard`` char-5) ≥ GT_JACCARD. Exact and feasible at the
  default N=2000 (2M pairs); this is the opt-in tiny-table baseline the
  operators themselves document — NEVER the scale path.
- sweep: ``minhash_lsh_candidates`` over bands ∈ {8,16,32,64} at
  n_hashes=128 (threshold ≈ (1/b)^(b/n)); ``simhash_candidates`` over
  max_hamming ∈ {1,2,3,6} at bits=64, chunks=4.
- metrics per config: candidate recall (|cand ∩ truth| / |truth|),
  candidate precision (|cand ∩ truth| / |cand|), candidate count, and
  post-verify counts after ``verify_pairs_ngram_jaccard`` (exact-verified
  pipeline precision is 1.0 by construction; its recall = candidate
  recall, which is why candidate recall is THE number to tune for).

Writes BENCH/LSH_QUALITY.md. Usage:
    python tools/lsh_quality.py [n_docs]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

GT_JACCARD = float(os.environ.get("LSH_GT_JACCARD", "0.8"))

VOCAB = (
    "the a of to and in is it you that was for on are with as this have "
    "from they spark table row scan filter join group window sort hash "
    "batch stream query plan value key part merge fast slow big small "
    "data column line order customer vector agg"
).split()


def planted_corpus(spark, n_docs):
    from pyspark.sql import functions as F

    vocab = F.array(*[F.lit(w) for w in VOCAB])
    base = F.when(
        (F.col("id") % 17 == 0) & (F.col("id") > 0), F.col("id") - 1
    ).otherwise(F.col("id"))
    words = F.transform(
        F.sequence(F.lit(1), F.lit(40)),
        lambda i: F.element_at(
            vocab,
            (F.pmod(F.xxhash64(base, i), F.lit(len(VOCAB))) + 1).cast("int"),
        ),
    )
    text = F.array_join(words, " ")
    text = F.when(
        (F.col("id") % 17 == 0) & (F.col("id") > 0),
        F.concat(text, F.lit(" extra")),
    ).otherwise(text)
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"), text.alias("text")
    )


def exact_truth_pairs(docs, min_jaccard):
    """All-pairs exact char-5 Jaccard ≥ min_jaccard. O(N^2) crossJoin —
    the tiny-table ground-truth baseline only. Gram sets are computed ONCE
    per doc (not per pair — that form times out even at N=2000) and the
    pair filter is pure JVM array set-algebra."""
    from pyspark.sql import functions as F

    from great_expectations_spark.operators.dedup import shingle_hash_set

    g = docs.select(
        F.col("doc_id"),
        shingle_hash_set(F.col("text"), 5, "char").alias("g"),
    ).persist()
    g.count()
    a = g.select(F.col("doc_id").alias("id_a"), F.col("g").alias("ga"))
    a = a.repartition(32)
    b = g.select(F.col("doc_id").alias("id_b"), F.col("g").alias("gb"))
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size(F.array_union("ga", "gb"))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(jac >= min_jaccard)
        .select("id_a", "id_b")
    )


def pair_set(df):
    return {(r["id_a"], r["id_b"]) for r in df.select("id_a", "id_b").collect()}


def main():
    from pyspark.sql import functions as F  # noqa: F401

    from bench import build_spark
    from great_expectations_spark.operators.dedup import (
        minhash_lsh_candidates,
        simhash_candidates,
        verify_pairs_ngram_jaccard,
    )

    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
    spark = build_spark()
    docs = planted_corpus(spark, n_docs).persist()
    n = docs.count()

    t0 = time.monotonic()
    truth = pair_set(exact_truth_pairs(docs, GT_JACCARD))
    gt_sec = round(time.monotonic() - t0, 1)

    results = {"n_docs": n, "gt_jaccard": GT_JACCARD,
               "truth_pairs": len(truth), "gt_sec": gt_sec,
               "minhash": [], "simhash": []}

    for bands in (8, 16, 32, 64):
        t0 = time.monotonic()
        cand = pair_set(
            minhash_lsh_candidates(
                docs, "text", "doc_id", n_hashes=128, bands=bands,
                shingle_size=5, mode="char", min_jaccard=None,
            )
        )
        dt = round(time.monotonic() - t0, 1)
        tp = len(cand & truth)
        verified = verify_pairs_ngram_jaccard(
            spark.createDataFrame(
                sorted(cand) or [(-1, -1)], "id_a long, id_b long"
            ),
            docs, "text", "doc_id", n=5, mode="char", min_jaccard=GT_JACCARD,
        ).count()
        results["minhash"].append({
            "bands": bands, "rows_per_band": 128 // bands,
            "threshold_est": round((1.0 / bands) ** (bands / 128.0), 3),
            "candidates": len(cand),
            "recall": round(tp / len(truth), 4) if truth else None,
            "precision": round(tp / len(cand), 4) if cand else None,
            "post_verify_pairs": verified, "sec": dt,
        })

    for hamming in (1, 2, 3, 6):
        t0 = time.monotonic()
        cand = pair_set(
            simhash_candidates(
                docs, "text", "doc_id", bits=64, chunks=4,
                max_hamming=hamming,
            )
        )
        dt = round(time.monotonic() - t0, 1)
        tp = len(cand & truth)
        results["simhash"].append({
            "max_hamming": hamming, "candidates": len(cand),
            "recall": round(tp / len(truth), 4) if truth else None,
            "precision": round(tp / len(cand), 4) if cand else None,
            "sec": dt,
        })

    spark.stop()
    write_md(results)
    print(json.dumps(results))


def write_md(r):
    lines = [
        "# BENCH/LSH_QUALITY — candidate recall/precision vs exact ground truth",
        "",
        f"Corpus: {r['n_docs']} deterministic docs (64-word vocab, ~40 words/doc),",
        "every id ≡ 0 (mod 17) a planted near-dup of id-1 (one word appended —",
        "true char-5 Jaccard ≈ 0.95-0.98; random same-vocab pairs ≈ 0.2-0.4).",
        f"Ground truth: brute-force all-pairs exact char-5 Jaccard ≥ {r['gt_jaccard']}",
        f"→ {r['truth_pairs']} true pairs ({r['gt_sec']}s — the opt-in tiny-table",
        "baseline; candidate generation itself never goes all-pairs).",
        "",
        "Post-verify precision is 1.0 by construction (the pipeline's",
        "`verify_pairs_ngram_jaccard` re-checks exact Jaccard on candidates",
        "only), so CANDIDATE RECALL is the number a user tunes for; candidate",
        "precision bounds the verify-join's input size.",
        "",
        "## MinHash LSH (n_hashes=128, char-5 shingles)",
        "",
        "| bands | rows/band | est. threshold | candidates | recall | precision | verified pairs | sec |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for m in r["minhash"]:
        star = " **(default)**" if m["bands"] == 32 else ""
        lines.append(
            f"| {m['bands']}{star} | {m['rows_per_band']} | {m['threshold_est']} "
            f"| {m['candidates']} | {m['recall']} | {m['precision']} "
            f"| {m['post_verify_pairs']} | {m['sec']} |"
        )
    lines += [
        "",
        "## SimHash (bits=64, chunks=4 pigeonhole)",
        "",
        "| max_hamming | candidates | recall | precision | sec |",
        "|---|---|---|---|---|",
    ]
    for s in r["simhash"]:
        star = " **(default)**" if s["max_hamming"] == 3 else ""
        lines.append(
            f"| {s['max_hamming']}{star} | {s['candidates']} | {s['recall']} "
            f"| {s['precision']} | {s['sec']} |"
        )
    lines += [
        "",
        "Reading the curve: more bands (fewer rows/band) lowers the LSH",
        "threshold — recall rises, candidate precision falls (more verify",
        "work). The sweep passes `min_jaccard=None` to measure RAW candidate",
        "recall; the operator's default `min_jaccard=0.8` estimate filter",
        "restores precision on the wide-band configs before the verify join.",
        "",
        "SimHash is the coarser sketch: its contract is a HAMMING radius, not",
        "a Jaccard threshold — at J≥0.8 ground truth its J-recall tops out",
        "well below minhash's (table above; use minhash when the dedup spec",
        "is a Jaccard threshold, simhash when it is 'nearly identical').",
        "Within its claimed radius the pigeonhole construction is EXACT.",
        "",
        "Pytest floors (tests/test_lsh_quality.py): minhash default recall",
        "≥ 0.95 vs J≥0.8 truth; simhash default recall = 1.0 on the truth",
        "pairs inside its hamming≤3 radius (the pigeonhole guarantee).",
        "",
        f"Raw: `{json.dumps(r)}`",
        "",
    ]
    with open(os.path.join(REPO, "BENCH", "LSH_QUALITY.md"), "w") as f:
        f.write("\n".join(lines))


if __name__ == "__main__":
    main()
