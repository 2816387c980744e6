"""Streaming exact-dedup at-scale record — state-size + throughput evidence.

`streaming/dedup.py` advertises `dropDuplicatesWithinWatermark` as the only
shape that survives an unbounded firehose because state is bounded by the
watermark window. This harness turns that claim into a recorded run:

- corpus: BATCHES micro-batches × DOCS_PER_BATCH docs (default 12 × 100k =
  1.2M), one parquet file per micro-batch, consumed with
  `maxFilesPerTrigger=1` + `Trigger.AvailableNow` so every file is its own
  epoch. Event time advances 1 minute per batch; the dedup watermark delay
  is 2 minutes, so state for a batch expires ~3 epochs later.
- planted duplicate structure (id % 10 classes; all text JVM-generated):
    * class 9 → canonical "source" docs; class 0 copies the text of id-1
      (a class-9 doc in the SAME batch) — intra-batch duplicate.
    * class 1 (b>0) copies a canonical class-4 doc from the PREVIOUS batch
      — cross-batch duplicate inside the watermark → must be dropped.
    * class 2 copies a canonical class-5 doc from BATCH 0, planted ONLY in
      batch 1 (inside the watermark → dropped, and the drop EXTENDS the
      key's expiry — `dropDuplicatesWithinWatermark` refreshes state on
      duplicate arrival, which is exactly why the copies must be sparse:
      a copy-every-batch chain would legitimately keep state alive forever)
      and in batch BATCHES-4 (by then the watermark has passed even the
      extended expiry, state is GONE, so these re-emit). The re-emit is the
      documented semantics ("duplicates farther apart than the delay are
      NOT caught") AND the direct proof state expired.
    * everything else is unique.
- per-epoch metrics from `query.recentProgress`: input rows, state rows
  (`stateOperators[0].numRowsTotal`), state rows removed, trigger ms.

Hard assertions (the run FAILS, not just records, if the state story is
wrong):
  1. peak state rows ≤ (delay_batches + 2) × distinct-per-batch — state is
     bounded by the window, not by corpus size;
  2. state rows are removed (expiry actually fires);
  3. class-1 (inside-watermark) dups are all dropped;
  4. class-2 (outside-watermark) dups re-emit once the window passes.

Writes BENCH/STREAMING.md. Usage:
    python tools/streaming_bench.py [docs_per_batch] [batches]
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DOCS_PER_BATCH = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
BATCHES = int(sys.argv[2]) if len(sys.argv) > 2 else 12
DELAY_MIN = 2  # watermark delay (minutes); batches are 1 minute apart
BASE_TS = "2026-01-01 00:00:00"


def write_batches(spark, watch_dir: str) -> None:
    from pyspark.sql import functions as F

    stage = watch_dir + "_stage"
    os.makedirs(watch_dir, exist_ok=True)
    early_b, late_b = 1, BATCHES - 4
    for b in range(BATCHES):
        lo = b * DOCS_PER_BATCH
        ident = F.col("id")
        m = ident % 10
        # src_key picks WHOSE canonical text this row carries (see module
        # docstring); canonical text is a pure function of src_key so the
        # copy relation never recurses through another copy class.
        src_key = (
            F.when(m == 0, ident - 1)  # intra-batch dup of class-9
            .when((m == 1) & F.lit(b > 0), ident - DOCS_PER_BATCH + 3)
            .when(
                (m == 2) & F.lit(b in (early_b, late_b)),
                (ident % DOCS_PER_BATCH) + 3,
            )
            .otherwise(ident)
        )
        text = F.concat(
            F.lit("document body "),
            src_key.cast("string"),
            F.lit(" payload "),
            F.xxhash64(src_key).cast("string"),
        )
        ts = F.expr(f"timestamp'{BASE_TS}' + interval {b} minutes")
        (
            spark.range(lo, lo + DOCS_PER_BATCH)
            .select(ident.alias("doc_id"), text.alias("text"), ts.alias("ts"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(stage)
        )
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dst = os.path.join(watch_dir, f"batch_{b:04d}.parquet")
        shutil.move(part, dst)
        # file-source order is by modification time — make it deterministic
        os.utime(dst, (time.time() + b, time.time() + b))
    shutil.rmtree(stage, ignore_errors=True)


def main() -> None:
    from pyspark.sql import functions as F

    from bench import CACHE_ROOT, CPUS as cpus, build_spark
    from great_expectations_spark.streaming.dedup import streaming_exact_dedup

    # late_b must process with watermark PAST the early copy's extended
    # expiry: watermark at batch b ≈ base+(b-1)-delay, extended expiry =
    # base + early_b + delay ⇒ need BATCHES-4 > early_b + 2·delay + 1.
    if BATCHES - 4 <= 1 + 2 * DELAY_MIN + 1:
        raise SystemExit(
            f"need at least {2 * DELAY_MIN + 7} batches so the late copy "
            "batch lands beyond the (possibly extended) watermark window"
        )
    spark = build_spark()
    root = os.path.join(CACHE_ROOT, "streaming_bench")
    shutil.rmtree(root, ignore_errors=True)
    watch = os.path.join(root, "in")
    out_dir = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")

    write_batches(spark, watch)
    schema = "doc_id long, text string, ts timestamp"

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(watch)
    )
    deduped = streaming_exact_dedup(
        stream, "text", watermark=("ts", f"{DELAY_MIN} minutes")
    )
    t0 = time.monotonic()
    query = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    wall = time.monotonic() - t0

    epochs = []
    for p in query.recentProgress:
        st = (p.get("stateOperators") or [{}])[0]
        epochs.append(
            {
                "batch": p["batchId"],
                "input_rows": p.get("numInputRows", 0),
                "state_rows": st.get("numRowsTotal"),
                "state_removed": st.get("numRowsRemoved"),
                "trigger_ms": (p.get("durationMs") or {}).get(
                    "triggerExecution"
                ),
            }
        )
    epochs = [e for e in epochs if e["input_rows"]]

    # ---- correctness of the drop/keep classes (batch read of the sink) ----
    out = spark.read.parquet(out_dir)
    cls = (F.col("doc_id") % 10).alias("cls")
    b_col = (F.col("doc_id") / DOCS_PER_BATCH).cast("int").alias("b")
    kept = {
        (r["b"], r["cls"]): r["n"]
        for r in out.groupBy(b_col, cls).agg(F.count("*").alias("n")).collect()
    }
    total_in = DOCS_PER_BATCH * BATCHES
    total_out = out.count()

    per_batch_distinct = DOCS_PER_BATCH - 2 * (DOCS_PER_BATCH // 10)
    peak_state = max(e["state_rows"] for e in epochs)
    removed_total = sum(e["state_removed"] or 0 for e in epochs)
    # steady-state plateau measures (delay+2)×batch exactly (delay window +
    # ~2 batches of watermark lag); half a batch of slack keeps the bound
    # tight without tripping on the plateau itself
    state_ceiling = (DELAY_MIN + 2) * DOCS_PER_BATCH + DOCS_PER_BATCH // 2

    failures = []
    if peak_state > state_ceiling:
        failures.append(
            f"state grew past the watermark window: peak {peak_state} > "
            f"ceiling {state_ceiling}"
        )
    if removed_total == 0:
        failures.append("no state rows were ever removed — expiry never fired")
    for b in range(1, BATCHES):
        if kept.get((b, 1), 0) != 0:
            failures.append(
                f"class-1 (inside-watermark dup) leaked {kept[(b, 1)]} rows "
                f"in batch {b}"
            )
    early_b, late_b = 1, BATCHES - 4
    if kept.get((early_b, 2), 0) != 0:
        failures.append(
            f"class-2 copy in batch {early_b} (inside watermark) leaked "
            f"{kept[(early_b, 2)]} rows"
        )
    if kept.get((late_b, 2), 0) != DOCS_PER_BATCH // 10:
        failures.append(
            f"class-2 copy in batch {late_b} (outside watermark): expected "
            f"{DOCS_PER_BATCH // 10} re-emits (state expired), got "
            f"{kept.get((late_b, 2), 0)}"
        )
    reemit_batches = [late_b] if kept.get((late_b, 2), 0) else []

    result = {
        "docs_per_batch": DOCS_PER_BATCH,
        "batches": BATCHES,
        "watermark_delay_min": DELAY_MIN,
        "cpus": cpus,
        "total_input_rows": total_in,
        "total_output_rows": total_out,
        "wall_sec": round(wall, 2),
        "docs_per_sec": round(total_in / wall, 1),
        "peak_state_rows": peak_state,
        "state_ceiling": state_ceiling,
        "state_rows_removed_total": removed_total,
        "final_state_rows": epochs[-1]["state_rows"],
        "per_batch_distinct": per_batch_distinct,
        "reemit_batches": reemit_batches,
        "epochs": epochs,
        "failures": failures,
    }
    spark.stop()
    write_md(result)
    print(json.dumps(result))
    if failures:
        raise SystemExit("STREAMING BENCH ASSERTIONS FAILED: " + "; ".join(failures))


def write_md(r) -> None:
    lines = [
        "# BENCH/STREAMING — watermark-bounded streaming dedup at scale",
        "",
        f"Run: {r['batches']} micro-batches × {r['docs_per_batch']:,} docs "
        f"(= {r['total_input_rows']:,} rows) through "
        "`streaming_exact_dedup(..., watermark=('ts', "
        f"'{r['watermark_delay_min']} minutes'))` "
        f"(`dropDuplicatesWithinWatermark`), one file per trigger, "
        f"local[{r['cpus']}], Trigger.AvailableNow. Event time advances "
        "1 min/batch. Planted duplicates: 10% intra-batch and 10% "
        "previous-batch (inside watermark) in every batch, plus 10% batch-0 "
        "copies planted in one early batch (inside watermark) and one late "
        "batch (outside it).",
        "",
        f"**Throughput: {r['docs_per_sec']:,.0f} docs/s end-to-end "
        f"({r['wall_sec']} s wall, parquet source → stateful dedup → parquet "
        "sink incl. checkpointing).**",
        "",
        "## State is bounded by the window, not the corpus",
        "",
        f"- peak state rows: **{r['peak_state_rows']:,}** vs hard ceiling "
        f"{r['state_ceiling']:,} ((delay+2) × batch size) vs corpus "
        f"{r['total_input_rows']:,} — state held ~"
        f"{r['peak_state_rows'] / r['total_input_rows']:.0%} of rows seen.",
        f"- state rows removed by watermark expiry: "
        f"{r['state_rows_removed_total']:,} "
        f"(final state: {r['final_state_rows']:,}).",
        "- inside-watermark duplicates dropped: 100% (asserted per batch).",
        f"- outside-watermark copies re-emitted in batches {r['reemit_batches']} "
        "— the documented trade (pair with periodic batch-dedup compaction "
        "for the long tail) and the direct proof the state for old batches "
        "was evicted, not retained.",
        "",
        "| epoch | input rows | state rows | state removed | trigger ms |",
        "|---|---|---|---|---|",
    ]
    for e in r["epochs"]:
        lines.append(
            f"| {e['batch']} | {e['input_rows']:,} | {e['state_rows']:,} "
            f"| {e['state_removed']:,} | {e['trigger_ms']} |"
        )
    lines += [
        "",
        "All four hard assertions (state ceiling, expiry fired, "
        "inside-watermark drop, outside-watermark re-emit) passed — the "
        "harness exits nonzero otherwise."
        if not r["failures"]
        else "**FAILURES:** " + "; ".join(r["failures"]),
        "",
        "At 100 TB/day these numbers scale per-executor: state is "
        "partitioned by the dedup key hash, so peak state per executor = "
        "(docs in the watermark window) / executors; RocksDB state store "
        "moves it off-heap when a window outgrows memory.",
        "",
        "Raw: `" + json.dumps({k: v for k, v in r.items() if k != "epochs"})
        + "`",
        "",
    ]
    with open(os.path.join(REPO, "BENCH", "STREAMING.md"), "w") as f:
        f.write("\n".join(lines))


if __name__ == "__main__":
    main()
