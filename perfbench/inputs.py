"""Benchmark inputs: the transcripts table and the tools dimension.

The generator is the benchmark's own copy of the transcripts semantics
(30% of turns on ~1% of conversations, ~0.2% NULL and ~0.5% empty text, ~1%
invalid roles, ~0.1% dangling tool references, ~0.5% out-of-order
timestamps), so a change to the package's generator cannot silently change
the workload. Columns are drawn with NumPy from a generator seeded by the
benchmark's ``--seed`` and written as Parquet in the layout a workload reads;
Spark only computes the bucket of each distinct conversation id, so the
input's generation does not warm the JVM that is then measured.

Generated tables are cached under the benchmark's cache directory keyed by
(seed, rows, layout); the engine only ever receives the generated tables.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

TOOL_NAMES = [f"tool_{i:02d}" for i in range(50)]
TOOL_CATEGORIES = ["search", "code", "file", "web", "math"]
_EPOCH_US = 1_735_689_600 * 1_000_000  # 2025-01-01T00:00:00Z
_WORDS = (
    "the a of to and in is it you that he was for on are as with his they "
    "at be this have from or one had by word but not what all were we when "
    "your can said there use an each which she do how their if will up "
    "other about out many then them these so some her would make like him "
    "into time has look two more write go see number no way could people my "
    "than first water been call who oil its now find long down day did get "
    "come made may part"
).split()

#: word ring for the pseudo-text, and the longest text in words (2^8 + 1)
_RING = 4096
_MAX_WORDS = 257

TRANSCRIPTS_DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)

#: cache entries kept on disk; older ones are deleted (each seed is a new key)
_CACHE_KEEP = 24


def transcripts_table(n_turns: int, seed: int) -> pa.Table:
    """Deterministic transcripts table of ``n_turns`` rows."""
    rng = np.random.default_rng(seed)
    ids = np.arange(n_turns)
    n_convs = max(1, n_turns // 20)
    hot = ids % 10 < 3
    conv_idx = np.where(
        hot,
        rng.integers(0, max(1, n_convs // 100), n_turns),
        rng.integers(0, n_convs, n_turns),
    )
    # turn_idx: contiguous 0..n-1 per conversation, ordered by row id
    order = np.argsort(conv_idx, kind="stable")
    sorted_conv = conv_idx[order]
    first = np.r_[True, sorted_conv[1:] != sorted_conv[:-1]]
    group_start = np.maximum.accumulate(np.where(first, np.arange(n_turns), 0))
    turn_idx = np.empty(n_turns, dtype=np.int32)
    turn_idx[order] = np.arange(n_turns) - group_start

    h2, h3, h4 = (rng.integers(0, 1 << 62, n_turns) for _ in range(3))
    role = np.where(
        h2 % 1000 < 10, "agent ",
        np.where(turn_idx == 0, "system",
                 np.where(h2 % 4 == 0, "tool", np.where(h2 % 2 == 0, "user", "assistant"))),
    )

    # text: a run of n_words from a seeded ring of words, sliced out of one
    # joined string, so a row costs one slice rather than one join
    ring = rng.choice(_WORDS, _RING)
    ring_text = " ".join(ring)
    word_len = np.fromiter((len(w) for w in ring), dtype=np.int64, count=_RING)
    word_start = np.r_[0, np.cumsum(word_len + 1)[:-1]]
    word_end = word_start + word_len
    n_words = (2.0 ** ((h3 % 1000) / 125.0)).astype(np.int64) + 1
    start = rng.integers(0, _RING - _MAX_WORDS, n_turns)
    lo, hi = word_start[start], word_end[start + n_words - 1]
    kind = h3 % 10000
    text = [
        None if k < 20 else "" if k < 70 else ring_text[a:b]
        for k, a, b in zip(kind.tolist(), lo.tolist(), hi.tolist())
    ]

    tool_names = np.array(TOOL_NAMES, dtype=object)
    ghost = np.array([f"ghost_tool_{i}" for i in range(7)], dtype=object)
    tool = np.where(
        role != "tool", None,
        np.where(h4 % 1000 < 1, ghost[h4 % 7], tool_names[h4 % len(TOOL_NAMES)]),
    )
    jitter_s = np.where(h4 % 1000 < 5, -120, 0)
    ts_us = _EPOCH_US + ((conv_idx % 86400) * 60 + turn_idx * 30 + jitter_s) * 1_000_000
    return pa.table({
        "conv_id": pa.array([f"conv-{c:08d}" for c in conv_idx.tolist()], pa.string()),
        "turn_idx": pa.array(turn_idx, pa.int32()),
        "role": pa.array(role.tolist(), pa.string()),
        "text": pa.array(text, pa.string()),
        "tool": pa.array(tool.tolist(), pa.string()),
        "ts": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
    })


def tools_dim(spark: SparkSession) -> DataFrame:
    """The referential dimension: 50 unique tool names."""
    rows = [(n, TOOL_CATEGORIES[i % len(TOOL_CATEGORIES)]) for i, n in enumerate(TOOL_NAMES)]
    return spark.createDataFrame(rows, "tool_name string, category string")


class InputCache:
    """Generate-once parquet layouts of the transcripts table.

    ``gen_s`` sums the generation time this process paid (0 on a cache hit);
    it is recorded beside, never inside, the set-up time.
    """

    def __init__(self, root: str) -> None:
        self.root = root
        self.gen_s = 0.0
        os.makedirs(root, exist_ok=True)

    def _entry(self, seed: int, rows: int, layout: str) -> str:
        return os.path.join(self.root, f"transcripts_s{seed}_r{rows}_{layout}")

    def _prune(self, keep: str) -> None:
        entries = sorted(
            (os.path.join(self.root, e) for e in os.listdir(self.root)),
            key=os.path.getmtime,
        )
        for path in entries[:-_CACHE_KEEP]:
            if path != keep:
                shutil.rmtree(path, ignore_errors=True)

    def _build(self, path: str, write) -> None:
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            os.utime(path)
            return
        shutil.rmtree(path, ignore_errors=True)
        t0 = time.perf_counter()
        os.makedirs(path)
        write(path)
        open(os.path.join(path, "_SUCCESS"), "w").close()
        self.gen_s += time.perf_counter() - t0
        self._prune(keep=path)

    def bucketed(
        self, spark: SparkSession, seed: int, rows: int, n_buckets: int
    ) -> DataFrame:
        """``CLUSTERED BY (conv_id) SORTED BY (conv_id, turn_idx)`` table, one
        file per bucket, registered in this session's catalog."""
        layout = f"bucketed{n_buckets}"
        path = self._entry(seed, rows, layout)
        name = f"transcripts_s{seed}_r{rows}_{layout}"

        def write(p: str) -> None:
            table = transcripts_table(rows, seed)
            # bucket = pmod(hash(conv_id), n): the expression Spark's own
            # bucketed writer assigns, evaluated by Spark on the distinct ids;
            # the file name's _<bucket> suffix is how Spark reads it back
            bucket = _spark_keyed(spark, table, F.pmod(F.hash("conv_id"), F.lit(n_buckets)))
            for b in range(n_buckets):
                part = table.filter(pc.equal(bucket, b)).sort_by(
                    [("conv_id", "ascending"), ("turn_idx", "ascending")]
                )
                pq.write_table(part, os.path.join(p, f"part-00000_{b:05d}.c000.snappy.parquet"))

        self._build(path, write)
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {name} ({TRANSCRIPTS_DDL}) USING PARQUET "
            f"CLUSTERED BY (conv_id) SORTED BY (conv_id, turn_idx) "
            f"INTO {n_buckets} BUCKETS LOCATION '{path}'"
        )
        return spark.table(name)

    def partitioned(
        self, spark: SparkSession, seed: int, rows: int, n_parts: int
    ) -> DataFrame:
        """Directory-partitioned by ``conv_bucket = pmod(xxhash64(conv_id),
        n_parts)``, one file per partition, so a partition filter prunes."""
        path = self._entry(seed, rows, f"partitioned{n_parts}")

        def write(p: str) -> None:
            table = transcripts_table(rows, seed)
            bucket = _spark_keyed(spark, table, F.pmod(F.xxhash64("conv_id"), F.lit(n_parts)))
            for b in range(n_parts):
                part_dir = os.path.join(p, f"conv_bucket={b}")
                os.makedirs(part_dir)
                pq.write_table(table.filter(pc.equal(bucket, b)),
                               os.path.join(part_dir, "part-00000.snappy.parquet"))

        self._build(path, write)
        return spark.read.parquet(path)


def _spark_keyed(spark: SparkSession, table: pa.Table, expr: F.Column) -> pa.Array:
    """``expr`` of each row's ``conv_id``, evaluated by Spark once per distinct id."""
    ids = pa.table({"conv_id": pc.unique(table["conv_id"])})
    keyed = dict(
        spark.createDataFrame(ids.to_pandas()).select("conv_id", expr.cast("int")).collect()
    )
    return pa.array([keyed[c] for c in table["conv_id"].to_pylist()], pa.int32())
