"""Deduplication operators — exact and near-duplicate, at corpus scale.

Everything here is built from DataFrame primitives + Spark higher-order
functions so the hot path stays inside whole-stage codegen (no per-row
Python anywhere; SURVEY.md §2.11 mandate).

Scale notes (100 TB corpus):
- exact dedup shuffles once on a 64-bit content hash (uniform keys — no
  skew by construction);
- MinHash LSH shuffles once on (band, band_hash) bucket keys; oversized
  buckets (degenerate shingle sets: empty/boilerplate docs) are dropped via
  ``max_bucket_size`` instead of producing a quadratic self-join — the
  standard guard in web-dedup pipelines;
- candidate verification is a pair-join back to signatures/shingles only
  (never the full text) — columns pruned at the scan;
- cluster formation is iterative min-label propagation (small-diameter
  duplicate clusters converge in 2-4 rounds), never a driver-side
  union-find.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def content_hash(text_col: str | Column, normalize: bool = True) -> Column:
    """64-bit content hash; ``normalize`` lowercases + collapses whitespace
    (the usual exact-dedup canonicalization)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    if normalize:
        c = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return F.xxhash64(c)


def exact_duplicate_groups(
    df: DataFrame, text_col: str, normalize: bool = True
) -> DataFrame:
    """(content_hash, dup_count) for every duplicated content value.

    One shuffle on the uniform 64-bit hash; map-side partial aggregation is
    automatic for groupBy-count.
    """
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(content_hash(text_col, normalize).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def exact_dedup(
    df: DataFrame, text_col: str, id_col: str, normalize: bool = True
) -> DataFrame:
    """Keep exactly one row (minimum ``id_col`` — deterministic) per distinct
    content value; null-text rows pass through untouched.

    Plan: hash-project → groupBy(hash).min(id) → left-semi join back on
    (hash, id). Both sides shuffle on the same uniform key, so AQE coalesces
    and there is no broadcast dependence on corpus size.
    """
    nn = df.filter(F.col(text_col).isNotNull())
    hashed = nn.withColumn("__ch", content_hash(text_col, normalize))
    keep = hashed.groupBy("__ch").agg(F.min(id_col).alias(id_col))
    kept = hashed.join(keep, on=["__ch", id_col], how="left_semi").drop("__ch")
    nulls = df.filter(F.col(text_col).isNull())
    return kept.unionByName(nulls)


# ---------------------------------------------------------------------------
# shingles + MinHash
# ---------------------------------------------------------------------------

def _ensure_parallelism(df: DataFrame, key_col: str) -> DataFrame:
    """Spread a narrow input across the session's shuffle parallelism before
    a compute-heavy projection (shingling × n_hashes is ~10⁴ hash evals per
    doc). A small parquet table often arrives as ONE split, serializing the
    whole pipeline through one task; the guard repartitions on the id — one
    tiny shuffle of the raw rows — only when the input has fewer partitions
    than the session target. At warehouse scale input splits exceed the
    target, so this is a no-op exactly when the scan already parallelizes.
    """
    try:
        # value can be non-numeric (e.g. "auto" on managed platforms)
        target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min(target, 200):
        return df.repartition(min(target, 200), F.col(key_col))
    return df


def _norm(c: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def _md5num(c: Column) -> Column:
    """60-bit numeric hash from the first 15 hex digits of md5 — chosen
    because it is reproducible in ANSI/DuckDB SQL
    (``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``), which lets the
    driver oracle-check the whole LSH pipeline. xxhash64 stays the
    production default (one JVM intrinsic vs md5's digest + hex + conv)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def _check_hash_fn(hash_fn: str) -> None:
    if hash_fn not in ("xxhash64", "md5"):
        raise ValueError("hash_fn must be 'xxhash64' or 'md5'")


def shingle_hash_set(
    text_col: str | Column,
    shingle_size: int = 5,
    mode: str = "char",
    normalize: bool = True,
) -> Column:
    """Distinct 64-bit hashes of the document's ``shingle_size``-grams.

    ``mode='char'`` slides over characters (robust for CJK / no-space text);
    ``mode='word'`` slides over whitespace tokens.

    CAUTION (measured): a HOF lambda embeds its input subtree per element —
    with ``normalize=True`` the trim/lower/regex normalization would be
    re-evaluated for EVERY shingle position (~300× per doc). Callers on a
    hot path should project ``_norm(col)`` into a real column first and pass
    ``normalize=False`` (see :func:`minhash_signatures`).
    """
    raw = F.col(text_col) if isinstance(text_col, str) else text_col
    c = _norm(raw) if normalize else raw
    if mode == "char":
        n = F.greatest(F.length(c) - (shingle_size - 1), F.lit(0))
        grams = F.transform(
            F.sequence(F.lit(1), n),
            lambda i: c.substr(i, F.lit(shingle_size)),
        )
    elif mode == "word":
        toks = F.split(c, " ")
        n = F.greatest(F.size(toks) - (shingle_size - 1), F.lit(0))
        grams = F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.concat_ws(
                " ", F.slice(toks, i, shingle_size)
            ),
        )
    else:
        raise ValueError("mode must be 'char' or 'word'")
    hashed = F.transform(grams, lambda g: F.xxhash64(g))
    return F.when(n > 0, F.array_distinct(hashed)).otherwise(
        F.array().cast("array<bigint>")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 128,
    shingle_size: int = 5,
    mode: str = "char",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, signature: array<bigint>[n_hashes]) — docs with no shingles
    (empty/short text) are excluded (they cannot near-dup meaningfully).

    ``hash_fn='md5'`` swaps every hash for the SQL-reproducible
    :func:`_md5num` form (shingle → md5num(gram); permutation i →
    md5num(shingle_hash || '#' || i)) so a DuckDB oracle can recompute the
    identical signatures; xxhash64 remains the production default.

    NOT the nested higher-order-function form (``transform(seq, i ->
    array_min(transform(s, h -> xxhash64(h, i))))``): Catalyst interprets
    HOF lambdas per element instead of compiling them, measured ~4µs per
    hash eval (23s for 5000 ×300-shingle docs). Explode + groupBy with one
    codegen'd ``min(xxhash64(shingle, i))`` aggregate per permutation
    computes the IDENTICAL signature values with whole-stage codegen and
    map-side partial aggregation — the shuffle carries only
    ``n_docs × n_hashes`` partial minima, not the shingles."""
    # Shingling WITHOUT higher-order functions: HOF lambdas are interpreted
    # per element (measured ~17µs per substr). explode(sequence(...)) runs
    # in GenerateExec and the substring+xxhash64 projection is whole-stage
    # codegen. array_distinct is dropped on purpose: min over a multiset
    # equals min over its set, so duplicate shingles can't change minima.
    _check_hash_fn(hash_fn)
    k = int(shingle_size)

    def gram_hash(gram: Column) -> Column:
        return F.xxhash64(gram) if hash_fn == "xxhash64" else _md5num(gram)

    def perm_hash(sh: Column, i: int) -> Column:
        if hash_fn == "xxhash64":
            return F.xxhash64(sh, F.lit(i))
        return _md5num(F.concat_ws("#", sh.cast("string"), F.lit(str(i))))

    base = (
        _ensure_parallelism(df.filter(F.col(text_col).isNotNull()), id_col)
        .select(F.col(id_col), _norm(F.col(text_col)).alias("__t"))
    )
    if mode == "char":
        base = base.filter(F.length("__t") >= k)
        exploded = base.select(
            F.col(id_col),
            F.explode(
                F.sequence(F.lit(1), F.length("__t") - (k - 1))
            ).alias("__p"),
            "__t",
        ).select(
            id_col,
            gram_hash(F.col("__t").substr(F.col("__p"), F.lit(k))).alias("__sh"),
        )
    elif mode == "word":
        base = base.select(
            F.col(id_col), F.split("__t", " ").alias("__toks")
        ).filter(F.size("__toks") >= k)
        exploded = base.select(
            F.col(id_col),
            F.explode(
                F.sequence(F.lit(1), F.size("__toks") - (k - 1))
            ).alias("__p"),
            "__toks",
        ).select(
            id_col,
            gram_hash(
                F.concat_ws(" ", F.slice("__toks", F.col("__p"), F.lit(k)))
            ).alias("__sh"),
        )
    else:
        raise ValueError("mode must be 'char' or 'word'")
    aggs = [
        F.min(perm_hash(F.col("__sh"), i)).alias(f"__m{i}")
        for i in range(n_hashes)
    ]
    return (
        exploded.groupBy(id_col)
        .agg(*aggs)
        .select(
            id_col,
            F.array(*[F.col(f"__m{i}") for i in range(n_hashes)]).alias(
                "signature"
            ),
        )
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 128,
    bands: int = 32,
    shingle_size: int = 5,
    mode: str = "char",
    min_jaccard: float | None = 0.8,
    max_bucket_size: int = 5000,
    persist: bool = True,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash LSH.

    ``hash_fn='md5'`` makes every hash (shingle, permutation, band) the
    SQL-reproducible md5-derived form — see :func:`_md5num` — so the whole
    candidate pipeline can be oracle-checked in DuckDB.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b, where est_jaccard is
    the fraction of equal signature components (the unbiased MinHash
    estimator). ``min_jaccard=None`` skips the estimate filter.

    Plan shape (round-2 rework — the band rows are SLIM):

    1. signatures (one scan, **materialized once** — banding and the final
       estimate both consume them; without a persist Catalyst's project
       collapsing would inline and recompute the n_hashes×|shingles| hash
       work each time);
    2. banding explodes to ``bands`` rows/doc carrying ONLY
       (id, band, band_hash) — round 1 shipped the full signature array
       through every band row, multiplying the banding shuffle by
       ~``bands × n_hashes × 8`` bytes/doc; the slim form is ~24 bytes/row
       and is itself persisted (bucket-guard agg + both self-join branches
       read it — three consumers, one materialization);
    3. bucket-size guard drops degenerate buckets before the quadratic
       self-join (skew guard, SURVEY.md §4.3 spirit);
    4. per-bucket self-join on (band, band_hash) → candidate id pairs,
       deduped — only then are the two signature arrays JOINED BACK by id
       (candidates ≪ corpus, so the arrays cross the wire once per
       candidate, not once per band row).

    At warehouse scale, write the signature table to storage instead of
    caching (``persist=False`` + your own materialization).
    """
    _check_hash_fn(hash_fn)
    if n_hashes % bands != 0:
        raise ValueError("n_hashes must be divisible by bands")
    rows_per_band = n_hashes // bands

    from pyspark.storagelevel import StorageLevel

    sigs = minhash_signatures(
        df, text_col, id_col, n_hashes, shingle_size, mode, hash_fn=hash_fn
    )
    if persist:
        sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)

    band_hasher = F.xxhash64 if hash_fn == "xxhash64" else _md5num
    band_idx = F.sequence(F.lit(0), F.lit(bands - 1))
    banded = sigs.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.transform(
                band_idx,
                lambda b: F.struct(
                    b.alias("band"),
                    band_hasher(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(
                                    F.col("signature"),
                                    b * rows_per_band + 1,
                                    rows_per_band,
                                ),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("bk"),
    ).select("__id", F.col("bk.band"), F.col("bk.band_hash"))
    if persist:
        banded = banded.persist(StorageLevel.MEMORY_AND_DISK)

    # skew guard: drop buckets whose quadratic blow-up would dominate
    bucket_sizes = banded.groupBy("band", "band_hash").agg(
        F.count(F.lit(1)).alias("__bsz")
    )
    guarded = banded.join(
        bucket_sizes.filter(F.col("__bsz") <= max_bucket_size).select(
            "band", "band_hash"
        ),
        on=["band", "band_hash"],
        how="left_semi",
    )

    a = guarded.select("band", "band_hash", F.col("__id").alias("id_a"))
    b = guarded.select("band", "band_hash", F.col("__id").alias("id_b"))
    pairs = (
        a.join(b, on=["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )

    # join the signatures back — candidates only
    sa = sigs.select(
        F.col(id_col).alias("id_a"), F.col("signature").alias("__sig_a")
    )
    sb = sigs.select(
        F.col(id_col).alias("id_b"), F.col("signature").alias("__sig_b")
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(
                    F.col("__sig_a"), F.col("__sig_b"), lambda x, y: x == y
                ),
                lambda eq: eq,
            )
        )
        / F.lit(float(n_hashes))
    ).alias("est_jaccard")

    out = (
        pairs.join(sa, on="id_a")
        .join(sb, on="id_b")
        .select("id_a", "id_b", est)
    )
    if min_jaccard is not None:
        out = out.filter(F.col("est_jaccard") >= min_jaccard)
    return out


# ---------------------------------------------------------------------------
# exact n-gram Jaccard verification
# ---------------------------------------------------------------------------

def ngram_jaccard(
    text_a: Column, text_b: Column, n: int = 3, mode: str = "word"
) -> Column:
    """Exact Jaccard similarity of the two texts' distinct n-gram sets
    (array_intersect/array_union — JVM-side set algebra)."""
    sa = shingle_hash_set(text_a, n, mode)
    sb = shingle_hash_set(text_b, n, mode)
    inter = F.size(F.array_intersect(sa, sb))
    union = F.size(F.array_union(sa, sb))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def verify_pairs_ngram_jaccard(
    pairs: DataFrame,
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    mode: str = "word",
    min_jaccard: float = 0.8,
) -> DataFrame:
    """Join candidate (id_a, id_b) pairs back to their texts and keep those
    whose *exact* n-gram Jaccard ≥ ``min_jaccard``. The join ships only
    (id, text) — column pruning keeps the scan narrow."""
    docs = df.select(F.col(id_col), F.col(text_col))
    ta = docs.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("__text_a")
    )
    tb = docs.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("__text_b")
    )
    joined = pairs.join(ta, "id_a").join(tb, "id_b")
    jac = ngram_jaccard(F.col("__text_a"), F.col("__text_b"), n, mode)
    return (
        joined.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= min_jaccard)
        .drop("__text_a", "__text_b")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(text_col: str | Column, bits: int = 64) -> Column:
    """SimHash fingerprint (Charikar): per bit position, sum +1/−1 over
    token hashes, take the sign. Computed as ``bits`` nested aggregates over
    the token-hash array — all codegen, no Python.
    """
    c = _norm(F.col(text_col) if isinstance(text_col, str) else text_col)
    toks = F.filter(F.split(c, " "), lambda t: F.length(t) > 0)
    th = F.transform(toks, lambda t: F.xxhash64(t))
    bit_votes = F.transform(
        F.sequence(F.lit(0), F.lit(bits - 1)),
        lambda i: F.aggregate(
            th,
            F.lit(0).cast("long"),
            lambda acc, h: acc + F.when(F.getbit(h, i) == 1, 1).otherwise(-1),
        ),
    )
    # fold sign bits into one 64-bit long (shiftleft with a column shift
    # amount needs the SQL-level function — the PySpark wrapper insists on
    # an int literal)
    return F.aggregate(
        F.zip_with(
            bit_votes,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda v, i: F.when(
                v > 0, F.call_function("shiftleft", F.lit(1).cast("long"), i)
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, fingerprint: bigint) — the DataFrame-level SimHash path.

    ``hash_fn='md5'``: token hashes come from :func:`_md5num` (60
    informative bits — bit positions ≥60 then never vote positive, a
    harmless capacity loss) so a DuckDB oracle can replay the exact
    fingerprints.

    Same HOF-interpretation hazard as MinHash (see minhash_signatures):
    the Column form runs bits×|tokens| interpreted lambda evals per doc.
    Here tokens explode through GenerateExec and each bit's vote is one
    codegen'd ``sum(case when getbit(h, i)=1 then 1 else -1 end)``
    aggregate with map-side combine; the signed votes fold into the
    fingerprint with 64 static shifted constants. Identical fingerprints
    to :func:`simhash` for docs with ≥1 token; token-less docs are dropped
    (the Column form gives them fingerprint 0)."""
    from functools import reduce

    _check_hash_fn(hash_fn)
    tok_hasher = F.xxhash64 if hash_fn == "xxhash64" else _md5num
    base = _ensure_parallelism(df.filter(F.col(text_col).isNotNull()), id_col).select(
        F.col(id_col), _norm(F.col(text_col)).alias("__t")
    )
    toks = (
        base.select(F.col(id_col), F.explode(F.split("__t", " ")).alias("__tok"))
        .filter(F.length("__tok") > 0)
        .select(id_col, tok_hasher(F.col("__tok")).alias("__h"))
    )
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.getbit(F.col("__h"), F.lit(i)) == 1, 1).otherwise(-1)
            ).alias(f"__v{i}")
            for i in range(bits)
        ]
    )
    # bit 63 of a signed long is its sign bit: (1 << 63) as int64 == -2^63
    fp = reduce(
        lambda a, b: a.bitwiseOR(b),
        [
            F.when(
                F.col(f"__v{i}") > 0,
                F.lit((1 << i) if i < 63 else -(2**63)).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            for i in range(bits)
        ],
    )
    return votes.select(F.col(id_col), fp.alias("fingerprint"))


def simhash_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 64,
    chunks: int = 4,
    max_hamming: int = 3,
    max_bucket_size: int = 5000,
    persist: bool = True,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash: pigeonhole on ``chunks`` fingerprint
    chunks (a pair within Hamming distance < chunks must agree on ≥1 chunk),
    verify with ``bit_count(xor) <= max_hamming``.

    Returns (id_a, id_b, hamming). The fingerprint projection is persisted
    (consumed ~4× downstream — same recompute hazard as MinHash
    signatures).
    """
    if bits % chunks != 0:
        raise ValueError("bits must be divisible by chunks")
    w = bits // chunks
    mask = (1 << w) - 1

    fp = simhash_fingerprints(df, text_col, id_col, bits, hash_fn=hash_fn).select(
        F.col(id_col).alias("__id"), F.col("fingerprint").alias("__fp")
    )
    if persist:
        from pyspark.storagelevel import StorageLevel

        fp = fp.persist(StorageLevel.MEMORY_AND_DISK)
    chunked = fp.select(
        "__id",
        "__fp",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(chunks - 1)),
                lambda i: F.struct(
                    i.alias("chunk"),
                    F.call_function("shiftright", F.col("__fp"), i * w)
                    .bitwiseAND(F.lit(mask))
                    .alias("chunk_val"),
                ),
            )
        ).alias("ck"),
    ).select("__id", "__fp", F.col("ck.chunk"), F.col("ck.chunk_val"))

    sizes = chunked.groupBy("chunk", "chunk_val").agg(
        F.count(F.lit(1)).alias("__bsz")
    )
    chunked = chunked.join(
        sizes.filter(F.col("__bsz") <= max_bucket_size).select("chunk", "chunk_val"),
        on=["chunk", "chunk_val"],
        how="left_semi",
    )

    a = chunked.select(
        "chunk", "chunk_val", F.col("__id").alias("id_a"), F.col("__fp").alias("__fa")
    )
    b = chunked.select(
        "chunk", "chunk_val", F.col("__id").alias("id_b"), F.col("__fp").alias("__fb")
    )
    return (
        a.join(b, on=["chunk", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "hamming", F.bit_count(F.col("__fa").bitwiseXOR(F.col("__fb")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------

def cosine_similarity(vec_a: Column, vec_b: Column) -> Column:
    """Cosine similarity of two ``array<float/double>`` columns — zip_with
    dot product + aggregate norms, all JVM-side (SURVEY brief: F.aggregate /
    F.zip_with for the dot product)."""
    dot = F.aggregate(
        F.zip_with(vec_a, vec_b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(vec_a, F.lit(0.0), lambda acc, v: acc + v * v)
    )
    nb = F.sqrt(
        F.aggregate(vec_b, F.lit(0.0), lambda acc, v: acc + v * v)
    )
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def _hyperplane_component(plane: Column, d: Column, seed: int) -> Column:
    """Deterministic pseudo-random component in [-1, 1) for hyperplane
    ``plane``, dimension ``d`` — seeded hashing, no rand() (resumability
    mandate, SURVEY.md §7.4)."""
    return (
        F.pmod(F.xxhash64(plane, d, F.lit(seed)), F.lit(20000)) - F.lit(10000)
    ) / F.lit(10000.0)


def hyperplane_signature(
    vec_col: str | Column, n_planes: int = 16, seed: int = 42
) -> Column:
    """Sign-random-projection (SRP) bit signature packed into a long.
    P(bits equal) = 1 − θ/π — the LSH family for cosine similarity."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    dim = F.size(v)
    bits = F.transform(
        F.sequence(F.lit(0), F.lit(n_planes - 1)),
        lambda p: F.aggregate(
            F.sequence(F.lit(0), dim - 1),
            F.lit(0.0),
            lambda acc, d: acc
            + F.element_at(v, d + 1).cast("double")
            * _hyperplane_component(p, d, seed),
        )
        > 0,
    )
    return F.aggregate(
        F.zip_with(
            bits,
            F.sequence(F.lit(0), F.lit(n_planes - 1)),
            lambda bit, i: F.when(
                bit, F.call_function("shiftleft", F.lit(1).cast("long"), i)
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    min_cosine: float = 0.95,
    n_planes: int = 16,
    seed: int = 42,
    max_bucket_size: int = 5000,
    exact: bool = False,
) -> DataFrame:
    """(id_a, id_b, cosine) pairs with cosine ≥ ``min_cosine``.

    ``exact=True`` brute-forces all pairs (O(n²) — correctness baseline /
    tiny dims tables). Default: SRP-LSH bucket join (one shuffle on the
    signature), then exact cosine verification on candidates only.
    """
    base = _ensure_parallelism(df, id_col).select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
    )
    if exact:
        a = base.select(F.col("__id").alias("id_a"), F.col("__vec").alias("__va"))
        b = base.select(F.col("__id").alias("id_b"), F.col("__vec").alias("__vb"))
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    else:
        sig = base.withColumn(
            "__sig", hyperplane_signature("__vec", n_planes, seed)
        )
        sizes = sig.groupBy("__sig").agg(F.count(F.lit(1)).alias("__bsz"))
        sig = sig.join(
            sizes.filter(F.col("__bsz") <= max_bucket_size).select("__sig"),
            on="__sig",
            how="left_semi",
        )
        a = sig.select(
            "__sig", F.col("__id").alias("id_a"), F.col("__vec").alias("__va")
        )
        b = sig.select(
            "__sig", F.col("__id").alias("id_b"), F.col("__vec").alias("__vb")
        )
        pairs = (
            a.join(b, on="__sig")
            .filter(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
    return (
        pairs.withColumn(
            "cosine", cosine_similarity(F.col("__va"), F.col("__vb"))
        )
        .filter(F.col("cosine") >= min_cosine)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# cluster formation + final dedup
# ---------------------------------------------------------------------------

def duplicate_clusters(
    pairs: DataFrame,
    max_iter: int = 20,
    raise_on_nonconverged: bool = False,
) -> DataFrame:
    """Connected components over (id_a, id_b) duplicate edges by iterative
    min-label propagation WITH pointer jumping: every node adopts the
    smallest label among itself and its neighbors, then each label is
    shortcut to its label's label (path halving). Neighbor propagation
    alone moves a label ONE hop per round — a duplicate CHAIN of length d
    (drifting boilerplate) needs d rounds; the pointer jump makes effective
    distance shrink geometrically, so even long chains converge in
    O(log d) rounds. Each round is two shuffles on uniform id keys.

    Convergence contract (round-3): the loop runs TO CONVERGENCE (a round
    with zero label changes) up to ``max_iter`` rounds. If the cap trips
    first, the result is under-merged; that is never silent —
    ``warnings.warn`` fires (or ValueError with ``raise_on_nonconverged``).

    Returns (id, cluster_id) for every node that appears in any pair.

    Iterative-lineage discipline: each round's labels are cut from the
    previous round's plan with ``localCheckpoint(eager=True)`` — without it
    the convergence-check action materializes the full join lineage and the
    NEXT round recomputes it again, so the final plan re-executes an
    exponentially deepening DAG (round-1's dominant bench cost). Edges are
    persisted once (reused every round) and released on exit.
    """
    import warnings

    from pyspark import StorageLevel

    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        labels = (
            edges.select(F.col("src").alias("id"))
            .distinct()
            .withColumn("cluster_id", F.col("id"))
            .localCheckpoint(eager=True)
        )
        converged = False
        for it in range(max_iter):
            neighbor_min = (
                edges.join(labels, edges.dst == labels.id)
                .groupBy("src")
                .agg(F.min("cluster_id").alias("nmin"))
            )
            propagated = (
                labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
                .select(
                    "id",
                    F.least(
                        F.col("cluster_id"),
                        F.coalesce(F.col("nmin"), F.col("cluster_id")),
                    ).alias("cluster_id"),
                )
            )
            # pointer jump (path halving): cluster_id ← label[cluster_id].
            # Every label is itself a node id, so the self-join resolves for
            # any non-root label; roots (label == own id) pass through.
            # Skipped in round 0: tiny-diameter clusters (the common web-dup
            # case) converge in 1-2 neighbor rounds and would pay the extra
            # join for nothing; chains only benefit from round 2 on, and
            # geometric halving from there keeps the O(log d) bound.
            if it > 0:
                parents = propagated.select(
                    F.col("id").alias("__pid"),
                    F.col("cluster_id").alias("__plabel"),
                )
                propagated = (
                    propagated.join(
                        parents, propagated.cluster_id == parents.__pid, "left"
                    )
                    .select(
                        "id",
                        F.least(
                            F.col("cluster_id"),
                            F.coalesce(F.col("__plabel"), F.col("cluster_id")),
                        ).alias("cluster_id"),
                    )
                )
            # truncate lineage: one materialization per round, reused by
            # both the convergence check and the next round's joins
            new_labels = propagated.localCheckpoint(eager=True)
            # convergence check: one cheap count per round over checkpointed
            # inputs (no recomputation)
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
                .limit(1)
                .count()
            )
            labels = new_labels
            if changed == 0:
                converged = True
                break
        if not converged:
            msg = (
                f"duplicate_clusters did not converge within max_iter="
                f"{max_iter} rounds; labels are UNDER-MERGED (a duplicate "
                "component wider than the cap remains split). Raise "
                "max_iter or pre-filter degenerate candidate pairs."
            )
            if raise_on_nonconverged:
                raise ValueError(msg)
            warnings.warn(msg, RuntimeWarning, stacklevel=2)
        return labels
    finally:
        edges.unpersist()


def minhash_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 128,
    bands: int = 32,
    shingle_size: int = 5,
    mode: str = "char",
    min_jaccard: float = 0.8,
    max_bucket_size: int = 5000,
) -> DataFrame:
    """End-to-end near-dedup: LSH candidates → clusters → keep the min-id
    representative of each cluster (plus every unclustered doc)."""
    cand = minhash_lsh_candidates(
        df,
        text_col,
        id_col,
        n_hashes=n_hashes,
        bands=bands,
        shingle_size=shingle_size,
        mode=mode,
        min_jaccard=min_jaccard,
        max_bucket_size=max_bucket_size,
    )
    clusters = duplicate_clusters(cand)
    drop = clusters.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, on=id_col, how="left_anti")
