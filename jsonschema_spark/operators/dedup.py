"""Deduplication operators for large-scale training-data pipelines.

The reference engine has no cross-document operators at all (SURVEY.md
§2.9) — these are engine-level additions for the 100 TB corpus case,
each expressed as a composition of built-in DataFrame ops (no per-row
Python anywhere):

  * exact_dedup       — md5(normalized text) → hash groupBy, keep the
                        min doc_id per hash.  One shuffle on the hash.
  * ngram_jaccard     — character n-gram shingles → inverted-index
                        self-join on shingle → |A∩B| per pair →
                        Jaccard = inter / (|A|+|B|-inter).  The join is
                        on the SHINGLE (high cardinality, well spread);
                        frequent shingles are capped (df_cap) to bound
                        the quadratic blow-up, the standard trick for
                        web-scale near-dup candidate generation.
  * minhash_lsh       — k minhash signatures from shingle hashes →
                        band buckets → candidate pairs join on
                        (band, bucket) → estimated Jaccard = fraction
                        of matching signature components.  Scale path:
                        candidates are generated by equality join on
                        band buckets, NEVER all-pairs.
  * simhash           — 64-bit simhash over token hashes via bit-vote
                        aggregation (higher-order functions); near-dups
                        = pairs at Hamming distance ≤ r, bucketed by
                        band substrings of the signature.
  * embedding_neardup — cosine-similar embedding pairs; brute force
                        within LSH buckets (random-hyperplane sign
                        bits) so the self-join is bucket-local.

Hash function discipline: every hash that must be reproducible by the
DuckDB oracle is derived from md5 hex (both engines implement identical
md5); xxhash64 is used only where Spark-side determinism suffices.
Candidate generation (minhash/simhash base hashes) additionally honors
``set_hash_mode("xxhash64")`` — the production mode that drops the
md5 hex-string round-trip per shingle/token (see hash_long).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def md5_long(col: Column, seed: int = 0) -> Column:
    """Deterministic 60-bit positive int from md5 hex — reproducible in
    any engine with md5 (DuckDB oracle parity).  15 hex chars < 2^60."""
    salted = F.concat(col.cast("string"), F.lit(f"#{seed}")) if seed else col.cast("string")
    return F.conv(F.substring(F.md5(salted), 1, 15), 16, 10).cast("long")


# "md5": cross-engine reproducible (the oracle replays every hash in
# DuckDB) — the default so driver correctness runs stay bit-exact.
# "xxhash64": the production mode — one JVM 64-bit hash, no hex-string
# allocation/parse per shingle (the md5 portability tax the simhash/
# minhash plan audits call out).  Same 60-bit positive range, so
# MINHASH_P math and SimHash bit layout are unchanged.
HASH_MODE = "md5"

# Version of the signature derivation used by simhash/minhash band
# buckets.  "md5-split-v2" (since r4, commit 6acfa38) derives BOTH
# 60-bit token hashes from ONE md5 digest (hex slices 1-15 / 16-30);
# v1 used two separately-salted digests (md5(tok#1), md5(tok#2)).
# Signatures and band buckets from the two versions are INCOMPATIBLE:
# persisted simhash/minhash outputs or incremental-dedup checkpoints
# written under v1 must be regenerated, not merged with v2 output.
# Compare this constant against any persisted state's recorded scheme
# before resuming (checkpoint lineage strings hash the check config,
# not this library constant).
SIGNATURE_SCHEME = "md5-split-v2"


def set_hash_mode(mode: str) -> None:
    """Select the base hash for minhash/simhash candidate generation:
    'md5' (oracle-reproducible, default) or 'xxhash64' (production).
    Affects only hash VALUES, never plan shapes; pair sets differ only
    as much as any two hash families' collisions do."""
    global HASH_MODE
    if mode not in ("md5", "xxhash64"):
        raise ValueError(f"hash mode must be 'md5' or 'xxhash64', got {mode!r}")
    HASH_MODE = mode


def hash_long(col: Column, seed: int = 0, mode: str | None = None) -> Column:
    """60-bit positive hash in the selected HASH_MODE."""
    if (mode or HASH_MODE) == "xxhash64":
        return F.pmod(F.xxhash64(col.cast("string"), F.lit(seed)), F.lit(1 << 60))
    return md5_long(col, seed)


def hash_long_pair(col: Column, seed: int = 1) -> tuple[Column, Column]:
    """TWO independent 60-bit positive hashes per value.

    md5 mode: BOTH derive from ONE digest (hex chars 1-15 and 16-30 of
    md5(salted)) — md5 yields 128 independent bits, so the two 60-bit
    slices are as independent as two separately-seeded digests, at
    HALF the md5 + hex-parse cost per token (the dedup_simhash plan
    audit attributed ~70% of query wall to the signature stage, most
    of it this hashing; r4).  Spark's subexpression elimination
    evaluates the shared md5 once per row.  xxhash64 mode: two seeded
    JVM hashes — already cheap, no digest to split."""
    if HASH_MODE == "xxhash64":
        return hash_long(col, seed), hash_long(col, seed + 1)
    salted = (
        F.concat(col.cast("string"), F.lit(f"#{seed}"))
        if seed
        else col.cast("string")
    )
    d = F.md5(salted)
    h1 = F.conv(F.substring(d, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(d, 16, 15), 16, 10).cast("long")
    return h1, h2


def normalize_text(col: Column) -> Column:
    """Lowercase, collapse whitespace — the canonical form hashed by
    exact dedup and fingerprints."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def char_shingles(col: Column, n: int = 5) -> Column:
    """Distinct character n-grams of the normalized text as an array.
    Pure higher-order functions — JVM-side, no Python (interpreted:
    Spark does not code-generate higher-order functions)."""
    norm = normalize_text(col)
    count = F.greatest(F.length(norm) - F.lit(n - 1), F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), count), lambda i: norm.substr(i, F.lit(n)))
    )


def tokens(col: Column) -> Column:
    """Whitespace tokens of normalized text."""
    return F.split(normalize_text(col), " ")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: (hash, keep_id, dup_count); keep_id = min id per
    hash.  Single hash-partitioned aggregation; at 100 TB the map-side
    partial min/count makes the shuffle tiny (one row per distinct doc)."""
    h = F.md5(normalize_text(F.col(text_col))).alias("text_hash")
    return (
        df.select(h, F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.8,
    df_cap: int = 1000,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b, jaccard) with n-gram Jaccard ≥
    threshold, via inverted-index self-join on the shingle.

    Shuffle profile: explode → groupBy(shingle) join is hash-partitioned
    on shingle; `df_cap` drops stop-shingles (present in > df_cap docs)
    which otherwise create O(df^2) candidate pairs — at corpus scale
    this cap is what keeps the operator sub-quadratic.
    """
    docs = df.select(
        F.col(id_col).alias("id"),
        char_shingles(F.col(text_col), n).alias("shingles"),
    ).withColumn("n_sh", F.size("shingles"))
    szs = docs.select("id", "n_sh")
    ex = docs.select("id", F.explode("shingles").alias("sh"))
    # drop shingles too frequent to be discriminative (and too hot to join)
    rare = (
        ex.groupBy("sh").agg(F.count(F.lit(1)).alias("df_"))
        .filter(F.col("df_") <= df_cap)
        .select("sh")
    )
    ex = ex.join(rare, "sh")
    # the exploded self-join carries ONLY (sh, id); per-doc sizes join
    # back onto the much smaller aggregated pair list afterwards
    a = ex.select(F.col("sh"), F.col("id").alias("id_a"))
    b = ex.select(F.col("sh"), F.col("id").alias("id_b"))
    inter = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = szs.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na"))
    sb = szs.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb"))
    inter = inter.join(sa, "id_a").join(sb, "id_b")
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# universal-hash minhash: ONE md5 per shingle, then k affine maps
# (a_i*h + b_i) mod P — the classic 2-universal family.  16x cheaper
# than k independent md5s and still engine-portable (same integer
# arithmetic in the DuckDB oracle).
MINHASH_P = (1 << 31) - 1  # Mersenne prime 2^31-1


def minhash_coeffs(k: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs, a_i != 0, reproducible anywhere."""
    out = []
    for i in range(k):
        a = (i * 2654435761 + 1) % MINHASH_P
        b = (i * 40503 + 7) % MINHASH_P
        out.append((a or 1, b))
    return out


def minhash_signature(shingles: Column, k: int = 32) -> Column:
    """k-component minhash signature over a *pre-hashed* or raw shingle
    array.  array<long> of length k, built entirely with higher-order
    functions (interpreted JVM expressions, no UDF)."""
    hs = F.transform(shingles, lambda sh: F.pmod(hash_long(sh), F.lit(MINHASH_P)))
    return minhash_from_hashes(hs, k)


def minhash_from_hashes(hashes: Column, k: int = 32) -> Column:
    """Signature from an array<long> of base hashes in [0, P)."""
    def one(a: int, b: int) -> Column:
        return F.array_min(
            F.transform(hashes, lambda h: F.pmod(h * a + b, F.lit(MINHASH_P)))
        )

    return F.array(*[one(a, b) for a, b in minhash_coeffs(k)])


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + LSH near-dup pairs: signature → band buckets →
    candidate join on (band, bucket hash) → estimate Jaccard as the
    fraction of equal signature components; keep est ≥ threshold.

    Scale path: the ONLY join is equality on (band, bucket) — candidate
    generation is linear in corpus size + bucket collisions; signatures
    ride along the shuffle as fixed-width array<long> columns.
    """
    rows_per_band = k // bands
    # materialize the base-hash array in its own Project so the k
    # affine maps reference it as a (cheap) attribute instead of
    # recomputing the n-gram scan + md5 per component (CollapseProject
    # keeps non-cheap duplicated aliases materialized)
    sig_df = (
        df.select(
            F.col(id_col).alias("id"),
            F.transform(
                char_shingles(F.col(text_col), n),
                lambda sh: F.pmod(hash_long(sh), F.lit(MINHASH_P)),
            ).alias("hs"),
        )
        .select("id", minhash_from_hashes(F.col("hs"), k).alias("sig"))
        # the signature pass is the expensive leg (full text scan +
        # per-shingle hash) and it has THREE consumers (band explode +
        # both pair-side sig rejoins).  Exchange reuse does NOT
        # reliably fire for it under AQE (measured: all three copies
        # re-ran, 3-5x wall on computed sources), so materialize it
        # ONCE explicitly: persist + count.  Footprint is id + k longs
        # per doc (k=32 → ~300 B/doc, MEMORY_AND_DISK spills at
        # corpus scale); the cache handle rides on the returned
        # DataFrame as ``_sig_cache`` for callers that want to
        # unpersist deterministically.
        .persist()
    )
    sig_df.count()
    band_rows = sig_df.select(
        "id",
        "sig",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)
                    ).alias("bucket"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("id", "sig", "bb.band", "bb.bucket")
    # band join + pair-dedup carry ONLY ids — signatures (k longs per
    # row) rejoin once per side after dropDuplicates shrank the pairs
    a = band_rows.select("band", "bucket", F.col("id").alias("id_a"))
    b = band_rows.select("band", "bucket", F.col("id").alias("id_b"))
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    cand = (
        pairs.join(sig_df.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a")
        .join(sig_df.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b")
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.lit(k)
    )
    out = (
        cand.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )
    out._sig_cache = sig_df
    return out


def minhash_band_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    k: int = 32,
    bands: int = 8,
) -> DataFrame:
    """(id, sig, band, bucket) LSH rows for a document batch — the unit
    the incremental dedup store persists.  Signatures are computed ONCE
    here; every later batch joins against these rows without re-reading
    or re-hashing the historical text."""
    rows_per_band = k // bands
    sig_df = df.select(
        F.col(id_col).alias("id"),
        F.transform(
            char_shingles(F.col(text_col), n),
            lambda sh: F.pmod(hash_long(sh), F.lit(MINHASH_P)),
        ).alias("hs"),
    ).select("id", minhash_from_hashes(F.col("hs"), k).alias("sig"))
    return sig_df.select(
        "id",
        "sig",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)
                    ).alias("bucket"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("id", "sig", "bb.band", "bb.bucket")


def incremental_minhash_pairs(
    new_df: DataFrame,
    store_df: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dup detection for a continuously-ingested
    corpus: ``(pairs, new_band_rows)``.

    ``pairs`` = every near-dup pair INVOLVING the new batch — batch
    internal pairs plus batch-vs-store pairs (store-internal pairs were
    reported when those batches arrived; the contract is exactly-once
    per pair).  ``new_band_rows`` is what the caller appends to the
    store (minhash_band_rows schema) for the next batch.

    100 TB shape: the historical store is scanned ONCE per batch with
    NO shuffle and NO text re-hashing — the new batch's band rows are
    BROADCAST to the store scan (a daily batch is ~10^-3 of the
    corpus), candidates come back small, and their store-side
    signatures arrive by broadcasting the candidate ids back at the
    store.  Per-batch cost is O(batch) compute + O(store) sequential
    scan; nothing is ever recomputed.
    """
    new_rows = minhash_band_rows(new_df, text_col, id_col, n, k, bands)
    # batch-internal pairs: the regular bucket self-join on the
    # (small) batch
    a = new_rows.select("band", "bucket", F.col("id").alias("id_a"),
                        F.col("sig").alias("sig_a"))
    b = new_rows.select("band", "bucket", F.col("id").alias("id_b"),
                        F.col("sig").alias("sig_b"))
    def est(col_a, col_b):
        return F.size(
            F.filter(F.zip_with(col_a, col_b, lambda x, y: x == y), lambda e: e)
        ) / F.lit(k)
    new_new = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("est_jaccard", est(F.col("sig_a"), F.col("sig_b")))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )
    if store_df is None:
        return new_new, new_rows
    # batch-vs-store: broadcast the batch's band rows at the store scan
    # (shuffle-free on the store side), then estimate from the sigs
    # both rows already carry
    sn = new_rows.select("band", "bucket", F.col("id").alias("id_new"),
                         F.col("sig").alias("sig_new"))
    so = store_df.select("band", "bucket", F.col("id").alias("id_old"),
                         F.col("sig").alias("sig_old"))
    new_old = (
        so.join(F.broadcast(sn), ["band", "bucket"])
        .dropDuplicates(["id_new", "id_old"])
        .withColumn("est_jaccard", est(F.col("sig_new"), F.col("sig_old")))
        .filter(F.col("est_jaccard") >= threshold)
        # normalized pair orientation, same as the batch path
        .select(
            F.least("id_new", "id_old").alias("id_a"),
            F.greatest("id_new", "id_old").alias("id_b"),
            "est_jaccard",
        )
    )
    return new_new.unionByName(new_old), new_rows


def simhash64(text: Column) -> Column:
    """64-bit SimHash: per token a md5-derived hash votes ±1 on each
    bit; signature bit b = 1 iff the vote sum > 0.  Expressed as an
    aggregate over a per-token bit-vector array — all higher-order
    functions, no UDF.  Bit positions are Python-unrolled (shift amounts
    must be literals); bits 0-59 come from the first and 60-63 from the
    second 60-bit slice of ONE md5 digest (hash_long_pair)."""
    toks = tokens(text)

    def bit_votes(tok: Column) -> Column:
        h1, h2 = hash_long_pair(tok, 1)
        votes = []
        for b in range(64):
            src, off = (h1, b) if b < 60 else (h2, b - 60)
            bit = F.shiftright(src, off).bitwiseAND(F.lit(1))
            votes.append(F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1)).cast("long"))
        return F.array(*votes)

    votes = F.aggregate(
        toks,
        F.array(*[F.lit(0).cast("long")] * 64),
        lambda acc, tok: F.zip_with(acc, bit_votes(tok), lambda a, v: a + v),
    )
    pow2 = F.array(*[F.lit(1 << b).cast("long") for b in range(63)] + [F.lit(-(1 << 63)).cast("long")])
    return F.aggregate(
        F.zip_with(votes, pow2, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, sig): SimHash via explode + ONE wide hash aggregation —
    identical bits to simhash64 (integer vote sums are order-free) but
    ~5x faster: 64 codegen'd SUM(CASE) aggregates with map-side partial
    combine instead of per-row array-fold allocations.  This is also
    the shape that scales: the shuffle carries 64 longs per doc."""
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    _h1, _h2 = hash_long_pair(F.col("tok"), 1)
    hashed = toks.select("id", _h1.alias("h1"), _h2.alias("h2"))
    vote_aggs = []
    for b in range(64):
        src, off = ("h1", b) if b < 60 else ("h2", b - 60)
        bit = F.shiftright(F.col(src), off).bitwiseAND(F.lit(1))
        vote_aggs.append(
            F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"v{b}")
        )
    votes = hashed.groupBy("id").agg(*vote_aggs)
    # distinct powers of two: plain sum reconstructs the OR
    sig = None
    for b in range(64):
        p = (1 << b) if b < 63 else -(1 << 63)
        term = F.when(F.col(f"v{b}") > 0, F.lit(p).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return votes.select("id", sig.alias("sig"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures via bit_count."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_distance: int = 3,
    bands: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs at Hamming distance ≤ max_distance.

    Bucketing: split the 64-bit signature into `bands` 16-bit bands; by
    pigeonhole any pair within distance < bands shares ≥1 exact band →
    equality join per band, then exact Hamming filter.  Linear-ish
    candidate generation, same shape as minhash LSH.
    """
    sigs = simhash_signatures(df, text_col, id_col)
    width = 64 // bands
    banded = sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright(F.col("sig"), b * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias("key"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("id", "sig", "bb.band", "bb.key")
    a = banded.select("band", "key", F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    b = banded.select("band", "key", F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming64(F.col("sig_a"), F.col("sig_b")).alias("hamming"))
        .filter(F.col("hamming") <= max_distance)
        .dropDuplicates(["id_a", "id_b"])
    )


def dot_double(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product of two float arrays.
    `aggregate` folds in index order ⇒ bit-identical across engines that
    fold sequentially (the DuckDB oracle's list_sum does)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_unrolled(a: Column | str, b: Column | str, dims: int) -> Column:
    """``dot_double`` unrolled for a statically-known width: the same
    left-associated fold from 0.0 over the same per-dim products, so
    the IEEE result is bit-identical — but as a flat codegen expression
    instead of an interpreted HOF (the HOF pair is ~10× slower in a hot
    join).  ``dims`` must equal the actual array length (ANSI
    element_at raises on a shorter array rather than silently
    truncating).

    Pass column NAMES (str, already SQL-safe — optionally qualified)
    to build the chain as ONE parsed SQL expression: the Column-object
    form costs ~6 py4j round-trips per dim PER CALL (~0.5-1s of pure
    driver time at dims=64, paid again on EVERY query build —
    BENCH/BASELINE.md pathology #2).  Both forms produce the identical
    expression tree."""
    if isinstance(a, str) and isinstance(b, str):
        terms = " + ".join(
            f"(cast(element_at({a}, {d + 1}) as double) * "
            f"cast(element_at({b}, {d + 1}) as double))"
            for d in range(dims)
        )
        return F.expr(f"(cast('0.0' as double) + {terms})")
    acc = F.lit(0.0)
    for d in range(dims):
        acc = acc + (
            F.element_at(a, d + 1).cast("double")
            * F.element_at(b, d + 1).cast("double")
        )
    return acc


def cosine(a: Column, b: Column) -> Column:
    return dot_double(a, b) / (F.sqrt(dot_double(a, a)) * F.sqrt(dot_double(b, b)))


def hyperplane_signs(planes: int, dims: int, seed: int = 42) -> list[list[float]]:
    """Deterministic ±1 hyperplane components, md5-derived so ANY engine
    (the DuckDB oracle included) can rebuild the identical matrix.
    Driver-side: planes × dims is tiny; the rows never hash."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{seed}:{p}:{i}".encode()).hexdigest()[:15], 16) % 2 == 0
            else -1.0
            for i in range(dims)
        ]
        for p in range(planes)
    ]


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    planes: int = 8,
    seed: int = 42,
    dims: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs with cosine ≥ threshold.

    Scale path: random-hyperplane LSH — `planes` sign bits from fixed
    pseudo-random hyperplanes (deterministic from seed) bucket the
    vectors; the self-join is bucket-local equality, then the exact
    cosine filter.  With planes=0 it degrades to brute-force all-pairs
    (test/oracle mode only).

    With ``dims`` set, the hyperplane matrix is computed driver-side
    (hyperplane_signs: md5-derived, engine-portable) and carried as an
    Arrow-kernel closure constant — the oracle-checkable scale path.
    Without it, per-element xxhash64 handles unknown vector widths
    (Spark-only determinism).
    """
    from . import kernels as K

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if planes > 0 and dims is not None:
        # ONE Arrow pass computes the LSH bucket (ordered projection
        # folds against the driver-side md5-derived hyperplanes) AND
        # hoists the self-norm (pure common-subexpression motion:
        # identical input bits give identical norm bits, so the pair
        # predicate is unchanged — each candidate pair below pays
        # exactly one dot instead of three).  See kernels.py for why
        # the codegen-chain and HOF forms were rejected at this width.
        # inline(array(struct)) = CollapseProject barrier: without it
        # Catalyst inlines the struct alias into both field refs and
        # the kernel evaluates TWICE per row (see ivf_topk)
        base = base.select(
            "id", "v",
            F.inline(F.array(
                K.lsh_bucket_norm("v", hyperplane_signs(planes, dims, seed))
            )),
        ).select(
            "id", "v", "bucket",
            F.col("norm").alias("__norm"),
        )
        a = base.select(
            "bucket", F.col("id").alias("id_a"),
            F.col("v").alias("va"), F.col("__norm").alias("na"),
        )
        b = base.select(
            "bucket", F.col("id").alias("id_b"),
            F.col("v").alias("vb"), F.col("__norm").alias("nb"),
        )
        cand = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    elif planes > 0:
        # deterministic hyperplane components: hash(seed, plane, dim) → ±1
        def sign_bit(p: int) -> Column:
            proj = F.aggregate(
                F.zip_with(
                    F.col("v"),
                    F.sequence(F.lit(0), F.size("v") - 1),
                    lambda x, i: x.cast("double")
                    * F.when(
                        F.pmod(F.xxhash64(F.lit(seed), F.lit(p), i), 2) == 0, F.lit(1.0)
                    ).otherwise(F.lit(-1.0)),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            return (proj > 0).cast("int")

        bucket = F.concat_ws("", *[sign_bit(p).cast("string") for p in range(planes)])
        base = base.withColumn("bucket", bucket)
        a = base.select("bucket", F.col("id").alias("id_a"), F.col("v").alias("va"))
        b = base.select("bucket", F.col("id").alias("id_b"), F.col("v").alias("vb"))
        cand = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    else:
        acols = [F.col("id").alias("id_a"), F.col("v").alias("va")]
        bcols = [F.col("id").alias("id_b"), F.col("v").alias("vb")]
        if dims is not None:
            # brute-force oracle/test mode with a known width: still
            # hoist the norm (compact per-row fold — same bits)
            base = base.withColumn(
                "__norm", F.sqrt(dot_double(F.col("v"), F.col("v")))
            )
            acols.append(F.col("__norm").alias("na"))
            bcols.append(F.col("__norm").alias("nb"))
        cand = base.select(*acols).crossJoin(base.select(*bcols)).filter(
            F.col("id_a") < F.col("id_b")
        )
    if dims is not None:
        # bit-identical fast path: ONE unrolled whole-stage-codegen dot
        # per pair over the hoisted per-row norms (same left-assoc IEEE
        # fold as the zip_with/aggregate HOF).  The Arrow kernels above
        # stay only for the planes×dims bucket projection — a single
        # 64-term pair dot fits codegen comfortably and skips the
        # per-pair Python-worker round trip (r3 ann regression class)
        cos = dot_unrolled("va", "vb", dims) / (F.col("na") * F.col("nb"))
    else:
        cos = cosine(F.col("va"), F.col("vb"))
    return (
        cand.withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _driver_union_find(directed: DataFrame) -> DataFrame:
    """Resolve a DRIVER-SMALL edge list (bound enforced by the caller)
    into ``(id, cluster_id = min reachable id)`` via union-find with
    path compression + union by size.  Duplicate edges are harmless,
    so no distinct() pass is spent on the way in."""
    from pyspark.sql.types import StructField, StructType

    edges = directed.collect()
    parent: dict = {}
    size: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in edges:
        u, v = r["u"], r["v"]
        for n in (u, v):
            if n not in parent:
                parent[n] = n
                size[n] = 1
        ru, rv = find(u), find(v)
        if ru != rv:
            if size[ru] < size[rv]:
                ru, rv = rv, ru
            parent[rv] = ru
            size[ru] += size[rv]
    comp_min: dict = {}
    for n in parent:
        root = find(n)
        m = comp_min.get(root)
        if m is None or n < m:
            comp_min[root] = n
    dt = directed.schema["u"].dataType
    schema = StructType(
        [StructField("id", dt), StructField("cluster_id", dt)]
    )
    rows = [(n, comp_min[find(n)]) for n in parent]
    return directed.sparkSession.createDataFrame(rows, schema)


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    driver_edge_bound: int = 1_000_000,
) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate CLUSTERS: connected
    components over the pair graph → ``(id, cluster_id)`` where
    ``cluster_id`` is the minimum id reachable from ``id`` (the
    canonical representative a dedup pipeline keeps).

    Algorithm: min-label propagation with pointer jumping — each round
    (1) pulls the min neighbor label across edges (one shuffle join +
    groupBy-min), then (2) path-halves by re-pointing every label at
    its label's label (a second self-join), giving O(log n) rounds on
    chains instead of O(diameter).  This is the standard Spark CC
    shape (GraphX/GraphFrames use the same large-star/small-star
    family); no driver-side state beyond the per-round changed-count
    (ONE scalar aggregate per iteration, bounded by ``max_iter``).

    Scale notes: every step is an equality join on id — shuffle
    partitioning is reused between rounds; each round's labels are
    ``localCheckpoint``-ed (eager) so the logical plan stays O(1) deep
    — without truncation the self-join doubles plan references every
    round and Catalyst planning time explodes exponentially.  Raises
    RuntimeError if ``max_iter`` rounds do not converge — silent
    truncation would mislabel clusters.

    Adaptive small-graph path: when the (already materialized) edge
    set holds at most ``driver_edge_bound`` rows — ONE count on the
    checkpointed edges, same runtime-statistics-then-switch move AQE
    makes when it converts a shuffle join to broadcast — the
    components are resolved by a driver-side union-find instead of the
    iterative join loop.  The distributed loop costs ~3 actions per
    round (join + checkpoint + convergence count); for a
    driver-small graph that fixed cost dominates by 10-100×, while
    union-find on ≤1M edges (≈ tens of MB, the documented bound) is
    milliseconds.  Above the bound the distributed loop runs
    unchanged, so the 100 TB path has NO driver-side graph state.  The
    output is identical either way: connected components and the
    min-reachable-id canonical label are properties of the graph, not
    of the algorithm (string ids compare equal too — UTF-8 byte order
    preserves code-point order).  Pass ``driver_edge_bound=0`` to
    force the distributed loop.
    """
    # materialize ONE direction first: the upstream pair generation is
    # usually the expensive part (candidate join + similarity math) and
    # a union of two un-materialized branches would evaluate it twice
    directed = pairs.select(
        F.col(id_a).alias("u"), F.col(id_b).alias("v")
    ).localCheckpoint(eager=True)
    if driver_edge_bound > 0 and directed.count() <= driver_edge_bound:
        return _driver_union_find(directed)
    edges = (
        directed.union(
            directed.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("u").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("lab"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # (1) min neighbor label pull
        nbr = (
            edges.join(
                labels.select(
                    F.col("id").alias("v"), F.col("lab").alias("vlab")
                ),
                "v",
            )
            .groupBy(F.col("u").alias("id"))
            .agg(F.min("vlab").alias("nlab"))
        )
        stepped = (
            labels.join(nbr, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("lab"), F.coalesce(F.col("nlab"), F.col("lab"))
                ).alias("lab"),
            )
            .localCheckpoint(eager=True)
        )
        # (2) pointer jump: lab <- lab(lab) (path halving)
        jumped = (
            stepped.alias("s")
            .join(
                stepped.select(
                    F.col("id").alias("lab"), F.col("lab").alias("lab2")
                ).alias("p"),
                "lab",
                "left",
            )
            .select(
                F.col("s.id").alias("id"),
                F.coalesce(F.col("p.lab2"), F.col("s.lab")).alias("lab"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            jumped.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.lab") != F.col("o.lab"))
            .limit(1)
            .count()
        )
        labels = jumped
        if changed == 0:
            return labels.select("id", F.col("lab").alias("cluster_id"))
    raise RuntimeError(
        f"duplicate_clusters did not converge in {max_iter} rounds"
    )


# --------------------------------------------------------------------
# Cross-document duplicated SPANS (substring-level dedup)
# --------------------------------------------------------------------
# Doc-level dedup (exact/minhash/simhash above) misses the common web
# failure mode of long shared boilerplate INSIDE otherwise-distinct
# documents (Lee et al. 2022, "Deduplicating Training Data Makes
# Language Models Better", deduplicates at the 50-token-substring
# level with suffix arrays).  A distributed suffix array is the wrong
# tool on Spark; the scale path is winnowing: hash every WIDTH-token
# window, then SELECT only positions whose hash is the minimum of the
# next WINNOW window hashes.  Selection depends on content alone, so
# two documents sharing a run of at least (width + winnow - 1) tokens
# select at least one identical (hash, aligned) window — no
# positional stride to de-align them — while shrinking the shuffled
# rows ~winnow-fold.  Hashes are md5-derived (oracle-replayable;
# set_hash_mode("xxhash64") swaps the production hash).


def span_window_hashes(col: Column, width: int = 8) -> Column:
    """array<long>: hash of every WIDTH-token window of the normalized
    token stream (one per start position; a doc shorter than WIDTH is
    one whole-doc window, matching text.fingerprint)."""
    toks = tokens(col)
    n = F.size(toks)
    m = F.greatest(n - F.lit(width - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), m),
        lambda i: hash_long(F.array_join(F.slice(toks, i, width), " ")),
    )


def _selected_from_hashes(hashes: Column, winnow: int) -> Column:
    """Winnow selection over an ALREADY-MATERIALIZED hash-array column:
    keep position p iff h[p] == min(h[p .. p+winnow-1]) (forward local
    minimum).  The argument must be a plain column reference, not the
    hashing expression itself — inlining the md5 transform here would
    re-evaluate the whole array per candidate position (O(n²) hashing;
    the first cut of this operator did exactly that and measured 60s+
    on a corpus the fixed form handles in ~1s)."""
    return F.filter(
        F.transform(
            F.sequence(F.lit(1), F.size(hashes)),
            lambda i: F.struct(
                i.cast("int").alias("pos"), F.element_at(hashes, i).alias("h")
            ),
        ),
        lambda s: s["h"] == F.array_min(F.slice(hashes, s["pos"], winnow)),
    )


def selected_spans(col: Column, width: int = 8, winnow: int = 4) -> Column:
    """array<struct<pos:int,h:long>> of winnow-SELECTED windows.
    Content-aligned: the same windows are selected wherever the same
    token run appears.  Convenience single-Column form — the DataFrame
    operators below materialize the hash array first (see
    _selected_from_hashes) and should be preferred on real corpora."""
    return _selected_from_hashes(span_window_hashes(col, width), winnow)


def _sel_df(
    df: DataFrame, text_col: str, id_col: str, width: int, winnow: int
) -> DataFrame:
    """(id, pos, h) of selected windows.  Two projection levels: the
    md5 window-hash array is materialized as ONE named column, then
    selection/explode reference only that attribute — CollapseProject
    keeps non-cheap multiply-referenced aliases in their own Project,
    so every hash is computed exactly once per document."""
    base = df.select(
        F.col(id_col), span_window_hashes(F.col(text_col), width).alias("__hs")
    )
    return base.select(
        F.col(id_col),
        F.explode(_selected_from_hashes(F.col("__hs"), winnow)).alias("s"),
    ).select(id_col, F.col("s.pos").alias("pos"), F.col("s.h").alias("h"))


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 8,
    winnow: int = 4,
) -> DataFrame:
    """(id, pos, h, n_docs): selected windows whose hash occurs in >= 2
    DISTINCT documents — the duplicated-span hit list a trimming /
    filtering stage consumes.

    Scale: the explode emits ~n_tokens/winnow rows per document; the
    count is ONE hash aggregation on h (map-side partial); the
    hit-list join is equality on h.  Nothing is all-pairs and no row
    carries text — only (id, pos, h)."""
    sel = _sel_df(df, text_col, id_col, width, winnow)
    hot = (
        sel.groupBy("h")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )
    return sel.join(hot, "h").select(id_col, "pos", "h", "n_docs")


def span_dup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 8,
    winnow: int = 4,
) -> DataFrame:
    """Per-document duplicated-span profile: (id, n_selected, n_dup,
    dup_frac) — dup_frac is the curation knob (drop or trim documents
    whose selected windows are mostly shared boilerplate)."""
    sel = _sel_df(df, text_col, id_col, width, winnow).select(id_col, "h")
    hot = (
        sel.groupBy("h")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )
    per_doc = (
        sel.join(hot, "h", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_selected"),
            F.sum(
                F.when(F.col("n_docs").isNotNull(), 1).otherwise(0)
            ).alias("n_dup"),
        )
    )
    return per_doc.select(
        id_col,
        "n_selected",
        "n_dup",
        F.round(
            F.col("n_dup").cast("double") / F.col("n_selected").cast("double"), 6
        ).alias("dup_frac"),
    )
