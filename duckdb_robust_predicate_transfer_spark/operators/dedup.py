"""Deduplication operators for large-scale text corpora.

All operators are pure DataFrame compositions — built-in functions
only, no Python row loops — so every stage is whole-stage-codegen'd
and shuffle-parallel at 100 TB:

- exact: content-hash groupBy (map-side combine).
- MinHash + LSH: shingle -> k minhashes -> b bands -> bucket join.
  Candidate generation never compares all pairs; the band bucket join
  is the only shuffle and is skew-safe under AQE.
- SimHash: 64-bit signature via bitwise majority vote of token
  hashes; near-dup candidates via banded signature chunks.

Hashing is pluggable (``hash_fn``): the default xxhash64 (Spark
built-in, JVM-side) is the fast engine-specific tier; ``md5_64`` is an
engine-PORTABLE 64-bit-from-md5-hex tier, bit-identical in DuckDB as
``('0x' || substr(md5(s), 1, 15))::BIGINT``, so the candidate-pair
queries can carry an exact cross-engine oracle instead of a rows-only
check. Both tiers share the identical plan shape; md5 costs ~2-3x the
hash CPU, so xxhash64 stays the production default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _md5_64(e: str) -> str:
    return f"cast(conv(substring(md5(cast({e} as string)), 1, 15), 16, 10) as bigint)"


#: name -> (hash(expr), seeded hash(expr, seed_expr)) SQL builders, each
#: producing a BIGINT from arbitrary input expressions
HASHERS = {
    "xxhash64": (lambda e: f"xxhash64({e})",
                 lambda e, s: f"xxhash64({e}, {s})"),
    "md5_64": (_md5_64,
               lambda e, s: _md5_64(
                   f"concat(cast({s} as string), '|', cast({e} as string))")),
}


def tokens(col: str = "text"):
    """Whitespace tokenization (stays a Spark array column)."""
    return F.split(F.col(col), r"\s+", -1)


def word_shingles(col: str = "text", n: int = 3):
    """n-word shingles as an array column: slice a sliding window over
    the token array (JVM-side transform, no explode until needed)."""
    toks = tokens(col)
    return F.expr(
        f"transform(sequence(0, greatest(size(split({col}, '\\\\s+', -1)) - {n}, 0)),"
        f" i -> concat_ws(' ', slice(split({col}, '\\\\s+', -1), i + 1, {n})))"
    )


def minhash_signature(df: DataFrame, id_col: str, text_col: str = "text",
                      k: int = 32, n_shingle: int = 3,
                      hash_fn: str = "xxhash64") -> DataFrame:
    """(id, sig: array<bigint> of k minhashes).

    Each shingle string is hashed ONCE (``hash_fn(s)``); the k hash
    functions are derived from that 64-bit value with cheap seeded
    re-hashes, and all k running minima fold in a single pass
    over the shingle array. Versus hashing the string k times in k
    separate folds this is ~10x cheaper at corpus scale while keeping
    the same min-wise LSH guarantees (the derived family is pairwise
    independent enough for banding). One narrow projection, no explode;
    the only possible exchange is ``fan_out``'s conditional round-robin
    repartition of (id, text) when the scan layout cannot fill the
    session's parallelism (a no-op on any at-scale input).
    """
    from .layout import fan_out

    h1, h2 = HASHERS[hash_fn]
    acc0 = f"array_repeat(9223372036854775807L, {k})"
    sig = F.expr(
        f"aggregate(transform(sh, s -> {h1('s')}), {acc0},"
        f" (acc, h) -> zip_with(acc,"
        f"   transform(sequence(0, {k - 1}), i -> {h2('h', 'i')}),"
        f"   (a, v) -> least(a, v)))"
    )
    # the k-way fold is interpreted per shingle (higher-order lambdas
    # are not codegen'd) — by far the heaviest per-row stage in the
    # pipeline; fan it out across cores when the scan layout cannot
    # (narrow projection first: only (id, text) crosses the exchange)
    narrow = fan_out(df.select(id_col, text_col))
    return (narrow.select(F.col(id_col),
                          word_shingles(text_col, n_shingle).alias("sh"))
            .select(id_col, sig.alias("sig")))


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str = "text",
                      k: int = 32, bands: int = 8,
                      n_shingle: int = 3, min_est_jaccard: float = 0.5,
                      hash_fn: str = "xxhash64") -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b, est_jaccard).

    LSH banding: split the k-minhash signature into `bands` chunks of
    r = k/bands; docs sharing any chunk hash land in one bucket; pairs
    are generated per bucket (self-join on (band_id, band_hash)), then
    scored by signature agreement. Buckets — not pairs — bound the
    shuffle, which is what makes this viable at corpus scale.
    """
    r = k // bands
    _, h2 = HASHERS[hash_fn]
    # Materialize signatures once to executor-local storage: they feed
    # the banding AND both sides of the candidate re-join below, and a
    # lazy plan would recompute the (now cheap, but still corpus-wide)
    # fold three times. localCheckpoint — not persist() — so the
    # CacheManager never pattern-matches this subtree into later
    # queries' plans. The returned pairs read these blocks, so they are
    # not released here; they stay listed in getPersistentRDDs() after
    # the pairs are dropped and Python's gc.collect() has run, until a
    # JVM garbage collection lets Spark's ContextCleaner free them.
    sigs = (minhash_signature(df, id_col, text_col, k, n_shingle, hash_fn)
            .localCheckpoint(eager=True))
    # The band join shuffles only (id, band_id, band_hash) — NOT the
    # k-long signature arrays (which would be duplicated `bands` times
    # by the explode and again by the candidate distinct). Signatures
    # re-attach to the deduplicated pair set afterwards: two joins over
    # |corpus| slim rows instead of 2*bands*|corpus| wide ones.
    band_expr = h2(f"concat_ws(',', slice(sig, b * {r} + 1, {r}))", "b")
    banded = sigs.select(
        id_col,
        F.posexplode(F.expr(
            f"transform(sequence(0, {bands - 1}), b -> {band_expr})"
        )).alias("band_id", "band_hash"))
    a = banded.select(F.col(id_col).alias("id_a"), "band_id", "band_hash")
    b = banded.select(F.col(id_col).alias("id_b"), "band_id", "band_hash")
    cand = (a.join(b, ["band_id", "band_hash"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    est = (F.expr(
        "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))")
        .cast("double") / F.size("sig_a"))
    return (cand.join(sa, "id_a").join(sb, "id_b")
            .withColumn("est_jaccard", est)
            .filter(F.col("est_jaccard") >= min_est_jaccard)
            .select("id_a", "id_b", F.round("est_jaccard", 4).alias("est_jaccard")))


def simhash_signature(df: DataFrame, id_col: str, text_col: str = "text",
                      hash_fn: str = "xxhash64") -> DataFrame:
    """(id, simhash: bigint) — 64-bit SimHash of the token multiset.

    Bit i of the signature is a majority vote over the doc's token
    hashes: set iff more than half the tokens have bit i of
    xxhash64(token) set (equivalent to the classic +1/-1 vote sum,
    ties -> 0, both formulations verified bit-identical).

    Shape: explode tokens -> one codegen'd groupBy with 64 bit-count
    sums -> assemble the long from the counts. An array-fold
    formulation (zip_with over a per-token 64-vote array) measures
    ~7x slower at corpus scale because higher-order lambdas are
    interpreted per element, not whole-stage-codegen'd; the explode
    shuffle is 16 bytes/token with map-side partial aggregation, a
    price worth paying to stay inside codegen.
    """
    from .layout import fan_out

    h1, _ = HASHERS[hash_fn]
    # per-token hashing + the 64 partial vote sums run BELOW the first
    # exchange — single-threaded when the scan is one row group
    toks = fan_out(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode(F.expr(
            f"transform(split({text_col}, '\\\\s+', -1),"
            f" t -> {h1('t')})")).alias("h"))
    bitcols = [
        F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))).alias(f"b{i}")
        for i in range(64)]
    agg = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"), *bitcols)
    assemble = " | ".join(
        f"IF(2 * b{i} > n, shiftleft(1L, {i}), 0L)" for i in range(64))
    return agg.select(id_col, F.expr(assemble).alias("simhash"))


def simhash_pairs(df: DataFrame, id_col: str, text_col: str = "text",
                  max_hamming: int = 8,
                  hash_fn: str = "xxhash64") -> DataFrame:
    """Near-dup candidates: pairs whose 64-bit SimHash differs in at
    most `max_hamming` bits. Banding on 4x16-bit chunks (a pair within
    hamming<=3 must share a chunk exactly; wider radii still surface
    via any equal chunk) keeps the join bucketed, never all-pairs."""
    # both sides of the chunk self-join would recompute the corpus-wide
    # vote fold; materialize it once (see minhash_lsh_pairs note)
    sigs = (simhash_signature(df, id_col, text_col, hash_fn)
            .localCheckpoint(eager=True))
    chunked = sigs.select(
        id_col, "simhash",
        F.posexplode(F.expr(
            "transform(sequence(0, 3),"
            " c -> shiftright(simhash, c * 16) & 65535)"
        )).alias("chunk_id", "chunk_val"))
    a = chunked.select(F.col(id_col).alias("id_a"),
                       F.col("simhash").alias("sh_a"), "chunk_id", "chunk_val")
    b = chunked.select(F.col(id_col).alias("id_b"),
                       F.col("simhash").alias("sh_b"), "chunk_id", "chunk_val")
    ham = F.expr("bit_count(sh_a ^ sh_b)")
    return (a.join(b, ["chunk_id", "chunk_val"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "sh_a", "sh_b").distinct()
            .withColumn("hamming", ham)
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def exact_dedup(df: DataFrame, id_col: str, text_col: str = "text"
                ) -> DataFrame:
    """Keep one row per distinct content hash (min id wins)."""
    keep = (df.groupBy(F.md5(F.col(text_col)).alias("h"))
            .agg(F.min(id_col).alias(id_col)))
    return df.join(keep, on=id_col, how="left_semi")
