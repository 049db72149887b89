"""LLM-data-pipeline queries over documents / embeddings / events.

These go beyond the reference's own surface (SURVEY.md section 2d
"Not present in the reference") — mandated by the north star: dedup,
similarity search, text analysis, event analytics, each designed so
the same plan scales to 100 TB (hash-partitioned groupBys, no
driver-side loops, broadcastable small sides).

Oracle notes: DuckDB and Spark share md5(), date_trunc(), window
functions and sequential-fold list arithmetic, so most of these have
exact SQL oracles; the MinHash/SimHash family uses engine-specific
hashing and gets rows-only checks.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .common import eng
from .registry import query

# --------------------------------------------------------------------------
# text analysis (documents)
# --------------------------------------------------------------------------


@query(
    "q_text_stats",
    oracle="""
    SELECT doc_id, lang,
           LENGTH(text) AS n_char,
           CAST(LEN(STRING_SPLIT(text, ' ')) AS INT) AS n_tokens,
           LENGTH(REPLACE(text, ' ', '')) AS n_nonspace
    FROM documents
    """,
)
def q_text_stats(spark, sf_dir):
    e = eng(spark, sf_dir)
    d = e.table("documents")
    return d.select(
        "doc_id", "lang",
        F.length("text").alias("n_char"),
        F.size(F.split("text", " ", -1)).alias("n_tokens"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).alias("n_nonspace"),
    )


@query(
    "q_lang_quality",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           CAST(SUM(CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT)) AS DOUBLE)
               / COUNT(*) AS avg_tokens,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY lang
    """,
)
def q_lang_quality(spark, sf_dir):
    """Quality scoring profile per language bucket (length/token stats)."""
    e = eng(spark, sf_dir)
    d = e.table("documents")
    return (d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        (F.sum(F.size(F.split("text", " ", -1)).cast("bigint")).cast("double")
         / F.count(F.lit(1))).alias("avg_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars")))


@query(
    "q_doc_fingerprint",
    oracle="""
    SELECT doc_id, md5(text) AS fp,
           SUBSTRING(md5(text), 1, 8) AS fp8
    FROM documents
    """,
)
def q_doc_fingerprint(spark, sf_dir):
    """Deterministic document fingerprint (md5 agrees across engines)."""
    e = eng(spark, sf_dir)
    return e.table("documents").select(
        "doc_id", F.md5("text").alias("fp"),
        F.substring(F.md5("text"), 1, 8).alias("fp8"))


@query(
    "q_dedup_exact",
    oracle="""
    SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy, keep the smallest doc_id per content
    hash. Scales as a single hash aggregation (map-side partial combine)."""
    e = eng(spark, sf_dir)
    return (e.table("documents")
            .groupBy(F.md5("text").alias("h"))
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count(F.lit(1)).alias("n_copies")))


@query(
    "q_ngram_jaccard",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents WHERE doc_id < 40
    ),
    pair AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1)
    SELECT id_a, id_b,
           ROUND(CAST(inter AS DOUBLE)
                 / (sa.n + sb.n - inter), 6) AS jaccard
    FROM pair
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.12
    """,
)
def q_ngram_jaccard(spark, sf_dir):
    """Token-set Jaccard near-dup: explode -> self-join on token ->
    intersection counts. The scale path shards on token (skew-resistant
    with AQE); here restricted to a doc subset to bound the pair count."""
    e = eng(spark, sf_dir)
    d = e.table("documents").filter(F.col("doc_id") < 40)
    tok = d.select("doc_id", F.explode(F.split("text", " ", -1)).alias("w")).distinct()
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = tok.select(F.col("doc_id").alias("id_a"), "w")
    b = tok.select(F.col("doc_id").alias("id_b"), "w")
    pair = (a.join(b, ["w"]).filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("inter")))
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    j = (pair.join(sa, "id_a").join(sb, "id_b")
         .withColumn("jac", F.col("inter").cast("double")
                     / (F.col("na") + F.col("nb") - F.col("inter")))
         .filter(F.col("jac") >= 0.12))
    return j.select("id_a", "id_b", F.round("jac", 6).alias("jaccard"))


# --------------------------------------------------------------------------
# similarity search (embeddings)
# --------------------------------------------------------------------------


@query(
    "q_cosine_topk",
    oracle="""
    WITH q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
    ),
    sims AS (
      SELECT vec_id, label,
             ROUND(
               list_dot_product(CAST(embedding AS DOUBLE[]), qv)
               / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                        CAST(embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
      FROM embeddings, q
      WHERE vec_id <> 0
    )
    SELECT vec_id, label, cos_sim FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id) AS rn
      FROM sims) t
    WHERE rn <= 10
    """,
)
def q_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k against one query vector — the exact
    baseline every ANN variant is judged against. All arithmetic stays
    JVM-side (zip_with/aggregate fold in whole-stage codegen); the query
    vector is a broadcast literal, so the scan parallelizes perfectly."""
    e = eng(spark, sf_dir)
    emb = e.table("embeddings")
    dot = ("aggregate(zip_with(ed, qd, (x, y) -> x * y), 0D, (a, x) -> a + x)")
    prep = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(
            emb.filter(F.col("vec_id") == 0)
            .select(F.expr("transform(embedding, x -> cast(x as double))").alias("qd"))))
        .withColumn("ed", F.expr("transform(embedding, x -> cast(x as double))"))
        .withColumn("cos_sim", F.round(
            F.expr(dot)
            / (F.sqrt(F.expr(dot.replace("qd", "ed")))
               * F.sqrt(F.expr(dot.replace("ed", "qd")))), 6)))
    w = Window.orderBy(F.col("cos_sim").desc(), "vec_id")
    return (prep.select("vec_id", "label", "cos_sim")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 10).drop("rn"))


@query(
    "q_cosine_topk_batch",
    oracle="""
    WITH q AS (
      SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 5
    ),
    sims AS (
      SELECT q.qid, e.vec_id,
             ROUND(
               list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos_sim
      FROM embeddings e, q
      WHERE e.vec_id >= 5
    )
    SELECT qid, vec_id, cos_sim, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
          PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
      FROM sims) t
    WHERE rank <= 5
    """,
)
def q_cosine_topk_batch(spark, sf_dir):
    """Batch exact top-k: 5 query vectors answered in ONE corpus pass
    (broadcast queries x corpus scan, per-query window rank) — the
    multi-query shape a 100 TB lookup service actually runs
    (operators/similarity.py:brute_force_topk_batch)."""
    from ..operators.similarity import brute_force_topk_batch

    e = eng(spark, sf_dir)
    emb = e.table("embeddings")
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qv")))
    corpus = emb.filter(F.col("vec_id") >= 5)
    return brute_force_topk_batch(corpus, queries, k=5)


#: shared DuckDB CTE text for the md5_64 LSH signature pipeline
#: (oracle twin of similarity.hyperplane_signature + the band split in
#: lsh_topk_batch): 16 planes over dim 64, seed 7, 8 bands of 2 bits
_LSH_SIG_CTES = """
    planes AS (
      SELECT p, list_transform(range(0, 64), d ->
        ((('0x' || substr(md5(p::VARCHAR || '_' || d::VARCHAR || '_' ||
           '7'), 1, 15))::BIGINT % 100000) / 100000.0 - 0.5)) AS pl
      FROM generate_series(0, 15) t(p)
    ),
    corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings
    ),
    sigs AS (
      SELECT c.vec_id,
             BIT_OR(CASE WHEN list_dot_product(c.ed, pl.pl) > 0
                    THEN (1::BIGINT << pl.p) ELSE 0 END) AS sig
      FROM corpus c CROSS JOIN planes pl
      GROUP BY c.vec_id
    ),
    bands AS (
      SELECT vec_id, b AS band_id, (sig >> (b * 2)) & 3 AS band_val
      FROM sigs CROSS JOIN generate_series(0, 7) t(b)
    )
"""


@query(
    "q_ann_recall_lsh",
    # the WHOLE index build is deterministic on the md5_64 plane tier,
    # so the recall of an approximate index becomes an exact quantity
    # both engines agree on: same signatures, same band buckets, same
    # candidates, same tie-broken top-10, same recall fraction
    oracle=f"""
    WITH {_LSH_SIG_CTES},
    qs AS (SELECT vec_id AS qid, ed AS qd FROM corpus WHERE vec_id < 8),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, c.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 ROUND(list_dot_product(c.ed, q.qd)
                   / (sqrt(list_dot_product(c.ed, c.ed))
                      * sqrt(list_dot_product(q.qd, q.qd))), 6) DESC,
                 c.vec_id) AS rn
        FROM corpus c CROSS JOIN qs q WHERE c.vec_id >= 8) t
      WHERE rn <= 10
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS qid, b.vec_id
      FROM bands b JOIN bands q USING (band_id, band_val)
      WHERE q.vec_id < 8 AND b.vec_id >= 8
    ),
    approx AS (
      SELECT qid, vec_id FROM (
        SELECT cd.qid, cd.vec_id,
               ROW_NUMBER() OVER (PARTITION BY cd.qid ORDER BY
                 ROUND(list_dot_product(co.ed, q.qd)
                   / (sqrt(list_dot_product(co.ed, co.ed))
                      * sqrt(list_dot_product(q.qd, q.qd))), 6) DESC,
                 cd.vec_id) AS rn
        FROM cand cd
        JOIN corpus co ON co.vec_id = cd.vec_id
        JOIN qs q ON q.qid = cd.qid) t
      WHERE rn <= 10
    ),
    per_q AS (
      SELECT e.qid, COUNT(*) AS n_exact,
             COUNT(a.vec_id) AS n_hits
      FROM exact e LEFT JOIN approx a
        ON a.qid = e.qid AND a.vec_id = e.vec_id
      GROUP BY e.qid
    )
    SELECT COUNT(*) AS n_queries,
           ROUND(AVG(n_hits / n_exact), 6) AS mean_recall
    FROM per_q
    """,
)
def q_ann_recall_lsh(spark, sf_dir):
    """Recall@10 of the LSH-banded ANN index against the exact batch
    baseline, over 8 query vectors — the distributed index-quality
    gauge (operators/similarity.py:ann_recall). Runs on the md5_64
    plane tier (PLANE_HASHERS), which makes the approximate index
    itself engine-portable and this recall metric ORACLE-BEARING —
    the r5 dedup pluggable-tier pattern applied to ANN. The xxhash64
    production tier is plan-identical."""
    from ..operators.similarity import (
        ann_recall, brute_force_topk_batch, lsh_topk_batch)

    e = eng(spark, sf_dir)
    emb = e.table("embeddings")
    queries = (emb.filter(F.col("vec_id") < 8)
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qv")))
    corpus = emb.filter(F.col("vec_id") >= 8)
    exact = brute_force_topk_batch(corpus, queries, k=10)
    approx = lsh_topk_batch(corpus, queries, k=10,
                            n_planes=16, n_bands=8, hasher="md5_64")
    return ann_recall(exact, approx)


@query(
    "q_ann_recall_ivf",
    # portable md5_64 centroid sample (ivf_centroids hasher tier) makes
    # the IVF index deterministic across engines; the oracle re-derives
    # assignment (argmax on dot/|c| — row norms cancel, matching
    # ivf_assign's codegen'd literal argmax, ties to the LARGER
    # centroid id), the per-query top-nprobe probe (full cosine, ties
    # to the SMALLER centroid id, matching ivf_topk_batch) and the
    # exact-rescore top-10, then the recall fraction
    oracle="""
    WITH corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings
      WHERE vec_id >= 8
    ),
    qs AS (
      SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qd
      FROM embeddings WHERE vec_id < 8
    ),
    cents AS (
      SELECT vec_id AS centroid_id, ed AS cd FROM corpus
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT c.vec_id, k.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
                 list_dot_product(c.ed, k.cd)
                   / sqrt(list_dot_product(k.cd, k.cd)) DESC,
                 k.centroid_id DESC) AS rn
        FROM corpus c CROSS JOIN cents k) t
      WHERE rn = 1
    ),
    probe AS (
      SELECT qid, qd, centroid_id FROM (
        SELECT q.qid, q.qd, k.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 list_dot_product(q.qd, k.cd)
                   / (sqrt(list_dot_product(q.qd, q.qd))
                      * sqrt(list_dot_product(k.cd, k.cd))) DESC,
                 k.centroid_id) AS rn
        FROM qs q CROSS JOIN cents k) t
      WHERE rn <= 6
    ),
    approx AS (
      SELECT qid, vec_id FROM (
        SELECT p.qid, a.vec_id,
               ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY
                 ROUND(list_dot_product(co.ed, p.qd)
                   / (sqrt(list_dot_product(co.ed, co.ed))
                      * sqrt(list_dot_product(p.qd, p.qd))), 6) DESC,
                 a.vec_id) AS rn
        FROM probe p
        JOIN assign a USING (centroid_id)
        JOIN corpus co ON co.vec_id = a.vec_id) t
      WHERE rn <= 10
    ),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, c.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 ROUND(list_dot_product(c.ed, q.qd)
                   / (sqrt(list_dot_product(c.ed, c.ed))
                      * sqrt(list_dot_product(q.qd, q.qd))), 6) DESC,
                 c.vec_id) AS rn
        FROM corpus c CROSS JOIN qs q) t
      WHERE rn <= 10
    ),
    per_q AS (
      SELECT e.qid, COUNT(*) AS n_exact, COUNT(a.vec_id) AS n_hits
      FROM exact e LEFT JOIN approx a
        ON a.qid = e.qid AND a.vec_id = e.vec_id
      GROUP BY e.qid
    )
    SELECT COUNT(*) AS n_queries,
           ROUND(AVG(n_hits / n_exact), 6) AS mean_recall
    FROM per_q
    """,
)
def q_ann_recall_ivf(spark, sf_dir):
    """Recall@10 of the fully-distributed batch IVF index (no driver
    collect) against the exact batch baseline, over 8 query vectors.
    The md5_64 centroid-sample tier (ivf_centroids hasher) makes the
    index — and therefore this recall — identical in DuckDB, turning a
    rows-only row ORACLE-BEARING; the xxhash64 production sample stays
    plan-identical."""
    from ..operators.similarity import (
        ann_recall, brute_force_topk_batch, ivf_topk_batch)

    e = eng(spark, sf_dir)
    emb = e.table("embeddings")
    queries = (emb.filter(F.col("vec_id") < 8)
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qv")))
    corpus = emb.filter(F.col("vec_id") >= 8)
    exact = brute_force_topk_batch(corpus, queries, k=10)
    approx = ivf_topk_batch(corpus, queries, k=10,
                            n_centroids=16, nprobe=6, hasher="md5_64")
    return ann_recall(exact, approx)


def _idot(a: str, b: str) -> str:
    """DuckDB SQL for an exact integer dot product of two BIGINT lists
    (list_sum folds to INT128; values stay < 2^53 so the DOUBLE cast is
    exact — see ivf_topk_batch_fp's magnitude-bound docstring)."""
    return (f"CAST(list_sum(list_transform(list_zip({a}, {b}),"
            f" t -> t[1] * t[2])) AS DOUBLE)")


def _fp_assign_cte(name: str, cents: str) -> str:
    """One fixed-point Lloyd assignment pass (argmax cosine against the
    integer centroids; |row| cancels; ties to the LARGER centroid_id,
    matching Spark's max(struct(sim, id)))."""
    return f"""
    {name} AS (
      SELECT vec_id, centroid_id FROM (
        SELECT c.vec_id, k.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
                 {_idot('c.qi', 'k.ci')}
                   / sqrt({_idot('k.ci', 'k.ci')}) DESC,
                 k.centroid_id DESC) AS rn
        FROM corpus c CROSS JOIN {cents} k) t
      WHERE rn = 1
    )"""


def _fp_resum_cte(name: str, assign: str) -> str:
    """Recompute centroids as exact per-dimension BIGINT sums of the
    members' quantized vectors (order-independent; cosine is
    scale-invariant so sums rank identically to means)."""
    return f"""
    {name} AS (
      SELECT centroid_id, list(s ORDER BY pos) AS ci FROM (
        SELECT a.centroid_id, u.pos, CAST(SUM(u.val) AS BIGINT) AS s
        FROM (SELECT vec_id, unnest(qi) AS val,
                     generate_subscripts(qi, 1) AS pos FROM corpus) u
        JOIN {assign} a USING (vec_id)
        GROUP BY a.centroid_id, u.pos) s2
      GROUP BY centroid_id
    )"""


@query(
    "q_ann_recall_ivf_trained",
    # the FIXED-POINT trained index (ivf_topk_batch_fp): every
    # index-construction quantity is an exact integer, so the 2-pass
    # Lloyd loop unrolls into CTEs that DuckDB reproduces bit-for-bit
    # — quantize (floor(x * 1024), power-of-two scale => exact),
    # md5-sample init, assign/re-sum twice, final assign, top-nprobe
    # probe (ties ASC), exact float rescore (ROUND 6, ties by id)
    oracle=f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * 1024) AS BIGINT)) AS qi
      FROM embeddings
    ),
    corpus AS (SELECT * FROM base WHERE vec_id >= 8),
    qs AS (SELECT vec_id AS qid, ed AS qd, qi AS qqi
           FROM base WHERE vec_id < 8),
    c0 AS (
      SELECT vec_id AS centroid_id, qi AS ci FROM corpus
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ),
    {_fp_assign_cte('a1', 'c0')},
    {_fp_resum_cte('c1', 'a1')},
    {_fp_assign_cte('a2', 'c1')},
    {_fp_resum_cte('c2', 'a2')},
    {_fp_assign_cte('a3', 'c2')},
    probe AS (
      SELECT qid, qd, centroid_id FROM (
        SELECT q.qid, q.qd, k.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 {_idot('q.qqi', 'k.ci')}
                   / sqrt({_idot('k.ci', 'k.ci')}) DESC,
                 k.centroid_id) AS rn
        FROM qs q CROSS JOIN c2 k) t
      WHERE rn <= 6
    ),
    approx AS (
      SELECT qid, vec_id FROM (
        SELECT p.qid, a.vec_id,
               ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY
                 ROUND(list_dot_product(co.ed, p.qd)
                   / (sqrt(list_dot_product(co.ed, co.ed))
                      * sqrt(list_dot_product(p.qd, p.qd))), 6) DESC,
                 a.vec_id) AS rn
        FROM probe p
        JOIN a3 a USING (centroid_id)
        JOIN corpus co ON co.vec_id = a.vec_id) t
      WHERE rn <= 10
    ),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, c.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 ROUND(list_dot_product(c.ed, q.qd)
                   / (sqrt(list_dot_product(c.ed, c.ed))
                      * sqrt(list_dot_product(q.qd, q.qd))), 6) DESC,
                 c.vec_id) AS rn
        FROM corpus c CROSS JOIN qs q) t
      WHERE rn <= 10
    ),
    per_q AS (
      SELECT e.qid, COUNT(*) AS n_exact, COUNT(a.vec_id) AS n_hits
      FROM exact e LEFT JOIN approx a
        ON a.qid = e.qid AND a.vec_id = e.vec_id
      GROUP BY e.qid
    )
    SELECT COUNT(*) AS n_queries,
           ROUND(AVG(n_hits / n_exact), 6) AS mean_recall
    FROM per_q
    """,
)
def q_ann_recall_ivf_trained(spark, sf_dir):
    """Recall@10 of the IVF index with TRAINED centroids against the
    exact batch baseline. The fixed-point trainer
    (operators/similarity.py:ivf_topk_batch_fp — two Lloyd passes over
    an integer-quantized grid, centroids as exact BIGINT sums) makes
    the trained index a deterministic cross-engine value, turning the
    last approximate-index rows-only row ORACLE-BEARING (VERDICT r7
    item 8); the float production trainer (ivf_train_centroids, same
    loop shape, one bounded shuffle per pass) stays plan-identical."""
    from ..operators.similarity import (
        ann_recall, brute_force_topk_batch, ivf_topk_batch_fp)

    e = eng(spark, sf_dir)
    emb = e.table("embeddings")
    queries = (emb.filter(F.col("vec_id") < 8)
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qv")))
    corpus = emb.filter(F.col("vec_id") >= 8)
    exact = brute_force_topk_batch(corpus, queries, k=10)
    approx = ivf_topk_batch_fp(corpus, queries, k=10,
                               n_centroids=16, nprobe=6, iters=2)
    return ann_recall(exact, approx)


@query(
    "q_embedding_norms",
    oracle="""
    SELECT label, COUNT(*) AS n,
           ROUND(SUM(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[]))))
                 / COUNT(*), 6) AS avg_norm
    FROM embeddings
    GROUP BY label
    """,
)
def q_embedding_norms(spark, sf_dir):
    e = eng(spark, sf_dir)
    emb = e.table("embeddings")
    norm = F.sqrt(F.expr(
        "aggregate(zip_with(ed, ed, (x, y) -> x * y), 0D, (a, x) -> a + x)"))
    return (emb.withColumn("ed", F.expr("transform(embedding, x -> cast(x as double))"))
            .withColumn("nrm", norm)
            .groupBy("label")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("nrm") / F.count(F.lit(1)), 6).alias("avg_norm")))


# --------------------------------------------------------------------------
# event analytics (events)
# --------------------------------------------------------------------------


@query(
    "q_events_tumbling",
    oracle="""
    SELECT DATE_TRUNC('hour', ts) AS hour_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_events_tumbling(spark, sf_dir):
    """Tumbling-window aggregate (batch form; streaming twin lives in
    streaming/)."""
    e = eng(spark, sf_dir)
    ev = e.table("events")
    return (ev.groupBy(F.date_trunc("hour", "ts").alias("hour_start"),
                       "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,4)"))
                 .cast("double").alias("total_value")))


@query(
    "q_events_sessionize",
    oracle="""
    WITH d AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) > 1800
                   OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id,
           CAST(SUM(is_new) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS session_id
    FROM d
    """,
)
def q_events_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity): lag + running sum of
    session starts. Partition-parallel by user at any scale."""
    e = eng(spark, sf_dir)
    ev = e.table("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag(F.col("ts").cast("double")).over(w)
    is_new = F.when(prev.isNull()
                    | ((F.col("ts").cast("double") - prev) > 1800), 1).otherwise(0)
    return (ev.withColumn("is_new", is_new)
            .select("user_id", "event_id",
                    F.sum("is_new").over(wrun).cast("bigint").alias("session_id")))


@query(
    "q_stream_sessionize",
    oracle="""
    WITH d AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) > 1800
                   OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM d
    )
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s
    GROUP BY user_id, sid
    """,
)
def q_stream_sessionize(spark, sf_dir):
    """STREAMING sessionize, graded against the batch oracle: the events
    fixture plus a far-future sentinel run through
    ``streaming.ops.sessionize_stream`` (applyInPandasWithState, event-
    time timeout) with the availableNow trigger — the sentinel advances
    the watermark past every real session's gap so the timeout flush
    emits each user's FINAL session too, making the append-mode stream
    output equal the batch gap-sessionization row-for-row
    (tests/test_streaming.py proves the multi-batch variant)."""
    import os
    import uuid
    from datetime import timedelta

    from ..catalog import get_catalog
    from ..streaming.ops import (adaptive_state_partitions,
                                 read_event_stream, run_to_memory,
                                 sessionize_stream)
    from ..session import observed

    cat = get_catalog(spark, sf_dir)
    ev = cat.table("events")
    # ONE pass over the fixture (guide §1.2, r11): max(ts) comes from
    # the parquet footer statistics (metadata-only, no job) and the
    # approximate user count rides the b0 drop-zone write below as an
    # observe() side-channel — the separate scan-and-aggregate job this
    # replaces read the whole events table once more for two scalars.
    # Footers without statistics keep the original one-agg-job path.
    # n_users only sizes the state buckets (output-invariant at any
    # value — tests/test_r11_opts.py), and the sentinel only needs to
    # exceed the true max; footer stats are exact anyway.
    rng = _footer_ts_us(cat.path("events"))
    obs = None
    if rng is None:
        mx, n_users = ev.agg(
            F.max("ts"), F.approx_count_distinct("user_id")).collect()[0]
    else:
        from pyspark.sql import Observation

        mx = _EPOCH + timedelta(microseconds=rng[1])
        obs = Observation()
        ev = ev.observe(obs, F.approx_count_distinct("user_id")
                        .alias("nu"))
    far_future = mx + timedelta(days=11)
    tag = uuid.uuid4().hex[:8]
    sdir = os.path.join(_scratch_base(), f"drpt_stream_{tag}")
    os.makedirs(sdir, exist_ok=True)

    def _drop(df, name):
        # flat files: pathGlobFilter matches leaf names only. Writing
        # through Spark pins the MICROS flavor whatever the fixture
        # stores; b1 lands second so the file source orders it last.
        tmp = os.path.join(sdir, f"_tmp_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        os.replace(os.path.join(tmp, part),
                   os.path.join(sdir, f"{name}.parquet"))

    _drop(ev, "b0")
    if obs is not None:
        got = observed(obs)  # the b0 write above computed it
        n_users = (got["nu"] if got is not None
                   else cat.table("events").agg(
                       F.approx_count_distinct("user_id")).collect()[0][0])
    _drop(_one_row_df(spark, ev.schema,
                      (-1, far_future, -1, "view", 0.0, "{}")), "b1")
    stream = read_event_stream(spark, sdir, glob="b*.parquet")
    # bucketed state key (streaming/ops.py): every state group pays a
    # fixed per-micro-batch Python round trip + state-store commit, so
    # group count — not row count — dominates at high key cardinality;
    # ~64 users per bucket amortizes the fixed cost while keeping each
    # state entry small. Emitted rows are identical (oracle-checked).
    parts = adaptive_state_partitions(spark, sdir, "b*.parquet")
    got = run_to_memory(
        sessionize_stream(stream,
                          n_buckets=max(parts, -(-int(n_users) // 64))),
        f"sessions_{tag}", timeout_s=300, state_partitions=parts)
    # the memory sink holds the rows; the drop-zone files are disposable
    import shutil
    shutil.rmtree(sdir, ignore_errors=True)
    return got.filter(F.col("user_id") >= 0)


def _one_row_df(spark, schema, values):
    """One-row DataFrame built entirely JVM-side. ``createDataFrame`` on
    local data makes a defaultParallelism-slice Python RDD, and a
    ``coalesce(1)`` write then serializes every slice's Python-worker
    round-trip into ONE task (~5 s measured at local[32]);
    ``range(1)`` + literals never leaves the JVM (~0.1 s)."""
    cols = [F.lit(v).cast(f.dataType).alias(f.name)
            for f, v in zip(schema.fields, values)]
    return spark.range(1).select(*cols)


def _footer_ts_us(path: str) -> "tuple[int, int] | None":
    """(lo_us, hi_us) of an event fixture's ``ts`` column from parquet
    FOOTER statistics — metadata-only, no Spark job (guide §1.2: the
    stream preps used to pay a full scan-and-aggregate pass to learn a
    time range the footers already record; at scale that pass reads the
    whole events table once for three scalars). Returns None when any
    row group lacks statistics — callers fall back to the original agg
    job. Handles both fixture flavors: MICROS-NTZ (datetime stats) and
    NANOS (integer-nanosecond or Timestamp stats). An integer statistic
    counts as nanoseconds only when the footer declares
    TIMESTAMP(NANOS) (catalog.parquet_ts_unit); any other integer
    flavor (plain INT64) returns None. The values feed only
    output-invariant decisions (ts-range cut points, the far-future
    sentinel, state-bucket sizing), but footer min/max are exact anyway.
    """
    import calendar
    import datetime as _dt

    from ..catalog import parquet_col_range, parquet_ts_unit

    rng = parquet_col_range(path, "ts")
    if rng is None:
        return None

    def us(v):
        if isinstance(v, _dt.datetime):
            return (calendar.timegm(v.utctimetuple()) * 1_000_000
                    + v.microsecond)
        if isinstance(v, int):
            if parquet_ts_unit(path) != "ns":
                raise TypeError("integer ts statistic of unknown unit")
            return v // 1000  # NANOS flavor: int64 nanoseconds
        value = getattr(v, "value", None)  # pandas Timestamp: ns int
        if value is not None:
            return int(value) // 1000
        raise TypeError(f"unsupported ts statistic type {type(v)}")

    try:
        return us(rng[0]), us(rng[1])
    except (TypeError, ValueError, OverflowError):
        return None


#: epoch origin for converting footer micros back to datetimes. It is
#: UTC-aware: PySpark converts a naive datetime through the DRIVER's
#: local zone but an aware one by its own offset, so the footer-path
#: sentinel names the same instant as the agg path's collected (local,
#: naive) max on any driver timezone
_EPOCH = __import__("datetime").datetime(
    1970, 1, 1, tzinfo=__import__("datetime").timezone.utc)


def _scratch_base() -> str:
    """tmpfs when available for the throwaway stream drop zones — the
    fixture files live only until the memory sink holds the rows, so
    disk durability buys nothing and the parquet write/read round-trip
    is measurably faster in memory. Falls back to the default temp
    dir."""
    import os
    import tempfile

    base = "/dev/shm"
    if os.path.isdir(base) and os.access(base, os.W_OK):
        return base
    return tempfile.gettempdir()


def _stream_drop_zone(dfs: dict) -> tuple:
    """Write each DataFrame (name -> df) as ONE flat parquet file into a
    fresh temp drop-zone directory, in dict order. Spark-written files
    pin the MICROS timestamp flavor whatever the source fixture stores,
    and flat leaf names keep ``pathGlobFilter`` matching simple. Returns
    (dir, tag); the caller removes the dir once the memory sink holds
    the rows."""
    import os
    import uuid

    tag = uuid.uuid4().hex[:8]
    sdir = os.path.join(_scratch_base(), f"drpt_stream_{tag}")
    os.makedirs(sdir, exist_ok=True)
    for name, df in dfs.items():
        tmp = os.path.join(sdir, f"_tmp_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        os.replace(os.path.join(tmp, part),
                   os.path.join(sdir, f"{name}.parquet"))
    return sdir, tag


@query(
    "q_stream_windowed_counts",
    oracle="""
    SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_windowed_counts(spark, sf_dir):
    """STREAMING tumbling-window aggregate graded against the batch
    oracle (q_events_tumbling's twin): the events fixture as a single
    drop-zone file runs through ``streaming.ops.windowed_event_counts``
    (watermarked 1-hour window agg) under the availableNow trigger in
    complete mode. One file = one micro-batch, so no row is ever late
    and stream ≡ batch exactly; the multi-batch late-data path is
    covered by tests/test_streaming.py. Spark's ``window("1 hour")``
    buckets are epoch-aligned, same as DATE_TRUNC('hour')."""
    import shutil

    from ..catalog import get_catalog
    from ..streaming.ops import (adaptive_state_partitions,
                                 read_event_stream, run_complete_to_memory,
                                 windowed_event_counts)

    ev = get_catalog(spark, sf_dir).table("events")
    sdir, tag = _stream_drop_zone({"b0": ev})
    stream = read_event_stream(spark, sdir, glob="b*.parquet")
    got = run_complete_to_memory(windowed_event_counts(stream),
                                 f"wincounts_{tag}", timeout_s=300,
                                 state_partitions=adaptive_state_partitions(
                                     spark, sdir, "b*.parquet"))
    shutil.rmtree(sdir, ignore_errors=True)
    return got


@query(
    "q_events_hopping",
    # hopping/sliding window: duration 2h, slide 1h — every event lands
    # in the two hour-aligned windows covering it; DuckDB expresses the
    # same assignment as a shifted-bucket UNION ALL
    oracle="""
    WITH w AS (
      SELECT DATE_TRUNC('hour', ts) AS window_start, value FROM events
      UNION ALL
      SELECT DATE_TRUNC('hour', ts) - INTERVAL 1 HOUR, value FROM events
    )
    SELECT window_start, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM w GROUP BY 1
    """,
)
def q_events_hopping(spark, sf_dir):
    """Hopping (sliding) window aggregate — ``window(ts, 2h, slide 1h)``
    assigns each event to both covering hour-aligned windows. The
    overlap factor (duration/slide) bounds the row expansion; the
    aggregation itself stays a partial-agg groupBy."""
    e = eng(spark, sf_dir)
    return (e.table("events")
            .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,4)"))
                 .cast("double").alias("total_value"))
            .select(F.col("w.start").alias("window_start"),
                    "n_events", "total_value"))


@query(
    "q_stream_enriched",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type,
           c.c_nationkey, c.c_mktsegment
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def q_stream_enriched(spark, sf_dir):
    """STREAMING stream-static join graded against the batch oracle:
    ``streaming.ops.enriched_stream`` left-joins the event stream to
    the static customer dimension (re-read per micro-batch, broadcast
    when small — the streaming analogue of the engine's broadcast dim
    joins). Stateless, so append mode under availableNow is exactly
    the batch join."""
    import shutil

    from ..catalog import get_catalog
    from ..streaming.ops import (enriched_stream, read_event_stream,
                                 run_to_memory)

    cat = get_catalog(spark, sf_dir)
    ev = cat.table("events")
    dim = cat.table("customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey", "c_mktsegment")
    sdir, tag = _stream_drop_zone({"b0": ev})
    stream = read_event_stream(spark, sdir, glob="b*.parquet")
    got = run_to_memory(
        enriched_stream(stream, dim).select(
            "event_id", "user_id", "event_type",
            "c_nationkey", "c_mktsegment"),
        f"enriched_{tag}", timeout_s=300)
    shutil.rmtree(sdir, ignore_errors=True)
    return got


@query(
    "q_stream_asof",
    # the batch q_events_asof oracle, restricted to the stream op's
    # output columns; DuckDB's native ASOF LEFT JOIN is the ground truth
    oracle="""
    WITH v AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
    ),
    p AS (
      SELECT user_id, ts, MAX(value) AS purchase_value
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, ts
    )
    SELECT v.event_id, v.user_id,
           p.ts AS purchase_ts, p.purchase_value
    FROM v ASOF LEFT JOIN p
        ON v.user_id = p.user_id AND v.ts >= p.ts
    """,
)
def q_stream_asof(spark, sf_dir):
    """STREAMING as-of join graded against DuckDB's native ASOF LEFT
    JOIN: the one custom stateful operator (applyInPandasWithState,
    ``streaming.ops.asof_stream`` — watermark-buffered probes, O(1)
    carried ref per user). Three time-ordered micro-batch files plus a
    far-future sentinel advance the event-time watermark so every real
    probe's match is decided before the availableNow run drains; the
    sentinel row is filtered back out of the declared output."""
    import os
    import shutil
    from datetime import timedelta

    from ..catalog import get_catalog
    from ..streaming.ops import (adaptive_state_partitions, asof_stream,
                                 read_event_stream, run_to_memory)
    from ..session import observed

    cat = get_catalog(spark, sf_dir)
    raw = cat.table("events")
    # ZERO pre-pass jobs when footers carry statistics (guide §1.2,
    # r11): the split points and the sentinel timestamp come from the
    # parquet footer min/max (metadata-only), and the approximate user
    # count rides the range-split write below as an observe() side-
    # channel — the agg job this replaces was a full scan of events for
    # four scalars. The asof output is invariant to WHERE the ts-range
    # cuts fall (any range partition keeps batches time-ordered, and
    # the sentinel flushes all buffered state), and n_users only sizes
    # the state buckets (output-invariant at any value), so equal-width
    # cuts from min/max are sufficient — and footer stats are exact
    # anyway. Footers without statistics keep the one-agg-job path.
    rng = _footer_ts_us(cat.path("events"))
    obs = None
    if rng is None:
        us = F.unix_micros("ts")
        lo, hi, mx, n_users = raw.agg(
            F.min(us), F.max(us), F.max("ts"),
            F.approx_count_distinct("user_id")).collect()[0]
        raw_w = raw
    else:
        from pyspark.sql import Observation

        lo, hi = rng
        mx = _EPOCH + timedelta(microseconds=hi)
        obs = Observation()
        raw_w = raw.observe(obs, F.approx_count_distinct("user_id")
                            .alias("nu"))
    qs = [lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3]
    far_future = mx + timedelta(days=11)
    sentinel = _one_row_df(spark, raw.schema,
                           (-1, far_future, -1, "view", 0.0, "{}"))
    sdir, tag = _stream_drop_zone({"b3": sentinel})
    # Single-pass range split: one partitioned write replaces three
    # filtered scans of the fixture (the partition column lives only in
    # the directory name, so each leaf file keeps the event schema).
    # repartition(3, "_b") puts each range in exactly ONE task — still
    # one file per range dir (the drop-zone arrival-order requirement)
    # but the three range files write in parallel instead of through a
    # single coalesce(1) task (VERDICT r10 "What's wrong" #5).
    tmp = os.path.join(sdir, "_tmp_ranges")
    us = F.unix_micros("ts")
    (raw_w.withColumn("_b", F.when(us <= qs[0], 0)
                      .when(us <= qs[1], 1).otherwise(2))
     .repartition(3, "_b")
     .write.mode("overwrite").partitionBy("_b").parquet(tmp))
    if obs is not None:
        got = observed(obs)  # the range write above computed it
        n_users = (got["nu"] if got is not None
                   else raw.agg(F.approx_count_distinct("user_id"))
                   .collect()[0][0])
    for i in range(3):
        d = os.path.join(tmp, f"_b={i}")
        if os.path.isdir(d):
            part = next(f for f in os.listdir(d)
                        if f.endswith(".parquet"))
            os.replace(os.path.join(d, part),
                       os.path.join(sdir, f"b{i}.parquet"))
        else:  # empty ts-range bucket: keep the 4-file arrival order
            empty = os.path.join(sdir, "_tmp_empty")
            raw.filter(F.lit(False)).coalesce(1).write \
                .mode("overwrite").parquet(empty)
            part = next(f for f in os.listdir(empty)
                        if f.endswith(".parquet"))
            os.replace(os.path.join(empty, part),
                       os.path.join(sdir, f"b{i}.parquet"))
    # mtime order = arrival order: the reader takes files oldest-first
    for i in range(4):
        f = os.path.join(sdir, f"b{i}.parquet")
        os.utime(f, (1_000_000 + i, 1_000_000 + i))
    stream = read_event_stream(spark, sdir, glob="b*.parquet")
    # bucketed state key: see q_stream_sessionize — per-group fixed
    # cost dominates at ~1,500 single-user groups x 4 micro-batches
    parts = adaptive_state_partitions(spark, sdir, "b*.parquet")
    got = run_to_memory(
        asof_stream(stream,
                    n_buckets=max(parts, -(-int(n_users) // 64))),
        f"asof_{tag}", timeout_s=300, state_partitions=parts)
    out = (got.filter(F.col("user_id") >= 0)
           .select("event_id", "user_id", "purchase_ts", "purchase_value"))
    out = out.localCheckpoint(eager=True)  # sink table outlives cleanup
    shutil.rmtree(sdir, ignore_errors=True)
    return out


@query(
    "q_stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def q_stream_dedup(spark, sf_dir):
    """STREAMING exact dedup graded against the batch oracle:
    ``streaming.ops.dedup_stream`` (dropDuplicatesWithinWatermark —
    state bounded by the watermark window, the only viable contract for
    an unbounded stream) over the events fixture as one drop-zone file,
    availableNow, append mode. Which physical row survives per key is
    engine-dependent, so the declared output is the surviving KEY SET
    (user_id, event_type) — deterministic in both engines."""
    import shutil

    from ..catalog import get_catalog
    from ..streaming.ops import (adaptive_state_partitions, dedup_stream,
                                 read_event_stream, run_to_memory)

    ev = get_catalog(spark, sf_dir).table("events")
    sdir, tag = _stream_drop_zone({"b0": ev})
    stream = read_event_stream(spark, sdir, glob="b*.parquet")
    deduped = dedup_stream(stream, keys=["user_id", "event_type"])
    got = run_to_memory(deduped.select("user_id", "event_type"),
                        f"dedup_{tag}", timeout_s=300,
                        state_partitions=adaptive_state_partitions(
                            spark, sdir, "b*.parquet"))
    shutil.rmtree(sdir, ignore_errors=True)
    return got


@query(
    "q_stream_curated_ingest",
    oracle=r"""
    SELECT DISTINCT md5(text) AS content_h
    FROM documents
    WHERE CAST(LEN(LIST_FILTER(STRING_SPLIT_REGEX(text, '\s+'),
              t -> t IN ('the', 'a', 'of', 'to', 'and', 'in', 'is', 'for')))
              AS DOUBLE)
          / LEN(STRING_SPLIT_REGEX(text, '\s+')) > 0.08
      AND LEN(STRING_SPLIT_REGEX(text, '\s+')) BETWEEN 20 AND 1000
      AND CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
          / LEN(STRING_SPLIT_REGEX(text, '\s+')) BETWEEN 2.0 AND 12.0
    """,
)
def q_stream_curated_ingest(spark, sf_dir):
    """STREAMING corpus-curation ingest graded against the batch oracle:
    ``streaming.ops.curated_doc_stream`` (language-ID + quality gates as
    stateless JVM expressions, then watermark-bounded exact content
    dedup) over the documents fixture with a deterministic synthetic
    ``ingest_ts`` (epoch 2026-01-01 + doc_id seconds), availableNow,
    append mode. Dedup's surviving row per hash is engine-dependent, so
    the declared output is the surviving CONTENT-HASH SET — equal to
    the batch funnel's distinct-kept-hash set by construction. Gates
    mirror functions/text.py (8-word stopword list, \\s+ tokenizer)."""
    import shutil

    from ..catalog import get_catalog
    from ..streaming.ops import (adaptive_state_partitions,
                                 curated_doc_stream, run_to_memory)

    docs = (get_catalog(spark, sf_dir).table("documents")
            .withColumn("ingest_ts",
                        F.timestamp_seconds(F.lit(1767225600)
                                            + F.col("doc_id"))))
    sdir, tag = _stream_drop_zone({"b0": docs})
    schema = docs.schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .option("pathGlobFilter", "b*.parquet")
              .parquet(sdir))
    curated = curated_doc_stream(stream, ts_col="ingest_ts")
    got = run_to_memory(curated.select("content_h"),
                        f"curated_{tag}", timeout_s=300,
                        state_partitions=adaptive_state_partitions(
                            spark, sdir, "b*.parquet"))
    shutil.rmtree(sdir, ignore_errors=True)
    return got


@query(
    "q_stream_conversions",
    oracle="""
    SELECT v.event_id AS view_id, p.event_id AS purchase_id,
           v.user_id, v.ts AS v_ts, p.ts AS p_ts
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 1 HOUR
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
)
def q_stream_conversions(spark, sf_dir):
    """STREAM-STREAM interval join graded against the batch oracle:
    ``streaming.ops.stream_stream_conversions`` (view -> same-user
    purchase within an hour; both sides watermarked and time-bounded so
    join state expires — the only viable contract for an unbounded
    stream) over the events fixture as one drop-zone file, availableNow,
    append mode. A single micro-batch means no row is ever
    watermark-dropped, so stream ≡ the batch range join exactly; the
    multi-batch late-data path is covered by tests/test_streaming.py."""
    import shutil

    from ..catalog import get_catalog
    from ..streaming.ops import (adaptive_state_partitions,
                                 read_event_stream, run_to_memory,
                                 stream_stream_conversions)

    ev = get_catalog(spark, sf_dir).table("events")
    sdir, tag = _stream_drop_zone({"b0": ev})
    stream = read_event_stream(spark, sdir, glob="b*.parquet")
    got = run_to_memory(stream_stream_conversions(stream),
                        f"conversions_{tag}", timeout_s=300,
                        state_partitions=adaptive_state_partitions(
                            spark, sdir, "b*.parquet"))
    shutil.rmtree(sdir, ignore_errors=True)
    return got


@query(
    "q_langid_heuristic",
    oracle="""
    SELECT doc_id, lang,
           ROUND(CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                     t -> t IN ('the', 'a', 'of', 'to', 'and'))) AS DOUBLE)
                 / LEN(STRING_SPLIT(text, ' ')), 6) AS stop_ratio,
           CASE WHEN CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                     t -> t IN ('the', 'a', 'of', 'to', 'and'))) AS DOUBLE)
                 / LEN(STRING_SPLIT(text, ' ')) > 0.08
                THEN 'en' ELSE 'other' END AS pred_lang
    FROM documents
    """,
)
def q_langid_heuristic(spark, sf_dir):
    """n-gram/stopword-ratio language ID heuristic — deterministic
    JVM-side formula, oracle replicates it exactly."""
    e = eng(spark, sf_dir)
    toks = F.split(F.col("text"), " ", -1)
    stop = F.size(F.filter(
        toks, lambda t: t.isin("the", "a", "of", "to", "and")))
    ratio = stop.cast("double") / F.size(toks)
    return (e.table("documents")
            .select("doc_id", "lang",
                    F.round(ratio, 6).alias("stop_ratio"),
                    F.when(ratio > 0.08, "en").otherwise("other")
                    .alias("pred_lang")))


@query(
    "q_quality_score",
    oracle="""
    SELECT doc_id,
           CAST(LEN(STRING_SPLIT(text, ' ')) AS INT) AS n_tokens,
           ROUND(CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
                 / LEN(STRING_SPLIT(text, ' ')), 6) AS avg_word_len,
           CASE WHEN LEN(STRING_SPLIT(text, ' ')) BETWEEN 20 AND 1000
                 AND CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
                     / LEN(STRING_SPLIT(text, ' ')) BETWEEN 2.0 AND 12.0
                THEN 1 ELSE 0 END AS passes_quality
    FROM documents
    """,
)
def q_quality_score(spark, sf_dir):
    """Training-data quality gate: token count + mean word length bands
    (the length/punct/stopword-ratio family, all scan-local)."""
    e = eng(spark, sf_dir)
    toks = F.split(F.col("text"), " ", -1)
    n_tok = F.size(toks)
    awl = (F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
           .cast("double") / n_tok)
    return (e.table("documents")
            .select("doc_id", n_tok.alias("n_tokens"),
                    F.round(awl, 6).alias("avg_word_len"),
                    F.when(n_tok.between(20, 1000)
                           & awl.between(2.0, 12.0), 1).otherwise(0)
                    .alias("passes_quality")))


@query(
    "q_token_regex_count",
    oracle="""
    SELECT doc_id,
           CAST(LEN(regexp_extract_all(text, '[a-z]+')) AS INT) AS n_words,
           CAST(LEN(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_nums
    FROM documents
    """,
)
def q_token_regex_count(spark, sf_dir):
    """BPE-ish regex token counting (JVM regexp, no UDF)."""
    e = eng(spark, sf_dir)
    return (e.table("documents")
            .select("doc_id",
                    F.regexp_count("text", F.lit("[a-z]+")).alias("n_words"),
                    F.regexp_count("text", F.lit("[0-9]+")).alias("n_nums")))


@query(
    "q_tfidf_topterms",
    oracle="""
    WITH toks AS (
        SELECT doc_id, t.term AS term
        FROM documents,
             UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS t(term)
        WHERE regexp_matches(t.term, '^[a-z]+$')
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
    ), dfreq AS (
        SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1
    ), scored AS (
        SELECT tf.doc_id, tf.term,
               CAST(tf.tf AS BIGINT) AS tf, CAST(dfreq.df AS BIGINT) AS df,
               ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                  ORDER BY tf.tf DESC, dfreq.df ASC,
                                           tf.term ASC) AS rk
        FROM tf JOIN dfreq USING (term)
    )
    SELECT doc_id, term, tf, df,
           ROUND(tf / CAST(df AS DOUBLE), 6) AS tfidf,
           CAST(rk AS INT) AS rk
    FROM scored WHERE rk <= 3
    """,
)
def q_tfidf_topterms(spark, sf_dir):
    """Per-document top-3 terms by tf-idf — the corpus-statistics shape
    of training-data curation (domain keywords, boilerplate detection).

    Two shuffle-on-key aggregations (term frequency per doc, document
    frequency per term) and a key-partitioned join — every stage is
    hash-distributed on its key, so the same plan runs at corpus scale
    (no driver-side vocab). Ranking ties break on INTEGER columns
    (tf desc, df asc, term asc), never on the float score: the reported
    tfidf uses 1/df rarity (a single IEEE double division, bit-identical
    across engines) rather than log-idf, so the oracle comparison is
    exact; swapping in log(N/df) changes only the reported number, not
    the plan."""
    e = eng(spark, sf_dir)
    toks = (e.table("documents")
            .select("doc_id",
                    F.explode(F.split(F.lower(F.col("text")), " ", -1))
                    .alias("term"))
            .filter(F.col("term").rlike("^[a-z]+$")))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"))
    w = (Window.partitionBy("doc_id")
         .orderBy(F.desc("tf"), F.asc("df"), F.asc("term")))
    return (tf.join(dfreq, "term")
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3)
            .select("doc_id", "term", "tf", "df",
                    F.round(F.col("tf") / F.col("df").cast("double"), 6)
                    .alias("tfidf"),
                    F.col("rk").cast("int").alias("rk")))


#: DuckDB twin of operators/dedup.HASHERS["md5_64"]: 60-bit BIGINT from
#: the first 15 md5 hex chars — bit-identical to Spark's
#: cast(conv(substring(md5(s),1,15),16,10) as bigint) (verified)
def _dd_h(e: str) -> str:
    return f"('0x' || substr(md5({e}), 1, 15))::BIGINT"


@query(
    "q_dedup_minhash",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS arr FROM documents
    ),
    sh AS (
      SELECT doc_id,
             {_dd_h("array_to_string(list_slice(arr, i.i + 1, i.i + 3), ' ')")} AS h
      FROM w, UNNEST(generate_series(0, greatest(len(arr) - 3, 0))) AS i(i)
    ),
    m AS (
      SELECT doc_id, k.k AS k,
             MIN({_dd_h("k.k::VARCHAR || '|' || h::VARCHAR")}) AS mn
      FROM sh, UNNEST(generate_series(0, 31)) AS k(k)
      GROUP BY doc_id, k.k
    ),
    sig AS (SELECT doc_id, list(mn ORDER BY k) AS sig FROM m GROUP BY doc_id),
    bands AS (
      SELECT doc_id, b.b AS band,
             {_dd_h("b.b::VARCHAR || '|' || array_to_string("
                    "list_slice(sig, CAST(b.b * 4 + 1 AS INT),"
                    " CAST(b.b * 4 + 4 AS INT)), ',')")} AS bh
      FROM sig, UNNEST(generate_series(0, 7)) AS b(b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      FROM bands a
      JOIN bands b2 ON a.band = b2.band AND a.bh = b2.bh
                   AND a.doc_id < b2.doc_id
    )
    SELECT c.id_a, c.id_b,
           ROUND(CAST(LEN(LIST_FILTER(GENERATE_SERIES(1, 32),
                 j -> sa.sig[CAST(j AS INT)] = sb.sig[CAST(j AS INT)]))
             AS DOUBLE) / 32, 4) AS est_jaccard
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.id_a
    JOIN sig sb ON sb.doc_id = c.id_b
    WHERE CAST(LEN(LIST_FILTER(GENERATE_SERIES(1, 32),
          j -> sa.sig[CAST(j AS INT)] = sb.sig[CAST(j AS INT)]))
        AS DOUBLE) / 32 >= 0.4
    ORDER BY id_a, id_b
    """,
)
def q_dedup_minhash(spark, sf_dir):
    """MinHash+LSH near-dup candidates over documents
    (operators/dedup.py: shingle -> 32 minhashes -> 8 bands ->
    bucket join; never all-pairs), on the md5_64 portable hash tier so
    the FULL operator (derived hash family, banding, signature-agreement
    scoring) carries an exact cross-engine oracle. The xxhash64 tier is
    plan-identical (only the hash template differs, dedup.HASHERS) and
    stays the production default."""
    from ..operators.dedup import minhash_lsh_pairs

    e = eng(spark, sf_dir)
    return minhash_lsh_pairs(e.table("documents"), "doc_id", "text",
                             k=32, bands=8, min_est_jaccard=0.4,
                             hash_fn="md5_64")


@query(
    "q_minhash_lsh_pairs",
    oracle="""
    WITH w AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS arr FROM documents
      WHERE LEN(STRING_SPLIT(text, ' ')) >= 3
    ),
    tok AS (
      SELECT DISTINCT doc_id,
             arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2] AS t
      FROM w, UNNEST(GENERATE_SERIES(1, LEN(arr) - 2)) AS u(i)
    ),
    sig AS (
      SELECT doc_id,
             MIN(md5('0|' || t)) AS h0, MIN(md5('1|' || t)) AS h1,
             MIN(md5('2|' || t)) AS h2, MIN(md5('3|' || t)) AS h3,
             MIN(md5('4|' || t)) AS h4, MIN(md5('5|' || t)) AS h5,
             MIN(md5('6|' || t)) AS h6, MIN(md5('7|' || t)) AS h7
      FROM tok GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band, md5(h0 || h1) AS bh FROM sig
      UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sig
      UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sig
      UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM sig
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bh = b.bh
                AND a.doc_id < b.doc_id
    ORDER BY doc_a, doc_b
    """,
)
def q_minhash_lsh_pairs(spark, sf_dir):
    """MinHash+LSH near-dup pairs with ENGINE-PORTABLE hashing, so the
    whole pipeline is oracle-verifiable (the q_dedup_minhash operator
    stays on xxhash64 — faster, but engine-specific, hence rows-only).

    Min-wise hashing needs only a uniform hash with a total order;
    md5 hex strings (lexicographic min) satisfy both and are
    bit-identical in Spark and DuckDB. 3-word shingles (word unigrams
    collapse under shared stopwords — nearly every doc pair would
    collide), 8 signatures -> 4 bands of 2: docs sharing any band
    bucket become a candidate pair. Scale shape is identical to
    operators/dedup.py:40-89 — shingles explode -> map-side-combined
    min aggregation, band bucket equi-join, never all-pairs (the
    reference has no dedup surface; training-data mandate)."""
    return _portable_minhash_pairs(eng(spark, sf_dir))


def _portable_minhash_pairs(e):
    """(doc_a < doc_b) candidate pairs via the md5-portable MinHash+LSH
    pipeline — shared by q_minhash_lsh_pairs and q_dedup_clusters."""
    # NOTE: no fan_out here. The optimizer drops tok's distinct under
    # min(), so the eight md5s per token row run in the map-side partial
    # aggregate, once, and both self-join sides read its one exchange.
    # Fanning out the explode stage was measured as a net loss on the
    # earlier plan of four per-band aggregates (q_minhash_lsh_pairs
    # 0.80 -> 1.64 s execute: one extra exchange per self-join side);
    # it has not been measured again on this one.
    w = (e.table("documents")
         .select("doc_id", F.split(F.col("text"), " ", -1).alias("arr"))
         .filter(F.size("arr") >= 3))
    tok = (w.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("arr") - 2)).alias("i"),
        "arr")
        .select("doc_id",
                F.concat_ws(" ", F.element_at("arr", F.col("i")),
                            F.element_at("arr", F.col("i") + 1),
                            F.element_at("arr", F.col("i") + 2)).alias("t"))
        .distinct())
    sig = tok.groupBy("doc_id").agg(
        *[F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("t")))).alias(f"h{i}")
          for i in range(8)])
    # the four (band, bh) rows of a document come from one inline over
    # one row of sig: a union of four projections would let column
    # pruning give each band its own scan and aggregate
    bands = sig.select("doc_id", F.inline(F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.md5(F.concat(F.col(f"h{2 * b}"),
                                F.col(f"h{2 * b + 1}"))).alias("bh"))
        for b in range(4)])))
    a, bb = bands.alias("a"), bands.alias("b")
    return (a.join(bb, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bh") == F.col("b.bh"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())


@query(
    "q_dedup_clusters",
    # same portable pair pipeline, then connected components as a
    # recursive CTE (transitive closure is fine at oracle scale; the
    # Spark side runs a union-find or min-label propagation) and an
    # anti-join keeping one canonical survivor per duplicate cluster
    oracle="""
    WITH RECURSIVE w AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS arr FROM documents
      WHERE LEN(STRING_SPLIT(text, ' ')) >= 3
    ),
    tok AS (
      SELECT DISTINCT doc_id,
             arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2] AS t
      FROM w, UNNEST(GENERATE_SERIES(1, LEN(arr) - 2)) AS u(i)
    ),
    sig AS (
      SELECT doc_id,
             MIN(md5('0|' || t)) AS h0, MIN(md5('1|' || t)) AS h1,
             MIN(md5('2|' || t)) AS h2, MIN(md5('3|' || t)) AS h3,
             MIN(md5('4|' || t)) AS h4, MIN(md5('5|' || t)) AS h5,
             MIN(md5('6|' || t)) AS h6, MIN(md5('7|' || t)) AS h7
      FROM tok GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band, md5(h0 || h1) AS bh FROM sig
      UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sig
      UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sig
      UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM sig
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS pa, b.doc_id AS pb
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.bh = b.bh
                  AND a.doc_id < b.doc_id
    ),
    und AS (
      SELECT pa AS s, pb AS d FROM pairs
      UNION SELECT pb, pa FROM pairs
    ),
    reach(s, d) AS (
      SELECT s, d FROM und
      UNION
      SELECT r.s, u.d FROM reach r JOIN und u ON r.d = u.s
    ),
    losers AS (
      SELECT s AS doc_id FROM reach GROUP BY s
      HAVING MIN(d) < s
    )
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    """,
)
def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTER dedup: candidate pairs (portable MinHash+LSH)
    -> connected components (operators/cluster.py: a driver-side
    union-find when the pairs fit the broadcast threshold, iterative
    min-label propagation otherwise) -> one canonical survivor per
    component (min doc_id).
    The oracle computes the identical components with a recursive CTE.
    This is the iterative-algorithm surface: duplicate CHAINS (a~b,
    b~c, a!~c) collapse to one survivor, which pairwise dedup cannot
    express."""
    from ..operators.cluster import dedup_clusters

    e = eng(spark, sf_dir)
    pairs = _portable_minhash_pairs(e)
    docs = e.table("documents").select("doc_id")
    # pairs_canonical: _portable_minhash_pairs ends in .distinct() with
    # doc_a < doc_b on every row, so CC skips its edge-dedup exchange
    return dedup_clusters(docs, pairs.select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")),
        pairs_canonical=True)


@query(
    "q_ann_ivf_portable",
    # the complete IVF layout — portable centroid sample, inverted-file
    # assignment, top-nprobe probe, exact rescore — computed identically
    # in both engines: md5 centroid selection, explicit (sim DESC, id
    # DESC) tie-breaks, sequential-fold dot products, rounded rescore
    oracle="""
    WITH corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings
    ),
    cents AS (
      SELECT vec_id AS centroid_id, ed AS cd FROM corpus
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8
    ),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT c.vec_id, k.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
                 list_dot_product(c.ed, k.cd)
                 / (sqrt(list_dot_product(c.ed, c.ed))
                    * sqrt(list_dot_product(k.cd, k.cd))) DESC,
                 k.centroid_id DESC) AS rn
        FROM corpus c CROSS JOIN cents k) t
      WHERE rn = 1
    ),
    qs AS (SELECT vec_id AS qid, ed AS qd FROM corpus WHERE vec_id < 5),
    probe AS (
      SELECT qid, centroid_id FROM (
        SELECT q.qid, k.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 list_dot_product(q.qd, k.cd)
                 / (sqrt(list_dot_product(q.qd, q.qd))
                    * sqrt(list_dot_product(k.cd, k.cd))) DESC,
                 k.centroid_id DESC) AS rn
        FROM qs q CROSS JOIN cents k) t
      WHERE rn <= 2
    ),
    scored AS (
      SELECT p.qid, a.vec_id,
             ROUND(list_dot_product(q.qd, co.ed)
                   / (sqrt(list_dot_product(q.qd, q.qd))
                      * sqrt(list_dot_product(co.ed, co.ed))), 6)
               AS cos_sim
      FROM probe p
      JOIN assign a USING (centroid_id)
      JOIN qs q ON q.qid = p.qid
      JOIN corpus co ON co.vec_id = a.vec_id
    )
    SELECT qid, vec_id, cos_sim, CAST(rank AS INT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rank
      FROM scored) r
    WHERE rank <= 5
    """,
)
def q_ann_ivf_portable(spark, sf_dir):
    """ORACLE-VERIFIED IVF ANN: both engines build the same index
    (8 md5-sampled centroids, argmax assignment with explicit
    (sim DESC, centroid_id DESC) tie-break), probe the same 2 lists
    per query and rescore exactly. Dot products fold sequentially in
    both engines, so even the doubles agree bit-for-bit before the
    ROUND. The operator tier (similarity.ivf_*) keeps its faster
    engine-specific hash sampling and codegen'd argmax — this query
    proves the LAYOUT's correctness end to end."""
    from pyspark.sql.window import Window as W

    from ..operators.similarity import _dot

    e = eng(spark, sf_dir)
    corpus = (e.table("embeddings")
              .select("vec_id",
                      F.expr("transform(embedding, x -> cast(x as double))")
                      .alias("ed")))
    cents = (corpus
             .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
             .limit(8)
             .select(F.col("vec_id").alias("centroid_id"),
                     F.col("ed").alias("cd")))
    cos = (F.expr(_dot("ed", "cd"))
           / (F.expr(f"sqrt({_dot('ed', 'ed')})")
              * F.expr(f"sqrt({_dot('cd', 'cd')})")))
    wa = W.partitionBy("vec_id").orderBy(
        F.col("sim").desc(), F.col("centroid_id").desc())
    assign = (corpus.crossJoin(F.broadcast(cents))
              .withColumn("sim", cos)
              .withColumn("rn", F.row_number().over(wa))
              .filter(F.col("rn") == 1)
              .select("vec_id", "centroid_id"))
    qs = (corpus.filter(F.col("vec_id") < 5)
          .select(F.col("vec_id").alias("qid"), F.col("ed").alias("qd")))
    qcos = (F.expr(_dot("qd", "cd"))
            / (F.expr(f"sqrt({_dot('qd', 'qd')})")
               * F.expr(f"sqrt({_dot('cd', 'cd')})")))
    wp = W.partitionBy("qid").orderBy(
        F.col("sim").desc(), F.col("centroid_id").desc())
    probe = (qs.crossJoin(F.broadcast(cents))
             .withColumn("sim", qcos)
             .withColumn("rn", F.row_number().over(wp))
             .filter(F.col("rn") <= 2)
             .select("qid", "qd", "centroid_id"))
    rescore = (F.expr(_dot("qd", "ed"))
               / (F.expr(f"sqrt({_dot('qd', 'qd')})")
                  * F.expr(f"sqrt({_dot('ed', 'ed')})")))
    wr = W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (probe.join(assign, "centroid_id")
            .join(corpus, "vec_id")
            .withColumn("cos_sim", F.round(rescore, 6))
            .withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= 5)
            .select("qid", "vec_id", "cos_sim", "rank"))


#: portable SimHash plumbing (q_simhash_pairs): one bit per md5 hex
#: digit — digit parity ('1','3',...,'f' => +1 vote else -1) — gives a
#: 32-bit fingerprint both engines compute bit-identically from string
#: ops alone (no 64-bit integer hashing needed). Generated once at
#: import; the Spark side mirrors it with F.sum(F.when(...)).
_SH_ODD = "('1','3','5','7','9','b','d','f')"
_SH_BITS = 32
_SH_SIG_SQL = ",\n             ".join(
    f"CASE WHEN SUM(CASE WHEN substr(md5(t), {d}, 1) IN {_SH_ODD} "
    f"THEN 1 ELSE -1 END) > 0 THEN '1' ELSE '0' END AS b{d}"
    for d in range(1, _SH_BITS + 1))
_SH_FP_SQL = " || ".join(f"b{d}" for d in range(1, _SH_BITS + 1))


@query(
    "q_simhash_pairs",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, u.t
      FROM documents, UNNEST(STRING_SPLIT(text, ' ')) AS u(t)
    ),
    sig AS (
      SELECT doc_id,
             {_SH_SIG_SQL}
      FROM tok GROUP BY doc_id
    ),
    fp AS (SELECT doc_id, {_SH_FP_SQL} AS fp FROM sig),
    bands AS (
      SELECT doc_id, b, substr(fp, b * 8 + 1, 8) AS chunk, fp
      FROM fp, UNNEST(GENERATE_SERIES(0, 3)) AS g(b)
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(LEN(LIST_FILTER(GENERATE_SERIES(1, {_SH_BITS}),
                i -> substr(a.fp, CAST(i AS INT), 1)
                     <> substr(b.fp, CAST(i AS INT), 1))) AS BIGINT)
             AS hamming
    FROM bands a
    JOIN bands b ON a.b = b.b AND a.chunk = b.chunk
                AND a.doc_id < b.doc_id
    WHERE LEN(LIST_FILTER(GENERATE_SERIES(1, {_SH_BITS}),
              i -> substr(a.fp, CAST(i AS INT), 1)
                   <> substr(b.fp, CAST(i AS INT), 1))) <= 2
    ORDER BY doc_a, doc_b
    """,
)
def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs with ENGINE-PORTABLE hashing (the
    q_dedup_simhash operator stays on xxhash64 — rows-only): one vote
    bit per md5 hex digit's parity -> 32-bit fingerprint as a '0'/'1'
    string, 4 banded 8-bit chunks for candidate generation (Hamming<=2
    within a 32-bit simhash implies equality on >=1 of 4 chunks only
    probabilistically — the banding here is the standard recall/cost
    trade, same shape as operators/dedup.py:92-139), exact Hamming
    re-check on candidates. Bit-identical in Spark and DuckDB: string
    md5 + substr + integer votes, no engine hash."""
    e = eng(spark, sf_dir)
    # md5 hoisted to ONE evaluation per distinct (doc, token): leaving
    # it inside the 32 vote aggregates re-hashes every token row 32
    # times (Catalyst does not CSE across aggregate expressions) —
    # measured as ~5x of this query's sf0.1 runtime
    from ..operators.layout import fan_out

    tok = (fan_out(e.table("documents").select("doc_id", "text"))
           .select("doc_id",
                   F.explode(F.split("text", " ", -1)).alias("t"))
           .distinct()
           .select("doc_id", F.md5("t").alias("h")))
    odd = set("13579bdf")
    sig = tok.groupBy("doc_id").agg(*[
        F.when(F.sum(
            F.when(F.substring("h", d, 1).isin(*odd), 1)
            .otherwise(-1)) > 0, "1").otherwise("0").alias(f"b{d}")
        for d in range(1, _SH_BITS + 1)])
    fp = sig.select(
        "doc_id",
        F.concat(*[F.col(f"b{d}")
                   for d in range(1, _SH_BITS + 1)]).alias("fp"))
    # fpi (fingerprint as integer) is computed ONCE PER BAND ROW, below
    # the self-join: the candidate join fans out to ~6M pairs at sf0.1,
    # and evaluating conv(fp, 2, 10) — a 32-char string parse — on the
    # join OUTPUT paid it 2 x 6M times instead of 4 x |docs|, and
    # shipped two 32-char strings per candidate pair through the join.
    # The join now carries (doc_id, b, chunk, fpi) only.
    bands = (fp.select(
        "doc_id",
        F.expr("cast(conv(fp, 2, 10) as bigint)").alias("fpi"),
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("b"),
        F.expr("fp").alias("_fp"))
        .withColumn("chunk", F.expr("substr(_fp, b * 8 + 1, 8)"))
        .drop("_fp"))
    # the candidate join fans out ~300x (6M pairs from 20k band rows at
    # sf0.1); AQE coalesces the tiny upstream shuffle to ONE partition,
    # so without a probe-side fan_out the whole explosion runs in a
    # single task (AQE prices shuffle bytes, not join fanout)
    a, bb = fan_out(bands).alias("a"), bands.alias("b")
    # bit_count over the XOR of the fingerprints-as-integers, NOT a
    # per-position higher-order lambda: filter(sequence(...), i ->
    # substr(...)) runs interpreted per element (~130s at sf0.1);
    # xor+bit_count stays in codegen. Semantics identical to the
    # oracle's positional count: both count differing bits of the same
    # '0'/'1' string.
    ham = F.expr("bit_count(a.fpi ^ b.fpi)")
    return (a.join(bb, (F.col("a.b") == F.col("b.b"))
                   & (F.col("a.chunk") == F.col("b.chunk"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .withColumn("hamming", ham.cast("bigint"))
            .filter(F.col("hamming") <= 2)
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"), "hamming")
            .distinct())


_DS_SUMS = ",\n             ".join(
    f"SUM((h >> {i}) & 1) AS b{i}" for i in range(60))
_DS_ASSEMBLE = " + ".join(
    f"(CASE WHEN 2 * b{i} > n THEN (1::BIGINT << {i}) ELSE 0 END)"
    for i in range(60))


@query(
    "q_dedup_simhash",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_dd_h("t.t")} AS h
      FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS arr
            FROM documents), UNNEST(arr) AS t(t)
    ),
    sig AS (
      SELECT doc_id, COUNT(*) AS n,
             {_DS_SUMS}
      FROM tok GROUP BY doc_id
    ),
    fp AS (SELECT doc_id, ({_DS_ASSEMBLE})::BIGINT AS sim FROM sig),
    ch AS (
      SELECT doc_id, sim, c.c AS c,
             (sim >> CAST(16 * c.c AS INT)) & 65535 AS v
      FROM fp, UNNEST(generate_series(0, 3)) AS c(c)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.sim AS sa, b.sim AS sb
      FROM ch a JOIN ch b ON a.c = b.c AND a.v = b.v
                         AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, bit_count(xor(sa, sb)) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= 12
    ORDER BY id_a, id_b
    """,
)
def q_dedup_simhash(spark, sf_dir):
    """SimHash near-dup candidates (64-bit signatures, banded 16-bit
    chunks, exact Hamming re-check) on the md5_64 portable hash tier —
    the full operator path (vote fold, chunk join, bit_count) verifies
    against an exact DuckDB twin; bits 60-63 of the 60-bit portable
    hash are structurally zero on both engines. xxhash64 stays the
    production default (plan-identical, dedup.HASHERS)."""
    from ..operators.dedup import simhash_pairs

    e = eng(spark, sf_dir)
    return simhash_pairs(e.table("documents"), "doc_id", "text",
                         max_hamming=12, hash_fn="md5_64")


def _hyperplanes(n_planes: int = 16, dim: int = 64) -> list:
    """Deterministic pseudo-random +-1 hyperplanes from md5 parity —
    computed in PYTHON (hashlib) at import and embedded as literals in
    BOTH engines' query texts, so the LSH signatures are bit-identical
    by construction (no engine hash involved at all)."""
    import hashlib

    return [[1.0 if int(hashlib.md5(f"{p}|{i}".encode())
                        .hexdigest()[0], 16) % 2 else -1.0
             for i in range(dim)]
            for p in range(n_planes)]


_EL_PLANES = _hyperplanes()
_EL_SIG_SQL = ",\n             ".join(
    "CASE WHEN list_dot_product(v, ["
    + ", ".join(str(w) for w in plane)
    + f"]) > 0 THEN '1' ELSE '0' END AS p{p}"
    for p, plane in enumerate(_EL_PLANES))
_EL_FP_SQL = " || ".join(f"p{p}" for p in range(len(_EL_PLANES)))
_EL_COS = ("list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v))"
           " * sqrt(list_dot_product(b.v, b.v)))")


@query(
    "q_embed_neardup_lsh_portable",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    sig AS (
      SELECT vec_id, v,
             {_EL_SIG_SQL}
      FROM e
    ),
    fp AS (SELECT vec_id, v, {_EL_FP_SQL} AS fp FROM sig),
    bands AS (
      SELECT vec_id, v, b, substr(fp, b * 4 + 1, 4) AS chunk
      FROM fp, UNNEST(GENERATE_SERIES(0, 3)) AS g(b)
    )
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({_EL_COS}, 6) AS cos_sim
    FROM bands a
    JOIN bands b ON a.b = b.b AND a.chunk = b.chunk
                AND a.vec_id < b.vec_id
    WHERE {_EL_COS} >= 0.4
    ORDER BY id_a, id_b
    """,
)
def q_embed_neardup_lsh_portable(spark, sf_dir):
    """Embedding near-dup via hyperplane LSH with ENGINE-PORTABLE
    signatures: +-1 hyperplanes derived from md5 parity in Python and
    embedded as literals in both plans, sign-of-dot-product bits, 4
    banded 4-bit chunks for candidate generation, exact cosine >= 0.4
    re-check on candidates only (never all-pairs — the scale shape of
    operators/similarity.py:55-151's LSH ANN, here made oracle-
    checkable end-to-end)."""
    e = eng(spark, sf_dir)
    emb = e.table("embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"))

    def dot_lit(plane):
        lits = ", ".join(f"{w}D" for w in plane)
        return (f"aggregate(zip_with(v, array({lits}),"
                " (x, y) -> x * y), 0D, (acc, x) -> acc + x)")

    sig = emb.select(
        "vec_id", "v",
        *[F.when(F.expr(dot_lit(plane)) > 0, "1").otherwise("0")
          .alias(f"p{p}") for p, plane in enumerate(_EL_PLANES)])
    fp = sig.select(
        "vec_id", "v",
        F.concat(*[F.col(f"p{p}")
                   for p in range(len(_EL_PLANES))]).alias("fp"))
    # the vector norm is computed ONCE per vector before the band
    # explode/join: higher-order folds run interpreted, and the 4-bit
    # chunks admit ~25% of random pairs — evaluating three 64-dim dots
    # per candidate (a.b, a.a, b.b) was ~3x this query's runtime
    dot_vv = "aggregate(zip_with(v, v, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    bands = (fp.select(
        "vec_id", "v", "fp",
        F.expr(f"sqrt({dot_vv})").alias("nrm"),
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("b"))
        .withColumn("chunk", F.expr("substr(fp, b * 4 + 1, 4)"))
        .drop("fp"))

    a, bb = (bands.select(F.col("vec_id").alias("id_a"),
                          F.col("v").alias("va"), F.col("nrm").alias("na"),
                          "b", "chunk"),
             bands.select(F.col("vec_id").alias("id_b"),
                          F.col("v").alias("vb"), F.col("nrm").alias("nb"),
                          F.col("b").alias("b2"),
                          F.col("chunk").alias("chunk2")))
    cs = (F.expr("aggregate(zip_with(va, vb, (x, y) -> x * y),"
                 " 0D, (acc, x) -> acc + x)")
          / (F.col("na") * F.col("nb")))
    return (a.join(bb, (F.col("b") == F.col("b2"))
                   & (F.col("chunk") == F.col("chunk2"))
                   & (F.col("id_a") < F.col("id_b")))
            .withColumn("cs", cs)
            .filter(F.col("cs") >= 0.4)
            .select("id_a", "id_b", F.round("cs", 6).alias("cos_sim"))
            .distinct())


@query(
    "q_embed_neardup_exact",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE vec_id < 1000)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))) >= 0.4
    """,
)
def q_embed_neardup_exact(spark, sf_dir):
    """Exact all-pairs cosine near-dup over an EXPLICIT sample
    (vec_id < 1000): ground truth for the LSH variant. The quadratic
    pair space is the point of the query, so it must be bounded by
    construction — the scale path is q_embed_neardup_lsh's bucketed
    band join, never this."""
    from ..operators.similarity import cosine_sim

    e = eng(spark, sf_dir)
    emb = e.table("embeddings").filter(F.col("vec_id") < 1000)
    a = emb.select(F.col("vec_id").alias("id_a"),
                   F.expr("transform(embedding, x -> cast(x as double))").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"),
                   F.expr("transform(embedding, x -> cast(x as double))").alias("eb"))
    pairs = (a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
             .withColumn("cs", cosine_sim("ea", "eb"))
             .filter(F.col("cs") >= 0.4))
    return pairs.select("id_a", "id_b", F.round("cs", 6).alias("cos_sim"))


@query(
    "q_embed_neardup_lsh",
    # the md5_64 plane tier makes the banded candidate set — and so the
    # approximate pair set itself — a deterministic quantity both
    # engines compute identically (recall < 1 is a property of the
    # index, not nondeterminism); oracle twin of
    # similarity.cosine_neardup_pairs on the _LSH_SIG_CTES bands
    oracle=f"""
    WITH {_LSH_SIG_CTES},
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands a JOIN bands b USING (band_id, band_val)
      WHERE a.vec_id < b.vec_id
    )
    SELECT c.id_a, c.id_b,
           ROUND(list_dot_product(x.ed, y.ed)
             / (sqrt(list_dot_product(x.ed, x.ed))
                * sqrt(list_dot_product(y.ed, y.ed))), 6) AS cos_sim
    FROM cand c
    JOIN corpus x ON x.vec_id = c.id_a
    JOIN corpus y ON y.vec_id = c.id_b
    WHERE list_dot_product(x.ed, y.ed)
          / (sqrt(list_dot_product(x.ed, x.ed))
             * sqrt(list_dot_product(y.ed, y.ed))) >= 0.4
    """,
)
def q_embed_neardup_lsh(spark, sf_dir):
    """The FULL near-dup operator path (operators/similarity.py
    cosine_neardup_pairs: hyperplane signatures -> 8 banded 2-bit
    buckets -> candidate join, never all-pairs -> exact rescore) on
    the md5_64 portable plane tier — ORACLE-BEARING since r7
    (previously rows-only); xxhash64 stays the plan-identical
    production default."""
    from ..operators.similarity import cosine_neardup_pairs

    e = eng(spark, sf_dir)
    return cosine_neardup_pairs(e.table("embeddings"), threshold=0.4,
                                n_planes=16, n_bands=8, hasher="md5_64")


@query(
    "q_ann_lsh_topk",
    # the md5_64 plane tier makes the banded candidate set — and so the
    # approximate result itself — a deterministic quantity both engines
    # compute identically (approximation != nondeterminism)
    oracle=f"""
    WITH {_LSH_SIG_CTES},
    cand AS (
      SELECT DISTINCT b.vec_id
      FROM bands b JOIN bands q USING (band_id, band_val)
      WHERE q.vec_id = 0 AND b.vec_id <> 0
    ),
    qv AS (SELECT ed AS qd FROM corpus WHERE vec_id = 0),
    scored AS (
      SELECT c.vec_id,
             ROUND(list_dot_product(co.ed, q.qd)
               / (sqrt(list_dot_product(co.ed, co.ed))
                  * sqrt(list_dot_product(q.qd, q.qd))), 6) AS cos_sim
      FROM cand c
      JOIN corpus co ON co.vec_id = c.vec_id
      CROSS JOIN qv q
    )
    SELECT vec_id, cos_sim FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id) AS rn
      FROM scored) t
    WHERE rn <= 10
    """,
)
def q_ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed approximate nearest neighbours for one query vector.
    The query vector stays a DataFrame end-to-end (no .collect()): the
    batch band-bucket path runs with a 1-row broadcast query set. On
    the md5_64 plane tier the whole bucket structure is engine-portable
    — ORACLE-BEARING since r6 (previously rows-only)."""
    from ..operators.similarity import as_double, lsh_topk_batch

    e = eng(spark, sf_dir)
    emb = e.table("embeddings")
    q = (emb.filter(F.col("vec_id") == 0)
         .select(F.col("vec_id").alias("qid"), as_double().alias("qv")))
    return (lsh_topk_batch(emb.filter(F.col("vec_id") != 0), q,
                           k=10, n_planes=16, n_bands=8, hasher="md5_64")
            .select("vec_id", "cos_sim")
            .orderBy(F.col("cos_sim").desc(), "vec_id"))


@query("q_multimodal_features")  # stubbed decode => rows-only
def q_multimodal_features(spark, sf_dir):
    """Binary-column pipeline: payload -> mapInPandas decode (stub) ->
    feature vector + byte stats (operators/multimodal.py)."""
    from ..operators.multimodal import documents_as_assets, extract_features

    e = eng(spark, sf_dir)
    assets = documents_as_assets(e.table("documents"))
    feats = extract_features(assets, dim=8)
    return (feats.groupBy("media_type")
            .agg(F.count(F.lit(1)).alias("n_assets"),
                 F.sum("n_bytes").alias("total_bytes"),
                 F.round(F.avg(F.element_at("feature", 1)), 6)
                 .alias("avg_f0")))


#: hex-pair -> byte value, portable string ops only
_HEXPOS = "0123456789abcdef"


def _sha_byte_sql(i: int) -> str:
    return (f"CAST((position(substr(h, {2 * i + 1}, 1) IN '{_HEXPOS}') - 1)"
            f" * 16 + (position(substr(h, {2 * i + 2}, 1) IN '{_HEXPOS}')"
            f" - 1) AS INT) AS b{i}")


@query(
    "q_multimodal_features_portable",
    # the stub's deterministic fake (sha256-derived bytes) re-derived in
    # portable SQL: the ORACLE verifies the mapInPandas PLUMBING — Arrow
    # batch alignment, schema, row identity — end to end; only the
    # decode itself remains a stub
    oracle=f"""
    WITH s AS (
      SELECT doc_id AS asset_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
             sha256(text) AS h
      FROM documents WHERE doc_id < 500
    )
    SELECT asset_id, n_bytes,
           {", ".join(_sha_byte_sql(i) for i in range(8))}
    FROM s
    """,
)
def q_multimodal_features_portable(spark, sf_dir):
    """The multimodal pipeline's ORACLE-CHECKABLE tier: the stub
    feature is f_i = byte_i(sha256(payload))/255 - 0.5, so recovering
    round((f_i + 0.5) * 255) must reproduce the digest bytes DuckDB
    computes with string ops alone. Any mapInPandas misalignment
    (batch ordering, schema drift, row identity) breaks the match —
    the plumbing is verified; the decode stays honestly stubbed."""
    from ..operators.multimodal import documents_as_assets, extract_features

    e = eng(spark, sf_dir)
    assets = documents_as_assets(
        e.table("documents").filter(F.col("doc_id") < 500))
    feats = extract_features(assets, dim=8)
    cols = [F.round((F.element_at("feature", i + 1) + F.lit(0.5)) * 255)
            .cast("int").alias(f"b{i}") for i in range(8)]
    return feats.select("asset_id", "n_bytes", *cols)


@query(
    "q_events_json",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k
    FROM events
    GROUP BY event_type
    """,
)
def q_events_json(spark, sf_dir):
    """JSON payload extraction over the props column."""
    e = eng(spark, sf_dir)
    ev = e.table("events")
    return (ev.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.get_json_object("props", "$.k").cast("bigint"))
                 .cast("bigint").alias("sum_k")))


@query(
    "q_ann_ivf_topk",
    # md5_64 centroid-sample tier (ivf_centroids hasher): the whole IVF
    # index is a deterministic cross-engine quantity, so the
    # approximate top-10 itself has an exact oracle — assignment argmax
    # on dot/|c| (row norms cancel) ties to the LARGER centroid id,
    # probe ties to the SMALLER, rescore ROUND(...,6) ties to vec_id,
    # all matching ivf_topk_batch
    oracle="""
    WITH corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings
      WHERE vec_id <> 0
    ),
    qs AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qd FROM embeddings
      WHERE vec_id = 0
    ),
    cents AS (
      SELECT vec_id AS centroid_id, ed AS cd FROM corpus
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT c.vec_id, k.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
                 list_dot_product(c.ed, k.cd)
                   / sqrt(list_dot_product(k.cd, k.cd)) DESC,
                 k.centroid_id DESC) AS rn
        FROM corpus c CROSS JOIN cents k) t
      WHERE rn = 1
    ),
    probe AS (
      SELECT centroid_id FROM (
        SELECT k.centroid_id,
               ROW_NUMBER() OVER (ORDER BY
                 list_dot_product(q.qd, k.cd)
                   / (sqrt(list_dot_product(q.qd, q.qd))
                      * sqrt(list_dot_product(k.cd, k.cd))) DESC,
                 k.centroid_id) AS rn
        FROM qs q CROSS JOIN cents k) t
      WHERE rn <= 4
    ),
    scored AS (
      SELECT a.vec_id,
             ROUND(list_dot_product(co.ed, q.qd)
               / (sqrt(list_dot_product(co.ed, co.ed))
                  * sqrt(list_dot_product(q.qd, q.qd))), 6) AS cos_sim
      FROM probe p
      JOIN assign a USING (centroid_id)
      JOIN corpus co ON co.vec_id = a.vec_id
      CROSS JOIN qs q
    )
    SELECT vec_id, cos_sim FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id) AS rn
      FROM scored) t
    WHERE rn <= 10
    """,
)
def q_ann_ivf_topk(spark, sf_dir):
    """IVF approximate nearest neighbours: hash-sampled centroids,
    inverted-list assignment, nprobe-bounded scan + exact rescore.
    Fully distributed — the query vector is a 1-row DataFrame into the
    batch path, no .collect() anywhere in plan construction. Runs on
    the md5_64 centroid-sample tier, which makes the approximate
    result itself ORACLE-BEARING since r7 (previously rows-only);
    the xxhash64 production sample stays plan-identical."""
    from ..operators.similarity import as_double, ivf_topk_batch

    e = eng(spark, sf_dir)
    emb = e.table("embeddings")
    q = (emb.filter(F.col("vec_id") == 0)
         .select(F.col("vec_id").alias("qid"), as_double().alias("qv")))
    return (ivf_topk_batch(emb.filter(F.col("vec_id") != 0), q,
                           k=10, n_centroids=16, nprobe=4,
                           hasher="md5_64")
            .select("vec_id", "cos_sim")
            .orderBy(F.col("cos_sim").desc(), "vec_id"))


@query(
    "q_skew_salted_join",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_skew_salted_join(spark, sf_dir):
    """Skew-safe salted equi-join (operators/skew.py): hot probe keys
    scatter over 8 salts, build rows replicate only for those keys —
    must be result-identical to the plain join, which is the oracle."""
    from ..operators.skew import detect_hot_keys, salted_join

    e = eng(spark, sf_dir)
    l, o = e.table("lineitem"), e.table("orders")
    hot = detect_hot_keys(l, "l_orderkey", top_n=5, min_share=0.0005,
                          sample_fraction=0.05)
    # project the probe to the two columns the aggregate reads BEFORE
    # the salted join: the salt projection is opaque width the join
    # would otherwise carry for all 16 lineitem columns
    j = salted_join(l.select("l_orderkey", "l_quantity"),
                    o.select("o_orderkey", "o_orderpriority"),
                    "l_orderkey", "o_orderkey",
                    hot_keys=hot or None, n_salts=8)
    return (j.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("l_quantity").cast("decimal(18,4)"))
                 .cast("double").alias("sum_qty")))


@query(
    "q_events_funnel",
    oracle="""
    WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
         p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
    SELECT COUNT(DISTINCT v.user_id) AS users_viewed,
           COUNT(DISTINCT CASE WHEN conv THEN v.user_id END)
               AS users_converted
    FROM (SELECT v.user_id,
                 EXISTS (SELECT 1 FROM p
                         WHERE p.user_id = v.user_id
                           AND p.ts >= v.ts
                           AND p.ts <= v.ts + INTERVAL 1 HOUR) AS conv
          FROM v) v(user_id, conv)
    """,
)
def q_events_funnel(spark, sf_dir):
    """View -> purchase-within-1h conversion funnel: per-user windowed
    self-join (shuffle keyed on user_id — the co-partitioning a funnel
    needs at any scale), semi-join for the EXISTS."""
    e = eng(spark, sf_dir)
    ev = e.table("events")
    views = (ev.filter(F.col("event_type") == "view")
             .select("user_id", F.col("ts").alias("v_ts")))
    buys = (ev.filter(F.col("event_type") == "purchase")
            .select(F.col("user_id").alias("p_user"),
                    F.col("ts").alias("p_ts")))
    conv = views.join(
        buys,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_semi").select("user_id").distinct()
    return (views.agg(F.count_distinct("user_id").alias("users_viewed"))
            .crossJoin(conv.agg(
                F.count_distinct("user_id").alias("users_converted"))))


@query(
    "q_events_asof",
    oracle="""
    WITH v AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
    ),
    p AS (
      SELECT user_id, ts, MAX(value) AS purchase_value
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, ts
    )
    SELECT v.event_id, v.user_id,
           p.ts AS purchase_ts, p.purchase_value
    FROM v ASOF LEFT JOIN p
        ON v.user_id = p.user_id AND v.ts >= p.ts
    """,
)
def q_events_asof(spark, sf_dir):
    """As-of join (operators/asof.py): each view event picks up the
    user's most recent purchase at or before it. Spark lacks ASOF JOIN;
    the union+window implementation does ONE shuffle of |L|+|R| rows —
    DuckDB's native ASOF LEFT JOIN is the exact oracle."""
    from ..operators.asof import asof_join

    e = eng(spark, sf_dir)
    ev = e.table("events")
    views = (ev.filter(F.col("event_type") == "view")
             .select("event_id", "user_id", "ts"))
    buys = (ev.filter(F.col("event_type") == "purchase")
            .groupBy("user_id", "ts")
            .agg(F.max("value").alias("purchase_value")))
    return (asof_join(views, buys, on="user_id",
                      payload=["purchase_value"],
                      matched_ts="purchase_ts")
            .select("event_id", "user_id", "purchase_ts",
                    "purchase_value"))


@query(
    "q_events_interval_join",
    oracle="""
    WITH inc AS (
      SELECT event_id AS inc_id, user_id AS inc_user, ts AS t0,
             ts + INTERVAL 10 MINUTE AS t1
      FROM events WHERE event_type = 'error'
    ),
    v AS (SELECT event_id, ts FROM events WHERE event_type = 'view')
    SELECT inc_id, COUNT(event_id) AS n_views
    FROM inc LEFT JOIN v ON v.ts >= inc.t0 AND v.ts < inc.t1
    GROUP BY inc_id
    """,
)
def q_events_interval_join(spark, sf_dir):
    """Point-in-interval range join (operators/interval.py): views
    falling inside each error's 10-minute incident window, counted per
    incident. No equi key at all — the bucketed rewrite turns what
    Spark would plan as a nested-loop join into a shuffle equi-join on
    bucket ids; the LEFT-preserving count comes from re-joining matches
    to the interval set."""
    from ..operators.interval import interval_point_join

    e = eng(spark, sf_dir)
    ev = e.table("events")
    inc = (ev.filter(F.col("event_type") == "error")
           .select(F.col("event_id").alias("inc_id"),
                   F.col("ts").alias("t0"),
                   (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("t1")))
    views = (ev.filter(F.col("event_type") == "view")
             .select(F.col("event_id").alias("v_id"),
                     F.col("ts").alias("v_ts")))
    matches = (interval_point_join(views, inc, "v_ts", "t0", "t1",
                                   bucket_s=600)
               .groupBy("inc_id").agg(F.count("v_id").alias("n_views")))
    return (inc.select("inc_id").join(matches, "inc_id", "left")
            .select("inc_id", F.coalesce("n_views", F.lit(0))
                    .alias("n_views")))


@query(
    "q_events_retention",
    oracle="""
    WITH d AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE)
                   AS day FROM events)
    SELECT a.day AS cohort_day, COUNT(DISTINCT a.user_id) AS n_users,
           COUNT(DISTINCT b.user_id) AS retained_next_day
    FROM d a LEFT JOIN d b
        ON a.user_id = b.user_id AND b.day = a.day + INTERVAL 1 DAY
    GROUP BY a.day
    ORDER BY a.day
    """,
)
def q_events_retention(spark, sf_dir):
    """Day-over-day retention: distinct active days per user, self-joined
    one day apart — the cohort-retention shape, co-partitioned on
    user_id so the self-join shuffles each side once at any scale."""
    e = eng(spark, sf_dir)
    d = (e.table("events")
         .select("user_id", F.to_date(F.date_trunc("day", "ts")).alias("day"))
         .distinct())
    b = d.select(F.col("user_id").alias("b_user"), F.col("day").alias("b_day"))
    j = d.join(b, (F.col("user_id") == F.col("b_user"))
               & (F.col("b_day") == F.date_add(F.col("day"), 1)), "left")
    return (j.groupBy(F.col("day").alias("cohort_day"))
            .agg(F.count_distinct("user_id").alias("n_users"),
                 F.count_distinct("b_user").alias("retained_next_day"))
            .orderBy("cohort_day"))


@query(
    "q_corpus_curation",
    oracle="""
    WITH gated AS (
      SELECT doc_id, lang, md5(text) AS h,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS INT) AS n_tok,
             CASE WHEN CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                       t -> t IN ('the', 'a', 'of', 'to', 'and'))) AS DOUBLE)
                   / LEN(STRING_SPLIT(text, ' ')) > 0.08
                  THEN 1 ELSE 0 END AS is_en,
             CASE WHEN LEN(STRING_SPLIT(text, ' ')) BETWEEN 20 AND 1000
                   AND CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
                       / LEN(STRING_SPLIT(text, ' ')) BETWEEN 2.0 AND 12.0
                  THEN 1 ELSE 0 END AS is_q
      FROM documents
    ),
    winners AS (
      SELECT h, MIN(doc_id) AS keep_id
      FROM gated WHERE is_en = 1 AND is_q = 1 GROUP BY h
    )
    SELECT g.lang,
           COUNT(*) AS docs_total,
           CAST(SUM(g.is_en) AS BIGINT) AS docs_en,
           CAST(SUM(CASE WHEN g.is_en = 1 AND g.is_q = 1
                    THEN 1 ELSE 0 END) AS BIGINT) AS docs_quality,
           CAST(SUM(CASE WHEN w.keep_id IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
           CAST(SUM(CASE WHEN w.keep_id IS NOT NULL
                    THEN g.n_tok ELSE 0 END) AS BIGINT) AS tokens_kept
    FROM gated g LEFT JOIN winners w ON g.doc_id = w.keep_id
    GROUP BY g.lang
    ORDER BY g.lang
    """,
)
def q_corpus_curation(spark, sf_dir):
    """End-to-end training-data curation funnel in ONE declared query:
    language-ID gate -> quality gate -> exact content dedup (keep the
    smallest doc_id per md5) -> per-lang funnel report (docs at each
    stage + tokens surviving curation).

    This is the composition the individual q_langid_heuristic /
    q_quality_score / q_dedup_exact queries exist for; the funnel shape
    is what a corpus pipeline actually runs. Scale: the gates are
    scan-local JVM expressions computed in the SAME pass as the hash
    (one scan of documents), dedup is one hash aggregation on md5
    (map-side partial combine), and the winner join is doc_id = keep_id
    equi (both sides shuffle once on a unique key; winners is the
    distinct-text subset, never a crossJoin). No Python UDFs anywhere.
    Reference has no pipeline surface (SURVEY.md §2d "not present");
    this extends it per the training-data mandate.
    """
    e = eng(spark, sf_dir)
    toks = F.split(F.col("text"), " ", -1)
    n_tok = F.size(toks)
    stop_ratio = (F.size(F.filter(
        toks, lambda t: t.isin("the", "a", "of", "to", "and")))
        .cast("double") / n_tok)
    awl = (F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
           .cast("double") / n_tok)
    gated = e.table("documents").select(
        "doc_id", "lang", F.md5("text").alias("h"),
        n_tok.alias("n_tok"),
        F.when(stop_ratio > 0.08, 1).otherwise(0).alias("is_en"),
        F.when(n_tok.between(20, 1000)
               & awl.between(2.0, 12.0), 1).otherwise(0).alias("is_q"))
    winners = (gated.filter((F.col("is_en") == 1) & (F.col("is_q") == 1))
               .groupBy("h").agg(F.min("doc_id").alias("keep_id")))
    j = gated.join(winners, gated["doc_id"] == winners["keep_id"], "left")
    kept = F.col("keep_id").isNotNull()
    return (j.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("docs_total"),
                 F.sum("is_en").alias("docs_en"),
                 F.sum(F.when((F.col("is_en") == 1) & (F.col("is_q") == 1), 1)
                       .otherwise(0)).alias("docs_quality"),
                 F.sum(F.when(kept, 1).otherwise(0)).alias("docs_kept"),
                 F.sum(F.when(kept, F.col("n_tok")).otherwise(0))
                 .alias("tokens_kept"))
            .orderBy("lang"))


@query(
    "q_stratified_sample",
    # Corpus rebalancing by stratified deterministic sampling — THE
    # training-data idiom for taming a dominant language/source: each
    # stratum gets its own md5-gate keep-rate (en ~25% = first byte
    # < 0x40, everything else ~75% = < 0xc0). Stateless and scan-local
    # like q_sample_hash, so at 100 TB it is one pass with no seed
    # coordination, no shuffle before the audit agg, and bit-identical
    # row membership across engines and re-runs.
    oracle="""
    WITH sampled AS (
      SELECT doc_id, lang, n_chars
      FROM documents
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
            < CASE WHEN lang = 'en' THEN '40' ELSE 'c0' END
    )
    SELECT lang, COUNT(*) AS n_kept,
           CAST(SUM(n_chars) AS BIGINT) AS chars_kept,
           MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM sampled GROUP BY lang
    """,
)
def q_stratified_sample(spark, sf_dir):
    """Per-stratum deterministic hash sampling + audit aggregate."""
    e = eng(spark, sf_dir)
    d = e.table("documents")
    gate = F.when(F.col("lang") == "en", "40").otherwise("c0")
    return (d.filter(F.md5(F.col("doc_id").cast("string")).substr(1, 2)
                     < gate)
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.sum("n_chars").alias("chars_kept"),
                 F.min("doc_id").alias("min_id"),
                 F.max("doc_id").alias("max_id")))


@query(
    "q_pack_sequences",
    # Sequence packing for LLM training: concatenate each shard's
    # documents in deterministic (doc_id) order and chunk the stream
    # into fixed 2048-token context windows; a doc's bin is the window
    # its start offset falls in (the streaming concat-and-chunk idiom).
    # Shard-local by construction (window PARTITION BY source), so at
    # 100 TB it is one shuffle by shard + a per-shard running sum —
    # no global ordering, no driver state. The audit aggregate checks
    # bin occupancy per shard.
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ), packed AS (
      SELECT doc_id, source, n_tok,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) - n_tok AS start_off
      FROM toks
    )
    SELECT source, CAST(FLOOR(start_off / 2048.0) AS BIGINT) AS bin,
           COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS bin_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM packed GROUP BY source, bin
    """,
)
def q_pack_sequences(spark, sf_dir):
    """Greedy concat-and-chunk packing into 2048-token windows."""
    e = eng(spark, sf_dir)
    d = e.table("documents")
    n_tok = F.size(F.split("text", " ", -1)).cast("bigint")
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    packed = d.select(
        "doc_id", "source", n_tok.alias("n_tok")).withColumn(
        "start_off", F.sum("n_tok").over(w) - F.col("n_tok"))
    return (packed
            # explicit FLOOR both sides: DuckDB's CAST(double AS BIGINT)
            # rounds half-even while Spark's truncates
            .withColumn("bin", F.floor(F.col("start_off") / 2048)
                        .cast("bigint"))
            .groupBy("source", "bin")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tok").alias("bin_tokens"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc")))
