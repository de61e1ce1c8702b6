"""Similarity search over embedding columns — SURVEY.md §2.C C11 plus the
ANN scale path from the driver brief. embeddings.embedding is
array<float>, 64-dim (FIXTURES.md).

Scale strategy: brute-force cosine is the exactness baseline (O(n) per
query, fine when the query set is small and the corpus is broadcast-joinable
per partition). The IVF-style variant buckets vectors by a deterministic
coarse code (sign bits of leading dimensions) so a probe touches ~1/2^k of
the corpus — the partition-pruning idea applied to vector space.

Oracle note: DuckDB's list_cosine_similarity computes in float32 (measured
~1e-6 off from float64) — the oracle instead recomputes in DOUBLE via
zip-unnest so both engines do the same double-precision math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backup_repo_spark.registry import query
from backup_repo_spark.session import load_table, scratch_dir


def _cosine(a, b):
    """Double-precision cosine between two array<float> columns (JVM-side,
    higher-order functions — no UDF). Zero-norm input (a padding/null
    vector — real corpora have them) yields NULL, matching SQL division
    semantics: DuckDB returns NULL for x/0.0 where Spark would return
    NaN/Infinity, so the guard is what keeps the two engines' top-k
    identical when degenerate vectors appear."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(ad, bd, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)
    na = F.sqrt(F.aggregate(F.transform(ad, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))
    nb = F.sqrt(F.aggregate(F.transform(bd, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))
    return F.when((na != 0.0) & (nb != 0.0), dot / (na * nb))


@query(
    "llm_sim_search",
    oracle="""
    WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
    pairs AS (
      SELECT v.vec_id,
             CAST(unnest(v.embedding) AS DOUBLE) AS x,
             CAST(unnest(q.e) AS DOUBLE) AS y
      FROM embeddings v, q WHERE v.vec_id <> 0
    ), scored AS (
      SELECT vec_id,
             sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS cos
      FROM pairs GROUP BY vec_id
    )
    SELECT vec_id, round(cos, 6) AS cos_sim
    FROM scored ORDER BY cos DESC, vec_id LIMIT 10
    """,
)
def llm_sim_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C11: brute-force cosine top-k (k=10, query = vec_id 0) in double
    precision, entirely with JVM higher-order functions — no Python in the
    scoring loop. The 1-row query side is a broadcast cross join."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    cand = emb.filter(F.col("vec_id") != 0)
    return (
        cand.crossJoin(F.broadcast(qv))
        .select("vec_id", _cosine(F.col("embedding"), F.col("qe")).alias("cos"))
        .orderBy(F.desc("cos"), "vec_id")
        .limit(10)
        .select("vec_id", F.round("cos", 6).alias("cos_sim"))
    )


@query(
    "llm_embed_neardup",
    oracle="""
    WITH nb AS (
      SELECT greatest(3, CASE WHEN m <= 1 THEN 0 ELSE length(bin(m - 1)) END)
               AS nbits
      FROM (SELECT (count(*) + 63) // 64 AS m FROM embeddings)
    ),
    coded AS (
      SELECT vec_id, label, embedding,
             CAST(list_sum(list_transform(range(1, nb.nbits + 1),
               i -> CASE WHEN embedding[i] >= 0 THEN (1 << (i - 1)) ELSE 0 END))
               AS BIGINT) AS blk
      FROM embeddings CROSS JOIN nb
    ),
    v AS (
      SELECT a.vec_id AS ida, b.vec_id AS idb, a.embedding AS ea, b.embedding AS eb
      FROM coded a JOIN coded b
        ON a.label = b.label AND a.blk = b.blk AND a.vec_id < b.vec_id
    ), pairs AS (
      SELECT ida, idb,
             CAST(unnest(ea) AS DOUBLE) AS x, CAST(unnest(eb) AS DOUBLE) AS y
      FROM v
    ), scored AS (
      SELECT ida, idb, sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS cos
      FROM pairs GROUP BY ida, idb
    )
    SELECT ida, idb, round(cos, 6) AS cos_sim
    FROM scored WHERE cos > 0.24
    """,
)
def llm_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by (label, adaptive
    sign-bucket): candidate pairs only form within a block, collapsing the
    O(n²) pair space — the same pattern as bucketed LSH at 100 TB. The
    sign-bucket width GROWS WITH THE CORPUS (nbits = max(3,
    ceil(log2(n/64))), exact integer bin()-length math, no libm), so the
    expected block size — and with it the per-vector candidate budget —
    stays bounded as the corpus grows instead of the fixed-block form's
    quadratic pair growth (measured 12.2x per 10x vectors before this
    change; SCALING.md round 4).  Declared semantics: near-dup pairs
    WITHIN a block, the recall trade every LSH candidate generator makes."""
    emb = load_table(spark, sf_dir, "embeddings")
    m = emb.agg(((F.count(F.lit(1)) + 63) / 64).cast("bigint").alias("m"))
    nb = m.select(
        F.greatest(
            F.lit(3),
            F.when(F.col("m") <= 1, F.lit(0)).otherwise(
                F.length(F.expr("bin(m - 1)"))
            ),
        ).alias("nbits")
    )
    coded = emb.crossJoin(F.broadcast(nb)).select(
        "vec_id", "label", "embedding",
        F.expr(
            "aggregate(sequence(1, nbits), 0L, (acc, i) -> acc + "
            "CASE WHEN element_at(embedding, i) >= 0.0 "
            "THEN shiftleft(1L, i - 1) ELSE 0L END)"
        ).alias("blk"),
    )
    a = coded.select(
        F.col("vec_id").alias("ida"), F.col("label").alias("la"),
        F.col("blk").alias("ba"), F.col("embedding").alias("ea"),
    )
    b = coded.select(
        F.col("vec_id").alias("idb"), F.col("label").alias("lb"),
        F.col("blk").alias("bb"), F.col("embedding").alias("eb"),
    )
    cos = _cosine(F.col("ea"), F.col("eb"))
    return (
        a.join(
            b,
            (F.col("la") == F.col("lb"))
            & (F.col("ba") == F.col("bb"))
            & (F.col("ida") < F.col("idb")),
        )
        .select("ida", "idb", cos.alias("cos"))
        .filter(F.col("cos") > 0.24)
        .select("ida", "idb", F.round("cos", 6).alias("cos_sim"))
    )


@query(
    "llm_sim_search_ivf",
    oracle="""
    WITH coded AS (
      SELECT vec_id, embedding,
             (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END
            + CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END
            + CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END
            + CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
      FROM embeddings
    ),
    q AS (SELECT embedding AS e, bucket AS qb FROM coded WHERE vec_id = 0),
    pairs AS (
      SELECT v.vec_id, v.bucket,
             CAST(unnest(v.embedding) AS DOUBLE) AS x,
             CAST(unnest(q.e) AS DOUBLE) AS y
      FROM coded v, q WHERE v.vec_id <> 0 AND v.bucket = q.qb
    ), scored AS (
      SELECT vec_id, bucket,
             sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS cos
      FROM pairs GROUP BY vec_id, bucket
    )
    SELECT vec_id, bucket, round(cos, 6) AS cos_sim
    FROM scored ORDER BY cos DESC, vec_id LIMIT 10
    """,
)
def llm_sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF/LSH-style ANN: coarse code = sign bits of the first 4 dimensions
    (16 deterministic buckets). The probe scans only the query's bucket —
    ~1/16 of the corpus — then exact-scores within it. Returns top-10 of the
    probed bucket (approximate RECALL vs llm_sim_search by design, but the
    result set itself is fully deterministic — sign buckets + double-
    precision cosine — so the oracle value-verifies it)."""
    emb = load_table(spark, sf_dir, "embeddings")
    code = sum(
        (
            F.when(F.element_at("embedding", i + 1) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
            for i in range(4)
        ),
        start=F.lit(0),
    ).alias("bucket")
    coded = emb.select("vec_id", "embedding", code)
    qv = coded.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), F.col("bucket").alias("qbucket")
    )
    return (
        coded.join(F.broadcast(qv), F.col("bucket") == F.col("qbucket"))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "bucket", _cosine(F.col("embedding"), F.col("qe")).alias("cos"))
        .orderBy(F.desc("cos"), "vec_id")
        .limit(10)
        .select("vec_id", "bucket", F.round("cos", 6).alias("cos_sim"))
    )


@query(
    "llm_embed_centroid",
    oracle="""
    WITH comp AS (
      SELECT label, generate_subscripts(embedding, 1) AS pos,
             unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS val
      FROM embeddings
    ),
    means AS (
      SELECT label, pos, avg(val) AS c FROM comp GROUP BY label, pos
    )
    SELECT label,
           round(sqrt(sum(c * c)), 4) AS centroid_norm,
           round(max(CASE WHEN pos = 1 THEN c END), 4) AS c0
    FROM means GROUP BY label ORDER BY label
    """,
)
def llm_embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (element-wise mean over 64 dims) — the
    training step of IVF/k-means partitioning (llm_sim_search_ivf probes
    such cells). Expressed as posexplode → avg by (label, dim) → re-reduce:
    two partial-aggregated shuffles, no Python. At 100 TB the same plan
    computes centroids for billions of vectors; the alternative
    (collect-and-numpy) dies at one machine's RAM."""
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "val")
    )
    means = comp.groupBy("label", (F.col("pos0") + 1).alias("pos")).agg(
        F.avg("val").alias("c")
    )
    return (
        means.groupBy("label")
        .agg(
            F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 4).alias("centroid_norm"),
            F.round(F.max(F.when(F.col("pos") == 1, F.col("c"))), 4).alias("c0"),
        )
        .orderBy("label")
    )


@query(
    "llm_ann_recall",
    oracle="""
    WITH e AS (
      SELECT vec_id, embedding,
             (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
           + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
           + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
           + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
      FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, embedding AS qe, bucket AS qb FROM e
          WHERE vec_id < 20),
    pr AS (SELECT qid, e.vec_id, e.bucket, q.qb,
                  CAST(unnest(e.embedding) AS DOUBLE) AS x,
                  CAST(unnest(q.qe) AS DOUBLE) AS y
           FROM e, q WHERE e.vec_id <> q.qid),
    sc AS (SELECT qid, vec_id, bucket, qb,
                  sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS cos
           FROM pr GROUP BY qid, vec_id, bucket, qb),
    ex AS (SELECT qid, vec_id,
                  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS r
           FROM sc),
    ap AS (SELECT qid, vec_id,
                  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS r
           FROM sc WHERE bucket = qb),
    hits AS (SELECT ex.qid, count(*) AS n_hit
             FROM ex JOIN ap ON ex.qid = ap.qid AND ex.vec_id = ap.vec_id
             WHERE ex.r <= 10 AND ap.r <= 10 GROUP BY ex.qid)
    SELECT q.qid, coalesce(n_hit, 0) AS n_hit,
           round(coalesce(n_hit, 0) / 10.0, 2) AS recall
    FROM q LEFT JOIN hits ON q.qid = hits.qid
    ORDER BY q.qid
    """,
)
def llm_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF sign-bucket probe vs exact brute force, for 20
    query vectors — the accuracy measurement that must accompany any ANN
    index. Both rankings are computed in one scored-pairs pass (broadcast
    the 20 queries, window-rank per query), so the comparison itself is a
    cheap self-join on (query, candidate). Both paths are deterministic,
    so recall is value-verified cross-engine — not just sanity-checked."""
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    bucket = sum(
        (
            F.when(F.element_at("embedding", i + 1) >= 0, F.lit(1 << i)).otherwise(
                F.lit(0)
            )
            for i in range(4)
        ),
        start=F.lit(0),
    ).alias("bucket")
    e = emb.select("vec_id", "embedding", bucket)
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("bucket").alias("qb"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id", "bucket", "qb",
            _cosine(F.col("embedding"), F.col("qe")).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), "vec_id")
    exact = (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 10)
        .select("qid", "vec_id")
    )
    approx = (
        scored.filter(F.col("bucket") == F.col("qb"))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 10)
        .select("qid", "vec_id")
    )
    hits = exact.join(approx, ["qid", "vec_id"]).groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        q.select("qid")
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            F.round(F.coalesce(F.col("n_hit"), F.lit(0)) / 10.0, 2).alias("recall"),
        )
        .orderBy("qid")
    )


@query(
    "llm_embed_quantize",
    oracle="""
    SELECT vec_id, label,
           array_to_string(list_transform(embedding, v -> CAST(greatest(-127.0, least(127.0,
               floor(CAST(v AS DOUBLE) * (CAST(127 AS DOUBLE) /
                   nullif(CAST(list_aggregate(list_transform(embedding, u -> abs(u)),
                        'max') AS DOUBLE), 0.0)) + 0.5))) AS INT)), ',') AS q,
           round(CAST(127 AS DOUBLE) /
                 nullif(CAST(list_aggregate(list_transform(embedding, u -> abs(u)),
                      'max') AS DOUBLE), 0.0), 6) AS scale
    FROM embeddings ORDER BY vec_id
    """,
)
def llm_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of embedding vectors (per-vector
    absmax scaling) — 4× memory reduction for ANN indexes, the standard
    compression before sharding vectors across a cluster. All map-only
    array lambdas (no shuffle, no UDF). Rounding is spelled
    floor(x + 0.5), which is exact IEEE arithmetic on both engines —
    unlike round(), whose half-case tie-breaking differs cross-engine.
    The int8 vector is rendered comma-joined (driver's canonicalizer
    cannot sort list cells — round-1 `fn_higher_order` failure mode).
    A zero vector has no absmax scale: nullif guards the division on
    BOTH engines (Spark would produce Infinity, DuckDB NULL), yielding
    NULL scale and an empty q — the documented degenerate contract."""
    e = load_table(spark, sf_dir, "embeddings")
    scale = F.expr("127.0 / nullif(array_max(transform(embedding, u -> abs(u))), 0.0D)")
    return e.select(
        "vec_id",
        "label",
        F.expr(
            "array_join(transform(embedding, v -> CAST(greatest(-127.0, least(127.0,"
            " floor(v * (127.0 / nullif(array_max(transform(embedding, u -> abs(u))), 0.0D))"
            " + 0.5))) AS INT)), ',')"
        ).alias("q"),
        F.round(scale, 6).alias("scale"),
    ).orderBy("vec_id")


@query(
    "llm_hard_negatives",
    oracle="""
    WITH q AS (
      SELECT vec_id AS qid, label AS ql, embedding AS qe
      FROM embeddings WHERE vec_id < 10
    ), v AS (
      SELECT q.qid, c.vec_id AS cid, q.qe, c.embedding AS ce
      FROM q JOIN embeddings c ON c.label <> q.ql
    ), pairs AS (
      SELECT qid, cid,
             CAST(unnest(qe) AS DOUBLE) AS x, CAST(unnest(ce) AS DOUBLE) AS y
      FROM v
    ), scored AS (
      SELECT qid, cid, sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS cos
      FROM pairs GROUP BY 1, 2
    ), r AS (
      SELECT qid, cid, cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
      FROM scored
    )
    SELECT qid, cid AS hard_negative, round(cos, 6) AS cos_sim
    FROM r WHERE rn = 1
    """,
)
def llm_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each of 10 query
    vectors, the MOST similar vector with a DIFFERENT label — the negatives
    that actually teach a metric-learning model something. Same JVM-side
    cosine as `llm_sim_search`, cross-label join instead of same-label
    blocking, per-query window winner. At 100 TB the candidate side comes
    from the IVF bucket probe (`llm_sim_search_ivf`), not the full corpus."""
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("label").alias("ql"),
        F.col("embedding").alias("qe"),
    )
    c = emb.select(
        F.col("vec_id").alias("cid"), F.col("label").alias("cl"),
        F.col("embedding").alias("ce"),
    )
    scored = (
        q.join(c, F.col("cl") != F.col("ql"))
        .select("qid", "cid", _cosine(F.col("qe"), F.col("ce")).alias("cos"))
    )
    rn = F.row_number().over(
        Window.partitionBy("qid").orderBy(F.desc("cos"), "cid")
    )
    return (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("qid", F.col("cid").alias("hard_negative"),
                F.round("cos", 6).alias("cos_sim"))
    )


@query(
    "llm_contrastive_triplets",
    oracle="""
    WITH q AS (
      SELECT vec_id AS qid, label AS ql, embedding AS qe
      FROM embeddings WHERE vec_id < 10
    ), scored AS (
      SELECT q.qid, c.vec_id AS cid, (c.label = q.ql) AS same,
             (SELECT sum(x * y) FROM (
                SELECT CAST(unnest(q.qe) AS DOUBLE) AS x,
                       CAST(unnest(c.embedding) AS DOUBLE) AS y)) /
             (sqrt((SELECT sum(x * x) FROM (
                SELECT CAST(unnest(q.qe) AS DOUBLE) AS x))) *
              sqrt((SELECT sum(y * y) FROM (
                SELECT CAST(unnest(c.embedding) AS DOUBLE) AS y)))) AS cos
      FROM q JOIN embeddings c ON c.vec_id <> q.qid
    ), pos AS (
      SELECT qid, cid AS pos_id, cos AS pos_cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
      FROM scored WHERE same
    ), neg AS (
      SELECT qid, cid AS neg_id, cos AS neg_cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
      FROM scored WHERE NOT same
    )
    SELECT p.qid, p.pos_id, n.neg_id,
           round(p.pos_cos - n.neg_cos, 6) AS margin
    FROM pos p JOIN neg n USING (qid)
    WHERE p.rn = 1 AND n.rn = 1
    """,
)
def llm_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive TRIPLET mining: per anchor, the closest SAME-label
    vector (positive) and the closest DIFFERENT-label vector (hard
    negative, per `llm_hard_negatives`), plus the margin the trainer will
    try to widen — the (a, p, n) export format metric-learning data
    loaders consume. One scored join feeds both winner windows."""
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("label").alias("ql"),
        F.col("embedding").alias("qe"),
    )
    c = emb.select(
        F.col("vec_id").alias("cid"), F.col("label").alias("cl"),
        F.col("embedding").alias("ce"),
    )
    scored = (
        q.join(c, F.col("cid") != F.col("qid"))
        .select(
            "qid", "cid", (F.col("cl") == F.col("ql")).alias("same"),
            _cosine(F.col("qe"), F.col("ce")).alias("cos"),
        )
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("cos"), "cid")
    pos = (
        scored.filter(F.col("same"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") == 1)
        .select("qid", F.col("cid").alias("pos_id"), F.col("cos").alias("pos_cos"))
    )
    neg = (
        scored.filter(~F.col("same"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") == 1)
        .select("qid", F.col("cid").alias("neg_id"), F.col("cos").alias("neg_cos"))
    )
    return pos.join(neg, "qid").select(
        "qid", "pos_id", "neg_id",
        F.round(F.col("pos_cos") - F.col("neg_cos"), 6).alias("margin"),
    )


@query(
    "llm_sim_search_incremental",
    oracle="""
    WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
    pairs AS (
      SELECT v.vec_id,
             CAST(unnest(v.embedding) AS DOUBLE) AS x,
             CAST(unnest(q.e) AS DOUBLE) AS y
      FROM embeddings v, q WHERE v.vec_id <> 0
    ), scored AS (
      SELECT vec_id,
             sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS cos
      FROM pairs GROUP BY vec_id
    )
    SELECT vec_id, round(cos, 6) AS cos_sim
    FROM scored ORDER BY cos DESC, vec_id LIMIT 10
    """,
)
def llm_sim_search_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental top-k refinement (the shape of "Incremental Based
    Framework for Efficient Top-K Similarity Search in Interactive Data
    Analysis Sessions", EDBT 2020, PAPERS.md): when a new batch of vectors
    arrives, the new global top-k is computed from (previous top-k ∪ new
    batch) ONLY — correct because top-k is monotone under union, so no
    rescan of the already-ranked corpus is ever needed. At 100 TB the
    "previous top-k" is k rows per query; each arriving batch costs
    O(batch), not O(corpus). The oracle is the full-corpus top-k — result
    identity IS the correctness proof of the refinement rule."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))

    def topk(df: DataFrame) -> DataFrame:
        return (
            df.crossJoin(F.broadcast(qv))
            .select("vec_id", _cosine(F.col("embedding"), F.col("qe")).alias("cos"))
            .orderBy(F.desc("cos"), "vec_id")
            .limit(10)
        )

    base = emb.filter((F.col("vec_id") != 0) & (F.col("vec_id") < 400))
    batch = emb.filter(F.col("vec_id") >= 400)
    prev_ids = topk(base).select("vec_id")
    survivors = emb.join(prev_ids, "vec_id")  # re-fetch vectors for the k survivors
    return (
        topk(survivors.unionByName(batch))
        .select("vec_id", F.round("cos", 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "vec_id")
    )


@query(
    "llm_sim_search_pandas",
    oracle="""
    WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
    pairs AS (
      SELECT v.vec_id,
             CAST(unnest(v.embedding) AS DOUBLE) AS x,
             CAST(unnest(q.e) AS DOUBLE) AS y
      FROM embeddings v, q WHERE v.vec_id <> 0
    ), scored AS (
      SELECT vec_id,
             sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS cos
      FROM pairs GROUP BY vec_id
    )
    SELECT vec_id, round(cos, 6) AS cos_sim
    FROM scored ORDER BY cos DESC, vec_id LIMIT 10
    """,
)
def llm_sim_search_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OTHER prescribed scoring path for C11: a vectorized Pandas UDF —
    Arrow ships embedding batches to Python, numpy does one matrix-vector
    product per batch (SIMD, ~100× a row-at-a-time UDF). Same result as
    llm_sim_search's JVM-lambda fold (rounding at 1e-6 absorbs the
    sum-order ulp); the tradeoff is Arrow transfer cost vs numpy BLAS —
    JVM lambdas win at 64 dims, batched numpy wins as dimensionality grows
    (the matmul amortizes, the per-element codegen fold does not)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    emb = load_table(spark, sf_dir, "embeddings")
    q = np.array(
        emb.filter(F.col("vec_id") == 0).select("embedding").first()[0], dtype=np.float64
    )
    qn = float(np.sqrt(q @ q))

    @pandas_udf("double")
    def cos_vs_query(batch):  # pd.Series[list[float]] -> pd.Series[float]
        m = np.stack(batch.to_numpy()).astype(np.float64)
        norms = np.linalg.norm(m, axis=1) * qn
        # zero-norm vectors -> None (SQL NULL), same contract as _cosine
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = (m @ q) / norms
        return pd.Series(np.where(norms == 0.0, np.nan, cos)).where(norms != 0.0)

    return (
        emb.filter(F.col("vec_id") != 0)
        .select("vec_id", cos_vs_query("embedding").alias("cos"))
        .orderBy(F.desc("cos"), "vec_id")
        .limit(10)
        .select("vec_id", F.round("cos", 6).alias("cos_sim"))
    )


@query(
    "llm_ann_partitioned",
    oracle="""
    WITH coded AS (
      SELECT vec_id, embedding,
             (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END
            + CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END
            + CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END
            + CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
      FROM embeddings
    ),
    q AS (SELECT embedding AS e, bucket AS qb FROM coded WHERE vec_id = 0),
    pairs AS (
      SELECT v.vec_id, v.bucket,
             CAST(unnest(v.embedding) AS DOUBLE) AS x,
             CAST(unnest(q.e) AS DOUBLE) AS y
      FROM coded v, q
      WHERE v.vec_id <> 0 AND v.bucket IN (q.qb, xor(q.qb, 1))
    ), scored AS (
      SELECT vec_id, bucket,
             sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS cos
      FROM pairs GROUP BY vec_id, bucket
    )
    SELECT vec_id, bucket, round(cos, 6) AS cos_sim
    FROM scored ORDER BY cos DESC, vec_id LIMIT 10
    """,
)
def llm_ann_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN as a STORAGE problem: the corpus is written partitioned by its
    IVF sign-bucket, and a query becomes a multi-probe partition-pruned
    scan — probe buckets {qb, qb XOR 1} (the standard multi-probe recall
    booster), resolved driver-side from the 1-row query lookup so the scan
    carries a STATIC PartitionFilter (asserted in tests/test_plans.py),
    then exact double-precision cosine within the probed partitions.

    This is the serving-path shape of vector search at 100 TB: the index
    IS the directory layout, a probe reads 2/16 of the corpus off disk
    (not post-filters it), adding probes trades IO for recall with zero
    code change, and the per-partition files are independently scannable
    by a thousand executors. `llm_sim_search_ivf` proves the bucket math
    in pure compute; this key proves the layout actually prunes."""
    emb = load_table(spark, sf_dir, "embeddings")
    code = sum(
        (
            F.when(F.element_at("embedding", i + 1) >= 0, F.lit(1 << i)).otherwise(
                F.lit(0)
            )
            for i in range(4)
        ),
        start=F.lit(0),
    ).alias("bucket")
    coded = emb.select("vec_id", "embedding", code)
    out = scratch_dir(spark, "llm_ann_partitioned")
    coded.write.mode("overwrite").partitionBy("bucket").parquet(out)
    q = coded.filter(F.col("vec_id") == 0).select("embedding", "bucket").collect()[0]
    probes = [int(q.bucket), int(q.bucket) ^ 1]
    qe = F.array(*[F.lit(float(x)) for x in q.embedding])
    part = (
        spark.read.parquet(out)
        .filter(F.col("bucket").isin(probes))
        .filter(F.col("vec_id") != 0)
    )
    return (
        part.select(
            "vec_id",
            F.col("bucket").cast("int").alias("bucket"),
            _cosine(F.col("embedding"), qe).alias("cos"),
        )
        .orderBy(F.desc("cos"), "vec_id")
        .limit(10)
        .select("vec_id", "bucket", F.round("cos", 6).alias("cos_sim"))
    )


@query(
    "llm_semdedup",
    oracle="""
    WITH nb AS (
      SELECT greatest(3, CASE WHEN m <= 1 THEN 0 ELSE length(bin(m - 1)) END)
               AS nbits
      FROM (SELECT (count(*) + 63) // 64 AS m FROM embeddings)
    ),
    coded AS (
      SELECT vec_id,
             CAST(list_sum(list_transform(range(1, nb.nbits + 1),
               i -> CASE WHEN embedding[i] >= 0 THEN (1 << (i - 1)) ELSE 0 END))
               AS BIGINT) AS cluster,
             embedding
      FROM embeddings CROSS JOIN nb
    ),
    cand AS (
      SELECT a.vec_id AS ida, b.vec_id AS idb, a.cluster,
             a.embedding AS ea, b.embedding AS eb
      FROM coded a JOIN coded b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    ),
    pairs AS (
      SELECT ida, idb, cluster,
             CAST(unnest(ea) AS DOUBLE) AS x, CAST(unnest(eb) AS DOUBLE) AS y
      FROM cand
    ),
    scored AS (
      SELECT ida, idb, cluster,
             sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS cos
      FROM pairs GROUP BY ida, idb, cluster
    ),
    dropped AS (
      SELECT DISTINCT idb AS vec_id FROM scored WHERE cos > 0.3
    )
    SELECT c.cluster,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(count(*) FILTER (WHERE d.vec_id IS NULL) AS BIGINT) AS n_kept
    FROM coded c LEFT JOIN dropped d ON c.vec_id = d.vec_id
    GROUP BY c.cluster ORDER BY c.cluster
    """,
)
def llm_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    literature): cluster embeddings with a cheap coarse quantizer — sign
    bits of the first nbits dimensions, where nbits GROWS WITH THE CORPUS
    (nbits = max(3, ceil(log2(n/64))), computed in exact integer
    arithmetic via bin()-length so both engines agree; no libm log) —
    compute pairwise cosine ONLY within a cluster, and drop every vector
    with a higher-similarity-than-threshold neighbor of LOWER id
    (keep-first survivorship, a deterministic tie-break instead of the
    paper's random keeper).  Output is the per-cluster keep audit.

    Scale shape: the adaptive bit count holds the EXPECTED cluster size
    at ~64 regardless of corpus size (the paper's k-means quantizer grows
    k the same way), so the candidate-pair budget is ~n·64 — linear in
    the corpus, never quadratic.  Measured: the fixed-3-bit form cost
    13.0x per 10x vectors (pair space grows n²/clusters); the adaptive
    form holds near-linear (SCALING.md round 4).  At 500 vectors
    nbits = 3, so driver-scale results are identical to the fixed form."""
    emb = load_table(spark, sf_dir, "embeddings")
    m = emb.agg(
        ((F.count(F.lit(1)) + 63) / 64).cast("bigint").alias("m")
    )
    nb = m.select(
        F.greatest(
            F.lit(3),
            F.when(F.col("m") <= 1, F.lit(0)).otherwise(
                F.length(F.expr("bin(m - 1)"))
            ),
        ).alias("nbits")
    )
    coded = emb.crossJoin(F.broadcast(nb)).select(
        "vec_id",
        F.expr(
            "aggregate(sequence(1, nbits), 0L, (acc, i) -> acc + "
            "CASE WHEN element_at(embedding, i) >= 0.0 "
            "THEN shiftleft(1L, i - 1) ELSE 0L END)"
        ).alias("cluster"),
        "embedding",
    )
    a = coded.select(
        F.col("vec_id").alias("ida"),
        F.col("cluster").alias("ca"),
        F.col("embedding").alias("ea"),
    )
    b = coded.select(
        F.col("vec_id").alias("idb"),
        F.col("cluster").alias("cb"),
        F.col("embedding").alias("eb"),
    )
    dropped = (
        a.join(b, (F.col("ca") == F.col("cb")) & (F.col("ida") < F.col("idb")))
        .select("idb", _cosine(F.col("ea"), F.col("eb")).alias("cos"))
        .filter(F.col("cos") > 0.3)
        .select(F.col("idb").alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    return (
        coded.join(dropped, "vec_id", "left")
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.count_if(F.col("is_dup").isNull()).cast("bigint").alias("n_kept"),
        )
        .orderBy("cluster")
    )


# The MMR configuration, single-sourced (ADVICE r9): these constants feed
# BOTH _mmr_oracle's SQL text and llm_mmr_rerank's Spark/greedy path, so an
# edit to one side cannot silently desynchronize the other. 0.3 is spelled
# as its own constant rather than 1 - lambda because 1 - 0.7 is not 0.3 in
# binary floating point, and both engines must multiply by the same double.
_MMR_N_QUERIES = 3
_MMR_SHORTLIST = 12
_MMR_K = 5
_MMR_LAMBDA = 0.7
_MMR_ONE_MINUS_LAMBDA = 0.3


def _mmr_oracle(
    n_queries: int = _MMR_N_QUERIES,
    shortlist: int = _MMR_SHORTLIST,
    k: int = _MMR_K,
) -> str:
    """Unrolled greedy MMR as pure ANSI SQL. DuckDB's recursive CTEs
    restrict aggregates in the recursive term, so the k-step greedy
    selection is unrolled into k chained CTE blocks instead — one
    (argmax over remaining candidates) per rank. Single-sourced here so
    the selection rule (lambda=0.7, ties broken by lower vec_id) cannot
    drift between the Spark path and the oracle."""
    head = f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS e FROM embeddings
               WHERE vec_id < {n_queries}),
    flat AS (
      SELECT q.qid, v.vec_id,
             CAST(unnest(v.embedding) AS DOUBLE) AS x,
             CAST(unnest(q.e) AS DOUBLE) AS y
      FROM embeddings v, q WHERE v.vec_id >= {n_queries}
    ),
    scored AS (
      SELECT qid, vec_id,
             round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))),
                   12) AS cos
      FROM flat GROUP BY qid, vec_id
    ),
    short AS (
      SELECT qid, vec_id, cos FROM scored WHERE cos IS NOT NULL
      QUALIFY row_number() OVER (PARTITION BY qid
                                 ORDER BY cos DESC, vec_id) <= {shortlist}
    ),
    se AS (SELECT s.qid, s.vec_id, e.embedding
           FROM short s JOIN embeddings e ON s.vec_id = e.vec_id),
    ppflat AS (
      SELECT a.qid, a.vec_id AS va, b.vec_id AS vb,
             CAST(unnest(a.embedding) AS DOUBLE) AS x,
             CAST(unnest(b.embedding) AS DOUBLE) AS y
      FROM se a JOIN se b ON a.qid = b.qid AND a.vec_id <> b.vec_id
    ),
    pp AS (SELECT qid, va, vb,
                  round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))),
                        12) AS sim
           FROM ppflat GROUP BY qid, va, vb),
    s1 AS (SELECT qid, vec_id, cos AS score FROM short
           QUALIFY row_number() OVER (PARTITION BY qid
                                      ORDER BY cos DESC, vec_id) = 1),
    sel1 AS (SELECT qid, vec_id FROM s1)"""
    steps = []
    for i in range(2, k + 1):
        steps.append(f""",
    r{i} AS (
      SELECT c.qid, c.vec_id,
             {_MMR_LAMBDA} * c.cos - {_MMR_ONE_MINUS_LAMBDA} * max(p.sim) AS score
      FROM short c
      JOIN pp p ON p.qid = c.qid AND p.va = c.vec_id
      JOIN sel{i - 1} t ON t.qid = p.qid AND t.vec_id = p.vb
      WHERE NOT EXISTS (SELECT 1 FROM sel{i - 1} x
                        WHERE x.qid = c.qid AND x.vec_id = c.vec_id)
      GROUP BY c.qid, c.vec_id, c.cos
    ),
    s{i} AS (SELECT qid, vec_id, score FROM r{i}
             QUALIFY row_number() OVER (PARTITION BY qid
                                        ORDER BY score DESC, vec_id) = 1),
    sel{i} AS (SELECT qid, vec_id FROM sel{i - 1}
               UNION ALL SELECT qid, vec_id FROM s{i})"""
        )
    union = "\n      UNION ALL ".join(
        f"SELECT qid, {i} AS rank, vec_id, score FROM s{i}" for i in range(1, k + 1)
    )
    tail = f"""
    SELECT qid, CAST(rank AS INTEGER) AS rank, vec_id,
           round(score, 6) AS mmr_score
    FROM ({union})
    ORDER BY qid, rank"""
    return head + "".join(steps) + tail


@query("llm_mmr_rerank", oracle=_mmr_oracle())
def llm_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-rank — the diversification pass a
    retrieval/curation pipeline runs AFTER top-k: for each query (vec_id
    0..2), take the exact cosine top-12 shortlist, then greedily pick 5
    results maximizing 0.7*relevance - 0.3*max-similarity-to-already-
    selected (Carbonell & Goldstein 1998), ties broken by lower vec_id.
    Rank 1's score is its raw cosine (nothing selected yet); ranks 2+
    carry the MMR objective value at selection time.

    Scale shape: the only corpus-sized stage is the scoring scan — the
    3-query fan-out is a map-side explode over literal query vectors (no
    join), and the per-query top-12 is a qid-partitioned rank window that
    Spark rewrites to WindowGroupLimit, so each map task forwards at most
    12 rows per query into the shuffle. The greedy selection itself is
    O(shortlist^2 * k) on <=12 rows per query inside one Arrow batch
    (applyInPandas keyed by qid) — constant work no matter the corpus
    size, the same shortlist-bounded pattern as llm_pq_refine. The
    DuckDB oracle unrolls the identical greedy rule (see _mmr_oracle)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.window import Window

    out_schema = "qid bigint, rank int, vec_id bigint, mmr_score double"
    emb = load_table(spark, sf_dir, "embeddings")
    qrows = sorted(
        emb.filter(F.col("vec_id") < _MMR_N_QUERIES)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    if not qrows:
        # Degenerate corpus with no query rows (ADVICE r9): F.array() with
        # zero elements types as array<null> and the q.qid access fails
        # analysis — return the empty result the oracle produces instead.
        return spark.createDataFrame([], out_schema)
    qarr = F.array(
        *[
            F.struct(
                F.lit(int(r.vec_id)).cast("long").alias("qid"),
                F.array(*[F.lit(float(x)) for x in r.embedding]).alias("qe"),
            )
            for r in qrows
        ]
    )
    scored = (
        emb.filter(F.col("vec_id") >= _MMR_N_QUERIES)
        .select("vec_id", "embedding", F.explode(qarr).alias("q"))
        .select(
            F.col("q.qid").alias("qid"),
            "vec_id",
            "embedding",
            # scores are quantized to 1e-12 BEFORE selection (both here and
            # in the oracle) so cos=1 ties from duplicate/scaled vectors
            # snap to the same double cross-engine and the greedy argmax
            # cannot flip on sub-ulp summation-order differences
            F.round(_cosine(F.col("embedding"), F.col("q.qe")), 12).alias("cos"),
        )
    )
    shortlist = (
        scored.filter(F.col("cos").isNotNull())
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.desc("cos"), "vec_id")
            ),
        )
        .filter(F.col("rn") <= _MMR_SHORTLIST)
        .drop("rn")
    )

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["cos", "vec_id"], ascending=[False, True]
        ).reset_index(drop=True)
        emat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(emat, axis=1)
        # pairwise cosine exactly as the oracle computes it: dot / (na*nb),
        # quantized to 1e-12 like the relevance scores (see above)
        sims = np.round((emat @ emat.T) / np.outer(norms, norms), 12)
        cos = pdf["cos"].to_numpy(dtype=np.float64)
        vid = pdf["vec_id"].to_numpy()
        k = min(_MMR_K, len(pdf))
        selected, scores = [0], [float(cos[0])]
        remaining = list(range(1, len(pdf)))
        while len(selected) < k:
            best_i, best_s = None, None
            for i in remaining:
                s = _MMR_LAMBDA * cos[i] - _MMR_ONE_MINUS_LAMBDA * max(
                    float(sims[i, j]) for j in selected
                )
                if (
                    best_i is None
                    or s > best_s
                    or (s == best_s and vid[i] < vid[best_i])
                ):
                    best_i, best_s = i, s
            selected.append(best_i)
            remaining.remove(best_i)
            scores.append(float(best_s))
        return pd.DataFrame(
            {
                "qid": np.full(len(selected), pdf["qid"].iloc[0], dtype=np.int64),
                "rank": np.arange(1, len(selected) + 1, dtype=np.int32),
                "vec_id": vid[selected],
                "mmr_score": np.array(scores, dtype=np.float64),
            }
        )

    return (
        shortlist.groupBy("qid")
        .applyInPandas(_greedy, out_schema)
        .select("qid", "rank", "vec_id", F.round("mmr_score", 6).alias("mmr_score"))
        .orderBy("qid", "rank")
    )
