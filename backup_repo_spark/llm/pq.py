"""Product quantization (PQ) for embedding compression + ANN search —
codebook training (k-means per subspace) and asymmetric-distance search,
entirely in FIXED-POINT integer arithmetic so every centroid and every
distance is bit-identical cross-engine.

Completes the similarity-search family (llm/simsearch.py): brute-force
cosine is the exactness baseline, IVF/sign-buckets prune the corpus, and
PQ compresses it — a 64-dim float vector becomes m=8 small codes (one per
8-dim subspace), a 32× memory reduction that is what makes
billion-vector indexes fit in RAM (Jégou et al., "Product Quantization
for Nearest Neighbor Search", TPAMI 2011 — public literature).

Determinism strategy: embeddings are clamped to [-100, 100] (an ingest
guard that never binds on real unit-scale embeddings but bounds every
squared-distance sum below 2^63 — found by the adversarial corpus's
×1000-scaled vector, which overflowed int64 unclamped) and quantized to
integer MICRO-units (round(x·10⁶)) before any math. Centroid init takes
the subvectors of vec_ids 1..8 (deterministic), assignment is an integer
squared-distance
argmin with ties to the lowest code, centroid update is truncating
integer mean per dimension, and the search ranks by exact integer ADC
distances — no float enters the pipeline after the initial rounding.

Scale notes (100 TB): training runs on a sample in production (here: the
full table — same plan); the long-format (vec, sub, pos, val) explosion
is map-only. Per iteration: one (sub,pos) equi-join against the 512-row
broadcast codebook, one argmin window keyed by (vec,sub), one per-dim
mean aggregate — all shuffle keys are fine-grained and unskewed by
construction. Encoding the corpus is a broadcast join (codebook is KB);
search scans CODES (m bytes/vector), not vectors, plus a 64-row LUT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from backup_repo_spark.caching import release_with
from backup_repo_spark.registry import query
from backup_repo_spark.session import load_table

_SUBDIM = 8   # eight 8-dim subspaces over the 64-dim embeddings
_K = 8        # centroids per subspace
_ITERS = 2

# ---------------------------------------------------------------- oracle SQL
# Chained-CTE training, one level per iteration. Every level is
# MATERIALIZED: DuckDB inlines plain CTEs per reference, and cent{i} is
# referenced by both the assignment and the empty-cluster fallback of
# level i+1 — unmaterialized, the join tree re-expands exponentially
# (the round-3 BPE lesson).
_PQ_TRAIN_SQL = """
    subv AS MATERIALIZED (
      SELECT vec_id,
             (p - 1) // 8 AS sub,
             (p - 1) % 8 AS pos,
             CAST(round(least(greatest(CAST(embedding[p] AS DOUBLE), -100.0), 100.0) * 1000000) AS BIGINT) AS val
      FROM embeddings, generate_series(1, 64) g(p)
    ),
    cent0 AS MATERIALIZED (
      SELECT sub, vec_id - 1 AS cid, pos, val AS cval
      FROM subv WHERE vec_id BETWEEN 1 AND 8
    ),
    {iters}
"""

_PQ_ITER_SQL = """
    dist{k} AS MATERIALIZED (
      SELECT s.vec_id, s.sub, c.cid,
             sum((s.val - c.cval) * (s.val - c.cval)) AS d
      FROM subv s JOIN cent{p} c ON c.sub = s.sub AND c.pos = s.pos
      GROUP BY s.vec_id, s.sub, c.cid
    ),
    assign{k} AS MATERIALIZED (
      SELECT vec_id, sub, cid FROM (
        SELECT vec_id, sub, cid,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cid) AS rn
        FROM dist{k}
      ) WHERE rn = 1
    ),
    cent{k} AS MATERIALIZED (
      SELECT g.sub, g.cid, g.pos,
             CAST(coalesce(u.cval, g.cval) AS BIGINT) AS cval
      FROM cent{p} g
      LEFT JOIN (
        SELECT a.sub, a.cid, s.pos, sum(s.val) // count(*) AS cval
        FROM assign{k} a JOIN subv s ON s.vec_id = a.vec_id AND s.sub = a.sub
        GROUP BY a.sub, a.cid, s.pos
      ) u ON u.sub = g.sub AND u.cid = g.cid AND u.pos = g.pos
    )
"""


def _train_sql() -> str:
    iters = ",".join(
        _PQ_ITER_SQL.format(k=k, p=k - 1) for k in range(1, _ITERS + 1)
    )
    return _PQ_TRAIN_SQL.format(iters=iters)


# ------------------------------------------------------------- Spark training
def _subvectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, sub, pos, val) long format in integer micro-units."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("p", "x"),
    ).select(
        "vec_id",
        (F.col("p") / _SUBDIM).cast("int").alias("sub"),
        (F.col("p") % _SUBDIM).alias("pos"),
        F.round(F.least(F.greatest(F.col("x"), F.lit(-100.0)), F.lit(100.0)) * 1000000)
        .cast("long")
        .alias("val"),
    )


def _train_codebook(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Returns (subv, codebook) where codebook = (sub, cid, pos, cval)."""
    # persist: the subvector base is reused every k-means round.  The
    # codebook side (`cent`) is checkpoint-cut, so only callers that use
    # the returned `subv` downstream still reference the cache — each
    # caller releases it (unpersist or caching.release_with), so no
    # CacheManager entry outlives its query (round 6).
    subv = _subvectors(spark, sf_dir).persist()
    cent = (
        subv.filter(F.col("vec_id").between(1, _K))
        .select("sub", (F.col("vec_id") - 1).alias("cid"), "pos", F.col("val").alias("cval"))
        .localCheckpoint()
    )
    for _ in range(_ITERS):
        dist = (
            subv.join(F.broadcast(cent), ["sub", "pos"])
            .groupBy("vec_id", "sub", "cid")
            .agg(
                F.sum(
                    (F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval"))
                ).alias("d")
            )
        )
        w = Window.partitionBy("vec_id", "sub").orderBy("d", "cid")
        assign = (
            dist.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "sub", "cid")
        )
        upd = (
            assign.join(subv, ["vec_id", "sub"])
            .groupBy("sub", "cid", "pos")
            .agg(F.expr("sum(val) DIV count(*)").alias("ucval"))
        )
        cent = (
            cent.join(upd, ["sub", "cid", "pos"], "left")
            .select(
                "sub", "cid", "pos",
                F.coalesce(F.col("ucval"), F.col("cval")).alias("cval"),
            )
            .localCheckpoint()
        )
    return subv, cent


@query(
    "llm_pq_codebook",
    oracle=f"""
    WITH {_train_sql()}
    SELECT sub, cid, pos, cval FROM cent{_ITERS}
    """,
)
def llm_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codebook training: k=8 centroids per 8-dim subspace, 2 Lloyd
    iterations in integer micro-units (init = subvectors of vec_ids 1..8,
    argmin ties to the lowest code, truncating-mean update, empty clusters
    keep their previous centroid). Output is the full 512-row codebook —
    the oracle reproduces training end-to-end, so centroid VALUES are
    verified, not just shapes."""
    subv, cent = _train_codebook(spark, sf_dir)
    # cent is checkpoint-cut — the codebook key never reads subv again
    subv.unpersist(False)
    return cent.select("sub", "cid", "pos", "cval")


@query(
    "llm_pq_search",
    oracle=f"""
    WITH {_train_sql()},
    codes AS MATERIALIZED (
      SELECT vec_id, sub, cid FROM (
        SELECT s.vec_id, s.sub, c.cid,
               row_number() OVER (
                 PARTITION BY s.vec_id, s.sub
                 ORDER BY sum((s.val - c.cval) * (s.val - c.cval)), c.cid
               ) AS rn
        FROM subv s JOIN cent{_ITERS} c ON c.sub = s.sub AND c.pos = s.pos
        GROUP BY s.vec_id, s.sub, c.cid
      ) WHERE rn = 1
    ),
    lut AS MATERIALIZED (
      SELECT c.sub, c.cid,
             sum((q.val - c.cval) * (q.val - c.cval)) AS qd
      FROM subv q JOIN cent{_ITERS} c ON c.sub = q.sub AND c.pos = q.pos
      WHERE q.vec_id = 0
      GROUP BY c.sub, c.cid
    )
    SELECT vec_id, adc_dist FROM (
      SELECT k.vec_id, CAST(sum(l.qd) AS BIGINT) AS adc_dist
      FROM codes k JOIN lut l ON l.sub = k.sub AND l.cid = k.cid
      WHERE k.vec_id <> 0
      GROUP BY k.vec_id
    ) ORDER BY adc_dist, vec_id LIMIT 10
    """,
)
def llm_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-10 for query vec_id 0: encode the
    corpus to (sub, code) pairs with the trained codebook, precompute the
    64-entry query→centroid LUT, and rank by the exact integer sum of LUT
    entries — the search never touches raw vectors, only codes, which is
    the entire point of PQ at billion-vector scale. Integer distances make
    the top-10 selection boundary exact (no 1-ulp rank flips)."""
    subv, cent = _train_codebook(spark, sf_dir)
    dist = pq_dist(subv, cent)
    codes = pq_codes(dist)
    lut = pq_lut(dist)
    return release_with(pq_adc_topk(codes, lut, k=10), subv)


# --- stage builders -------------------------------------------------------
# These four ARE llm_pq_search's pipeline (the key above only composes
# them). The retired pq_stage_probe timed these same builders with stage
# barriers (OCTAVE_r11_pqstages.json, SCALING.md round 11; README
# "Retired probes").


def pq_dist(subv: DataFrame, cent: DataFrame) -> DataFrame:
    """Per-(vector, subspace, centroid) squared distance over the cached
    subvector exploded view and the broadcast trained codebook."""
    return (
        subv.join(F.broadcast(cent), ["sub", "pos"])
        .groupBy("vec_id", "sub", "cid")
        .agg(
            F.sum(
                (F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval"))
            ).alias("d")
        )
    )


def pq_codes(dist: DataFrame) -> DataFrame:
    """Encode: nearest centroid id per (vec_id, sub) — one window over
    the dist relation, ties broken by cid for exactness."""
    w = Window.partitionBy("vec_id", "sub").orderBy("d", "cid")
    return (
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "sub", "cid")
    )


def pq_lut(dist: DataFrame) -> DataFrame:
    """The query's centroid LUT: distance from vec_id 0 to EVERY centroid
    (8 per subspace), not only the query's own codes. The vec_id = 0
    filter pushes down through the aggregate to the subv scan."""
    return dist.filter(F.col("vec_id") == 0).select(
        "sub", "cid", F.col("d").alias("qd")
    )


def pq_adc_topk(codes: DataFrame, lut: DataFrame, k: int = 10) -> DataFrame:
    """ADC ranking: exact integer sum of broadcast-LUT entries over the
    codes — the search never touches raw vectors, only codes."""
    return (
        codes.filter(F.col("vec_id") != 0)
        .join(F.broadcast(lut), ["sub", "cid"])
        .groupBy("vec_id")
        .agg(F.sum("qd").alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(k)
    )


@query(
    "llm_pq_recall",
    oracle=f"""
    WITH {_train_sql()},
    codes AS MATERIALIZED (
      SELECT vec_id, sub, cid FROM (
        SELECT s.vec_id, s.sub, c.cid,
               row_number() OVER (
                 PARTITION BY s.vec_id, s.sub
                 ORDER BY sum((s.val - c.cval) * (s.val - c.cval)), c.cid
               ) AS rn
        FROM subv s JOIN cent{_ITERS} c ON c.sub = s.sub AND c.pos = s.pos
        GROUP BY s.vec_id, s.sub, c.cid
      ) WHERE rn = 1
    ),
    lut AS MATERIALIZED (
      SELECT c.sub, c.cid,
             sum((q.val - c.cval) * (q.val - c.cval)) AS qd
      FROM subv q JOIN cent{_ITERS} c ON c.sub = q.sub AND c.pos = q.pos
      WHERE q.vec_id = 0
      GROUP BY c.sub, c.cid
    ),
    pq10 AS (
      SELECT k.vec_id
      FROM codes k JOIN lut l ON l.sub = k.sub AND l.cid = k.cid
      WHERE k.vec_id <> 0
      GROUP BY k.vec_id
      ORDER BY sum(l.qd), k.vec_id LIMIT 10
    ),
    exact10 AS (
      SELECT v.vec_id
      FROM subv v JOIN subv q ON q.sub = v.sub AND q.pos = v.pos
      WHERE q.vec_id = 0 AND v.vec_id <> 0
      GROUP BY v.vec_id
      ORDER BY sum((v.val - q.val) * (v.val - q.val)), v.vec_id LIMIT 10
    )
    SELECT (SELECT count(*) FROM pq10 JOIN exact10 USING (vec_id)) AS hits,
           10 AS k
    """,
)
def llm_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of PQ-ADC search against the EXACT integer L2 top-10 — the
    accuracy gate that must accompany any lossy-index rollout (same pattern
    as llm_ann_recall for the IVF path). Both rankings live in exact
    integer arithmetic, so the recall number itself is bit-deterministic;
    at production scale this runs on a labeled query sample and feeds the
    codebook-size / iteration-count tuning loop.

    Expected magnitude on THIS corpus: the synthetic embeddings are
    near-isotropic (within-label mean cosine ≈ 0.013 — measured), the
    regime where all ANN structures degrade; the sibling IVF audit
    (llm_ann_recall) measures ≈ 0.17 mean recall on the same data and PQ
    lands comparably. The audit existing and returning an honest low
    number on hostile data is the point of the gate."""
    subv, cent = _train_codebook(spark, sf_dir)
    dist = (
        subv.join(F.broadcast(cent), ["sub", "pos"])
        .groupBy("vec_id", "sub", "cid")
        .agg(
            F.sum(
                (F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval"))
            ).alias("d")
        )
    )
    w = Window.partitionBy("vec_id", "sub").orderBy("d", "cid")
    codes = (
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "sub", "cid")
    )
    lut = dist.filter(F.col("vec_id") == 0).select("sub", "cid", F.col("d").alias("qd"))
    pq10 = (
        codes.filter(F.col("vec_id") != 0)
        .join(F.broadcast(lut), ["sub", "cid"])
        .groupBy("vec_id")
        .agg(F.sum("qd").alias("adc"))
        .orderBy("adc", "vec_id")
        .limit(10)
        .select("vec_id")
    )
    q = subv.filter(F.col("vec_id") == 0).select(
        "sub", "pos", F.col("val").alias("qval")
    )
    exact10 = (
        subv.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q), ["sub", "pos"])
        .groupBy("vec_id")
        .agg(
            F.sum(
                (F.col("val") - F.col("qval")) * (F.col("val") - F.col("qval"))
            ).alias("d")
        )
        .orderBy("d", "vec_id")
        .limit(10)
        .select("vec_id")
    )
    return release_with(
        pq10.join(exact10, "vec_id").agg(
            F.count(F.lit(1)).alias("hits"), F.lit(10).alias("k")
        ),
        subv,
    )


@query(
    "llm_pq_refine",
    oracle=f"""
    WITH {_train_sql()},
    codes AS MATERIALIZED (
      SELECT vec_id, sub, cid FROM (
        SELECT s.vec_id, s.sub, c.cid,
               row_number() OVER (
                 PARTITION BY s.vec_id, s.sub
                 ORDER BY sum((s.val - c.cval) * (s.val - c.cval)), c.cid
               ) AS rn
        FROM subv s JOIN cent{_ITERS} c ON c.sub = s.sub AND c.pos = s.pos
        GROUP BY s.vec_id, s.sub, c.cid
      ) WHERE rn = 1
    ),
    lut AS MATERIALIZED (
      SELECT c.sub, c.cid,
             sum((q.val - c.cval) * (q.val - c.cval)) AS qd
      FROM subv q JOIN cent{_ITERS} c ON c.sub = q.sub AND c.pos = q.pos
      WHERE q.vec_id = 0
      GROUP BY c.sub, c.cid
    ),
    short AS MATERIALIZED (
      SELECT k.vec_id
      FROM codes k JOIN lut l ON l.sub = k.sub AND l.cid = k.cid
      WHERE k.vec_id <> 0
      GROUP BY k.vec_id
      ORDER BY sum(l.qd), k.vec_id LIMIT 20
    )
    SELECT v.vec_id, CAST(sum((v.val - q.val) * (v.val - q.val)) AS BIGINT) AS l2_dist
    FROM subv v
    JOIN short s ON s.vec_id = v.vec_id
    JOIN subv q ON q.sub = v.sub AND q.pos = v.pos
    WHERE q.vec_id = 0
    GROUP BY v.vec_id
    ORDER BY l2_dist, v.vec_id LIMIT 5
    """,
)
def llm_pq_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval — the production ANN serving shape: a cheap
    PQ-ADC pass over CODES shortlists 20 candidates, then exact integer L2
    re-ranks only those 20 against their raw (micro-unit) vectors for the
    final top-5.  At billion-vector scale this is the architecture that
    makes recall affordable: the expensive exact distance touches
    shortlist×dim values instead of corpus×dim, and the shortlist is a
    broadcast-sized driver for the refine join.  All distances are exact
    integers (same clamp+micro quantization as the rest of the PQ family),
    so both the shortlist boundary and the final ranking are bit-exact
    cross-engine."""
    subv, cent = _train_codebook(spark, sf_dir)
    dist = (
        subv.join(F.broadcast(cent), ["sub", "pos"])
        .groupBy("vec_id", "sub", "cid")
        .agg(
            F.sum(
                (F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval"))
            ).alias("d")
        )
    )
    w = Window.partitionBy("vec_id", "sub").orderBy("d", "cid")
    codes = (
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "sub", "cid")
    )
    lut = dist.filter(F.col("vec_id") == 0).select("sub", "cid", F.col("d").alias("qd"))
    short = (
        codes.filter(F.col("vec_id") != 0)
        .join(F.broadcast(lut), ["sub", "cid"])
        .groupBy("vec_id")
        .agg(F.sum("qd").alias("adc"))
        .orderBy("adc", "vec_id")
        .limit(20)
        .select("vec_id")
    )
    q = subv.filter(F.col("vec_id") == 0).select(
        "sub", "pos", F.col("val").alias("qval")
    )
    return release_with(
        subv.join(F.broadcast(short), "vec_id")
        .join(F.broadcast(q), ["sub", "pos"])
        .groupBy("vec_id")
        .agg(
            F.sum(
                (F.col("val") - F.col("qval")) * (F.col("val") - F.col("qval"))
            )
            .cast("bigint")
            .alias("l2_dist")
        )
        .orderBy("l2_dist", "vec_id")
        .limit(5),
        subv,
    )
