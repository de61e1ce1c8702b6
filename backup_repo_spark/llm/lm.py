"""Statistical language-model signals over the documents corpus — the
quality-scoring layer a CCNet/KenLM-style training-data pipeline runs
between dedup and mixing: score every document under a corpus-trained
n-gram LM, measure cross-document n-gram duplication, and fingerprint
documents with winnowing (the MOSS algorithm) for robust overlap
detection.

All three are pure DataFrame compositions (explode + groupBy + join +
window) with engine-independent arithmetic, so every key is full-value
oracled against DuckDB.

Scale notes (100 TB): n-gram count tables are |vocab|- or
|distinct-ngram|-sized — orders of magnitude smaller than the corpus —
and every per-document pass is map-only after the count join. The
score join shuffles on the n-gram key; hot n-grams (stopword pairs) are
exactly the skew case partial aggregation absorbs (SCALING.md §Skew).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backup_repo_spark.registry import query
from backup_repo_spark.session import load_table


def _bigrams(d: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) — raw-adjacent token pairs, both non-empty (same
    semantics as the oracle: adjacency is in RAW positions, so a doubled
    space never fabricates a pair across the gap). Map-only."""
    toks = F.split(F.col("text"), " ")
    pairs = F.filter(
        F.transform(
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda x, i: F.struct(
                x.alias("w1"), F.element_at(toks, i + 2).alias("w2")
            ),
        ),
        lambda s: (F.length(s["w1"]) > 0) & (F.length(s["w2"]) > 0),
    )
    return d.select("doc_id", F.explode(pairs).alias("b")).select(
        "doc_id", "b.w1", "b.w2"
    )


@query(
    "llm_lm_score",
    oracle="""
    WITH tk AS (
      SELECT doc_id, toks, generate_subscripts(toks, 1) AS i
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ),
    bg AS (
      SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
      FROM tk WHERE i < len(toks) AND toks[i] <> '' AND toks[i+1] <> ''
    ),
    uni AS (SELECT w1 AS w, count(*) AS cu FROM bg GROUP BY 1),
    bic AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
    v AS (SELECT count(DISTINCT w2) AS vocab FROM bg),
    scored AS (
      SELECT b.doc_id,
             -ln((bic.cb + 1.0) / (uni.cu + (SELECT vocab FROM v))) AS nll
      FROM bg b
      JOIN bic ON b.w1 = bic.w1 AND b.w2 = bic.w2
      JOIN uni ON b.w1 = uni.w
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(nll), 4) AS avg_nll
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def llm_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score (the CCNet/KenLM pattern): train add-one-
    smoothed bigram statistics on the corpus itself, then score every
    document by its average negative log-likelihood — low = fluent/common
    phrasing, high = gibberish or boilerplate-noise; pipelines keep the
    middle band. p(w2|w1) = (c(w1,w2)+1)/(c(w1)+V).

    Distributed shape: bigram explode is map-only; the per-row bigram and
    unigram counts ride window aggregates over the exploded relation; only
    the 1-row vocab aggregate keeps its own branch and broadcasts. At
    100 TB no stage holds the corpus. The count skew (hot stopword pairs)
    colocates as the old count-table join's shuffle did only in that
    plan's sort-merge-join regime (count tables past the broadcast
    threshold). Where the old plan broadcast its count tables, hot-w1 rows
    stayed spread over partitions; the window plan always puts every row
    of a hot stopword w1 in one window group (spill-bounded, but a
    single-partition hot spot the broadcast path did not have).
    Determinism: the ln() values average in arbitrary order but rounding
    to 4 decimals absorbs the ~1e-13 float reassociation noise.

    r14 (guide §2.4): through r13 cu/cb were groupBy aggregates equi-
    joined back onto the exploded relation — four interpreted bigram
    Generates (one scan branch per consumer: join input, bic, uni, vocab)
    and, past the broadcast threshold, one exploded-mass shuffle per
    join. ``count(*) OVER (PARTITION BY w1)`` / ``(PARTITION BY w1, w2)``
    are the same integers per row; the w1 window runs FIRST so its
    hash(w1) exchange also satisfies the (w1, w2) window's clustering
    (subset partitioning — one exchange, two sorts). Two Generates (the
    vocab branch keeps one), no joins. Measured interleaved at the noop
    sink (the retired lmscore_probe, README "Retired probes"; equality
    exact at sf0.01/sf0.1/50×):
    sf0.1 3.29 → 2.09 s median (−37%), 50× corpus 18.21 → 9.14 s
    (−50%)."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    bg = _bigrams(d)
    vocab = bg.agg(F.countDistinct("w2").alias("vocab"))
    counted = bg.select(
        "doc_id",
        F.count(F.lit(1)).over(Window.partitionBy("w1")).alias("cu"),
        F.count(F.lit(1)).over(Window.partitionBy("w1", "w2")).alias("cb"),
    )
    nll = -F.log((F.col("cb") + 1.0) / (F.col("cu") + F.col("vocab")))
    return (
        counted.crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(F.avg(nll), 4).alias("avg_nll"),
        )
        .orderBy("doc_id")
    )


@query(
    "llm_dup_coverage",
    oracle="""
    WITH tk AS (
      SELECT doc_id, toks, generate_subscripts(toks, 1) AS i
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
             toks[i+3] || ' ' || toks[i+4] AS g
      FROM tk WHERE i <= len(toks) - 4
    ),
    docs_per AS (SELECT g, count(*) AS nd FROM sh GROUP BY g)
    SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
           round(count_if(dp.nd >= 2) * 1.0 / count(*), 4) AS dup_coverage
    FROM sh s JOIN docs_per dp ON s.g = dp.g
    GROUP BY s.doc_id ORDER BY s.doc_id
    """,
)
def llm_dup_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document n-gram duplication coverage (the Dolma/RefinedWeb
    'fraction of doc seen elsewhere' signal): for each document, the share
    of its distinct 5-gram shingles that occur in at least one OTHER
    document. Near 1.0 = templated/mirrored content even when no single
    pair crosses a Jaccard threshold — the signal that catches boilerplate
    families pairwise dedup misses.

    Shape: shingle explode (map-only) → per-shingle document frequency →
    per-doc ratio. Never any doc×doc pair space. Since shingles are
    distinct per doc, nd >= 2 exactly means 'appears in another doc'.

    r14 (guide §2.4): through r13 the document frequency was a groupBy(g)
    aggregate equi-joined back onto the exploded relation — which planned
    the interpreted 5-gram Generate TWICE (one scan branch per consumer)
    and, past the broadcast threshold, shuffled the exploded relation a
    second time for the join. ``count(*) OVER (PARTITION BY g)`` is the
    same integer per row (the count of a row's g-group IS the document
    frequency, and the inner join kept every row since dpf was built from
    the same relation) with ONE Generate and ONE exchange of the exploded
    mass. Measured interleaved at the noop sink (the retired dupcov_probe,
    README "Retired probes"; equality exact at sf0.01/sf0.1/50×): sf0.1
    11.21 → 5.68 s median
    (−49%), 50× template corpus 49.51 → 24.78 s (−50%). Skew note: a
    globally hot shingle lands its rows in one window group — the same
    single-partition colocation the sort-merge join paid; the window
    buffer spills where the join's sort spilled, so no new 100 TB cliff."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    sh_arr = F.array_distinct(
        F.transform(
            F.slice(toks, 1, F.greatest(F.size(toks) - 4, F.lit(0))),
            lambda x, i: F.concat_ws(
                " ",
                x,
                F.element_at(toks, i + 2),
                F.element_at(toks, i + 3),
                F.element_at(toks, i + 4),
                F.element_at(toks, i + 5),
            ),
        )
    )
    sh = d.select("doc_id", F.explode(sh_arr).alias("g"))
    nd = sh.select(
        "doc_id", F.count(F.lit(1)).over(Window.partitionBy("g")).alias("nd")
    )
    return (
        nd.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.round(
                F.count_if(F.col("nd") >= 2) * 1.0 / F.count(F.lit(1)), 4
            ).alias("dup_coverage"),
        )
        .orderBy("doc_id")
    )


@query(
    "llm_winnowing",
    oracle="""
    WITH tk AS (
      SELECT doc_id, toks, generate_subscripts(toks, 1) AS i
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ),
    kg AS (
      SELECT doc_id, i,
             CAST(('0x' || substring(md5(
               toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 8))
               AS BIGINT) AS h
      FROM tk WHERE i <= len(toks) - 2
    ),
    win AS (
      SELECT doc_id, i,
             min(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
             count(*) OVER (PARTITION BY doc_id) AS n_kg
      FROM kg
    ),
    fps AS (
      SELECT DISTINCT doc_id, fp
      FROM win WHERE i + 3 <= n_kg
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
           CAST(sum(fp) AS BIGINT) AS fp_sum,
           CAST(min(fp) AS BIGINT) AS fp_min
    FROM fps GROUP BY doc_id ORDER BY doc_id
    """,
)
def llm_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken — the
    MOSS algorithm, public): hash every 3-gram (first 8 md5 hex chars →
    32-bit int), slide a window of 4 consecutive hashes, keep each
    window's minimum, dedupe — a guaranteed-coverage fingerprint set (any
    shared run of >= w+k-1 tokens shares a fingerprint) that is ~1/(w+1)
    the size of the full shingle set. The summary (count / sum / min of
    fingerprints per doc) is order-independent and exact-integer, so both
    engines produce identical values.

    Shape: the sliding min is one ordered window per doc (partitioned by
    doc_id — never a global sort); the fingerprint dedupe is a per-doc
    distinct. At 100 TB the fingerprint table (not the corpus) is what
    joins against the index — the same candidate-generation shape as the
    banded-LSH stack.

    r14 (guide §2.3/§2.4): through r13 the trigram hashes were built with
    an interpreted ``F.transform`` lambda (higher-order functions are
    CodegenFallback — the llm_dedup_simhash lesson). Since the sliding
    min ALREADY requires the (doc_id, position)-sorted window, trigram
    formation now rides the same window pass: posexplode the tokens once,
    ``lead(tok, 1..2)`` over the shared window spec builds each trigram,
    and the md5 evaluates under whole-stage codegen in the projection
    above it. Measured on the kg stage alone at the 10× template corpus:
    2.32 s → 0.54 s median (−77%), rows identical at sf0.01 and 10×
    (sorted-tuple compare). The exchange this adds replaces the one the
    min-window paid anyway — same single doc_id shuffle, one shared sort
    (both window groups order by i0)."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    ex = d.select("doc_id", F.posexplode(toks).alias("i0", "_tok"))
    w_lead = Window.partitionBy("doc_id").orderBy("i0")
    tri = F.concat_ws(
        " ",
        F.col("_tok"),
        F.lead("_tok", 1).over(w_lead),
        F.lead("_tok", 2).over(w_lead),
    )
    # lead(2) NULL marks the last two positions (no full trigram there);
    # a <3-token doc yields no kg rows, exactly like the transform+slice
    # form (slice length max(n-2, 0)).
    kg = (
        ex.select(
            "doc_id",
            "i0",
            F.lead("_tok", 2).over(w_lead).alias("_t2"),
            tri.alias("_tri"),
        )
        .filter(F.col("_t2").isNotNull())
        .select(
            "doc_id",
            "i0",
            F.conv(F.substring(F.md5("_tri"), 1, 8), 16, 10)
            .cast("long")
            .alias("h"),
        )
    )
    # Both windows share w_lead's (doc_id, i0) partitioning+sort.
    w_min = Window.partitionBy("doc_id").orderBy("i0").rowsBetween(0, 3)
    w_cnt = Window.partitionBy("doc_id")
    win = kg.select(
        "doc_id",
        (F.col("i0") + 1).alias("i"),
        F.min("h").over(w_min).alias("fp"),
        F.count(F.lit(1)).over(w_cnt).alias("n_kg"),
    )
    fps = win.filter(F.col("i") + 3 <= F.col("n_kg")).select("doc_id", "fp").distinct()
    return (
        fps.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_fp"),
            F.sum("fp").cast("bigint").alias("fp_sum"),
            F.min("fp").cast("bigint").alias("fp_min"),
        )
        .orderBy("doc_id")
    )
