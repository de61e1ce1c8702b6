"""Training-data pipeline stages beyond dedup/similarity: document
chunking, deterministic dataset splits, PII redaction, stopword filtering.
Not in the reference (Astro predates this workload class, SURVEY.md §2.C);
designed Spark-first for 100 TB corpora.

Scale strategy per operator:
- chunking: map-only (sequence → explode → slice) — no shuffle; output
  partitioning inherits the input, so a downstream tokenizer stage reads
  co-located chunks.
- split: key-hash bucketing (md5), the only split that is reproducible
  across engines, cluster sizes, and task retries — never rand(), which
  resamples on retry and breaks train/test isolation.
- redaction: per-row regexp_replace in the JVM (no Python boundary);
  patterns are RE2-and-Java-regex-compatible so the oracle can verify
  byte-identical output via content hash.
- stopword removal: array lambda filter (JVM higher-order fn), then the
  vocabulary count is a partial-agg-friendly groupBy on the token.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backup_repo_spark.registry import query
from backup_repo_spark.session import load_table

_WINDOW = 64  # tokens per chunk
_STRIDE = 48  # tokens between chunk starts (16-token overlap)


@query(
    "llm_doc_chunk",
    oracle=f"""
    WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    st AS (SELECT doc_id, toks,
                  unnest(generate_series(1, greatest(len(toks), 1), {_STRIDE})) AS s
           FROM tk)
    SELECT doc_id, s AS chunk_start,
           array_to_string(toks[s:s + {_WINDOW - 1}], ' ') AS chunk_text,
           CAST(len(toks[s:s + {_WINDOW - 1}]) AS BIGINT) AS n_tokens
    FROM st
    ORDER BY doc_id, chunk_start
    """,
)
def llm_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (64-token windows, 48-token
    stride) — the standard pre-tokenization step for LLM training data.
    Map-only: per doc, generate chunk starts with ``sequence``, explode,
    ``slice`` the token array, rejoin. The trailing chunk may be short
    (both engines clamp the slice identically). At 100 TB this runs with
    zero shuffle and the row expansion (~n_toks/stride per doc) streams
    straight into the next pipeline stage."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(_STRIDE)
    )
    chunk = F.slice(F.col("toks"), F.col("chunk_start"), _WINDOW)
    return (
        d.select("doc_id", toks.alias("toks"), F.explode(starts).alias("chunk_start"))
        .select(
            "doc_id",
            "chunk_start",
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).cast("long").alias("n_tokens"),
        )
        .orderBy("doc_id", "chunk_start")
    )


# 256 md5 buckets via the first two hex digits; lowercase fixed-width hex
# compares lexicographically == numerically, so the thresholds are plain
# string comparisons in both engines. 'cc'=204 → 79.7% train, 'e6'=230 →
# 10.2% val, rest test.
_SPLIT_CASE = """
    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
         ELSE 'test' END
"""


@query(
    "llm_train_split",
    oracle=f"""
    SELECT {_SPLIT_CASE} AS split, lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY split, lang
    ORDER BY split, lang
    """,
)
def llm_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by content-independent
    key hash (md5 of doc_id). Reproducible across engines, partitionings,
    and task retries — unlike randomSplit(), whose assignment depends on
    partition layout and recomputation. Grouped by (split, lang) so the
    result also audits per-language balance, the thing a real split job
    must report."""
    d = load_table(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(h < "cc", "train").when(h < "e6", "val").otherwise("test")
    ).alias("split")
    return (
        d.groupBy(split, "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split", "lang")
    )


_EMAIL = "[a-z0-9.]+@[a-z0-9.]+"
_PHONE = "[0-9]{3}-[0-9]{4}"


@query(
    "llm_pii_redact",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or 555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
      FROM documents
    )
    SELECT doc_id,
           md5(regexp_replace(regexp_replace(t, '{_EMAIL}', '<EMAIL>', 'g'),
                              '{_PHONE}', '<PHONE>', 'g')) AS redacted_hash,
           CAST(len(regexp_extract_all(t, '{_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{_PHONE}')) AS BIGINT) AS n_phones
    FROM aug
    ORDER BY doc_id
    """,
)
def llm_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: replace email- and phone-shaped spans with typed
    placeholders, counting matches. PII is injected deterministically
    (corpus text is synthetic words) so the redactor has real work; the
    oracle verifies byte-identical output via md5 of the redacted text.
    Patterns restricted to the Java-regex ∩ RE2 common subset. Pure JVM
    regexp_replace — no Python boundary — so at 100 TB this is a map-only
    scan at parquet read speed."""
    d = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    red = F.regexp_replace(
        F.regexp_replace(aug, _EMAIL, "<EMAIL>"), _PHONE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.md5(red).alias("redacted_hash"),
        F.regexp_count(aug, F.lit(_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(aug, F.lit(_PHONE)).cast("long").alias("n_phones"),
    ).orderBy("doc_id")


_STOPWORDS = ["a", "the", "key", "value", "row", "table"]


@query(
    "llm_stopword_topk",
    oracle=f"""
    SELECT tok, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    WHERE tok NOT IN ({", ".join(repr(s) for s in _STOPWORDS)})
    GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 20
    """,
)
def llm_stopword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword removal + vocabulary head: filter the token stream through
    a JVM array-lambda (keeps duplicates, unlike array_except), then count
    the surviving vocabulary and keep the top 20 terms. The groupBy is
    partial-agg friendly (token cardinality ≪ token count), and the top-k
    is TakeOrderedAndProject — no global sort. Tiebreak on tok makes the
    LIMIT deterministic."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    kept = F.filter(toks, lambda x: ~x.isin(*_STOPWORDS))
    return (
        d.select(F.explode(kept).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(20)
    )


@query(
    "llm_source_mixture",
    oracle="""
    WITH c AS (SELECT source, lang, count(*) AS n
               FROM documents GROUP BY source, lang)
    SELECT source, lang, n,
           round(sqrt(n) / (SELECT sum(sqrt(n)) FROM c), 8) AS share
    FROM c ORDER BY source, lang
    """,
)
def llm_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture weights: per (source, lang) document counts turned
    into temperature-flattened sampling shares (alpha = 0.5, i.e. sqrt —
    the standard upweighting of low-resource slices when composing a
    training mix). sqrt is IEEE-correctly-rounded, so shares are
    bit-comparable cross-engine (pow(n, 0.7) would not be). The global
    normalizer is a window over the aggregated 100-row mixture table, not
    the corpus — aggregation happens first, so the second pass is
    driver-trivial at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    return spark.sql(
        """
        SELECT source, lang, count(*) AS n,
               round(sqrt(count(*)) / sum(sqrt(count(*))) OVER (), 8) AS share
        FROM {d} GROUP BY source, lang ORDER BY source, lang
        """,
        d=d,
    )


@query(
    "llm_contamination",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
                      substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h
               FROM documents),
    sh AS (SELECT doc_id, h, unnest(CASE WHEN len(toks) >= 8
             THEN list_transform(range(1, len(toks) - 6),
                                 i -> array_to_string(toks[i:i+7], ' '))
             ELSE [] END) AS shingle FROM t),
    tr AS (SELECT DISTINCT shingle FROM sh WHERE h < 'cc'),
    te AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE h >= 'e6')
    SELECT d.doc_id, count(tr.shingle) AS n_shared,
           count(tr.shingle) > 0 AS contaminated
    FROM (SELECT doc_id FROM t WHERE h >= 'e6') d
    LEFT JOIN te ON d.doc_id = te.doc_id
    LEFT JOIN tr ON te.shingle = tr.shingle
    GROUP BY d.doc_id ORDER BY d.doc_id
    """,
)
def llm_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination check: for every TEST document (same
    md5-hash split as llm_train_split), count distinct 8-token shingles it
    shares with ANY train document. The canonical eval-leakage audit run
    before training. Scales as shingle-join (shuffle on shingle hash),
    never test×train cross product; the distinct train-shingle set is the
    big side and stays distributed. Docs shorter than 8 tokens contribute
    no shingles (guarded — Spark's sequence() would otherwise count
    backwards)."""
    return spark.sql(
        """
        WITH t AS (SELECT doc_id, split(text, ' ') AS toks,
                          substring(md5(CAST(doc_id AS STRING)), 1, 2) AS h
                   FROM {docs}),
        sh AS (SELECT doc_id, h, explode(CASE WHEN size(toks) >= 8
                 THEN transform(sequence(1, size(toks) - 7),
                                i -> concat_ws(' ', slice(toks, i, 8)))
                 ELSE array() END) AS shingle FROM t),
        tr AS (SELECT DISTINCT shingle FROM sh WHERE h < 'cc'),
        te AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE h >= 'e6')
        SELECT d.doc_id, count(tr.shingle) AS n_shared,
               count(tr.shingle) > 0 AS contaminated
        FROM (SELECT doc_id FROM t WHERE h >= 'e6') d
        LEFT JOIN te ON d.doc_id = te.doc_id
        LEFT JOIN tr ON te.shingle = tr.shingle
        GROUP BY d.doc_id ORDER BY d.doc_id
        """,
        docs=load_table(spark, sf_dir, "documents"),
    )


_PACK_BUDGET = 2048  # tokens per packed training sequence


@query(
    "llm_collocations",
    oracle="""
    WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    idx AS (SELECT doc_id, toks, generate_subscripts(toks, 1) AS i FROM tk),
    uni AS (SELECT toks[i] AS w FROM idx),
    big AS (SELECT toks[i] AS w1, toks[i+1] AS w2 FROM idx WHERE i <= len(toks) - 1),
    uc AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
    bc AS (SELECT w1, w2, count(*) AS c FROM big GROUP BY w1, w2),
    tot AS (SELECT (SELECT count(*) FROM uni) AS n, (SELECT count(*) FROM big) AS m)
    SELECT w1, w2, bc.c AS c_xy,
           round(bc.c * tot.n * tot.n * 1.0 / (tot.m * u1.c * u2.c), 4) AS lift
    FROM bc CROSS JOIN tot
    JOIN uc u1 ON bc.w1 = u1.w
    JOIN uc u2 ON bc.w2 = u2.w
    WHERE bc.c >= 5
    ORDER BY lift DESC, w1, w2 LIMIT 50
    """,
)
def llm_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus collocation mining: top-50 adjacent bigrams by PMI-lift
    ``p(xy) / (p(x)p(y)) = c_xy * N^2 / (M * c_x * c_y)``.

    Cross-engine determinism by construction: all counts are exact int64,
    the products stay within int64 at this vocabulary (N~4e5 tokens at
    sf0.1 -> N^2 ~ 1.6e11), and the single double division is IEEE-exactly
    rounded, so both engines produce bit-identical lifts — no float-sum
    ordering hazard anywhere. Scale shape: two partial-aggregable
    token-counts plus one broadcast of the (tiny) unigram dictionary onto
    the bigram counts; the corpus is read once, map-side exploded."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    uni = d.select(F.explode(toks).alias("w"))
    big = d.select(
        F.explode(
            F.transform(
                F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
                lambda x, i: F.struct(
                    x.alias("w1"), F.element_at(toks, i + 2).alias("w2")
                ),
            )
        ).alias("e")
    ).select("e.w1", "e.w2")
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    bc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    tot = uni.agg(F.count(F.lit(1)).alias("n")).crossJoin(
        big.agg(F.count(F.lit(1)).alias("m"))
    )
    lift = F.round(
        F.col("bc.c") * F.col("n") * F.col("n") * 1.0
        / (F.col("m") * F.col("u1.c") * F.col("u2.c")),
        4,
    )
    return (
        bc.alias("bc")
        .crossJoin(F.broadcast(tot))
        .join(F.broadcast(uc.alias("u1")), F.col("bc.w1") == F.col("u1.w"))
        .join(F.broadcast(uc.alias("u2")), F.col("bc.w2") == F.col("u2.w"))
        .filter(F.col("bc.c") >= 5)
        .select("w1", "w2", F.col("bc.c").alias("c_xy"), lift.alias("lift"))
        .orderBy(F.desc("lift"), "w1", "w2")
        .limit(50)
    )


@query(
    "llm_seq_pack",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ), off AS (
      SELECT doc_id, lang, n_tok,
             CAST(sum(n_tok) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) - n_tok AS start_off
      FROM tk
    )
    SELECT lang, CAST(start_off // {_PACK_BUDGET} AS BIGINT) AS pack_id,
           count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS pack_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM off GROUP BY lang, start_off // {_PACK_BUDGET}
    """,
)
def llm_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: concatenate documents (per lang,
    in doc_id order) into fixed {_PACK_BUDGET}-token sequences; a document
    starting at running offset ``o`` lands in pack ``o DIV budget`` (docs
    may straddle a boundary — standard concat-then-chunk packing with
    cross-doc attention masking left to the trainer).

    All-integer arithmetic -> bit-identical across engines. Scale shape
    (rewritten round 5): the naive form was one cumsum window per lang —
    parallelism capped at the handful of langs, the whole corpus sorted
    through ~7 tasks. The running offset now comes from two-phase
    bucketed prefix sums over doc_id buckets (operators/prefix.py):
    (lang, doc_id) is unique, so the rows ARE the histogram, and the
    within-bucket window partitions on (lang, _bkt) — parallelism grows
    with the corpus, result bit-identical (integer sums)."""
    from backup_repo_spark.operators.prefix import bucketed_prefix_sums

    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " ")).cast("long")
    off = bucketed_prefix_sums(
        d.select("doc_id", "lang", n_tok.alias("n_tok")),
        "doc_id",
        ["n_tok"],
        bucket_width=4096,
        by=["lang"],
    ).withColumnRenamed("cum_n_tok", "start_off")
    return (
        off.withColumn("pack_id", F.expr(f"start_off DIV {_PACK_BUDGET}"))
        .groupBy("lang", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@query(
    "llm_dataset_card",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             md5(text) AS h
      FROM documents
    )
    SELECT count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           count(DISTINCT lang) AS n_langs,
           count(DISTINCT source) AS n_sources,
           count(DISTINCT h) AS n_unique_docs,
           min(n_tok) AS min_tokens, max(n_tok) AS max_tokens,
           median(n_tok) AS median_tokens
    FROM t
    """,
)
def llm_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row DATASET CARD: the headline numbers a training-data release
    publishes — doc/token counts, language & source coverage, exact-dup
    rate (via content-hash NDV), token-length spread. One global aggregate
    with multiple DISTINCTs (Catalyst expands to parallel partial aggs);
    the only non-integer output is the exact interpolated median."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "lang", "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        F.md5("text").alias("h"),
    )
    return t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("h").alias("n_unique_docs"),
        F.min("n_tok").alias("min_tokens"),
        F.max("n_tok").alias("max_tokens"),
        F.expr("percentile(n_tok, 0.5)").alias("median_tokens"),
    )


@query(
    "llm_filter_funnel",
    oracle="""
    WITH f AS (
      SELECT n_chars >= 150 AS s1,
             n_chars >= 150 AND lang = 'en' AS s2,
             n_chars >= 150 AND lang = 'en'
               AND len(string_split(text, ' ')) >= 30 AS s3
      FROM documents
    )
    SELECT count(*) AS total,
           CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS after_length,
           CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS after_lang,
           CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS after_tokens
    FROM f
    """,
)
def llm_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-funnel observability: per-stage survivor counts for a
    composed curation chain (length -> language -> token count) computed
    in ONE pass with cumulative boolean columns — the attrition report
    every data-curation run publishes, without running the pipeline N
    times. At 100 TB this replaces N full scans with one."""
    d = load_table(spark, sf_dir, "documents")
    s1 = F.col("n_chars") >= 150
    s2 = s1 & (F.col("lang") == "en")
    s3 = s2 & (F.size(F.split("text", " ")) >= 30)
    return d.select(
        s1.alias("s1"), s2.alias("s2"), s3.alias("s3")
    ).agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.col("s1").cast("int")).cast("bigint").alias("after_length"),
        F.sum(F.col("s2").cast("int")).cast("bigint").alias("after_lang"),
        F.sum(F.col("s3").cast("int")).cast("bigint").alias("after_tokens"),
    )


@query(
    "llm_chunk_dedup",
    oracle=f"""
    WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    st AS (SELECT doc_id, toks,
                  unnest(generate_series(1, greatest(len(toks), 1), {_STRIDE})) AS s
           FROM tk),
    ch AS (
      SELECT doc_id, md5(array_to_string(toks[s:s + {_WINDOW - 1}], ' ')) AS h
      FROM st
    )
    SELECT count(*) AS n_chunks,
           count(DISTINCT h) AS n_distinct,
           (count(*) - count(DISTINCT h)) * 1.0 / count(*) AS dup_rate,
           count(DISTINCT doc_id) AS n_docs
    FROM ch
    """,
)
def llm_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHUNK-granularity dedup audit: hash every {_WINDOW}-token chunk
    (same chunking as `llm_doc_chunk`) and measure corpus-wide duplicate
    rate — overlapping-window chunking plus copied passages both inflate
    it, and it's the number that decides whether dedup must run below
    document granularity. Map-only expansion + one global aggregate."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(_STRIDE))
    ch = d.select(
        "doc_id", toks.alias("toks"), F.explode(starts).alias("s")
    ).select(
        "doc_id",
        F.md5(F.array_join(F.slice(F.col("toks"), F.col("s"), _WINDOW), " ")).alias("h"),
    )
    return ch.agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("h").alias("n_distinct"),
        (
            (F.count(F.lit(1)) - F.countDistinct("h")) * 1.0 / F.count(F.lit(1))
        ).alias("dup_rate"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


@query(
    "llm_curriculum_order",
    oracle="""
    WITH scored AS (
      SELECT doc_id, source,
             n_chars * 1.0 / len(string_split(text, ' ')) AS cpt
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, source, round(cpt, 4) AS quality,
             row_number() OVER (PARTITION BY source
                                ORDER BY cpt DESC, doc_id) AS rnk
      FROM scored
    )
    SELECT row_number() OVER (ORDER BY rnk, source, doc_id) AS train_pos,
           doc_id, source, quality
    FROM ranked
    ORDER BY train_pos LIMIT 100
    """,
)
def llm_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum/mixing order assembly: rank documents within each source
    by a quality proxy (chars-per-token, best first), then interleave
    sources round-robin (global order = (within-source rank, source)) —
    every training shard sees all sources from the start instead of
    consuming them sequentially. The within-source window shuffles on
    source; at 100 TB the final global position would be assigned
    per-shard (rank, source, hash-bucket) rather than one total order —
    the interleave KEY is the portable part. First 100 positions shown,
    and the top-100 is taken FIRST (TakeOrderedAndProject — per-partition
    local top-k, no global sort), so the single-partition position window
    runs over a 100-row input by construction at any corpus size."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    cpt = F.col("n_chars") / F.size(F.split("text", " "))
    ranked = d.select(
        "doc_id",
        "source",
        F.round(cpt, 4).alias("quality"),
        F.row_number()
        .over(Window.partitionBy("source").orderBy(F.desc(cpt), "doc_id"))
        .alias("rnk"),
    )
    # rnk <= 100 is provably redundant with the global top-100 (a row with
    # rnk > 100 has >= 100 same-source rows with smaller rnk sorting before
    # it), but stating it lets Spark push WindowGroupLimit below the
    # exchange: each map task keeps 100 rows per source instead of running
    # the WHOLE corpus through the 12 source window partitions
    # (plan-asserted in tests/test_plans.py).
    top = (
        ranked.filter(F.col("rnk") <= 100)
        .orderBy("rnk", "source", "doc_id")
        .limit(100)
    )
    return (
        top.select(
            F.row_number()
            .over(Window.orderBy("rnk", "source", "doc_id"))
            .alias("train_pos"),
            "doc_id",
            "source",
            "quality",
        )
        .orderBy("train_pos")
    )


@query(
    "llm_token_budget_cap",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok
      FROM documents
    ),
    cum AS (
      SELECT doc_id, source, n_tok,
             sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS running
      FROM toks
    )
    SELECT source,
           CAST(count_if(running <= 2000) AS BIGINT) AS docs_kept,
           CAST(sum(CASE WHEN running <= 2000 THEN n_tok END) AS BIGINT)
             AS tokens_kept,
           CAST(count_if(running > 2000) AS BIGINT) AS docs_dropped
    FROM cum GROUP BY source ORDER BY source
    """,
)
def llm_token_budget_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget capping: deterministic doc order (doc_id),
    running token sum per source, keep documents until the source's budget
    (2000 tokens) is exhausted — how a mixture recipe enforces "no source
    exceeds X tokens". Reports kept/dropped per source.

    Scale shape (rewritten round 5): the running sum comes from two-phase
    bucketed prefix sums over doc_id buckets (operators/prefix.py,
    inclusive form) instead of one cumsum window per source — the naive
    window serialized the whole corpus through the 12 source partitions;
    the bucketed form's parallelism grows with the corpus and the
    integer sums are bit-identical.  (source, doc_id) is unique per row,
    satisfying bucketed_prefix_sums' distinct-(by, value) PRECONDITION."""
    from backup_repo_spark.operators.prefix import bucketed_prefix_sums

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    cum = bucketed_prefix_sums(
        toks,
        "doc_id",
        ["n_tok"],
        bucket_width=4096,
        by=["source"],
        inclusive=True,
    ).withColumnRenamed("cum_n_tok", "running")
    return (
        cum.groupBy("source")
        .agg(
            F.count_if(F.col("running") <= 2000).cast("bigint").alias("docs_kept"),
            F.sum(F.when(F.col("running") <= 2000, F.col("n_tok")))
            .cast("bigint")
            .alias("tokens_kept"),
            F.count_if(F.col("running") > 2000).cast("bigint").alias("docs_dropped"),
        )
        .orderBy("source")
    )


@query(
    "llm_e2e_curation",
    oracle="""
    WITH base AS (
      SELECT doc_id, source, lang, n_chars, text, md5(text) AS digest,
             len(string_split(text, ' ')) AS n_tok
      FROM documents
    ),
    deduped AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY digest ORDER BY doc_id) AS rn
        FROM base
      ) WHERE rn = 1
    ),
    quality AS (
      SELECT * FROM deduped WHERE n_chars >= 150 AND n_tok >= 30
    ),
    tot AS (SELECT sum(n_tok) AS all_tok FROM quality)
    SELECT b.source,
           CAST(count(*) AS BIGINT) AS docs_in,
           CAST(count(DISTINCT CASE WHEN d.doc_id IS NOT NULL
                                    THEN d.doc_id END) AS BIGINT)
             AS docs_after_dedup,
           CAST(count(DISTINCT CASE WHEN q.doc_id IS NOT NULL
                                    THEN q.doc_id END) AS BIGINT)
             AS docs_after_quality,
           CAST(coalesce(sum(CASE WHEN q.doc_id IS NOT NULL
                                  THEN q.n_tok END), 0) AS BIGINT)
             AS tokens_final,
           round(coalesce(sum(CASE WHEN q.doc_id IS NOT NULL
                                   THEN q.n_tok END), 0)
                 * 1.0 / (SELECT all_tok FROM tot), 4) AS mixture_weight
    FROM base b
    LEFT JOIN deduped d ON b.doc_id = d.doc_id
    LEFT JOIN quality q ON b.doc_id = q.doc_id
    GROUP BY b.source ORDER BY b.source
    """,
)
def llm_e2e_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline END-TO-END in one DataFrame program — what a
    user of the engine actually runs nightly: exact dedup (content digest,
    survivor = lowest doc_id), quality gate (length + token floor), then
    per-source token accounting with the realized mixture weight of the
    final corpus. One row per source with the attrition at every stage —
    the dataset-card numbers, produced by the pipeline itself.

    Shape: digest dedup is one window over the digest hash-shuffle
    (never doc×doc); the stage flags ride along as booleans so attrition
    for all stages comes out of ONE aggregation pass; the mixture
    denominator is a broadcast 1-row aggregate. At 100 TB each stage is
    the same shuffle the standalone keys use — composing them adds no new
    stage, which is the point of declarative composition: Catalyst fuses
    the funnel into the dedup window's pipeline."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "source",
        F.md5("text").alias("digest"),
        "n_chars",
        F.size(F.split("text", " ")).alias("n_tok"),
    )
    rn = F.row_number().over(Window.partitionBy("digest").orderBy("doc_id"))
    flagged = base.withColumn("is_survivor", rn == 1).withColumn(
        "is_quality",
        (rn == 1) & (F.col("n_chars") >= 150) & (F.col("n_tok") >= 30),
    )
    tot = flagged.filter("is_quality").agg(F.sum("n_tok").alias("all_tok"))
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("docs_in"),
            F.count_if(F.col("is_survivor")).cast("bigint").alias("docs_after_dedup"),
            F.count_if(F.col("is_quality")).cast("bigint").alias("docs_after_quality"),
            F.coalesce(F.sum(F.when(F.col("is_quality"), F.col("n_tok"))), F.lit(0))
            .cast("bigint")
            .alias("tokens_final"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "docs_in",
            "docs_after_dedup",
            "docs_after_quality",
            "tokens_final",
            F.round(F.col("tokens_final") * 1.0 / F.col("all_tok"), 4).alias(
                "mixture_weight"
            ),
        )
        .orderBy("source")
    )


@query(
    "llm_span_dedup_rebuild",
    oracle="""
    WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    ch AS (
      SELECT doc_id, s,
             array_to_string(toks[s:s + 31], ' ') AS chunk
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, greatest(len(toks), 1), 32)) AS s
            FROM tk)
    ),
    ranked AS (
      SELECT doc_id, s, chunk,
             row_number() OVER (PARTITION BY md5(chunk)
                                ORDER BY doc_id, s) AS rn
      FROM ch
    ),
    rebuilt AS (
      SELECT doc_id,
             count(*) AS n_chunks,
             count_if(rn = 1) AS n_kept,
             md5(string_agg(CASE WHEN rn = 1 THEN chunk END, ' '
                            ORDER BY s)) AS rebuilt_digest
      FROM ranked GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_chunks AS BIGINT) AS n_chunks,
           CAST(n_kept AS BIGINT) AS n_kept, rebuilt_digest
    FROM rebuilt ORDER BY doc_id
    """,
)
def llm_span_dedup_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level dedup WITH document reconstruction — the C4/RefinedWeb
    move that pairwise doc dedup can't make: split every document into
    non-overlapping 32-token spans, keep only each span's globally FIRST
    occurrence (ordered by doc_id, position — deterministic survivorship),
    and rebuild every document from its surviving spans, returning the
    rebuilt text's digest so the oracle verifies the reconstruction
    byte-for-byte, not just the counts.

    Shape: span explode is map-only; first-occurrence election is one
    window over the span-digest shuffle (never span x span); rebuild is a
    per-doc sorted aggregation. At 100 TB the span-digest shuffle is the
    single heavy stage and it carries (digest, doc_id, pos) triples, not
    text — the rebuild joins surviving spans back by position."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(32))
    ch = d.select(
        "doc_id", toks.alias("toks"), F.explode(starts).alias("s")
    ).select(
        "doc_id", "s", F.array_join(F.slice("toks", F.col("s"), 32), " ").alias("chunk")
    )
    rn = F.row_number().over(
        Window.partitionBy(F.md5("chunk")).orderBy("doc_id", "s")
    )
    ranked = ch.withColumn("rn", rn)
    rebuilt_text = F.array_join(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.when(F.col("rn") == 1, F.struct(F.col("s"), F.col("chunk")))
                )
            ),
            lambda x: x["chunk"],
        ),
        " ",
    )
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.count_if(F.col("rn") == 1).cast("bigint").alias("n_kept"),
            # a fully-duplicated doc keeps zero spans: NULL digest on both
            # engines (string_agg over no rows is NULL; md5('') is not)
            F.when(F.count_if(F.col("rn") == 1) > 0, F.md5(rebuilt_text)).alias(
                "rebuilt_digest"
            ),
        )
        .orderBy("doc_id")
    )
