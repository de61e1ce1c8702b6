"""Text analysis for training-data pipelines — SURVEY.md §2.C C12/C14 plus
driver-brief extensions (language-ID heuristic, quality scoring, document
fingerprinting). All JVM-side (split/explode/aggregate) — token work never
leaves codegen.

Scale notes: token-frequency is the canonical partial-agg win (map-side
combine collapses each partition to |vocab| rows). Per-doc scores are
map-only. Nothing here shuffles more than once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backup_repo_spark.registry import query
from backup_repo_spark.session import load_table

_STOPWORDS = ["a", "the", "of", "and", "to"]


@query(
    "llm_text_stats",
    oracle="""
    SELECT token, count(*) AS n, count(DISTINCT doc_id) AS df
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token ORDER BY n DESC, token LIMIT 20
    """,
)
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12: corpus token frequency + document frequency, top-20."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    return (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("doc_id").alias("df"))
        .orderBy(F.desc("n"), "token")
        .limit(20)
    )


@query(
    "llm_quality_filter",
    oracle="""
    WITH scored AS (
      SELECT source, doc_id, n_chars,
             len(string_split(text, ' ')) AS n_tokens,
             n_chars * 1.0 / len(string_split(text, ' ')) AS chars_per_tok,
             len(list_filter(string_split(text, ' '),
                 t -> list_contains(['a','the','of','and','to'], t))) * 1.0
               / len(string_split(text, ' ')) AS stop_ratio
      FROM documents
    )
    SELECT source, count(*) AS n_kept,
           round(avg(chars_per_tok), 4) AS avg_cpt,
           round(avg(stop_ratio), 4) AS avg_stop
    FROM scored
    WHERE n_tokens >= 20 AND chars_per_tok >= 3.0 AND stop_ratio < 0.5
    GROUP BY source ORDER BY source
    """,
)
def llm_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C14: quality-score pipeline — length, chars-per-token, stopword ratio
    → composed filter → per-source survival stats. The score computation is
    map-only; only the final per-source aggregate shuffles."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    cpt = F.col("n_chars") / n_tokens
    stops = F.array([F.lit(s) for s in _STOPWORDS])
    stop_ratio = F.size(F.filter(toks, lambda t: F.array_contains(stops, t))) / n_tokens
    scored = d.select(
        "source",
        n_tokens.alias("n_tokens"),
        cpt.alias("chars_per_tok"),
        stop_ratio.alias("stop_ratio"),
    )
    return (
        scored.filter(
            (F.col("n_tokens") >= 20)
            & (F.col("chars_per_tok") >= 3.0)
            & (F.col("stop_ratio") < 0.5)
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.round(F.avg("chars_per_tok"), 4).alias("avg_cpt"),
            F.round(F.avg("stop_ratio"), 4).alias("avg_stop"),
        )
        .orderBy("source")
    )


@query(
    "llm_lang_id",
    oracle="""
    WITH f AS (
      SELECT doc_id, lang,
             len(list_filter(string_split(text, ' '),
                 t -> list_contains(['a','the','of','and','to'], t))) * 1.0
               / len(string_split(text, ' ')) AS stop_ratio
      FROM documents
    ), g AS (
      SELECT doc_id, lang,
             CASE WHEN stop_ratio >= 0.08 THEN 'en' ELSE 'other' END AS lang_guess
      FROM f
    )
    SELECT lang, lang_guess, count(*) AS n
    FROM g GROUP BY lang, lang_guess ORDER BY lang, lang_guess
    """,
)
def llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: English-stopword density → en/other guess,
    cross-tabulated against the ground-truth lang column (a confusion
    matrix). The n-gram-profile approach degenerates on this synthetic
    single-vocabulary corpus, so the feature is stopword density — the
    heuristic's Spark plumbing (token filter ratios, case routing) is the
    operator under test."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stops = F.array([F.lit(s) for s in _STOPWORDS])
    stop_ratio = F.size(F.filter(toks, lambda t: F.array_contains(stops, t))) / F.size(toks)
    g = d.select(
        "lang",
        F.when(stop_ratio >= 0.08, "en").otherwise("other").alias("lang_guess"),
    )
    return (
        g.groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "lang_guess")
    )


@query(
    "llm_fingerprint",
    oracle="""
    WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    idx AS (SELECT doc_id, toks, generate_subscripts(toks, 1) AS i FROM tk),
    shingles AS (
      SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
      FROM idx WHERE i <= len(toks) - 2
    )
    SELECT doc_id, min(md5(sh)) AS fingerprint,
           substr(min(md5(sh)), 1, 8) AS fp_short
    FROM shingles GROUP BY doc_id
    """,
)
def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: rolling 3-gram windows hashed (md5 — the
    engine-independent stand-in for a rolling hash), min-selected per doc
    (winnowing with w = doc length). Map-only per document."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    sh = F.transform(
        F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(0))),
        lambda x, i: F.concat_ws(" ", x, F.element_at(toks, i + 2), F.element_at(toks, i + 3)),
    )
    hashed = F.transform(sh, lambda s: F.md5(s))
    fp = F.array_min(hashed)
    return d.select(
        "doc_id", fp.alias("fingerprint"), F.substring(fp, 1, 8).alias("fp_short")
    )


_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@query(
    "llm_token_count",
    oracle=f"""
    SELECT lang, count(*) AS docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
           CAST(sum(len(regexp_extract_all(text, '{_BPE_RE}'))) AS BIGINT) AS bpe_tokens,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways (driver brief): whitespace split and a
    BPE-ish regex lexer (letter runs | digit runs | single punctuation) —
    the pre-tokenizer shape real BPE vocabularies use. Both stay JVM-side
    (split / regexp_extract_all — no Python in the hot path); per-language
    corpus totals are the budget numbers an LLM data pipeline reports."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.size(F.split("text", " "))).cast("bigint").alias("ws_tokens"),
            F.sum(F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), F.lit(0))))
            .cast("bigint")
            .alias("bpe_tokens"),
            F.sum("n_chars").alias("chars"),
        )
        .orderBy("lang")
    )


@query(
    "llm_tfidf",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
    df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             tf.tf * (ln((n.n + 1.0) / (df.df + 1.0)) + 1.0) AS tfidf
      FROM tf JOIN df USING (token) CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, token, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, token) AS rn
      FROM scored
    )
    SELECT doc_id, token, round(tfidf, 4) AS tfidf
    FROM ranked WHERE rn = 1
    """,
)
def llm_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact TF-IDF (smoothed, sklearn-style idf = ln((N+1)/(df+1))+1) with
    the top-scoring token per document — the keyword-extraction /
    vocabulary-pruning primitive. Fully SQL-expressible, so unlike
    ml.feature.HashingTF (hash-bucketed, impl-specific) every value is
    oracle-verified. Two shuffles (tf by (doc,token), then by token). The
    corpus size N is NOT a plan node: ``d.count()`` runs eagerly while the
    DataFrame is built (2 jobs at build time) and enters the plan as a
    literal.

    r14 (guide §2.4): through r13 df was a second explode of the corpus
    into a groupBy(token) countDistinct(doc_id) — which internally
    re-aggregates by (token, doc_id), i.e. redoes tf's work — joined back
    onto tf. Since tf holds exactly one row per (doc_id, token),
    ``count(*) OVER (PARTITION BY token)`` on tf IS that distinct count:
    one Generate, one aggregate, no join (the retired tfidf_probe, README
    "Retired probes"; equality exact at sf0.01/sf0.1/50×: sf0.1 within
    noise, 50× template corpus
    3.31 → 2.76 s median, −16%)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    n = d.count()
    scored = tf.select(
        "doc_id",
        "token",
        (
            F.col("tf")
            * (
                F.log(
                    (n + 1.0)
                    / (F.count(F.lit(1)).over(Window.partitionBy("token")) + 1.0)
                )
                + 1.0
            )
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "token", F.round("tfidf", 4).alias("tfidf"))
    )


@query(
    "llm_quality_score",
    oracle="""
    WITH f AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq,
             CAST(len(list_filter(string_split(text, ' '),
                  t -> list_contains(['a','the','of','and','to'], t))) AS BIGINT)
               AS n_stop
      FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           round(n_uniq * 1.0 / n_tokens, 6) AS uniq_ratio,
           round(n_stop * 1.0 / n_tokens, 6) AS stop_ratio,
           round(0.4 * (n_uniq * 1.0 / n_tokens)
                 + 0.3 * (1 - n_stop * 1.0 / n_tokens)
                 + 0.3 * least(n_tokens / 100.0, 1.0), 6) AS quality
    FROM f ORDER BY doc_id
    """,
)
def llm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality scoring from ratio features — vocabulary
    diversity (distinct/total tokens), stopword density, and a saturating
    length credit — combined into one [0,1] score. The features a
    training-data curation pass thresholds on. Map-only JVM arithmetic on
    exact integer counts; doubles appear only in per-row ratios (IEEE
    deterministic), so the oracle verifies full per-doc values."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    nt = F.size(toks).cast("long")
    nu = F.size(F.array_distinct(toks)).cast("long")
    ns = F.size(F.filter(toks, lambda t: t.isin("a", "the", "of", "and", "to"))).cast(
        "long"
    )
    uniq = nu * F.lit(1.0) / nt
    stop = ns * F.lit(1.0) / nt
    return d.select(
        "doc_id",
        "lang",
        nt.alias("n_tokens"),
        F.round(uniq, 6).alias("uniq_ratio"),
        F.round(stop, 6).alias("stop_ratio"),
        F.round(
            0.4 * uniq + 0.3 * (1 - stop) + 0.3 * F.least(nt / 100.0, F.lit(1.0)),
            6,
        ).alias("quality"),
    ).orderBy("doc_id")


@query(
    "llm_repetition_signals",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    e AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    c AS (SELECT doc_id, tok, count(*) AS cnt FROM e GROUP BY doc_id, tok),
    top AS (SELECT doc_id, max(cnt) AS top_cnt FROM c GROUP BY doc_id),
    b AS (SELECT doc_id,
                 list_transform(range(1, len(toks)),
                                i -> toks[i] || ' ' || toks[i + 1]) AS bigrams
          FROM t)
    SELECT t.doc_id,
           len(t.toks) AS n_toks,
           top.top_cnt AS top_cnt,
           top.top_cnt * 1.0 / len(t.toks) AS top_tok_frac,
           1.0 - len(list_distinct(b.bigrams)) * 1.0 / len(b.bigrams)
               AS dup_bigram_frac,
           (top.top_cnt * 1.0 / len(t.toks) <= 0.2
            AND 1.0 - len(list_distinct(b.bigrams)) * 1.0 / len(b.bigrams) <= 0.5)
               AS keep
    FROM t
    JOIN top USING (doc_id)
    JOIN b USING (doc_id)
    ORDER BY t.doc_id
    """,
)
def llm_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: top-token
    fraction (most frequent token's share) and duplicate-bigram fraction,
    plus the keep/drop decision a curation pass makes from them. Two
    scalable shapes deliberately mixed: top-token runs as explode →
    two-level groupBy (shuffle-based, arbitrarily wide docs); bigram
    duplication stays map-only via array lambdas (zip_with of shifted
    slices + array_distinct — no shuffle at all). Fractions are projected
    as raw IEEE divisions (bit-identical cross-engine, no rounding)."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", F.split("text", " ").alias("toks"))
    top = (
        base.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("top_cnt"))
    )
    bigrams = F.expr(
        "zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1),"
        " (a, b) -> concat(a, ' ', b))"
    )
    sig = base.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_toks"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct(bigrams)) * F.lit(1.0) / F.size(bigrams)
        ).alias("dup_bigram_frac"),
    )
    top_frac = F.col("top_cnt") * F.lit(1.0) / F.col("n_toks")
    return (
        sig.join(top, "doc_id")
        .select(
            "doc_id",
            "n_toks",
            "top_cnt",
            top_frac.alias("top_tok_frac"),
            "dup_bigram_frac",
            ((top_frac <= 0.2) & (F.col("dup_bigram_frac") <= 0.5)).alias("keep"),
        )
        .orderBy("doc_id")
    )


@query(
    "llm_ngram_entropy",
    oracle="""
    WITH tk AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), c AS (
      SELECT doc_id, w, count(*) AS c FROM tk GROUP BY 1, 2
    ), n AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             count(*) AS n_distinct
      FROM c GROUP BY 1
    )
    SELECT c.doc_id, n.n_tokens, n.n_distinct,
           round(log2(n.n_tokens) - sum(c.c * log2(c.c)) / n.n_tokens, 6)
             AS entropy_bits
    FROM c JOIN n USING (doc_id)
    GROUP BY c.doc_id, n.n_tokens, n.n_distinct
    """,
)
def llm_ngram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram Shannon entropy per document (bits/token) — the standard
    diversity/repetitiveness quality signal (low entropy = boilerplate or
    degenerate repetition; complements `llm_repetition_signals`' top-token
    fractions with an information-theoretic score).

    entropy = log2(n) - sum(c*log2(c))/n over exact integer counts; the
    float sum is rounded to 6 dp per the cross-engine aggregate policy.
    Shape: explode -> two partial-aggregable groupBys, no window, no
    shuffle wider than (doc_id, token)."""
    d = load_table(spark, sf_dir, "documents")
    tk = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    c = tk.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    n = c.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"), F.count(F.lit(1)).alias("n_distinct")
    )
    return (
        c.join(n, "doc_id")
        .groupBy("doc_id", "n_tokens", "n_distinct")
        .agg(
            F.round(
                F.log2("n_tokens")
                - F.sum(F.col("c") * F.log2("c")) / F.col("n_tokens"),
                6,
            ).alias("entropy_bits")
        )
    )


@query(
    "llm_source_signature",
    oracle="""
    WITH tk AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ), sc AS (
      SELECT source, w, count(*) AS c FROM tk GROUP BY 1, 2
    ), st AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n FROM sc GROUP BY 1
    ), cc AS (
      SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM sc GROUP BY 1
    ), tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM sc),
    lift AS (
      SELECT sc.source, sc.w, sc.c,
             sc.c * tot.n * 1.0 / (st.n * cc.cw) AS lift
      FROM sc JOIN st USING (source) JOIN cc USING (w) CROSS JOIN tot
      WHERE sc.c >= 5
    ), r AS (
      SELECT *, row_number() OVER (
        PARTITION BY source ORDER BY lift DESC, w) AS rn
      FROM lift
    )
    SELECT source, w AS token, c, lift FROM r WHERE rn <= 3
    """,
)
def llm_source_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive source signatures: the 3 most DISTINCTIVE tokens per
    source by lift = p(token|source)/p(token) — the corpus-diagnostics view
    that surfaces what makes a crawl slice different (boilerplate, domain
    jargon) before mixing weights are chosen. Exact integer counts, tiny
    broadcast dictionaries, one IEEE division, per-source window top-3 —
    same determinism construction as `llm_collocations`."""
    d = load_table(spark, sf_dir, "documents")
    tk = d.select("source", F.explode(F.split("text", " ")).alias("w"))
    sc = tk.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    st = sc.groupBy("source").agg(F.sum("c").alias("n"))
    cc = sc.groupBy("w").agg(F.sum("c").alias("cw"))
    tot = sc.agg(F.sum("c").alias("tn"))
    lift = (
        sc.join(F.broadcast(st), "source")
        .join(F.broadcast(cc), "w")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("c") >= 5)
        .select(
            "source", "w", "c",
            (F.col("c") * F.col("tn") * 1.0 / (F.col("n") * F.col("cw"))).alias("lift"),
        )
    )
    from pyspark.sql.window import Window

    rn = F.row_number().over(
        Window.partitionBy("source").orderBy(F.desc("lift"), "w")
    )
    return (
        lift.withColumn("rn", rn)
        .filter(F.col("rn") <= 3)
        .select("source", F.col("w").alias("token"), "c", "lift")
    )


_VOCAB_MILESTONES = (100, 200, 300, 400, 500)


@query(
    "llm_vocab_growth",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    )
    SELECT {", ".join(
        f"count(DISTINCT CASE WHEN doc_id < {m} THEN w END) AS vocab_{m}"
        for m in _VOCAB_MILESTONES)}
    FROM tk
    """,
)
def llm_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth curve: distinct-token count after the
    first 100/200/.../500 documents, all five milestones in ONE pass via
    conditional DISTINCT aggregates (no per-milestone rescan). The curve's
    flattening rate is the dedup/diversity diagnostic that says when more
    of the same source stops adding vocabulary."""
    d = load_table(spark, sf_dir, "documents")
    tk = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    return tk.agg(
        *[
            F.countDistinct(
                F.when(F.col("doc_id") < m, F.col("w"))
            ).alias(f"vocab_{m}")
            for m in _VOCAB_MILESTONES
        ]
    )


@query(
    "llm_tfidf_docsim",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
    df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token),
    n AS (SELECT count(*) AS n FROM documents),
    w AS (
      SELECT doc_id, token,
             tf * (ln((n.n + 1.0) / (df.df + 1.0)) + 1.0) AS w
      FROM tf JOIN df USING (token) CROSS JOIN n
    ),
    nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS qid, b.doc_id AS cid, sum(a.w * b.w) AS dot
      FROM w a JOIN w b ON a.token = b.token AND b.doc_id <> a.doc_id
      WHERE a.doc_id < 5
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT qid, cid, dot / (na.nrm * nb.nrm) AS cos
      FROM dots JOIN nrm na ON qid = na.doc_id JOIN nrm nb ON cid = nb.doc_id
    ),
    r AS (
      SELECT qid, cid, cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
      FROM scored
    )
    SELECT qid, cid AS best_match, round(cos, 4) AS cos_sim
    FROM r WHERE rn = 1
    """,
)
def llm_tfidf_docsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEXICAL document similarity: TF-IDF-weighted sparse cosine via a
    shared-token join (the inverted-index formulation — cost scales with
    co-occurring tokens, never the dense doc×doc product), best match per
    query doc. The sparse complement of `llm_sim_search`'s dense-embedding
    cosine; at 100 TB the token join IS the inverted index, with stop-token
    df-pruning bounding the hottest posting lists."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n"))
    w = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "token",
            (
                F.col("tf")
                * (F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)) + 1.0)
            ).alias("w"),
        )
    )
    nrm = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    a = w.filter(F.col("doc_id") < 5).alias("a")
    b = w.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("b.doc_id") != F.col("a.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("qid"), F.col("b.doc_id").alias("cid"))
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
    )
    scored = (
        dots.join(F.broadcast(nrm.alias("na")), F.col("qid") == F.col("na.doc_id"))
        .join(F.broadcast(nrm.alias("nb")), F.col("cid") == F.col("nb.doc_id"))
        .select(
            "qid", "cid",
            (F.col("dot") / (F.col("na.nrm") * F.col("nb.nrm"))).alias("cos"),
        )
    )
    rn = F.row_number().over(Window.partitionBy("qid").orderBy(F.desc("cos"), "cid"))
    return (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("qid", F.col("cid").alias("best_match"), F.round("cos", 4).alias("cos_sim"))
    )


@query(
    "llm_source_gini",
    oracle="""
    WITH c AS (SELECT source, count(*) AS x FROM documents GROUP BY source),
    r AS (
      SELECT x, row_number() OVER (ORDER BY x, source) AS i FROM c
    ), t AS (
      SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(i * x) AS BIGINT) AS six
      FROM r
    )
    SELECT n AS n_sources, sx AS n_docs,
           (2.0 * six) / (n * sx) - (n + 1.0) / n AS gini
    FROM t
    """,
)
def llm_source_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of corpus composition across sources — one number
    for 'how concentrated is this dataset' (0 = perfectly balanced,
    →1 = one source dominates), the summary the mixture-reweighting step
    (`llm_source_mixture`) is judged against. Computed from the sorted-
    rank formula with exact integer Σi·x and Σx — the only floats are two
    final IEEE divisions, bit-identical."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(F.count(F.lit(1)).alias("x"))
    r = c.select(
        "x", F.row_number().over(Window.orderBy("x", "source")).alias("i")
    )
    t = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("i") * F.col("x")).cast("bigint").alias("six"),
    )
    return t.select(
        F.col("n").alias("n_sources"),
        F.col("sx").alias("n_docs"),
        (
            (2.0 * F.col("six")) / (F.col("n") * F.col("sx"))
            - (F.col("n") + 1.0) / F.col("n")
        ).alias("gini"),
    )


@query(
    "llm_boilerplate_prefix",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             array_to_string(string_split(text, ' ')[1:8], ' ') AS prefix
      FROM documents
    ), g AS (
      SELECT prefix, count(*) AS n_docs, min(doc_id) AS first_doc
      FROM p GROUP BY prefix
    )
    SELECT prefix, n_docs, first_doc
    FROM g WHERE n_docs >= 3
    """,
)
def llm_boilerplate_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection by PREFIX clustering: documents sharing their
    first 8 tokens (templated headers, scraped navigation, license
    preambles). Cheaper and earlier in the pipeline than MinHash — a
    single groupBy on a fixed-width key — and its hits feed the
    stripping stage before near-dup runs. Map-only prefix extraction;
    partial-aggregable count."""
    d = load_table(spark, sf_dir, "documents")
    prefix = F.array_join(F.slice(F.split("text", " "), 1, 8), " ")
    return (
        d.select("doc_id", prefix.alias("prefix"))
        .groupBy("prefix")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc"))
        .filter(F.col("n_docs") >= 3)
    )


@query(
    "llm_novelty_score",
    oracle="""
    WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    idx AS (SELECT doc_id, toks, generate_subscripts(toks, 1) AS i FROM tk),
    big AS (
      SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] AS bg
      FROM idx WHERE i <= len(toks) - 1
    ), first_seen AS (
      SELECT bg, min(doc_id) AS first_doc FROM big GROUP BY bg
    )
    SELECT b.doc_id,
           count(*) AS n_bigrams,
           CAST(sum(CASE WHEN f.first_doc = b.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           sum(CASE WHEN f.first_doc = b.doc_id THEN 1 ELSE 0 END) * 1.0
             / count(*) AS novelty
    FROM big b JOIN first_seen f USING (bg)
    GROUP BY b.doc_id
    """,
)
def llm_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Originality score: the fraction of a document's distinct bigrams
    whose FIRST corpus occurrence (by doc_id order) is this document —
    near-zero for reposts and template copies even when exact/near dedup
    misses them, high for genuinely new text. Streaming-corpus analog:
    first_seen is the persisted bigram registry, each batch anti-joins
    against it. Exact integers + one division.

    r14 (guide §2.4): through r13 first_doc was a groupBy(bg) min
    equi-joined back onto the exploded relation — two interpreted bigram
    Generates and, past the broadcast threshold, a second exploded-mass
    shuffle. ``min(doc_id) OVER (PARTITION BY bg)`` is the same value per
    row with ONE Generate and ONE exchange (the window min over a row's
    bg-group IS the aggregate's min; the inner join kept every row).
    Measured interleaved at the noop sink (the retired novelty_probe,
    README "Retired probes"; equality exact at sf0.01/sf0.1/50×): sf0.1
    3.19 → 2.14 s median
    (−33%), 50× template corpus 18.16 → 7.70 s (−58%)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    bg_arr = F.array_distinct(
        F.transform(
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda x, i: F.concat_ws(" ", x, F.element_at(toks, i + 2)),
        )
    )
    big = d.select("doc_id", F.explode(bg_arr).alias("bg"))
    fd = big.select(
        "doc_id", F.min("doc_id").over(Window.partitionBy("bg")).alias("first_doc")
    )
    novel = (F.col("first_doc") == F.col("doc_id")).cast("int")
    return fd.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum(novel).cast("bigint").alias("n_novel"),
        (F.sum(novel) * 1.0 / F.count(F.lit(1))).alias("novelty"),
    )


_POS_WORDS = ("fast", "small")
_NEG_WORDS = ("slow", "big", "dup")


@query(
    "llm_sentiment_lexicon",
    oracle=f"""
    WITH scored AS (
      SELECT lang,
             len(list_filter(string_split(text, ' '),
                 x -> x IN ({", ".join(repr(w) for w in _POS_WORDS)}))) AS pos,
             len(list_filter(string_split(text, ' '),
                 x -> x IN ({", ".join(repr(w) for w in _NEG_WORDS)}))) AS neg,
             len(string_split(text, ' ')) AS nt
      FROM documents
    )
    SELECT lang, count(*) AS n_docs,
           round(avg((pos - neg) * 1.0 / nt), 6) AS avg_polarity,
           CAST(count_if(pos > neg) AS BIGINT) AS n_positive,
           CAST(count_if(neg > pos) AS BIGINT) AS n_negative,
           CAST(count_if(pos = neg) AS BIGINT) AS n_neutral
    FROM scored GROUP BY lang ORDER BY lang
    """,
)
def llm_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based sentiment/polarity scoring at corpus scale (the
    shape of "Large Scale Sentiment Analysis on Twitter with Spark",
    EDBT 2016, PAPERS.md): per-document polarity = (pos-hits − neg-hits) /
    tokens with a fixed word lexicon, rolled up per language. Entirely
    JVM higher-order filters — map-only until the per-lang aggregate, so
    the lexicon pass costs one scan at any corpus size. The lexicon here
    is a fixed demo list over the synthetic vocabulary; swapping in a real
    polarity lexicon is a data change, not a code change."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    scored = d.select(
        "lang",
        F.size(F.filter(toks, lambda x: x.isin(*_POS_WORDS))).alias("pos"),
        F.size(F.filter(toks, lambda x: x.isin(*_NEG_WORDS))).alias("neg"),
        F.size(toks).alias("nt"),
    )
    pol = (F.col("pos") - F.col("neg")) * 1.0 / F.col("nt")
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(pol), 6).alias("avg_polarity"),
            F.count_if(F.col("pos") > F.col("neg")).cast("bigint").alias("n_positive"),
            F.count_if(F.col("neg") > F.col("pos")).cast("bigint").alias("n_negative"),
            F.count_if(F.col("pos") == F.col("neg")).cast("bigint").alias("n_neutral"),
        )
        .orderBy("lang")
    )
