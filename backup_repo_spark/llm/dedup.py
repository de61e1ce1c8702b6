"""Deduplication operators for training-data pipelines — SURVEY.md §2.C
C9/C10 plus the driver-brief extensions (MinHash signatures, SimHash,
n-gram Jaccard). Not in the reference (Astro predates this workload class);
designed Spark-first for 100 TB corpora.

Scale strategy per operator:
- exact: hash-groupBy on md5(text) — shuffle carries 16-byte keys, not
  documents. At 100 TB, group on (length(text), md5) to short-circuit.
- minhash signature: per-doc map-only computation (no shuffle at all);
  signatures then feed band-bucket joins.
- LSH candidate pairs: pyspark.ml MinHashLSH approxSimilarityJoin — the
  O(n·bands) alternative to the O(n²) pair space.
- n-gram Jaccard: exact verification for candidate pairs; the shingle
  self-join is quadratic per hot shingle, so at scale it runs AFTER an LSH
  candidate filter, never on the full corpus (here the corpus is small and
  the full join doubles as the oracle check).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backup_repo_spark.registry import ORACLES, QUERIES, query
from backup_repo_spark.session import load_table

# ---------------------------------------------------------------------------
# Shared MinHash-LSH building blocks (ADVICE r7: llm_dedup_minhash_banded,
# llm_lsh_eval and llm_lsh_plan each hand-copied the shingle/signature
# construction, and the "the 4x2 planner row IS the shipped configuration"
# guarantee rested on three copies staying manually in sync). The Spark
# expressions and the DuckDB CTE strings below are now the single source of
# truth for that hash family on both sides of the oracle comparison.


def _shingle3_arr():
    """DISTINCT 3-gram word-shingle array expression over `text`."""
    toks = F.split(F.col("text"), " ")
    return F.array_distinct(
        F.transform(
            F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(0))),
            lambda x, i: F.concat_ws(
                " ", x, F.element_at(toks, i + 2), F.element_at(toks, i + 3)
            ),
        )
    )


def _shingles3(d: DataFrame) -> DataFrame:
    """Exploded distinct 3-shingles: (doc_id, sh). Map-side only."""
    return d.select("doc_id", F.explode(_shingle3_arr()).alias("sh"))


def _sig8(shingles: DataFrame) -> DataFrame:
    """THE shipped 8-hash salted-md5 MinHash family (salts b1..b8):
    (doc_id, h1..h8). Engine-independent, so oracles verify the values.

    Shape note (r13, measured by the retired sig_probe, README "Retired
    probes"): a map-side formulation — array_min(transform(shingle_arr,
    s -> md5(salt||s)))
    per hash, no explode / no Exchange / no aggregate — produces
    identical rows but was REJECTED at the 50x octave: +15.3% on the
    full banded pipeline (the sig aggregation's Exchange is the
    ReusedExchange point that lets the band self-join read the hashes
    once; map-side, each join side recomputes every md5), and still
    +5-14% on single-consumer shapes (higher-order functions are
    CodegenFallback — interpreted per element — while explode +
    min-aggregate runs whole-stage-codegen'd, and the Exchange it pays
    carries only one partially-aggregated row per doc). The exploded
    groupBy below is the measured-fastest form on BOTH single- and
    multi-reader shapes."""
    return shingles.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"b{i}-"), F.col("sh")))).alias(f"h{i}")
            for i in range(1, 9)
        ]
    )


def _bands42(sig: DataFrame) -> DataFrame:
    """The shipped 4-band × 2-row banding of `_sig8`: (doc_id, band, bkey)."""
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat(F.col(f"h{2 * b - 1}"), F.col(f"h{2 * b}")).alias(
                            "bkey"
                        ),
                    )
                    for b in (1, 2, 3, 4)
                ]
            )
        ).alias("e"),
    ).select("doc_id", "e.band", "e.bkey")


def _exact_pairs(shingles: DataFrame, tau: float) -> DataFrame:
    """Exact shingle-set Jaccard pairs at threshold `tau`:
    (da, db, jaccard[double, unrounded]). The equi-self-join on `sh`
    computes |A∩B| without materializing the pair space; quadratic in the
    hottest shingle's doc frequency, so at 100 TB it runs on LSH
    candidates or a planning sample, never the full corpus.

    Shape note (r13, measured): attaching the per-doc set size map-side
    at explode time (to drop the `sizes` groupBy + join-backs, the
    `_jaccard_verify` trick) REGRESSES this all-pairs form +70% at the
    10x octave (the retired sized_shingles_probe, README "Retired
    probes") — the extra column rides
    the quadratic sh-keyed self-join and its pair-mass aggregate, while
    the `sizes` join-backs it would save are broadcast-cheap at the
    sample scales these diagnostics are scoped to. Kept as-is."""
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = shingles.alias("a"), shingles.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = F.col("i") * 1.0 / (F.col("sa.n") + F.col("sb.n") - F.col("i"))
    return (
        inter.join(sizes.alias("sa"), F.col("da") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("db") == F.col("sb.doc_id"))
        .filter(jac >= tau)
        .select("da", "db", jac.alias("jaccard"))
    )


# --- exact-duplicate collapse for the banded family (VERDICT r9 #1) -------
#
# Band-bucket hot keys are bounded by band width only for RANDOM collisions:
# exact-duplicate documents share EVERY band key, so a duplicate cluster of
# size m used to contribute m²/2 candidate pairs in one bucket no matter how
# wide the bands are (a boilerplate-heavy crawl at 100 TB makes that bucket a
# straggler task that never finishes). The fix composes the layer the engine
# already had (`llm_dedup_exact`'s md5(text) hash-collapse) IN FRONT of the
# banded join: shingle/sign/band ONE representative per content hash, run the
# candidate join and the exact-Jaccard verification on representatives only,
# and expand pairs/clusters/keepers back through the hash groups afterward.
# Results are provably identical — identical text ⇒ identical shingle set ⇒
# intra-group Jaccard is exactly 1 (≥ any threshold) and every group member
# inherits its representative's bands, candidates, and verified Jaccard —
# and the representative IS the group's min doc_id, so min-label propagation
# over the representative graph converges to the same component labels as
# over the expanded graph.


def _collapse(d: DataFrame):
    """Exact-duplicate collapse of `documents`: one representative (the
    group-min doc_id) per md5(text) content hash.

    Returns (mem, repdocs): `mem` = (doc_id, rep, gsize) membership map,
    `repdocs` = the representative document rows only. Shuffles carry
    16-byte hashes / 8-byte ids, never text bodies twice.

    NULL-text invariant (ADVICE r10): md5(NULL) is NULL, so NULL-text
    documents form a groupBy group but fail the `th` equi-join and are
    INTENTIONALLY absent from `mem` (and from `repdocs`' join in
    llm_incremental_dedup). That is the correct semantics — a NULL text
    can never shingle, band, or pair, exactly like the sub-3-token docs
    the `sig_reps` cutoff excludes — and it is pinned by the NULL-text
    adversarial corpus test (tests/test_adversarial_corpus.py)."""
    withth = d.withColumn("th", F.md5("text"))
    groups = withth.groupBy("th").agg(
        F.min("doc_id").alias("rep"), F.count(F.lit(1)).alias("gsize")
    )
    mem = withth.select("doc_id", "th").join(groups, "th").select(
        "doc_id", "rep", "gsize"
    )
    repdocs = d.join(
        groups.select(F.col("rep").alias("doc_id")), "doc_id"
    )
    return mem, repdocs


def _jaccard_verify(cand: DataFrame, repdocs: DataFrame, tau: float = 0.5) -> DataFrame:
    """Exact shingle-Jaccard verification of CANDIDATE pairs (da, db):
    returns (da, db, jaccard[double, unrounded]) for pairs at >= tau.
    The post-LSH step, never an all-pairs join. Single implementation
    shared by the banded pipeline, the salt arm, the ml-LSH parity key,
    the incremental nightly path, and the salt planner/eval audits.

    Array formulation (r13, optimization guide §2.3/§2.4): the per-doc
    DISTINCT shingle set already exists map-side as `_shingle3_arr` over
    the representative rows, so |A∩B| = size(array_intersect(a, b)) and
    |A| = size(a) — two doc_id-keyed joins of the candidate list against
    ONE array relation (ReusedExchange shares its exchange), no exploded
    pair x shared-shingle intermediate, no `sizes` groupBy, no join-backs.
    Values are bit-identical to the exploded form the DuckDB oracles
    spell (the retired verify_probe, README "Retired probes", asserted
    exact tuple equality; pinned by
    test_adversarial_corpus.py::test_jaccard_verify_matches_exploded_form
    ): both arrays are distinct, so size(array_intersect) is the
    same integer the (doc_id, sh) equi-join counts, and i*1.0/(na+nb-i)
    over equal integers is the same double. Pairs sharing zero shingles
    surface as jaccard=0 here (vs dropping out of the old inner join) and
    are removed by the same >= tau filter (tau > 0 always). Measured at
    the 50x template octave (verify_probe, interleaved, noop
    sink): full banded pipeline 37.5 s -> 28.3 s, -24.7%."""
    arrs = repdocs.select("doc_id", _shingle3_arr().alias("arr"))
    va, vb = arrs.alias("va"), arrs.alias("vb")
    i = F.size(F.array_intersect(F.col("va.arr"), F.col("vb.arr")))
    jac = i * 1.0 / (F.size(F.col("va.arr")) + F.size(F.col("vb.arr")) - i)
    return (
        cand.join(va, F.col("da") == F.col("va.doc_id"))
        .join(vb, F.col("db") == F.col("vb.doc_id"))
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= tau)
        .select("da", "db", "jaccard")
    )


def _salt32(band, th):
    """Engine-independent 32-bit band salt: first 8 hex chars of
    md5('salt-<band>-<text-hash>') as BIGINT. The single Spark-side salt
    definition — `_SALT32_SQL` is its DuckDB mirror; change both or
    neither (the salted keys' value oracles pin them equal)."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit("salt-"), band.cast("string"), F.lit("-"), th)),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")


# DuckDB mirror of _salt32 (band expr, text-hash expr are spliced in).
_SALT32_SQL = (
    "CAST(('0x' || substring(md5('salt-' || CAST({band} AS VARCHAR)"
    " || '-' || {th}), 1, 8)) AS BIGINT)"
)


def _salt_bands(bands: DataFrame, repdocs: DataFrame, cap: int) -> DataFrame:
    """Hot-bucket mitigation (VERDICT r10 #3, pairs with the
    `llm_lsh_bucket_stats` diagnostic): split every band bucket larger
    than `cap` into ceil(m / cap) sub-buckets by a per-doc-per-band salt,
    so the candidate join's largest key group is bounded by ~cap instead
    of by the hottest template family's size. Returns bands + `sub`.

    The salt is engine-independent (32 bits of md5 over
    'salt-<band>-<md5(text)>'; widened from 16 per ADVICE r11 so a hot
    bucket of m > 65536*cap docs — crawl-scale template families against
    a production cap of O(10^3) — still spreads over all ceil(m/cap)
    sub-buckets instead of silently degrading to ~m/65536 per group; 32
    bits bounds the operating range at m <= 4.3e9*cap, past any
    single-bucket population a 100 TB corpus can produce) and PER BAND:
    the same pair of documents
    draws an independent sub-bucket assignment in each of the 4 bands, so
    bands keep their OR-over-trials LSH character — a true pair inside one
    hot bucket survives with p = 1-(1-1/n_sub)^(#shared hot bands) rather
    than a single 1/n_sub trial. Cold buckets (m <= cap) get n_sub = 1 and
    are byte-identical to the unsalted join input. The recall this trades
    away is measured, not hoped: `llm_lsh_salt_eval` prices it next to the
    candidate-mass reduction."""
    bsz = bands.groupBy("band", "bkey").agg(F.count(F.lit(1)).alias("m"))
    rsalt = repdocs.select("doc_id", F.md5("text").alias("th"))
    n_sub = F.expr(f"(m + {cap - 1}) DIV {cap}")
    salt = _salt32(F.col("band"), F.col("th"))
    return (
        bands.join(bsz, ["band", "bkey"])
        .join(rsalt, "doc_id")
        .select("doc_id", "band", "bkey", (salt % n_sub).alias("sub"))
    )


def _banded_rep_pairs(d: DataFrame, salt_cap: int | None = None):
    """The collapse-first banded-LSH core: verified near-dup pairs over
    exact-duplicate REPRESENTATIVES.

    Returns (mem, rep_pairs, sig_reps):
    - mem: (doc_id, rep, gsize) content-hash membership map,
    - rep_pairs: (da, db, jaccard[rounded 4]) verified pairs, both ends
      representatives, da < db,
    - sig_reps: (rep) representatives with ≥1 shingle (docs under 3 tokens
      produce no signature, hence no bands, hence no pairs — group
      expansion must observe the same cutoff).

    With `salt_cap` set, band buckets larger than the cap are split into
    sub-buckets by `_salt_bands` and candidates form only within a
    sub-bucket — the near-identical-template mitigation arm
    (`llm_dedup_salted_band`). Default None is the shipped exact pipeline."""
    mem, repdocs = _collapse(d)
    shingles = _shingles3(repdocs)
    bands = _bands42(_sig8(shingles))
    cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bkey") == F.col("b.bkey"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    if salt_cap is not None:
        bands = _salt_bands(bands, repdocs, salt_cap)
        cond = (F.col("a.sub") == F.col("b.sub")) & cond
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, cond)
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .distinct()
    )
    rep_pairs = _jaccard_verify(cand, repdocs).select(
        "da", "db", F.round("jaccard", 4).alias("jaccard")
    )
    # "has ≥1 shingle" ⟺ "has ≥3 tokens" (the slice emits len-2 shingles
    # and array_distinct of a non-empty array is non-empty), so the cutoff
    # is a map-only filter on the representative rows — measured 2.0 s vs
    # 9.0 s for re-deriving it from the shingle groupBy at the 50× octave.
    sig_reps = repdocs.filter(
        F.size(F.split("text", " ")) >= 3
    ).select(F.col("doc_id").alias("rep"))
    return mem, rep_pairs, sig_reps


def _expand_rep_pairs(
    rep_pairs: DataFrame, mem: DataFrame, sig_reps: DataFrame
) -> DataFrame:
    """Expand verified REPRESENTATIVE pairs (da, db, jaccard) back through
    the content-hash groups: cross-group member pairs inherit their
    representative pair's verified Jaccard (identical text ⇒ identical
    shingle set), intra-group pairs are emitted at exactly 1.0 straight
    from the membership map — id-level rows only, no shingle work. Groups
    whose representative has no shingle (`sig_reps`) are excluded from the
    intra expansion, matching the uncollapsed pipeline where sub-3-token
    docs band nowhere. least/greatest re-orders each expanded pair because
    a member of the lower-rep group may carry the higher doc_id.

    The verified pair set is localCheckpoint()ed at entry: the expansion
    plan references it from two union branches, and without the barrier
    Spark re-evaluates the whole band-join + Jaccard-verification DAG per
    reference — measured 92.6 s vs 26.0 s for the full banded key at the
    50× octave (250k docs). The checkpoint materializes only the
    pair-graph-sized relation (da, db, jaccard), never the corpus — the
    same barrier `_component_labels` already puts under label
    propagation. (NOTE: this executes the verification jobs at plan-build
    time — the standing sweep caveat for localCheckpoint keys. ADVICE
    r10 weighed `localCheckpoint(eager=False)` as the escape hatch if
    plan-only consumers — explain(), the plan sweep — ever need to stop
    paying execution; kept eager deliberately: every production consumer
    executes the pairs anyway, and lazy checkpoints first materialize
    INSIDE another action, which muddies the per-stage timing records
    the octave protocol depends on.)"""
    rep_pairs = rep_pairs.localCheckpoint()
    p, ma, mb = rep_pairs.alias("p"), mem.alias("ma"), mem.alias("mb")
    cross = (
        p.join(ma, F.col("ma.rep") == F.col("p.da"))
        .join(mb, F.col("mb.rep") == F.col("p.db"))
        .select(
            F.least("ma.doc_id", "mb.doc_id").alias("da"),
            F.greatest("ma.doc_id", "mb.doc_id").alias("db"),
            F.col("p.jaccard").alias("jaccard"),
        )
    )
    dup_mem = mem.filter(F.col("gsize") >= 2).join(sig_reps, "rep")
    x, y = dup_mem.alias("x"), dup_mem.alias("y")
    intra = x.join(
        y,
        (F.col("x.rep") == F.col("y.rep"))
        & (F.col("x.doc_id") < F.col("y.doc_id")),
    ).select(
        F.col("x.doc_id").alias("da"),
        F.col("y.doc_id").alias("db"),
        F.lit(1.0).alias("jaccard"),
    )
    return cross.unionByName(intra)


def _banded_doc_labels(d: DataFrame) -> DataFrame:
    """Doc-level (node, label) connected-component labels over the banded
    verified pair graph, computed collapse-first: min-label propagation
    runs on the REPRESENTATIVE pair graph (one node per content hash), and
    labels expand to members through the hash groups with one linear join.
    A duplicate-only group (gsize ≥ 2, no cross-content pair) is its own
    complete-graph component in the expanded graph, so its representative
    joins the label set as a singleton rep-component — provided it has a
    signature at all (sub-3-token docs band nowhere and stay unlabeled,
    exactly as in the expanded graph). Labels are identical to running
    `_component_labels` on the expanded pair set because the expanded
    component minimum is always a representative (rep = group min)."""
    mem, rep_pairs, sig_reps = _banded_rep_pairs(d)
    rep_labels = _component_labels(rep_pairs)
    lone_dup_reps = (
        mem.filter(F.col("gsize") >= 2)
        .select("rep")
        .distinct()
        .join(sig_reps, "rep")
        .join(rep_labels.select(F.col("node").alias("rep")), "rep", "left_anti")
        .select(F.col("rep").alias("node"), F.col("rep").alias("label"))
    )
    rep_labels_all = rep_labels.unionByName(lone_dup_reps)
    return (
        mem.join(rep_labels_all, mem.rep == rep_labels_all.node)
        .select(F.col("doc_id").alias("node"), "label")
    )


# DuckDB mirror of the same family, composable CTE fragments (each fragment
# only references names defined earlier in the composition order used below).
_LSH_SHINGLE_CTES = """
    tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    idx AS (SELECT doc_id, toks, generate_subscripts(toks, 1) AS i FROM tk),
    shingles AS (
      SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
      FROM idx WHERE i <= len(toks) - 2
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id
    )"""

# exact all-pairs truth at tau=0.5: inter (all-pairs intersection) + tp
_LSH_TRUTH_CTES = """
    inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
      FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), tp AS (
      SELECT da, db
      FROM inter JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
      WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
    )"""

_LSH_SIG_CTE = """
    sig AS (
      SELECT doc_id,
             min(md5('b1-' || sh)) AS h1, min(md5('b2-' || sh)) AS h2,
             min(md5('b3-' || sh)) AS h3, min(md5('b4-' || sh)) AS h4,
             min(md5('b5-' || sh)) AS h5, min(md5('b6-' || sh)) AS h6,
             min(md5('b7-' || sh)) AS h7, min(md5('b8-' || sh)) AS h8
      FROM shingles GROUP BY doc_id
    )"""

_LSH_BANDS42_CTES = """
    bands AS (
      SELECT doc_id, 1 AS band, h1 || h2 AS bkey FROM sig
      UNION ALL SELECT doc_id, 2, h3 || h4 FROM sig
      UNION ALL SELECT doc_id, 3, h5 || h6 FROM sig
      UNION ALL SELECT doc_id, 4, h7 || h8 FROM sig
    ), cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )"""


@query(
    "llm_dedup_exact",
    oracle="""
    SELECT md5(text) AS th, min(doc_id) AS keeper, count(*) AS copies
    FROM documents GROUP BY md5(text)
    """,
)
def llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9: exact dedup via content hash. keeper = min(doc_id) makes survivor
    choice deterministic (dropDuplicates would keep an arbitrary row)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("th")).agg(
        F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("copies")
    )


@query(
    "llm_minhash_signature",
    oracle="""
    WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    idx AS (SELECT doc_id, toks, generate_subscripts(toks, 1) AS i FROM tk),
    shingles AS (
      SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
      FROM idx WHERE i <= len(toks) - 2
    )
    SELECT doc_id,
           min(md5('s1-' || sh)) AS mh1,
           min(md5('s2-' || sh)) AS mh2,
           min(md5('s3-' || sh)) AS mh3,
           min(md5('s4-' || sh)) AS mh4
    FROM shingles GROUP BY doc_id
    """,
)
def llm_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures with md5-family hash functions — fully
    deterministic and engine-independent (unlike ml.MinHashLSH's internal
    hashes), so the oracle can verify the signature values themselves.
    Map-only: shingle → 4 salted hashes → min. Zero shuffle before the
    final per-doc aggregate. (Distinct 4-hash s1..s4 family — the shipped
    8-hash banding family lives in `_sig8`.)"""
    d = load_table(spark, sf_dir, "documents")
    ex = _shingles3(d)
    return ex.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"s{i}-"), F.col("sh")))).alias(f"mh{i}")
            for i in range(1, 5)
        ]
    )


@query(
    "llm_dedup_ngram",
    oracle="""
    WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    idx AS (SELECT doc_id, toks, generate_subscripts(toks, 1) AS i FROM tk),
    shingles AS (
      SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
      FROM idx WHERE i <= len(toks) - 2
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
      FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT da, db, round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
    FROM inter JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.35
    """,
)
def llm_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (3-shingle) Jaccard near-dup pairs at threshold 0.35.

    The shingle equi-self-join computes |A∩B| without materializing the pair
    space; at 100 TB this stage runs only on LSH candidate pairs (the
    shingle join is quadratic in the hottest shingle's doc-frequency)."""
    d = load_table(spark, sf_dir, "documents")
    return _exact_pairs(_shingles3(d), 0.35).select(
        "da", "db", F.round("jaccard", 4).alias("jaccard")
    )


@query(
    "llm_dedup_minhash",
    oracle="""
    WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    idx AS (SELECT doc_id, toks, generate_subscripts(toks, 1) AS i FROM tk),
    shingles AS (
      SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
      FROM idx WHERE i <= len(toks) - 2
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
      FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.da, i.db, round(i.i * 1.0 / (sa.n + sb.n - i.i), 4) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.da = sa.doc_id
    JOIN sizes sb ON i.db = sb.doc_id
    WHERE i.i * 1.0 / (sa.n + sb.n - i.i) >= 0.5
    """,
)
def llm_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10: MinHash-LSH near-dup via pyspark.ml, VALUE-verified on its
    verified-pairs output. Shingle → HashingTF sparse vector → MinHashLSH
    (8 tables, seeded) → approxSimilarityJoin at candidate threshold 0.35
    estimated Jaccard → exact shingle-set Jaccard on the candidates →
    keep pairs >= 0.5.

    The ml hash family is impl-specific, so the CANDIDATE set can't be
    oracled — but the verified-pairs set is hash-independent: any LSH
    family with adequate recall converges to the exact τ=0.5 pair set, so
    the oracle is simply ground truth (all-pairs exact Jaccard >= 0.5),
    the same contract as `llm_dedup_minhash_banded`. Recall margin: a
    true pair at J=0.5 misses all 8 OR-amplified tables with probability
    (1-0.5)^8 ≈ 0.4%, and the candidate filter sits at 0.35 « 0.5;
    `llm_lsh_eval` is the standing recall audit.

    SCALE DEMOTION (round 6, measured): this key is the pyspark.ml
    PARITY surface, valid to the 10× octave only — NOT the scale path.
    Measured (SCALING.md): 122.7 s at 10× (50k docs), 2065 s at 50×
    (250k docs) — 16.8× the time for 5× the data, superlinear, with
    single-digit-core utilization (a skewed bucket join). The cause is
    structural: ml's `numHashTables=8` is pure OR-amplification with
    r=1 band width — every table's bucket key is ONE minhash value, so
    bucket populations grow linearly with the corpus and within-bucket
    candidate pairs grow ~quadratically. `llm_dedup_minhash_banded`
    (below) ANDs 2 hashes per band (b=4, r=2), squaring the bucket
    collision probability — its candidates stay near-linear and it is
    measured sub-5× per octave through 100×/500k docs. Use the banded
    key at scale; keep this one for pyspark.ml API parity at ≤10×.

    COLLAPSE-FIRST (VERDICT r9 #1, applied to the ml path too): the
    HashingTF/MinHashLSH pipeline and approxSimilarityJoin run over one
    representative per md5(text) content hash — ml's r=1 buckets are the
    MOST exposed to the exact-duplicate m²/2 blowup, since identical docs
    collide in every table — and the verified representative pairs expand
    back through the hash groups exactly as in the banded key. The r=1
    structural superlinearity on RANDOM collisions remains (hence the
    standing demotion), but duplicate mass no longer multiplies it."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    d = load_table(spark, sf_dir, "documents")
    mem, repdocs = _collapse(d)
    docs = repdocs.select("doc_id", _shingle3_arr().alias("shingles")).filter(
        F.size("shingles") > 0
    )
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=1 << 14)
    feat = tf.transform(docs)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = lsh.fit(feat)
    pairs = model.approxSimilarityJoin(feat, feat, 0.65, distCol="jaccard_dist")
    cand = (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("da"),
            F.col("datasetB.doc_id").alias("db"),
        )
        .distinct()
    )
    rep_pairs = _jaccard_verify(cand, repdocs).select(
        "da", "db", F.round("jaccard", 4).alias("jaccard")
    )
    return _expand_rep_pairs(
        rep_pairs, mem, docs.select(F.col("doc_id").alias("rep"))
    )


@query(
    "llm_dedup_simhash",
    oracle="""
    WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    ex AS (SELECT doc_id, len(toks) AS nt, unnest(toks) AS tok FROM tk),
    h AS (SELECT doc_id, nt,
                 CAST(('0x' || substring(md5(tok), 1, 4)) AS INTEGER) AS h16
          FROM ex),
    bits AS (
      SELECT doc_id, b.b AS b, max(nt) AS nt,
             count_if((h16 >> b.b) & 1 = 1) AS ones
      FROM h, (SELECT unnest(generate_series(0, 15)) AS b) b
      GROUP BY doc_id, b.b
    ),
    fp AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN ones * 2 > nt THEN 1 << b ELSE 0 END) AS BIGINT)
               AS simhash16
      FROM bits GROUP BY doc_id
    )
    SELECT simhash16, count(*) AS n_docs, min(doc_id) AS first_doc
    FROM fp GROUP BY simhash16
    """,
)
def llm_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document fingerprints; docs grouped by fingerprint.

    r14 rewrite (guide §2.3/§2.4, the retired simhash_probe, README
    "Retired probes": −61% at the 10× template corpus, every sample):
    through r13 the 16-bit
    fingerprint was a map-only expression — 16 ``F.aggregate`` passes
    over a per-token md5 ``transform`` array. Higher-order functions are
    CodegenFallback (interpreted, per element, per bit), so the zero
    shuffles it saved were paid back ~16× in interpretation — the same
    mechanism `llm_dedup_simhash_hamming` already measured for its
    64-bit fingerprint ("64 array scans per doc, 27 s at sf0.1").
    Now: explode tokens once, hash each token ONCE inside whole-stage
    codegen, and take the 16 bit-majority counts in one two-phase
    groupBy — exploded tokens of a doc never span partitions, so partial
    aggregation collapses them map-side and the exchange carries one
    17-int row per doc (linear at 100 TB). ``explode_outer`` keeps
    NULL-text docs on a NULL token, degrading the vote to fingerprint 0
    exactly like the HOF form did (equality asserted doc-for-doc on
    sf0.01/sf0.1/10× and a NULL/empty edge corpus by the probe, which
    retains the old expression as its reference arm)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    ex = d.select(
        "doc_id", F.size(toks).alias("_nt"), F.explode_outer(toks).alias("_tok")
    )
    h = F.conv(F.substring(F.md5("_tok"), 1, 4), 16, 10).cast("int")
    ones = ex.groupBy("doc_id").agg(
        F.max("_nt").alias("_nt"),
        *[
            F.sum(F.shiftright(h, b).bitwiseAND(F.lit(1))).alias(f"_o{b}")
            for b in range(16)
        ],
    )
    fp = sum(
        (
            F.when(F.col(f"_o{b}") * 2 > F.col("_nt"), F.lit(1 << b))
            .otherwise(F.lit(0))
            .cast("long")
            for b in range(16)
        ),
        start=F.lit(0),
    )
    return (
        ones.select("doc_id", fp.alias("simhash16"))
        .groupBy("simhash16")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc"))
    )


# 64-bit fingerprint for the Hamming-band key: four INDEPENDENT 16-bit
# majority-vote simhashes (md5 hex chars 1-4, 5-8, 9-12, 13-16), kept as
# separate band columns f0..f3 — no 64-bit packing, so neither engine
# risks signed-shift overflow.  Same per-chunk definition as
# llm_dedup_simhash's oracle at offset 1.
_SIMHASH64_FP_CTES = """
    tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    ex AS (SELECT doc_id, len(toks) AS nt, unnest(toks) AS tok FROM tk),
    h AS (SELECT doc_id, nt,
                 CAST(('0x' || substring(md5(tok), 1, 4)) AS INTEGER) AS c0,
                 CAST(('0x' || substring(md5(tok), 5, 4)) AS INTEGER) AS c1,
                 CAST(('0x' || substring(md5(tok), 9, 4)) AS INTEGER) AS c2,
                 CAST(('0x' || substring(md5(tok), 13, 4)) AS INTEGER) AS c3
          FROM ex),
    bits AS (
      SELECT doc_id, b.b AS b, max(nt) AS nt,
             count_if(((CASE b.b // 16 WHEN 0 THEN c0 WHEN 1 THEN c1
                        WHEN 2 THEN c2 ELSE c3 END) >> (b.b % 16)) & 1 = 1)
               AS ones
      FROM h, (SELECT unnest(generate_series(0, 63)) AS b) b
      GROUP BY doc_id, b.b
    ),
    fp AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN ones * 2 > nt AND b // 16 = 0
                      THEN 1 << (b % 16) ELSE 0 END) AS BIGINT) AS f0,
             CAST(sum(CASE WHEN ones * 2 > nt AND b // 16 = 1
                      THEN 1 << (b % 16) ELSE 0 END) AS BIGINT) AS f1,
             CAST(sum(CASE WHEN ones * 2 > nt AND b // 16 = 2
                      THEN 1 << (b % 16) ELSE 0 END) AS BIGINT) AS f2,
             CAST(sum(CASE WHEN ones * 2 > nt AND b // 16 = 3
                      THEN 1 << (b % 16) ELSE 0 END) AS BIGINT) AS f3
      FROM bits GROUP BY doc_id
    )
"""


@query(
    "llm_dedup_simhash_hamming",
    oracle=f"""
    WITH {_SIMHASH64_FP_CTES},
    bands AS (
      SELECT doc_id, f0, f1, f2, f3, b.b AS band,
             CASE b.b WHEN 0 THEN f0 WHEN 1 THEN f1 WHEN 2 THEN f2 ELSE f3 END
               AS bv
      FROM fp, (SELECT unnest(generate_series(0, 3)) AS b) b
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb,
             a.f0 AS a0, a.f1 AS a1, a.f2 AS a2, a.f3 AS a3,
             b.f0 AS b0, b.f1 AS b1, b.f2 AS b2, b.f3 AS b3
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT ida, idb,
           CAST(bit_count(xor(a0, b0)) + bit_count(xor(a1, b1))
              + bit_count(xor(a2, b2)) + bit_count(xor(a3, b3)) AS INTEGER)
             AS hamming
    FROM cand
    WHERE bit_count(xor(a0, b0)) + bit_count(xor(a1, b1))
        + bit_count(xor(a2, b2)) + bit_count(xor(a3, b3)) <= 3
    ORDER BY ida, idb
    """,
)
def llm_dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ 3 over a 64-bit
    fingerprint, found the scalable way: the fingerprint is four
    INDEPENDENT 16-bit majority-vote simhashes (md5 chunks), each chunk a
    band, and candidates come from a bucket equi-join on band equality.
    Pigeonhole guarantees completeness (≤3 differing bits across 4 bands
    leave ≥1 band identical), so the banded join finds EXACTLY the pairs a
    quadratic scan over the 64-bit Hamming ball would.

    Band width is the scale lever (diagnosed from SCALESWEEP r4's 10×
    crash): the previous 16-bit fingerprint cut into 4-bit bands had only
    16 possible bucket values per band, making the candidate join
    O(n²/16) — quadratic by construction — which exploded to ~3·10⁸ pairs
    at 50k docs.  With 16-bit bands, random band collisions are n²/2·2⁻¹⁶
    (~19k pairs per band at 50k docs, linear-ish in practice), and true
    near-dups still collide by pigeonhole.  Each band bucket is a shuffle
    key at 100 TB — same banding trick as MinHash-LSH, applied to Hamming
    space (Charikar 2002; Manku et al. 2007 use 64-bit simhash with
    permuted-block bucketing, the same width chosen here)."""
    d = load_table(spark, sf_dir, "documents")
    # Fingerprints via explode -> groupBy, NOT 64 per-bit array aggregates:
    # each F.aggregate re-walks the md5-transform array, so the map-only
    # form costs 64 array scans per doc (measured 27 s at sf0.1).  Exploded
    # tokens hash once, and the 64 bit-count sums partial-aggregate
    # map-side — a doc's tokens never span partitions, so the shuffle
    # carries ONE 64-int row per doc, linear at 100 TB.
    toks = F.split(F.col("text"), " ")
    ex = d.select(
        "doc_id", F.size(toks).alias("_nt"), F.explode(toks).alias("_tok")
    )
    m = F.md5("_tok")
    ex = ex.select(
        "doc_id",
        "_nt",
        *[
            F.conv(F.substring(m, 1 + 4 * c, 4), 16, 10)
            .cast("int")
            .alias(f"_c{c}")
            for c in range(4)
        ],
    )
    ones = ex.groupBy("doc_id").agg(
        F.max("_nt").alias("_nt"),
        *[
            F.sum(
                F.shiftright(F.col(f"_c{b // 16}"), b % 16).bitwiseAND(F.lit(1))
            ).alias(f"_o{b}")
            for b in range(64)
        ],
    )
    fps = ones.select(
        "doc_id",
        *[
            sum(
                (
                    F.when(
                        F.col(f"_o{c * 16 + k}") * 2 > F.col("_nt"),
                        F.lit(1 << k),
                    )
                    .otherwise(F.lit(0))
                    .cast("long")
                    for k in range(16)
                ),
                start=F.lit(0),
            ).alias(f"f{c}")
            for c in range(4)
        ],
    )
    bands = fps.select(
        "doc_id",
        "f0",
        "f1",
        "f2",
        "f3",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"), F.col(f"f{b}").alias("bv")
                )
                for b in range(4)
            ])
        ).alias("bb"),
    ).select("doc_id", "f0", "f1", "f2", "f3", "bb.band", "bb.bv")
    a = bands.select(
        F.col("doc_id").alias("ida"),
        *[F.col(f"f{c}").alias(f"a{c}") for c in range(4)],
        "band",
        "bv",
    )
    b = bands.select(
        F.col("doc_id").alias("idb"),
        *[F.col(f"f{c}").alias(f"b{c}") for c in range(4)],
        "band",
        "bv",
    )
    cand = (
        a.join(b, ["band", "bv"])
        .filter(F.col("ida") < F.col("idb"))
        .select("ida", "idb", *[f"a{c}" for c in range(4)], *[f"b{c}" for c in range(4)])
        .distinct()
    )
    ham = sum(
        (
            F.bit_count(F.col(f"a{c}").bitwiseXOR(F.col(f"b{c}")))
            for c in range(4)
        ),
        start=F.lit(0),
    )
    return (
        cand.select("ida", "idb", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= 3)
        .orderBy("ida", "idb")
    )


_NGRAM_PAIRS_SQL = ORACLES["llm_dedup_ngram"]


def _cluster_sql(pairs_sql: str) -> str:
    """Recursive-CTE connected components over a (da, db) pair query —
    shared oracle template for the exact-ngram and banded-LSH cluster keys
    (same fixpoint as the Spark-side min-label propagation)."""
    return f"""
    WITH RECURSIVE
    pairs AS ({pairs_sql}),
    uedges AS (SELECT da AS u, db AS v FROM pairs UNION SELECT db, da FROM pairs),
    nodes AS (SELECT DISTINCT u FROM uedges),
    reach(u, label) AS (
      SELECT u, u FROM nodes
      UNION
      SELECT e.u, r.label FROM uedges e JOIN reach r ON e.v = r.u
    ),
    comp AS (SELECT u AS doc_id, min(label) AS component FROM reach GROUP BY u)
    SELECT component, count(*) AS csize
    FROM comp GROUP BY component ORDER BY component
"""


_CLUSTER_SQL = _cluster_sql(_NGRAM_PAIRS_SQL)


@query("llm_dedup_cluster", oracle=_CLUSTER_SQL)
def llm_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the n-gram-Jaccard pair
    graph (llm_dedup_ngram edges), by iterative min-label propagation —
    each round every node adopts the smallest label among itself and its
    neighbors; fixpoint = one representative (min doc_id) per duplicate
    cluster. This is the step that turns pairwise similarity into a keep-one
    -per-cluster dedup decision.

    GENERATOR CHOICE: this key consumes the EXACT shingle-Jaccard pair
    graph (`llm_dedup_ngram`), so it inherits that generator's measured
    above-linear growth (SCALING.md round 6: step 5.49x at the 50x octave,
    tracking the generator's 6.64x) — it is the ground-truth/oracle form,
    valid to ~250k docs. The production path at 100 TB is
    `llm_dedup_cluster_banded` below: identical clustering over the banded
    MinHash-LSH verified pair set, which tracks the banded generator's
    sub-5x steps instead.

    Iterative-algorithm mechanics on Spark: the loop is driver-side but each
    iteration is one distributed join+aggregate; localCheckpoint() truncates
    the lineage every round (without it the plan doubles per iteration).
    Rounds = graph diameter (tiny for near-dup clusters). The oracle is a
    DuckDB recursive CTE computing min reachable label — same fixpoint.
    """
    pairs = QUERIES["llm_dedup_ngram"](spark, sf_dir).select("da", "db")
    labels = _component_labels(pairs)
    return (
        labels.groupBy(F.col("label").alias("component"))
        .agg(F.count(F.lit(1)).alias("csize"))
        .orderBy("component")
    )


def _component_labels(pairs: DataFrame) -> DataFrame:
    """(node, label) connected-component labels over a near-dup pair graph
    given as a (da, db) DataFrame — iterative min-label propagation,
    lineage-checkpointed per round (see llm_dedup_cluster docstring for
    mechanics). Generator-agnostic: callers pass either the exact n-gram
    pair graph (ground truth) or the banded-LSH verified pair set (the
    scale path)."""
    pairs = pairs.select("da", "db")
    edges = (
        pairs.union(pairs.select(F.col("db"), F.col("da")))
        .toDF("u", "v")
        .distinct()
        .localCheckpoint()
    )
    labels = edges.select(F.col("u").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    while True:
        neigh_min = (
            edges.join(labels, edges.v == labels.node)
            .groupBy(edges.u)
            .agg(F.min("label").alias("nmin"))
        )
        # The change flag rides the checkpointed row (nmin < old label ⟺
        # least() lowered it), so convergence is a metadata-cheap count
        # over the checkpoint blocks instead of re-joining the new labels
        # against the old ones — one join and two exchanges fewer per
        # iteration (r13, guide §2.4); labels are byte-identical.
        updated = (
            labels.join(neigh_min, labels.node == neigh_min.u, "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nmin", F.col("label"))).alias("label"),
                (F.coalesce("nmin", F.col("label")) < F.col("label")).alias("chg"),
            )
            .localCheckpoint()
        )
        changed = updated.filter("chg").count()
        labels = updated.select("node", "label")
        if changed == 0:
            break
    return labels


@query(
    "llm_dedup_minhash_banded",
    oracle=f"""
    WITH {_LSH_SHINGLE_CTES}, {_LSH_SIG_CTE}, {_LSH_BANDS42_CTES},
    inter AS (
      SELECT c.da, c.db, count(*) AS i
      FROM cand c
      JOIN shingles a ON a.doc_id = c.da
      JOIN shingles b ON b.doc_id = c.db AND b.sh = a.sh
      GROUP BY c.da, c.db
    )
    SELECT i.da, i.db, round(i.i * 1.0 / (sa.n + sb.n - i.i), 4) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.da = sa.doc_id
    JOIN sizes sb ON i.db = sb.doc_id
    WHERE i.i * 1.0 / (sa.n + sb.n - i.i) >= 0.5
    """,
)
def llm_dedup_minhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline, VALUE-verified end to end:
    exact-duplicate collapse (one representative per md5(text)) ->
    8 md5-family minhashes -> 4 bands of 2 rows -> band-bucket equi-join
    for candidate pairs -> exact Jaccard verification at threshold 0.5 ->
    expansion of the representative pairs back through the hash groups.

    Unlike ml.feature.MinHashLSH (impl-specific hashes, rows-only oracle in
    `llm_dedup_minhash`), the salted-md5 hash family is engine-independent,
    so DuckDB reproduces the exact candidate set AND the exact verified
    pairs. Scale shape (VERDICT r9 #1): the band join's input carries ONE
    row per content hash, so an m-copy boilerplate cluster contributes one
    representative instead of m²/2 same-bucket candidates, and hot buckets
    really are bounded by band width — 2-row bands keep the RANDOM bucket
    collision probability at j², and the one systematic collision source
    (identical text) is collapsed before banding. Exact-duplicate mass
    re-enters only at output expansion: intra-group pairs are emitted at
    Jaccard 1.0 straight from the membership map (id-level rows, no
    shingle work), and cross-group pairs inherit the representative pair's
    verified Jaccard (identical text ⇒ identical shingle set)."""
    d = load_table(spark, sf_dir, "documents")
    mem, rep_pairs, sig_reps = _banded_rep_pairs(d)
    return _expand_rep_pairs(rep_pairs, mem, sig_reps)


@query(
    "llm_lsh_eval",
    oracle=f"""
    WITH {_LSH_SHINGLE_CTES}, {_LSH_TRUTH_CTES}, {_LSH_SIG_CTE},
    {_LSH_BANDS42_CTES}, m AS (
      SELECT (SELECT count(*) FROM tp) AS n_true,
             (SELECT count(*) FROM cand) AS n_cand,
             (SELECT count(*) FROM cand c
              JOIN tp ON c.da = tp.da AND c.db = tp.db) AS n_hit
    )
    SELECT n_true, n_cand, n_hit,
           n_hit * 1.0 / n_cand AS precision,
           n_hit * 1.0 / n_true AS recall
    FROM m
    """,
)
def llm_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH quality audit (the dedup sibling of `llm_ann_recall`): exact
    precision/recall of the 4x2 banded-MinHash candidate set against
    ground-truth pairs (Jaccard >= 0.5 over 3-shingles). Every number is
    engine-independent (md5 hash family + exact set arithmetic), so both
    engines compute the SAME audit — the tuning loop for bands-vs-rows
    runs entirely inside the engine before any 100 TB job is launched.

    SCOPE (ADVICE r10): this key audits the hash FAMILY over the raw
    pre-collapse corpus — duplicate mass inflates both n_cand and n_true
    relative to the shipped join, which bands one representative per
    md5(text). The collapsed production-input views are
    `llm_lsh_bucket_stats` (bucket populations) and `llm_lsh_salt_eval`
    (candidate/verified counts, salted and not)."""
    d = load_table(spark, sf_dir, "documents")
    shingles = _shingles3(d)
    tp = _exact_pairs(shingles, 0.5).select("da", "db")
    bands = _bands42(_sig8(shingles))
    ba, bb = bands.alias("ba"), bands.alias("bb")
    cand = (
        ba.join(
            bb,
            (F.col("ba.band") == F.col("bb.band"))
            & (F.col("ba.bkey") == F.col("bb.bkey"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(F.col("ba.doc_id").alias("da"), F.col("bb.doc_id").alias("db"))
        .distinct()
    )
    n_true = tp.agg(F.count(F.lit(1)).alias("n_true"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    n_hit = cand.join(tp, ["da", "db"]).agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        n_true.crossJoin(n_cand)
        .crossJoin(n_hit)
        .select(
            "n_true", "n_cand", "n_hit",
            # try_divide: a corpus with NO near-dups (zero candidates or
            # zero true pairs — surfaced by the 10x scale sweep's random
            # text) must yield NULL on both engines, not ANSI-raise.
            F.try_divide(F.col("n_hit") * 1.0, F.col("n_cand")).alias("precision"),
            F.try_divide(F.col("n_hit") * 1.0, F.col("n_true")).alias("recall"),
        )
    )


# (b, r) grid for llm_lsh_plan: every config slices the FIRST b*r hashes of
# the same 8-hash salted-md5 signature family (salts b1..b8) that
# llm_dedup_minhash_banded ships, split into b consecutive bands of r — so
# the (4, 2) row IS the shipped configuration, measured under identical
# hashes rather than a lookalike.
_LSH_PLAN_GRID = [
    (8, 1), (4, 1), (2, 1), (4, 2), (3, 2), (2, 2), (2, 3), (2, 4),
    (1, 4), (1, 8),
]
# Every config slices the first b*r of the 8 shared hashes; a wider entry
# (e.g. (3, 3)) would only fail later with an opaque unresolved-column `h9`
# error in BOTH engines (ADVICE r7), so guard the grid at definition.
assert all(b * r <= 8 for b, r in _LSH_PLAN_GRID), "grid config exceeds the 8-hash signature"

# Shared exact-truth + signature CTE prefix (same fragments llm_lsh_eval's
# oracle composes): shingles/sizes -> exact Jaccard pairs at tau=0.5 (tp)
# -> 8 salted-md5 minhashes (sig).
_LSH_TRUTH_SIG_CTES = f"{_LSH_SHINGLE_CTES}, {_LSH_TRUTH_CTES}, {_LSH_SIG_CTE}"


def _lsh_plan_sql() -> str:
    """Generated DuckDB oracle for llm_lsh_plan: one bands arm per (cfg,
    band), one VALUES row per config carrying the exact binary-float
    theoretical detection probability at J=0.5 (1 - (1 - 0.5^r)^b)."""
    band_arms = []
    cfg_rows = []
    for b, r in _LSH_PLAN_GRID:
        cfg = f"{b}x{r}"
        p = 1.0 - (1.0 - 0.5**r) ** b  # exact in binary for these b, r
        cfg_rows.append(f"('{cfg}', {b}, {r}, {p!r})")
        for k in range(b):
            key = " || ".join(f"h{k * r + j + 1}" for j in range(r))
            band_arms.append(
                f"SELECT doc_id, '{cfg}' AS cfg, {k} AS band, {key} AS bkey FROM sig"
            )
    bands = "\n      UNION ALL ".join(band_arms)
    values = ",\n      ".join(cfg_rows)
    return f"""
    WITH {_LSH_TRUTH_SIG_CTES},
    bands AS (
      {bands}
    ),
    cand AS (
      SELECT DISTINCT a.cfg, a.doc_id AS da, b.doc_id AS db
      FROM bands a JOIN bands b
        ON a.cfg = b.cfg AND a.band = b.band AND a.bkey = b.bkey
       AND a.doc_id < b.doc_id
    ),
    nc AS (SELECT cfg, count(*) AS n_cand FROM cand GROUP BY 1),
    nh AS (
      SELECT c.cfg, count(*) AS n_hit
      FROM cand c JOIN tp ON c.da = tp.da AND c.db = tp.db GROUP BY 1
    ),
    nt AS (SELECT count(*) AS n_true FROM tp),
    cfgs(cfg, b, r, p_detect_t05) AS (VALUES
      {values}
    )
    SELECT cfgs.cfg, cfgs.b, cfgs.r,
           coalesce(nc.n_cand, 0) AS n_cand,
           coalesce(nh.n_hit, 0) AS n_hit,
           nt.n_true,
           coalesce(nh.n_hit, 0) * 1.0 / nullif(coalesce(nc.n_cand, 0), 0)
             AS precision,
           coalesce(nh.n_hit, 0) * 1.0 / nullif(nt.n_true, 0) AS recall,
           cfgs.p_detect_t05
    FROM cfgs
    LEFT JOIN nc USING (cfg)
    LEFT JOIN nh USING (cfg)
    CROSS JOIN nt
    """


@query("llm_lsh_plan", oracle=_lsh_plan_sql())
def llm_lsh_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH PARAMETER PLANNER (VERDICT r6 #6): sweep the (b, r) banding grid
    over the corpus and emit the recall / candidate-volume frontier — the
    knob a 100 TB dedup operator actually turns before launching.

    One pass computes every config: the 8-hash salted-md5 signature is
    `_sig8` — the SAME code object `llm_dedup_minhash_banded` ships (so
    the 4x2 row IS the shipped config, by construction rather than by
    manually-synced copies), each config's bands are slices of it, and ONE
    band-bucket self-join keyed on (cfg, band, bkey) produces all
    candidate sets simultaneously. Per config: exact candidate count,
    hits against ground truth (exact Jaccard >= 0.5), precision, recall,
    plus the theoretical S-curve detection probability at J=0.5
    (1-(1-0.5^r)^b, an exact binary float — literal-identical on both
    engines). The structural trade the table exhibits: raising r ANDs
    hashes within a band (squares away random collisions -> candidates
    shrink) but lowers borderline-pair recall; raising b ORs more bands
    (recall up, candidates up). tests/test_lsh_plan.py asserts the
    shipped b=4/r=2 is Pareto-optimal at sf0.1 over (empirical recall,
    p_detect_t05, candidate volume) — the theoretical axis matters
    because planted-dup fixtures saturate empirical recall at 1.0 and
    cannot price the worst-case pair at the design threshold. Scale: bands rows = sum(b) per doc (29 here),
    everything shuffles on 16-32-byte band keys — the planning job is
    itself LSH-shaped, never quadratic; ground truth (tp) is the one
    exact self-join, which is why the planner runs on a sample/fixture,
    not the full corpus.

    SCOPE (ADVICE r10): the grid is swept over the raw PRE-collapse
    corpus — the (b, r) trade-off it measures is a property of the hash
    family and the near-dup distribution, while the shipped join's input
    additionally collapses exact duplicates (one row per md5(text)).
    Read absolute candidate counts from the collapsed-input views
    (`llm_lsh_bucket_stats`, `llm_lsh_salt_eval`); read the recall
    frontier from here."""
    d = load_table(spark, sf_dir, "documents")
    shingles = _shingles3(d)
    tp = _exact_pairs(shingles, 0.5).select("da", "db")
    sig = _sig8(shingles)
    entries = []
    for b, r in _LSH_PLAN_GRID:
        cfg = f"{b}x{r}"
        for k in range(b):
            cols = [F.col(f"h{k * r + j + 1}") for j in range(r)]
            entries.append(
                F.struct(
                    F.lit(cfg).alias("cfg"),
                    F.lit(k).alias("band"),
                    F.concat(*cols).alias("bkey"),
                )
            )
    bands = sig.select(
        "doc_id", F.explode(F.array(*entries)).alias("e")
    ).select("doc_id", "e.cfg", "e.band", "e.bkey")
    ba, bb = bands.alias("ba"), bands.alias("bb")
    cand = (
        ba.join(
            bb,
            (F.col("ba.cfg") == F.col("bb.cfg"))
            & (F.col("ba.band") == F.col("bb.band"))
            & (F.col("ba.bkey") == F.col("bb.bkey"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select("ba.cfg", F.col("ba.doc_id").alias("da"), F.col("bb.doc_id").alias("db"))
        .distinct()
    )
    nc = cand.groupBy("cfg").agg(F.count(F.lit(1)).alias("n_cand"))
    nh = cand.join(tp, ["da", "db"]).groupBy("cfg").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    nt = tp.agg(F.count(F.lit(1)).alias("n_true"))
    cfgdim = spark.createDataFrame(
        [
            (f"{b}x{r}", b, r, 1.0 - (1.0 - 0.5**r) ** b)
            for b, r in _LSH_PLAN_GRID
        ],
        "cfg string, b int, r int, p_detect_t05 double",
    )
    out = (
        cfgdim.join(nc, "cfg", "left")
        .join(nh, "cfg", "left")
        .crossJoin(nt)
        .select(
            "cfg",
            "b",
            "r",
            F.coalesce("n_cand", F.lit(0)).alias("n_cand"),
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            "n_true",
            F.try_divide(
                F.coalesce("n_hit", F.lit(0)) * 1.0, F.coalesce("n_cand", F.lit(0))
            ).alias("precision"),
            F.try_divide(F.coalesce("n_hit", F.lit(0)) * 1.0, F.col("n_true")).alias(
                "recall"
            ),
            "p_detect_t05",
        )
    )
    return out


@query(
    "llm_lsh_bucket_stats",
    oracle="""
    WITH rep AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    tk AS (
      SELECT d.doc_id, string_split(d.text, ' ') AS toks
      FROM documents d JOIN rep USING (doc_id)
    ),
    idx AS (SELECT doc_id, toks, generate_subscripts(toks, 1) AS i FROM tk),
    shingles AS (
      SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
      FROM idx WHERE i <= len(toks) - 2
    ),
    sig AS (
      SELECT doc_id,
             min(md5('b1-' || sh)) AS h1, min(md5('b2-' || sh)) AS h2,
             min(md5('b3-' || sh)) AS h3, min(md5('b4-' || sh)) AS h4,
             min(md5('b5-' || sh)) AS h5, min(md5('b6-' || sh)) AS h6,
             min(md5('b7-' || sh)) AS h7, min(md5('b8-' || sh)) AS h8
      FROM shingles GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 1 AS band, h1 || h2 AS bkey FROM sig
      UNION ALL SELECT doc_id, 2, h3 || h4 FROM sig
      UNION ALL SELECT doc_id, 3, h5 || h6 FROM sig
      UNION ALL SELECT doc_id, 4, h7 || h8 FROM sig
    ),
    bucket AS (SELECT band, bkey, count(*) AS m FROM bands GROUP BY 1, 2)
    SELECT band,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(m) AS BIGINT) AS n_docs,
           CAST(max(m) AS BIGINT) AS max_bucket,
           CAST(sum(m * (m - 1) // 2) AS BIGINT) AS cand_pairs,
           round(max(m) * 1.0 / sum(m), 4) + 0.0 AS top_share
    FROM bucket GROUP BY band
    """,
)
def llm_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-bucket population diagnostics for the PRODUCTION LSH join
    (VERDICT r9 #4): per band — bucket count, doc rows, the hottest
    bucket's size, the total candidate-pair mass sum(m*(m-1)/2) the
    bucket populations imply, and the hottest bucket's share of the
    band's rows. This is the `stats_key_skew` pattern applied to band
    keys: a curator reads it BEFORE launching a 100 TB dedup job — a
    max_bucket in the thousands after collapse means a near-identical
    (but not byte-identical) template family that band width alone won't
    bound, and the salt-or-collapse / threshold decision becomes
    data-driven instead of hoped.

    Measures the join input the shipped `llm_dedup_minhash_banded`
    actually uses: exact-duplicate collapse first (one representative per
    md5(text)), then the 4x2 salted-md5 banding of `_sig8` — so exact
    boilerplate shows up as ONE row here, exactly as it enters the join.
    One aggregation pass over the bands relation (groupBy (band, bkey),
    then groupBy band); everything shuffles on 16-byte keys; output is
    4 rows."""
    d = load_table(spark, sf_dir, "documents")
    _, repdocs = _collapse(d)
    bands = _bands42(_sig8(_shingles3(repdocs)))
    bucket = bands.groupBy("band", "bkey").agg(F.count(F.lit(1)).alias("m"))
    return bucket.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum("m").cast("bigint").alias("n_docs"),
        F.max("m").cast("bigint").alias("max_bucket"),
        F.sum(F.expr("m * (m - 1) DIV 2")).cast("bigint").alias("cand_pairs"),
        (F.round(F.max("m") * 1.0 / F.sum("m"), 4) + 0.0).alias("top_share"),
    )


# --- salted re-band: the hot-bucket mitigation arm (VERDICT r10 #3) -------
#
# `llm_lsh_bucket_stats` diagnoses post-collapse hot buckets (a crawl-scale
# family of NEAR-identical documents — same template, one token varying —
# shares most band keys and byte-identical collapse cannot touch it). The
# keys below are the mitigation the diagnostic was shipped for: cap the
# candidate join's per-key group size by salting hot buckets into
# sub-buckets, verify only within sub-buckets, and MEASURE the recall cost.

# Pinned cap for the registered keys' oracles. 2 is deliberately tight so
# the salting path actually fires on the test fixtures (the sf corpora's
# post-collapse max bucket is 3; a production cap is O(10^3) — the knob a
# curator sets from llm_lsh_bucket_stats.max_bucket before a 100 TB run).
_SALT_CAP = 2

# DuckDB mirror of the collapse -> shingle/sig/band -> salt chain. Reuses
# the module's shared fragments over `repdocs` instead of `documents`.
_COLLAPSE_CTES = """
    thx AS (SELECT doc_id, md5(text) AS th FROM documents),
    grp AS (SELECT th, min(doc_id) AS rep, count(*) AS gsize
            FROM thx GROUP BY th),
    mem AS (SELECT t.doc_id, g.rep, g.gsize FROM thx t JOIN grp g USING (th)),
    repdocs AS (SELECT d.* FROM documents d
                JOIN grp g ON d.doc_id = g.rep)"""

# Retarget the shared shingle fragment from `documents` to the collapsed
# `repdocs` relation. Guarded (ADVICE r11): if the fragment is ever
# reworded so it no longer references `documents` exactly once, the
# salted oracles would silently shingle the wrong relation — fail loudly
# at import time instead.
if _LSH_SHINGLE_CTES.count("FROM documents") != 1:
    raise AssertionError(
        "_LSH_SHINGLE_CTES must reference 'FROM documents' exactly once "
        f"(found {_LSH_SHINGLE_CTES.count('FROM documents')}); "
        "_REP_SHINGLE_CTES retargets that single occurrence to repdocs"
    )
_REP_SHINGLE_CTES = _LSH_SHINGLE_CTES.replace("FROM documents", "FROM repdocs")

_REP_BANDS_CTE = """
    bands AS (
      SELECT doc_id, 1 AS band, h1 || h2 AS bkey FROM sig
      UNION ALL SELECT doc_id, 2, h3 || h4 FROM sig
      UNION ALL SELECT doc_id, 3, h5 || h6 FROM sig
      UNION ALL SELECT doc_id, 4, h7 || h8 FROM sig
    )"""

_SALTED_BANDS_CTES = f"""
    bsz AS (SELECT band, bkey, count(*) AS m FROM bands GROUP BY 1, 2),
    sbands AS (
      SELECT b.doc_id, b.band, b.bkey,
             {_SALT32_SQL.format(band="b.band", th="md5(r.text)")}
               % ((z.m + {_SALT_CAP - 1}) // {_SALT_CAP}) AS sub
      FROM bands b
      JOIN bsz z ON b.band = z.band AND b.bkey = z.bkey
      JOIN repdocs r ON b.doc_id = r.doc_id
    )"""

_SALTED_REP_PAIRS_CTES = f"""
    {_COLLAPSE_CTES}, {_REP_SHINGLE_CTES}, {_LSH_SIG_CTE}, {_REP_BANDS_CTE},
    {_SALTED_BANDS_CTES},
    cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM sbands a JOIN sbands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.sub = b.sub
       AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT c.da, c.db, count(*) AS i
      FROM cand c
      JOIN shingles a ON a.doc_id = c.da
      JOIN shingles b ON b.doc_id = c.db AND b.sh = a.sh
      GROUP BY c.da, c.db
    ),
    rp AS (
      SELECT i.da, i.db, round(i.i * 1.0 / (sa.n + sb.n - i.i), 4) AS jaccard
      FROM inter i
      JOIN sizes sa ON i.da = sa.doc_id
      JOIN sizes sb ON i.db = sb.doc_id
      WHERE i.i * 1.0 / (sa.n + sb.n - i.i) >= 0.5
    ),
    sig_reps AS (
      SELECT doc_id AS rep FROM repdocs
      WHERE len(string_split(text, ' ')) >= 3
    )"""


@query(
    "llm_dedup_salted_band",
    oracle=f"""
    WITH {_SALTED_REP_PAIRS_CTES}
    SELECT least(ma.doc_id, mb.doc_id) AS da,
           greatest(ma.doc_id, mb.doc_id) AS db,
           p.jaccard
    FROM rp p
    JOIN mem ma ON ma.rep = p.da
    JOIN mem mb ON mb.rep = p.db
    UNION ALL
    SELECT x.doc_id AS da, y.doc_id AS db, CAST(1.0 AS DOUBLE) AS jaccard
    FROM mem x
    JOIN mem y ON x.rep = y.rep AND x.doc_id < y.doc_id
    JOIN sig_reps s ON s.rep = x.rep
    WHERE x.gsize >= 2
    """,
)
def llm_dedup_salted_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`llm_dedup_minhash_banded` with the HOT-BUCKET SALT ARM engaged
    (VERDICT r10 #3): same collapse-first pipeline, but band buckets
    larger than `_SALT_CAP` are split into ceil(m / cap) sub-buckets by a
    per-doc-per-band salt (`_salt_bands`) and candidates form only within
    a sub-bucket.

    This is the 100 TB answer to the one duplicate shape the exact-dup
    collapse cannot bound: a NEAR-identical template family (same
    boilerplate, one token varying) whose members share most band keys
    without sharing md5(text). Unsalted, an m-member family is an
    m²/2-pair band bucket — a straggler task that never finishes.
    Salted, the largest join key group is ~cap by construction in every
    band, at a recall cost that is measured (`llm_lsh_salt_eval`), not
    hoped: a true pair inside a hot bucket survives with
    p = 1-(1-1/n_sub)^(#shared hot bands) because each band salts
    independently. Cold buckets (m <= cap) are byte-identical to the
    unsalted join, so on a corpus with no hot buckets this key EQUALS
    llm_dedup_minhash_banded (pinned by test). Output: expanded
    (da, db, jaccard) pairs, same contract as the unsalted key."""
    d = load_table(spark, sf_dir, "documents")
    mem, rep_pairs, sig_reps = _banded_rep_pairs(d, salt_cap=_SALT_CAP)
    return _expand_rep_pairs(rep_pairs, mem, sig_reps)


@query(
    "llm_lsh_salt_eval",
    oracle=f"""
    WITH {_SALTED_REP_PAIRS_CTES},
    cand0 AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    inter0 AS (
      SELECT c.da, c.db, count(*) AS i
      FROM cand0 c
      JOIN shingles a ON a.doc_id = c.da
      JOIN shingles b ON b.doc_id = c.db AND b.sh = a.sh
      GROUP BY c.da, c.db
    ),
    rp0 AS (
      SELECT i.da, i.db
      FROM inter0 i
      JOIN sizes sa ON i.da = sa.doc_id
      JOIN sizes sb ON i.db = sb.doc_id
      WHERE i.i * 1.0 / (sa.n + sb.n - i.i) >= 0.5
    ),
    ssz AS (SELECT band, bkey, sub, count(*) AS sm FROM sbands GROUP BY 1, 2, 3)
    SELECT {_SALT_CAP} AS cap,
           (SELECT count(*) FROM cand0) AS n_cand,
           (SELECT count(*) FROM cand) AS n_cand_salted,
           (SELECT count(*) FROM rp0) AS n_pairs,
           (SELECT count(*) FROM rp) AS n_pairs_salted,
           (SELECT count(*) FROM rp) * 1.0
             / nullif((SELECT count(*) FROM rp0), 0) AS recall,
           (SELECT coalesce(max(m), 0) FROM bsz) AS max_bucket,
           (SELECT coalesce(max(sm), 0) FROM ssz) AS max_subbucket
    """,
)
def llm_lsh_salt_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-cost audit for the salt arm, the `llm_lsh_eval` sibling the
    curator reads NEXT TO `llm_lsh_bucket_stats` before choosing a cap:
    candidate mass and verified-pair count of the salted join vs the
    unsalted collapsed join, the recall ratio between them, and the
    before/after max join-key group size (the straggler bound the salt
    buys). Everything is computed over exact-duplicate representatives —
    the production join input — with the same engine-independent md5
    machinery, so DuckDB reproduces every number. One extra aggregation
    pass over each band relation; all shuffles stay on 16-33-byte keys."""
    d = load_table(spark, sf_dir, "documents")
    _, repdocs = _collapse(d)
    shingles = _shingles3(repdocs)
    bands = _bands42(_sig8(shingles))
    sbands = _salt_bands(bands, repdocs, _SALT_CAP)

    def _cands(rel: DataFrame, salted: bool) -> DataFrame:
        cond = (
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
        )
        if salted:
            cond = (F.col("a.sub") == F.col("b.sub")) & cond
        return (
            rel.alias("a")
            .join(rel.alias("b"), cond)
            .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
            .distinct()
        )

    def _verified(cand: DataFrame) -> DataFrame:
        return _jaccard_verify(cand, repdocs).select("da", "db")

    cand0, cand1 = _cands(bands, False), _cands(sbands, True)
    n_cand = cand0.agg(F.count(F.lit(1)).alias("n_cand"))
    n_cand_s = cand1.agg(F.count(F.lit(1)).alias("n_cand_salted"))
    n_pairs = _verified(cand0).agg(F.count(F.lit(1)).alias("n_pairs"))
    n_pairs_s = _verified(cand1).agg(F.count(F.lit(1)).alias("n_pairs_salted"))
    max_b = (
        bands.groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).alias("m"))
        .agg(F.coalesce(F.max("m"), F.lit(0)).alias("max_bucket"))
    )
    max_sb = (
        sbands.groupBy("band", "bkey", "sub")
        .agg(F.count(F.lit(1)).alias("sm"))
        .agg(F.coalesce(F.max("sm"), F.lit(0)).alias("max_subbucket"))
    )
    return (
        n_cand.crossJoin(n_cand_s)
        .crossJoin(n_pairs)
        .crossJoin(n_pairs_s)
        .crossJoin(max_b)
        .crossJoin(max_sb)
        .select(
            F.lit(_SALT_CAP).alias("cap"),
            "n_cand",
            "n_cand_salted",
            "n_pairs",
            "n_pairs_salted",
            F.try_divide(F.col("n_pairs_salted") * 1.0, F.col("n_pairs")).alias(
                "recall"
            ),
            "max_bucket",
            "max_subbucket",
        )
    )


# Cap grid for llm_lsh_salt_plan: cap=1 is maximal splitting (every doc its
# own expected sub-bucket; survivors are salt collisions only), the top cap
# approximates the unsalted join on fixture-scale buckets. Production picks
# from the measured frontier the same way llm_lsh_plan picks (b, r).
_SALT_PLAN_CAPS = [1, 2, 4, 8, 16]


def _salt_plan_sql() -> str:
    """Generated DuckDB oracle for llm_lsh_salt_plan: one co-bucket pass,
    per-cap survival flags as conditional aggregates (a pair survives at
    cap c iff some shared band bucket puts both docs in the same
    salt % ceil(m/c) sub-bucket), verified pairs computed once on the
    unsalted candidate set. CTEs materialized per the round-3 rule."""
    surv_cols = ", ".join(
        f"max(CASE WHEN (salta % ((m + {c - 1}) // {c})) = "
        f"(saltb % ((m + {c - 1}) // {c})) THEN 1 ELSE 0 END) AS s{c}"
        for c in _SALT_PLAN_CAPS
    )
    sub_union = " UNION ALL ".join(
        f"SELECT {c} AS cap, band, bkey, salt % ((m + {c - 1}) // {c}) AS sub FROM sb"
        for c in _SALT_PLAN_CAPS
    )
    stat_arms = " UNION ALL ".join(
        f"SELECT {c} AS cap, "
        f"(SELECT CAST(coalesce(sum(s{c}), 0) AS BIGINT) FROM surv) AS n_cand_salted, "
        f"(SELECT CAST(coalesce(sum(s{c}), 0) AS BIGINT) FROM hits) AS n_pairs_salted"
        for c in _SALT_PLAN_CAPS
    )
    return f"""
    WITH {_COLLAPSE_CTES}, {_REP_SHINGLE_CTES}, {_LSH_SIG_CTE}, {_REP_BANDS_CTE},
    bsz AS MATERIALIZED (
      SELECT band, bkey, count(*) AS m FROM bands GROUP BY 1, 2
    ),
    sb AS MATERIALIZED (
      SELECT b.doc_id, b.band, b.bkey, z.m,
             {_SALT32_SQL.format(band="b.band", th="md5(r.text)")} AS salt
      FROM bands b
      JOIN bsz z ON b.band = z.band AND b.bkey = z.bkey
      JOIN repdocs r ON b.doc_id = r.doc_id
    ),
    cob AS MATERIALIZED (
      SELECT a.doc_id AS da, b.doc_id AS db, a.m AS m,
             a.salt AS salta, b.salt AS saltb
      FROM sb a JOIN sb b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    surv AS MATERIALIZED (
      SELECT da, db, {surv_cols} FROM cob GROUP BY da, db
    ),
    inter AS MATERIALIZED (
      SELECT c.da, c.db, count(*) AS i
      FROM (SELECT DISTINCT da, db FROM cob) c
      JOIN shingles a ON a.doc_id = c.da
      JOIN shingles b ON b.doc_id = c.db AND b.sh = a.sh
      GROUP BY c.da, c.db
    ),
    vp AS MATERIALIZED (
      SELECT i.da, i.db
      FROM inter i
      JOIN sizes za ON i.da = za.doc_id
      JOIN sizes zb ON i.db = zb.doc_id
      WHERE i.i * 1.0 / (za.n + zb.n - i.i) >= 0.5
    ),
    hits AS MATERIALIZED (
      SELECT s.* FROM surv s JOIN vp ON s.da = vp.da AND s.db = vp.db
    ),
    np AS MATERIALIZED (SELECT count(*) AS n_pairs FROM vp),
    subs AS MATERIALIZED ({sub_union}),
    msub AS MATERIALIZED (
      SELECT cap, CAST(coalesce(max(cnt), 0) AS BIGINT) AS max_subbucket
      FROM (SELECT cap, band, bkey, sub, count(*) AS cnt
            FROM subs GROUP BY 1, 2, 3, 4)
      GROUP BY cap
    ),
    stats AS MATERIALIZED ({stat_arms})
    SELECT st.cap, st.n_cand_salted, st.n_pairs_salted, np.n_pairs,
           st.n_pairs_salted * 1.0 / nullif(np.n_pairs, 0) AS recall,
           CAST(coalesce(ms.max_subbucket, 0) AS BIGINT) AS max_subbucket
    FROM stats st
    CROSS JOIN np
    LEFT JOIN msub ms USING (cap)
    ORDER BY st.cap
    """


@query("llm_lsh_salt_plan", oracle=_salt_plan_sql())
def llm_lsh_salt_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALT-CAP PLANNER — the `llm_lsh_plan` analog for the hot-bucket
    mitigation knob: sweep the cap grid over the corpus in ONE pass and
    emit, per cap, the salted candidate count, verified-pair survival
    (recall vs the unsalted join's verified pairs), and the max
    sub-bucket size (the straggler bound the cap buys). The curator
    workflow is now closed-loop: `llm_lsh_bucket_stats` says WHETHER
    buckets are hot, this table says WHICH cap to set, and
    `llm_lsh_salt_eval` audits the shipped choice.

    One-pass mechanics: the band self-join is computed ONCE into a
    co-bucket relation (da, db, m, salt_a, salt_b); a pair survives cap
    c iff SOME shared bucket has salt_a % ceil(m/c) == salt_b %
    ceil(m/c) — a map-side conditional aggregate per cap, no per-cap
    joins. Exact-Jaccard verification runs once, on the unsalted
    candidate set (every salted set is a subset). Scale: the co-bucket
    relation is the unsalted join's candidate mass — the planner, like
    llm_lsh_plan's ground truth, runs on a sample/fixture or
    post-collapse corpus slice, and is itself why the cap exists: at
    100 TB you plan on a sample, then launch `llm_dedup_salted_band`
    with the chosen cap. All hashes are the shipped salted-md5 family,
    so DuckDB reproduces every number."""
    cob, sb, repdocs = salt_plan_cob(spark, sf_dir)
    return salt_plan_stats(cob, sb, repdocs)


# --- stage builders -------------------------------------------------------
# These two ARE llm_lsh_salt_plan's pipeline (the key above only composes
# them). The retired saltplan_stage_probe timed these same builders with
# stage barriers (OCTAVE_r12_saltplanstages.json, SCALING.md round 12;
# README "Retired probes").


def salt_plan_cob(spark, sf_dir: str):
    """Stage 1 — the co-bucket relation: collapse → shingle → sig → band,
    band self-join carrying both ends' raw salts and the bucket size m.
    This is the unsalted join's candidate mass and the planner's only
    data-sized join. Returns (cob, sb, repdocs)."""
    d = load_table(spark, sf_dir, "documents")
    _, repdocs = _collapse(d)
    shingles = _shingles3(repdocs)
    bands = _bands42(_sig8(shingles))
    bsz = bands.groupBy("band", "bkey").agg(F.count(F.lit(1)).alias("m"))
    rsalt = repdocs.select("doc_id", F.md5("text").alias("th"))
    sb = (
        bands.join(bsz, ["band", "bkey"])
        .join(rsalt, "doc_id")
        .select(
            "doc_id",
            "band",
            "bkey",
            "m",
            _salt32(F.col("band"), F.col("th")).alias("salt"),
        )
    )
    a, b = sb.alias("a"), sb.alias("b")
    cob = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bkey") == F.col("b.bkey"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("da"),
        F.col("b.doc_id").alias("db"),
        F.col("a.m").alias("m"),
        F.col("a.salt").alias("salta"),
        F.col("b.salt").alias("saltb"),
    )
    return cob, sb, repdocs


def salt_plan_stats(cob, sb, repdocs) -> DataFrame:
    """Stage 2 — the per-cap arithmetic: map-side conditional aggregates
    over the co-bucket relation (survival per cap), one Jaccard verify on
    the unsalted superset, the 5-cap sub-bucket histogram, and the
    single-explode assembly of the final frontier."""

    def _nsub(c: int):
        return F.expr(f"(m + {c - 1}) DIV {c}")

    surv = cob.groupBy("da", "db").agg(
        *[
            F.max(
                F.when(
                    (F.col("salta") % _nsub(c)) == (F.col("saltb") % _nsub(c)),
                    1,
                ).otherwise(0)
            ).alias(f"s{c}")
            for c in _SALT_PLAN_CAPS
        ]
    )
    vp = _jaccard_verify(cob.select("da", "db").distinct(), repdocs).select(
        "da", "db"
    )
    hits = surv.join(vp, ["da", "db"])
    cands_row = surv.agg(
        *[
            F.coalesce(F.sum(f"s{c}"), F.lit(0)).cast("bigint").alias(f"nc{c}")
            for c in _SALT_PLAN_CAPS
        ]
    )
    hits_row = hits.agg(
        *[
            F.coalesce(F.sum(f"s{c}"), F.lit(0)).cast("bigint").alias(f"nh{c}")
            for c in _SALT_PLAN_CAPS
        ]
    )
    np_row = vp.agg(F.count(F.lit(1)).alias("n_pairs"))
    # single explode over the one wide row — NOT a per-cap union, which
    # would re-evaluate the aggregate DAG once per branch
    stats = (
        cands_row.crossJoin(hits_row)
        .crossJoin(np_row)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("cap"),
                            F.col(f"nc{c}").alias("n_cand_salted"),
                            F.col(f"nh{c}").alias("n_pairs_salted"),
                        )
                        for c in _SALT_PLAN_CAPS
                    ]
                )
            ).alias("e"),
            "n_pairs",
        )
        .select("e.cap", "e.n_cand_salted", "e.n_pairs_salted", "n_pairs")
    )
    subs = sb.select(
        "band",
        "bkey",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("cap"),
                        (F.col("salt") % _nsub(c)).alias("sub"),
                    )
                    for c in _SALT_PLAN_CAPS
                ]
            )
        ).alias("e"),
    ).select("band", "bkey", "e.cap", "e.sub")
    msub = (
        subs.groupBy("cap", "band", "bkey", "sub")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("cap")
        .agg(F.max("cnt").cast("bigint").alias("max_subbucket"))
    )
    return (
        stats.join(msub, "cap", "left")
        .select(
            "cap",
            "n_cand_salted",
            "n_pairs_salted",
            "n_pairs",
            F.try_divide(F.col("n_pairs_salted") * 1.0, F.col("n_pairs")).alias(
                "recall"
            ),
            F.coalesce("max_subbucket", F.lit(0)).cast("bigint").alias(
                "max_subbucket"
            ),
        )
        .orderBy("cap")
    )


def _component_keeper_ctes(pairs_sql: str) -> str:
    """Shared recursive-CTE chain: (da, db) pairs -> connected components
    (min reachable label) -> best-doc keeper per component (max vocabulary
    diversity, min doc_id tie-break). Composable base for the
    survivorship and drop-rate oracles."""
    return f"""
    pairs AS ({pairs_sql}),
    uedges AS (SELECT da AS u, db AS v FROM pairs UNION SELECT db, da FROM pairs),
    nodes AS (SELECT DISTINCT u FROM uedges),
    reach(u, label) AS (
      SELECT u, u FROM nodes
      UNION
      SELECT e.u, r.label FROM uedges e JOIN reach r ON e.v = r.u
    ),
    comp AS (SELECT u AS doc_id, min(label) AS component FROM reach GROUP BY u),
    score AS (
      SELECT doc_id, len(list_distinct(string_split(text, ' '))) AS q
      FROM documents
    ),
    j AS (SELECT c.component, c.doc_id, s.q FROM comp c JOIN score s USING (doc_id)),
    m AS (SELECT component, max(q) AS mq FROM j GROUP BY 1),
    best AS (
      SELECT j.component, min(j.doc_id) AS keeper, min(j.q) AS keeper_quality
      FROM j JOIN m ON j.component = m.component AND j.q = m.mq
      GROUP BY j.component
    )"""


def _survivor_sql(pairs_sql: str) -> str:
    """Recursive-CTE survivorship (best-doc-per-component) over a (da, db)
    pair query — shared oracle template for the exact-ngram and banded-LSH
    survivorship keys."""
    return f"""
    WITH RECURSIVE {_component_keeper_ctes(pairs_sql)},
    sz AS (SELECT component, count(*) AS csize FROM comp GROUP BY 1)
    SELECT b.component, b.keeper, b.keeper_quality, sz.csize
    FROM best b JOIN sz USING (component)
"""


_SURVIVOR_SQL = _survivor_sql(_NGRAM_PAIRS_SQL)


@query("llm_dedup_survivorship", oracle=_SURVIVOR_SQL)
def llm_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization: per near-dup cluster, KEEP THE BEST document —
    highest vocabulary-diversity score, doc_id tie-break — instead of the
    arbitrary min-id survivor. This is the survivorship-rule stage between
    clustering (`llm_dedup_cluster`) and the final dedup write; the rule is
    deterministic end to end, so the oracle verifies the chosen keepers,
    not just cluster shapes. Scale: the component labels are graph-sized,
    the quality score is map-only, the argmax is two partial-aggregable
    passes.

    GENERATOR CHOICE: consumes the EXACT n-gram pair graph
    (`llm_dedup_ngram`) — ground-truth form, above-linear with its
    generator (SCALING.md round 6: 5.99x step at 50x vs the generator's
    6.64x). Production survivorship at 100 TB is
    `llm_dedup_survivorship_banded` (same rule over the banded-LSH pair
    set)."""
    pairs = QUERIES["llm_dedup_ngram"](spark, sf_dir).select("da", "db")
    labels = _component_labels(pairs)
    d = load_table(spark, sf_dir, "documents")
    return _survivorship(labels, d)


def _survivorship(labels: DataFrame, d: DataFrame) -> DataFrame:
    """Best-doc-per-component survivorship rule over (node, label)
    component labels: keeper = highest vocabulary-diversity score, min
    doc_id tie-break — generator-agnostic (shared by the exact and banded
    survivorship keys)."""
    score = d.select(
        "doc_id", F.size(F.array_distinct(F.split("text", " "))).alias("q")
    )
    j = labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component")
    ).join(score, "doc_id")
    m = j.groupBy("component").agg(F.max("q").alias("mq"))
    best = (
        j.join(m, "component")
        .filter(F.col("q") == F.col("mq"))
        .groupBy("component")
        .agg(F.min("doc_id").alias("keeper"), F.min("q").alias("keeper_quality"))
    )
    sz = j.groupBy("component").agg(F.count(F.lit(1)).alias("csize"))
    return best.join(sz, "component")


_BANDED_PAIRS_SQL = ORACLES["llm_dedup_minhash_banded"]


@query("llm_dedup_cluster_banded", oracle=_cluster_sql(_BANDED_PAIRS_SQL))
def llm_dedup_cluster_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters over the BANDED MinHash-LSH verified pair set
    (`llm_dedup_minhash_banded`, b=4/r=2, exact-Jaccard-verified at 0.5) —
    the PRODUCTION clustering path (VERDICT r6 #1).

    GENERATOR CHOICE: same min-label-propagation clustering as
    `llm_dedup_cluster`, but the edges come from the banded candidate
    generator whose cost is measured sub-5x per octave through 100x
    (SCALING.md round 6: steps 3.66x/2.08x), not from the exact shingle
    self-join (6.64x at 50x, quadratic in hot-shingle doc frequency).
    At 100 TB the pair graph is LSH-candidate-sized and every stage —
    band join, Jaccard verify, label propagation — shuffles on bounded
    keys. The exact key remains the ground-truth oracle form; the two
    keys agree wherever LSH recall is 1 (audited by `llm_lsh_eval`).

    Measured (round 7, same-session trio with the generator, SCALING.md):
    21.5 s at 10× → 90.1 s at 50× — step 4.20× for 5× data, AT/BELOW the
    generator's own same-session 4.79× (label propagation adds nothing
    measurable) and ~1.8× faster than the exact-ngram-fed cluster key's
    161 s at 50×.

    COLLAPSE-FIRST (VERDICT r9 #1): label propagation runs on the
    REPRESENTATIVE pair graph (`_banded_doc_labels`) — an m-copy duplicate
    cluster is one node, never m²/2 edges — and labels expand to members
    with one linear join, provably identical because the expanded
    component minimum is always a representative."""
    labels = _banded_doc_labels(load_table(spark, sf_dir, "documents"))
    return (
        labels.groupBy(F.col("label").alias("component"))
        .agg(F.count(F.lit(1)).alias("csize"))
        .orderBy("component")
    )


@query("llm_dedup_survivorship_banded", oracle=_survivor_sql(_BANDED_PAIRS_SQL))
def llm_dedup_survivorship_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship (best-doc-per-cluster canonicalization) over the BANDED
    MinHash-LSH verified pair set — the PRODUCTION survivorship path
    (VERDICT r6 #1). Same deterministic keeper rule as
    `llm_dedup_survivorship` (max vocabulary diversity, min doc_id
    tie-break), but clusters come from `llm_dedup_minhash_banded`'s pair
    graph, so end-to-end cost tracks the banded generator's measured
    sub-5x octave steps instead of the exact shingle join's 6.64x
    (SCALING.md round 6). The oracle re-derives the same pair set, the
    same components, and the same keepers in DuckDB — values verified,
    not just shapes.

    Measured (round 7, same-session trio with the generator, SCALING.md):
    19.4 s at 10× → 87.0 s at 50× — step 4.48× vs the generator's
    same-session 4.79× (the keeper argmax is two partial-aggregable
    passes over graph-sized data; it adds nothing).

    COLLAPSE-FIRST (VERDICT r9 #1): components come from the
    representative pair graph via `_banded_doc_labels`; the keeper rule
    then runs on doc-level labels (linear in corpus size, never in the
    expanded pair count)."""
    d = load_table(spark, sf_dir, "documents")
    return _survivorship(_banded_doc_labels(d), d)


@query(
    "llm_dup_source_matrix",
    oracle="""
    WITH pairs AS ({banded}),
    src AS (SELECT doc_id, source FROM documents)
    SELECT least(sa.source, sb.source) AS source_a,
           greatest(sa.source, sb.source) AS source_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(p.jaccard), 4) + 0.0 AS avg_jaccard
    FROM pairs p
    JOIN src sa ON p.da = sa.doc_id
    JOIN src sb ON p.db = sb.doc_id
    GROUP BY 1, 2
    """.format(banded=_BANDED_PAIRS_SQL),
)
def llm_dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: the banded-LSH verified pair set
    (`llm_dedup_minhash_banded`) joined to each side's `source`, counted
    per unordered source pair with the mean verified Jaccard — the
    provenance view a curator reads BEFORE fixing mixture weights (a hot
    (src_i, src_j) cell means one crawl mirrors another, and sampling
    both at full weight double-counts that content). Diagonal cells are
    within-source duplication (templates/boilerplate).

    Scale: two broadcast-able joins of the pair graph against the
    (doc_id, source) projection, then a groupBy on source pairs — the
    matrix is |sources|^2-bounded, the work is pair-graph-sized, and the
    generator is the bucketed LSH join, never the O(n^2) pair space."""
    pairs = QUERIES["llm_dedup_minhash_banded"](spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    src = d.select("doc_id", "source")
    withsrc = (
        pairs.join(
            src.select(F.col("doc_id").alias("da"), F.col("source").alias("src_a")),
            "da",
        ).join(
            src.select(F.col("doc_id").alias("db"), F.col("source").alias("src_b")),
            "db",
        )
    )
    return (
        withsrc.groupBy(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            (F.round(F.avg("jaccard"), 4) + 0.0).alias("avg_jaccard"),
        )
    )


@query(
    "llm_dedup_drop_rate",
    oracle="""
    WITH RECURSIVE {ctes},
    dropped AS (
      SELECT c.doc_id
      FROM comp c JOIN best b ON c.component = b.component
      WHERE c.doc_id <> b.keeper
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(dr.doc_id) AS BIGINT) AS n_dropped,
           round(count(dr.doc_id) * 1.0 / count(*), 4) + 0.0 AS drop_rate
    FROM documents d LEFT JOIN dropped dr ON d.doc_id = dr.doc_id
    GROUP BY 1
    """.format(ctes=_component_keeper_ctes(_BANDED_PAIRS_SQL)),
)
def llm_dedup_drop_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus shrinkage under the production dedup path: every
    non-keeper in a banded-LSH near-dup cluster is a dropped document;
    report per source (n_docs, n_dropped, drop_rate) — the headline
    number a dataset curator publishes after a dedup pass ('source X
    shrank 12%'), and the guardrail that catches a mis-tuned threshold
    wiping out one source before a 100 TB job ships.

    Composes the verified pair set -> connected components -> keeper rule
    (all already value-oracled individually) and charges each dropped doc
    to its source with one left join + groupBy. Docs in no cluster are
    kept by construction (LEFT join, count(dr) ignores NULLs on both
    engines). Collapse-first (VERDICT r9 #1): components come from the
    representative pair graph via `_banded_doc_labels`."""
    d = load_table(spark, sf_dir, "documents")
    labels = _banded_doc_labels(d)
    keepers = _survivorship(labels, d).select("component", "keeper")
    dropped = (
        labels.select(F.col("node").alias("doc_id"), F.col("label").alias("component"))
        .join(keepers, "component")
        .filter(F.col("doc_id") != F.col("keeper"))
        .select("doc_id", F.lit(1).alias("is_drop"))
    )
    return (
        d.select("doc_id", "source")
        .join(dropped, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.coalesce("is_drop", F.lit(0))).cast("bigint").alias("n_dropped"),
            (
                F.round(
                    F.sum(F.coalesce("is_drop", F.lit(0))) * 1.0 / F.count(F.lit(1)), 4
                )
                + 0.0
            ).alias("drop_rate"),
        )
    )


@query(
    "llm_dup_cluster_profile",
    oracle="""
    WITH RECURSIVE {ctes},
    sz AS (SELECT component, count(*) AS csize FROM comp GROUP BY 1),
    total AS (SELECT count(*) AS n FROM documents),
    singles AS (
      SELECT count(*) AS n FROM documents
      WHERE doc_id NOT IN (SELECT doc_id FROM comp)
    ),
    hist AS (
      SELECT csize, count(*) AS n_clusters, sum(csize) AS n_docs
      FROM sz GROUP BY 1
      UNION ALL
      SELECT 1, n, n FROM singles WHERE n > 0
    )
    SELECT CAST(h.csize AS INT) AS csize,
           CAST(sum(h.n_clusters) AS BIGINT) AS n_clusters,
           CAST(sum(h.n_docs) AS BIGINT) AS n_docs,
           round(sum(h.n_docs) * 1.0 / max(t.n), 4) + 0.0 AS doc_share
    FROM hist h CROSS JOIN total t
    GROUP BY 1
    """.format(ctes=_component_keeper_ctes(_BANDED_PAIRS_SQL)),
)
def llm_dup_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-shape profile of the production dedup pass: the size
    histogram of the banded-LSH near-dup components, INCLUDING the
    singleton row (csize=1 = documents in no verified pair) — per size:
    how many clusters, how many documents, and the share of the corpus
    they hold. This is the third curator view beside
    `llm_dup_source_matrix` (which sources overlap) and
    `llm_dedup_drop_rate` (how much shrinks): it answers "what do the
    clusters look like" — a fat tail here means one template/boilerplate
    family dominates and the keeper rule decides a big slice of the
    corpus; a singleton share near 1.0 means dedup barely bites. Max and
    mean cluster size read directly off the histogram rows.

    Scale: component labels are REPRESENTATIVE-graph-sized (collapse-first
    bucketed LSH generator via `_banded_doc_labels`, VERDICT r9 #1 — never
    all-pairs, and never the expanded duplicate-cluster edge set); the
    singleton count is one left-anti join of the doc-id projection against
    the label set; the histogram groupBy is bounded by the largest cluster
    size, and the corpus total rides a 1-row-aggregate broadcast crossJoin
    (the engine's standard idiom). Oracle composes the same
    `_component_keeper_ctes` component chain the survivorship/drop-rate
    oracles single-source."""
    d = load_table(spark, sf_dir, "documents")
    labels = _banded_doc_labels(d)
    sz = labels.groupBy(F.col("label").alias("component")).agg(
        F.count(F.lit(1)).alias("csize")
    )
    hist = sz.groupBy("csize").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("csize").alias("n_docs"),
    )
    singles = (
        d.select("doc_id")
        .join(labels.select(F.col("node").alias("doc_id")), "doc_id", "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 0)
        .select(
            F.lit(1).cast("bigint").alias("csize"),
            F.col("n").alias("n_clusters"),
            F.col("n").alias("n_docs"),
        )
    )
    total = d.agg(F.count(F.lit(1)).alias("tn"))
    return (
        hist.unionByName(singles)
        .groupBy("csize")
        .agg(
            F.sum("n_clusters").alias("n_clusters"),
            F.sum("n_docs").alias("n_docs"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            F.col("csize").cast("int").alias("csize"),
            F.col("n_clusters").cast("bigint").alias("n_clusters"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            (F.round(F.col("n_docs") * 1.0 / F.col("tn"), 4) + 0.0).alias(
                "doc_share"
            ),
        )
    )


@query(
    "llm_incremental_dedup",
    oracle="""
    WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    idx AS (SELECT doc_id, toks, generate_subscripts(toks, 1) AS i FROM tk),
    shingles AS (
      SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
      FROM idx WHERE i <= len(toks) - 2
    ), exact AS (
      SELECT i.doc_id, min(b.doc_id) AS dup_of
      FROM (SELECT doc_id, text FROM documents WHERE doc_id >= 400) i
      JOIN (SELECT doc_id, text FROM documents WHERE doc_id < 400) b
        ON md5(i.text) = md5(b.text)
      GROUP BY i.doc_id
    ), sig AS (
      SELECT doc_id,
             min(md5('b1-' || sh)) AS h1, min(md5('b2-' || sh)) AS h2,
             min(md5('b3-' || sh)) AS h3, min(md5('b4-' || sh)) AS h4,
             min(md5('b5-' || sh)) AS h5, min(md5('b6-' || sh)) AS h6,
             min(md5('b7-' || sh)) AS h7, min(md5('b8-' || sh)) AS h8
      FROM shingles GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, 1 AS band, h1 || h2 AS bkey FROM sig
      UNION ALL SELECT doc_id, 2, h3 || h4 FROM sig
      UNION ALL SELECT doc_id, 3, h5 || h6 FROM sig
      UNION ALL SELECT doc_id, 4, h7 || h8 FROM sig
    ), cand AS (
      SELECT DISTINCT ib.doc_id AS di, bb.doc_id AS db
      FROM bands ib JOIN bands bb
        ON ib.band = bb.band AND ib.bkey = bb.bkey
      WHERE ib.doc_id >= 400 AND bb.doc_id < 400
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id
    ), inter AS (
      SELECT c.di, c.db, count(*) AS i
      FROM cand c
      JOIN shingles a ON a.doc_id = c.di
      JOIN shingles b2 ON b2.doc_id = c.db AND b2.sh = a.sh
      GROUP BY 1, 2
    ), near AS (
      SELECT i2.di AS doc_id, min(i2.db) AS dup_of
      FROM inter i2
      JOIN sizes sa ON i2.di = sa.doc_id
      JOIN sizes sb ON i2.db = sb.doc_id
      WHERE i2.i * 1.0 / (sa.n + sb.n - i2.i) >= 0.5
      GROUP BY i2.di
    )
    SELECT doc_id, 'exact' AS how, dup_of FROM exact
    UNION ALL
    SELECT n.doc_id, 'near', n.dup_of FROM near n
    WHERE n.doc_id NOT IN (SELECT doc_id FROM exact)
    """,
)
def llm_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the production mode: an incoming batch
    (doc_id >= 400) is checked against the existing corpus (doc_id < 400)
    without ever joining incoming x incoming or re-deduping the base.
    Exact layer: content-hash join. Near layer: banded-MinHash candidates
    restricted to (incoming x base) band pairs, exact-Jaccard verified at
    0.5, exact-dup hits excluded. At 100 TB the base side's signatures are
    precomputed and stored — each nightly batch joins only its own bands
    against the band index.

    COLLAPSE-FIRST (VERDICT r9 #1): each side is collapsed to one
    representative per content hash BEFORE shingling/banding, so a
    boilerplate cluster on either side enters the band join once. Member
    expansion is exact: an incoming duplicate group shares its
    representative's candidates and verified Jaccards verbatim, and
    min(dup_of) over base representatives equals min over all base
    members because the representative IS its group's min doc_id."""
    return _incremental_dedup(spark, sf_dir, salt_cap=None)


def _incremental_dedup(
    spark: SparkSession, sf_dir: str, salt_cap: int | None
) -> DataFrame:
    """Shared incoming-vs-base dedup pipeline. `salt_cap=None` is the
    unsalted band join (`llm_incremental_dedup`); an integer cap routes
    the band join through `_salt_bands` over the combined (base ∪
    incoming) representative band relation (`llm_incremental_dedup_salted`)
    — the same hot-bucket mitigation the self-join arm ships, on the path
    that runs unattended every night (VERDICT r11 #2)."""
    d = load_table(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") < 400)
    inc = d.filter(F.col("doc_id") >= 400)
    exact = (
        inc.alias("i")
        .join(base.alias("b"), F.md5(F.col("i.text")) == F.md5(F.col("b.text")))
        .groupBy(F.col("i.doc_id").alias("doc_id"))
        .agg(F.min(F.col("b.doc_id")).alias("dup_of"))
    )
    # Per-side collapse: the doc_id<400 / >=400 split survives collapse
    # because representatives are chosen within each side.
    _, base_reps = _collapse(base)
    inc_mem, inc_reps = _collapse(inc)
    repdocs = base_reps.unionByName(inc_reps)
    shingles = _shingles3(repdocs)
    bands = _bands42(_sig8(shingles))
    if salt_cap is not None:
        # Bucket size m counts BOTH sides' representatives: the straggler
        # this bounds is the band bucket hot on both sides (mi × mb join
        # output); cold buckets get n_sub = 1 and stay byte-identical to
        # the unsalted join input.
        bands = _salt_bands(bands, repdocs, salt_cap)
        key_cols = ["band", "bkey", "sub"]
    else:
        key_cols = ["band", "bkey"]
    ib = bands.filter(F.col("doc_id") >= 400).alias("ib")
    bb = bands.filter(F.col("doc_id") < 400).alias("bb")
    cand = (
        ib.join(
            bb,
            [F.col(f"ib.{c}") == F.col(f"bb.{c}") for c in key_cols],
        )
        .select(F.col("ib.doc_id").alias("da"), F.col("bb.doc_id").alias("db"))
        .distinct()
    )
    near_rep = (
        _jaccard_verify(cand, repdocs)
        .groupBy(F.col("da").alias("rep"))
        .agg(F.min("db").alias("dup_of"))
    )
    near = (
        inc_mem.join(near_rep, "rep")
        .select("doc_id", "dup_of")
        .join(exact.select("doc_id"), "doc_id", "left_anti")
    )
    return exact.select("doc_id", F.lit("exact").alias("how"), "dup_of").union(
        near.select("doc_id", F.lit("near").alias("how"), "dup_of")
    )


# Per-side collapse for the incremental oracle: representatives are chosen
# WITHIN each side of the doc_id<400 split (an incoming exact-dup of a
# base doc must surface as an exact hit, never collapse across sides).
_INC_COLLAPSE_CTES = """
    thx AS (SELECT doc_id, md5(text) AS th,
                   CASE WHEN doc_id < 400 THEN 0 ELSE 1 END AS side
            FROM documents),
    grp AS (SELECT side, th, min(doc_id) AS rep
            FROM thx GROUP BY side, th),
    mem AS (SELECT t.doc_id, g.rep FROM thx t
            JOIN grp g ON t.th = g.th AND t.side = g.side),
    repdocs AS (SELECT d.* FROM documents d
                JOIN grp g ON d.doc_id = g.rep)"""


@query(
    "llm_incremental_dedup_salted",
    oracle=f"""
    WITH {_INC_COLLAPSE_CTES}, {_REP_SHINGLE_CTES}, {_LSH_SIG_CTE},
    {_REP_BANDS_CTE}, {_SALTED_BANDS_CTES},
    exact AS (
      SELECT i.doc_id, min(b.doc_id) AS dup_of
      FROM (SELECT doc_id, text FROM documents WHERE doc_id >= 400) i
      JOIN (SELECT doc_id, text FROM documents WHERE doc_id < 400) b
        ON md5(i.text) = md5(b.text)
      GROUP BY i.doc_id
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS di, b.doc_id AS db
      FROM sbands a JOIN sbands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.sub = b.sub
      WHERE a.doc_id >= 400 AND b.doc_id < 400
    ),
    inter AS (
      SELECT c.di, c.db, count(*) AS i
      FROM cand c
      JOIN shingles a ON a.doc_id = c.di
      JOIN shingles b2 ON b2.doc_id = c.db AND b2.sh = a.sh
      GROUP BY 1, 2
    ),
    near_rep AS (
      SELECT i2.di AS rep, min(i2.db) AS dup_of
      FROM inter i2
      JOIN sizes sa ON i2.di = sa.doc_id
      JOIN sizes sb ON i2.db = sb.doc_id
      WHERE i2.i * 1.0 / (sa.n + sb.n - i2.i) >= 0.5
      GROUP BY i2.di
    ),
    near AS (
      SELECT m.doc_id, nr.dup_of
      FROM mem m JOIN near_rep nr ON m.rep = nr.rep
      WHERE m.doc_id NOT IN (SELECT doc_id FROM exact)
    )
    SELECT doc_id, 'exact' AS how, dup_of FROM exact
    UNION ALL
    SELECT doc_id, 'near', dup_of FROM near
    """,
)
def llm_incremental_dedup_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salt-capped incremental dedup — `llm_incremental_dedup` with the
    hot-bucket mitigation wired into the nightly incoming×base band join
    (VERDICT r11 #2). The unsalted incremental path has no bound on a
    band bucket hot on both sides: a template family arriving in
    tonight's crawl batch against its base-resident siblings produces an
    mi×mb candidate blow-up on one key — exactly the straggler
    `llm_dedup_salted_band` was built to kill on the self-join path.
    Here the SAME `_salt_bands` splits every combined-representative band
    bucket larger than `_SALT_CAP` into ceil(m/cap) sub-buckets by the
    per-doc-per-band 32-bit salt, and the incoming×base join additionally
    requires sub equality. Cold buckets are byte-identical to the
    unsalted join input; true cross-side pairs inside hot buckets keep
    OR-over-bands survival. Exact layer, per-side collapse, member
    expansion, and Jaccard verification are shared with the unsalted key
    (`_incremental_dedup`); the oracle mirrors the whole chain including
    the salt (`_SALT32_SQL`) in DuckDB. Production cap: the
    `llm_lsh_salt_plan` output, passed as `salt_cap`."""
    return _incremental_dedup(spark, sf_dir, salt_cap=_SALT_CAP)


@query(
    "llm_jaccard_histogram",
    oracle="""
    WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    idx AS (SELECT doc_id, toks, generate_subscripts(toks, 1) AS i FROM tk),
    shingles AS (
      SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
      FROM idx WHERE i <= len(toks) - 2
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
      FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT CAST(floor(i.i * 10.0 / (sa.n + sb.n - i.i)) AS INT) AS jacc_decile,
           count(*) AS n_pairs
    FROM inter i
    JOIN sizes sa ON i.da = sa.doc_id
    JOIN sizes sb ON i.db = sb.doc_id
    GROUP BY 1
    """,
)
def llm_jaccard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-similarity histogram over all shingle-sharing pairs
    (deciles) — the threshold-tuning curve: where the near-dup cutoff
    lands decides corpus shrinkage, and this shows the whole distribution
    in one pass instead of re-running dedup per candidate threshold.
    Pairs with zero shared shingles never materialize (the shingle join
    only produces co-occurring pairs). Exact integer bucket arithmetic."""
    d = load_table(spark, sf_dir, "documents")
    shingles = _shingles3(d)
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = shingles.alias("a"), shingles.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    decile = F.floor(
        F.col("i") * 10.0 / (F.col("sa.n") + F.col("sb.n") - F.col("i"))
    ).cast("int")
    return (
        inter.join(sizes.alias("sa"), F.col("da") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("db") == F.col("sb.doc_id"))
        .groupBy(decile.alias("jacc_decile"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
