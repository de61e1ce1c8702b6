"""Adversarial-embeddings differential tests.

Real embedding corpora contain degenerate rows the synthetic table lacks:
zero vectors (padding / failed encodes — cosine is 0/0), exact duplicates
and scaled copies of the query (cos = 1.0 ties at the top of the ranking),
antipodal vectors (cos = -1), and denormal-small magnitudes. DuckDB
returns NULL for x/0.0 where Spark returns NaN/Infinity, so an unguarded
cosine diverges cross-engine the moment a zero vector appears — the
`_cosine` zero-norm guard exists precisely for this. This harness stages
such a corpus and runs the similarity-search family through the driver's
comparison.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from backup_repo_spark import registry
from backup_repo_spark.session import TABLES
from backup_repo_spark.testing import compare, hard_problems
from tests.conftest import SF_DIR

DIM = 64


def _vec(fn):
    return [float(fn(i)) for i in range(DIM)]


def _mk_embeddings():
    q = _vec(lambda i: ((i * 37 + 11) % 19 - 9) / 10.0)  # the query (vec_id 0)
    rows = [
        (0, q, 0),
        (1, list(q), 1),                                  # exact duplicate: cos=1 tie
        (2, [-x for x in q], 1),                          # antipodal: cos=-1
        (3, _vec(lambda i: 0.0), 2),                      # zero vector: cos undefined
        (4, [x * 1000.0 for x in q], 2),                  # scaled copy: cos=1 tie
        (5, _vec(lambda i: 1e-30), 3),                    # denormal-small magnitude
        (6, _vec(lambda i: 1.0 if i == 0 else 0.0), 3),   # axis vector
    ]
    for k in range(7, 24):
        rows.append((k, _vec(lambda i, k=k: ((i * k + 3) % 23 - 11) / 7.0), k % 4))
    return rows


_EMB_KEYS = [
    "llm_sim_search",
    "llm_sim_search_ivf",
    "llm_ann_partitioned",
    "llm_sim_search_pandas",
    "llm_embed_centroid",
    "llm_embed_quantize",
    "llm_embed_neardup",
    "llm_hard_negatives",
    "llm_contrastive_triplets",
    # PQ: init centroids are vec_ids 1..8, which here include the exact
    # duplicate, the antipodal copy, and the ZERO vector — so a centroid
    # sits at the origin and distance ties hit the lowest-code tie-break
    "llm_pq_codebook",
    "llm_pq_search",
    "llm_pq_recall",
    # two-stage refine: the 20-candidate shortlist here is the WHOLE
    # corpus (23 vecs), so the exact re-rank must reproduce brute force
    # under cos=1 ties, the zero vector, and the origin centroid
    "llm_pq_refine",
    # semdedup: exact duplicate (cos=1), antipodal (cos=-1), and zero
    # vector (NULL cosine — must not count as a dup) all land in clusters
    "llm_semdedup",
    # MMR: queries here are vec_ids 0-2, i.e. the query, its EXACT
    # DUPLICATE, and its antipodal copy; the corpus shortlists carry the
    # scaled copy (cos snaps to exactly 1.0 under the 1e-12 quantization)
    # and the zero vector (NULL cosine, must be excluded) — the greedy
    # tie-breaks and the quantization contract are what is under test
    "llm_mmr_rerank",
]


@pytest.fixture(scope="module")
def adv_emb_dir(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("adv_emb_sf")
    rows = _mk_embeddings()
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array(
                [r[1] for r in rows], pa.list_(pa.float32())
            ),
            "label": pa.array([r[2] for r in rows], pa.int32()),
        }
    )
    pq.write_table(tbl, str(d / "embeddings.parquet"))
    for t in TABLES:
        if t != "embeddings":
            os.symlink(f"{SF_DIR}/{t}.parquet", str(d / f"{t}.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def adv_emb_duck(adv_emb_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{adv_emb_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", _EMB_KEYS)
def test_embedding_key_on_adversarial_corpus(name, spark, adv_emb_dir, adv_emb_duck):
    if name not in registry.ORACLES:
        pytest.skip("rows-only key")
    spark_pdf = registry.QUERIES[name](spark, adv_emb_dir).toPandas()
    duck_pdf = adv_emb_duck.execute(registry.ORACLES[name]).fetchdf()
    problems = hard_problems(compare(spark_pdf, duck_pdf))
    assert not problems, f"{name} diverges on adversarial embeddings: {problems}"


def test_mmr_rerank_diversifies(spark, tmp_path_factory):
    """The MMR property itself: plant two near-identical high-relevance
    vectors (cos to the query ~0.99 each, cos to each other ~1.0) plus a
    moderately-relevant but orthogonal-ish one. Pure top-k would rank the
    twin SECOND; MMR's redundancy penalty (0.3 * sim-to-selected ~ 0.3)
    must demote it below the diverse candidate at rank 2."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng_dim = DIM
    q = np.zeros(rng_dim)
    q[0] = 1.0
    # a sits 25° off q on the +e1 side; a2 is a SCALED COPY of a (same
    # cosine to everything, sim(a,a2)=1); b sits ~27° off q on the -e1
    # side, so cos(q,b)=.89 but cos(a,b)=cos(52°)~.61. MMR rank-2 scores:
    # twin 0.7*.905-0.3*1.0 = .3335 < diverse 0.7*.89-0.3*.6115 = .4396.
    a = np.zeros(rng_dim); a[0] = 0.905; a[1] = np.sqrt(1 - 0.905**2)
    a2 = 0.9 * a
    b = np.zeros(rng_dim); b[0] = 0.89; b[1] = -np.sqrt(1 - 0.89**2)
    rows = [(0, q), (1, q * 0.9), (2, -q), (3, a), (4, a2), (5, b)]
    # padding so each query still fills a shortlist
    rng = np.random.RandomState(7)
    for k in range(6, 20):
        v = rng.randn(rng_dim) * 0.1
        v[0] += 0.2
        rows.append((k, v))
    d = tmp_path_factory.mktemp("mmr_prop")
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array(
                [[float(x) for x in r[1]] for r in rows], pa.list_(pa.float32())
            ),
            "label": pa.array([0] * len(rows), pa.int32()),
        }
    )
    pq.write_table(tbl, str(d / "embeddings.parquet"))
    for t in TABLES:
        if t != "embeddings":
            os.symlink(f"{SF_DIR}/{t}.parquet", str(d / f"{t}.parquet"))

    out = registry.QUERIES["llm_mmr_rerank"](spark, str(d)).toPandas()
    q0 = out[out.qid == 0].sort_values("rank")
    picks = list(q0.vec_id)
    # rank 1 is pure relevance: vec 3 (cos .905; its scaled copy vec 4
    # ties at .905 after quantization and loses the vec_id tie-break)
    assert picks[0] == 3
    # pure top-2 would be {3, 4}; MMR's redundancy penalty must demote
    # the scaled copy and lift the diverse vec 5 to rank 2
    assert picks[1] == 5
    assert 4 in picks[2:]  # demoted, not dropped — still high-relevance
    # per-query outputs are 5 distinct picks
    assert len(picks) == 5 == len(set(picks))


def test_mmr_rerank_shortlist_smaller_than_k(spark, tmp_path_factory):
    """Under-filled corpus: only 4 non-query vectors and 2 of them are
    ZERO vectors (NULL cosine, excluded), so every query's shortlist has
    2 candidates — fewer than the k=5 selection. The pandas greedy
    truncates via k=min(5, n); the unrolled oracle's later argmax CTEs
    must go empty rather than fabricate rows, and both engines must
    return exactly 2 ranks per query."""
    import duckdb as ddb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(11)
    rows = [(i, rng.randn(DIM) * 0.5) for i in range(3)]       # queries 0-2
    rows += [(3, rng.randn(DIM)), (4, rng.randn(DIM))]         # 2 candidates
    rows += [(5, np.zeros(DIM)), (6, np.zeros(DIM))]           # excluded
    d = tmp_path_factory.mktemp("mmr_short")
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array(
                [[float(x) for x in r[1]] for r in rows], pa.list_(pa.float32())
            ),
            "label": pa.array([0] * len(rows), pa.int32()),
        }
    )
    pq.write_table(tbl, str(d / "embeddings.parquet"))
    for t in TABLES:
        if t != "embeddings":
            os.symlink(f"{SF_DIR}/{t}.parquet", str(d / f"{t}.parquet"))

    spark_pdf = registry.QUERIES["llm_mmr_rerank"](spark, str(d)).toPandas()
    con = ddb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
        )
    try:
        duck_pdf = con.execute(registry.ORACLES["llm_mmr_rerank"]).fetchdf()
    finally:
        con.close()
    problems = hard_problems(compare(spark_pdf, duck_pdf))
    assert not problems, f"under-k shortlist diverges: {problems}"
    # exactly 2 ranks per query, zero vectors never selected
    assert len(spark_pdf) == 6
    assert set(spark_pdf.groupby("qid")["rank"].max()) == {2}
    assert not set(spark_pdf["vec_id"]) & {5, 6}


def test_mmr_rerank_no_query_rows(spark, tmp_path_factory):
    """Degenerate corpus whose every vec_id is >= the query cutoff
    (ADVICE r9): zero query rows used to type F.array() of zero elements
    as array<null> and fail analysis on the q.qid access. The Spark path
    must short-circuit to the same EMPTY result the oracle produces."""
    import duckdb as ddb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(12)
    rows = [(i + 100, rng.randn(DIM)) for i in range(5)]  # no vec_id < 3
    d = tmp_path_factory.mktemp("mmr_noq")
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array(
                [[float(x) for x in r[1]] for r in rows], pa.list_(pa.float32())
            ),
            "label": pa.array([0] * len(rows), pa.int32()),
        }
    )
    pq.write_table(tbl, str(d / "embeddings.parquet"))
    for t in TABLES:
        if t != "embeddings":
            os.symlink(f"{SF_DIR}/{t}.parquet", str(d / f"{t}.parquet"))

    spark_pdf = registry.QUERIES["llm_mmr_rerank"](spark, str(d)).toPandas()
    con = ddb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
        )
    try:
        duck_pdf = con.execute(registry.ORACLES["llm_mmr_rerank"]).fetchdf()
    finally:
        con.close()
    assert len(spark_pdf) == 0 and len(duck_pdf) == 0
    assert list(spark_pdf.columns) == ["qid", "rank", "vec_id", "mmr_score"]
