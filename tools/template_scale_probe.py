"""Template-family octave probe for the salted re-band arm (VERDICT r10 #3).

The adversarial shape the salt arm exists for: a crawl-scale family of
NEAR-identical documents — one shared template, one token varying — whose
members share most band keys without sharing md5(text). The exact-dup
collapse cannot touch it, so the UNSALTED banded join owes m^2/2 candidate
pairs (and as many exact-Jaccard verifications) to one family of size m,
while the salted join (`llm_dedup_salted_band`) bounds every join-key
group at ~cap.

This probe makes that difference a measured record: it plants one
template family into a hash-deterministic corpus at two octaves (family
size grows WITH the corpus — boilerplate is a constant fraction of a
crawl, so the unsalted family pair-mass grows QUADRATICALLY while
everything else grows linearly) and times, in ONE session per the
SCALING.md same-session rule:

- llm_dedup_minhash_banded  (unsalted: candidate mass ~ m^2/2)
- llm_dedup_salted_band     (salted: per-key groups capped; family pair
                             mass bounded by n_sub * cap^2-ish per band)
- llm_lsh_bucket_stats      (the diagnostic: max_bucket ~ m, the number a
                             curator reads to decide the cap)

Expected shape: the unsalted key's octave step tracks the QUADRATIC
family growth (step >> data step); the salted key's step stays at or
near the data step. That pair of numbers is the scale argument for the
salt arm at 100 TB.

Usage: python tools/template_scale_probe.py [--report OCTAVE_r11_template.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from pyspark.sql import functions as F

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from backup_repo_spark import registry, session as _session  # noqa: E402
from backup_repo_spark.session import get_spark  # noqa: E402

# corpus shape per octave: (n_background_docs, family_size)
# 250 added for VERDICT r11 #3: one more octave for the SALTED arm —
# SCALING.md predicts the unsalted family owes ~26M verified pairs there
# (quadratic), so the unsalted key is skipped by default at 250x via
# --keys; the salted key's flatness claim was extrapolated until now.
_OCTAVES = {10: (10_000, 300), 50: (50_000, 1_500), 250: (250_000, 7_500)}

# 40 shared template tokens on each side of the varying slot — long enough
# that every variant pair's 3-shingle Jaccard is ~0.93 (>= the 0.5
# threshold: these are TRUE near-dups the unsalted key must verify).
_HEAD = " ".join(f"tpl{i:02d}" for i in range(40))
_TAIL = " ".join(f"tpl{i:02d}" for i in range(40, 80))


def _gen(spark, out: str, n_docs: int, fam: int) -> None:
    """Hash-deterministic background corpus (the scale_sweep generator's
    word machinery) + one planted template family of size `fam`."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_words = (F.abs(F.xxhash64("id", F.lit(1))) % 50 + 10).cast("int")
    text = F.array_join(
        F.transform(
            F.sequence(F.lit(1), n_words),
            lambda i: F.concat(
                F.lit("w"),
                (F.abs(F.xxhash64(F.col("id") * 1000 + i)) % 4096).cast("string"),
            ),
        ),
        " ",
    )
    bg = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        text.alias("text"),
        F.lit("en").alias("lang"),
        F.concat(
            F.lit("src"), (F.abs(F.xxhash64("id", F.lit(3))) % 12).cast("string")
        ).alias("source"),
    )
    family = spark.range(fam).select(
        (F.col("id") + n_docs).alias("doc_id"),
        F.concat(
            F.lit(_HEAD + " var"),
            F.col("id").cast("string"),
            F.lit(" " + _TAIL),
        ).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("tpl").alias("source"),
    )
    docs = (
        bg.unionByName(family)
        .withColumn("n_chars", F.length("text"))
        .toPandas()
    )
    os.makedirs(out, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(docs), f"{out}/documents.parquet")


def _time_key(name: str, spark, sf_dir: str) -> float:
    """Sweep protocol: warm pass, then best of 2 (distributed noop sink —
    the unsalted key's OUTPUT is itself quadratic in the family (~m^2/2
    verified pairs), and the probe measures plan cost, not driver
    transfer; same reasoning as the sweep's reshape_unpivot precedent)."""
    fn = registry.QUERIES[name]

    def run():
        _session._TABLE_CACHE.clear()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()

    run()
    best = min(
        (lambda t0: (run(), time.perf_counter() - t0)[1])(time.perf_counter())
        for _ in range(2)
    )
    return round(best, 3)


_KEYS = ["llm_lsh_bucket_stats", "llm_dedup_salted_band", "llm_dedup_minhash_banded"]

# incremental-mode corpus: the keys' contract caps the base side at
# doc_id < 400, so the base holds a FIXED family residue (300 members +
# 100 background bystanders) while the incoming batch's family half grows
# with the corpus. The unsalted blow-up here is the single-key straggler
# (m_base x m_incoming co-bucket rows on ONE band key, all verified);
# the salted arm bounds the per-key group.
_INC_BASE_FAMILY = 300
_INC_BASE_BG = 100
_INC_KEYS = ["llm_incremental_dedup", "llm_incremental_dedup_salted"]


def _gen_incremental(spark, out: str, n_docs: int, fam: int) -> None:
    """Split-corpus generator: base = 400 docs (family residue +
    bystanders) at doc_id 0..399; incoming = hash-deterministic
    background + the family's growing half at doc_id >= 400."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base_fam = spark.range(_INC_BASE_FAMILY).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(_HEAD + " basevar"),
            F.col("id").cast("string"),
            F.lit(" " + _TAIL),
        ).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("tpl-base").alias("source"),
    )
    n_words = (F.abs(F.xxhash64("id", F.lit(1))) % 50 + 10).cast("int")

    def bg_text(col):
        return F.array_join(
            F.transform(
                F.sequence(F.lit(1), n_words),
                lambda i: F.concat(
                    F.lit("w"),
                    (F.abs(F.xxhash64(col * 1000 + i)) % 4096).cast("string"),
                ),
            ),
            " ",
        )

    base_bg = spark.range(_INC_BASE_BG).select(
        (F.col("id") + _INC_BASE_FAMILY).alias("doc_id"),
        bg_text(F.col("id") + 7_000_000).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("base-bg").alias("source"),
    )
    inc_bg = spark.range(n_docs).select(
        (F.col("id") + 400).alias("doc_id"),
        bg_text(F.col("id")).alias("text"),
        F.lit("en").alias("lang"),
        F.concat(
            F.lit("src"), (F.abs(F.xxhash64("id", F.lit(3))) % 12).cast("string")
        ).alias("source"),
    )
    inc_fam = spark.range(fam).select(
        (F.col("id") + 400 + n_docs).alias("doc_id"),
        F.concat(
            F.lit(_HEAD + " incvar"),
            F.col("id").cast("string"),
            F.lit(" " + _TAIL),
        ).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("tpl-inc").alias("source"),
    )
    docs = (
        base_fam.unionByName(base_bg)
        .unionByName(inc_bg)
        .unionByName(inc_fam)
        .withColumn("n_chars", F.length("text"))
        .toPandas()
    )
    os.makedirs(out, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(docs), f"{out}/documents.parquet")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--report", default=os.path.join(_REPO, "OCTAVE_r11_template.json")
    )
    ap.add_argument(
        "--mults", type=int, nargs=2, default=[10, 50],
        help="the two octaves to pair (must be keys of _OCTAVES)",
    )
    ap.add_argument(
        "--keys", nargs="+", default=None,
        help="registry keys to time (default: the standard 3-key set; "
        "VERDICT r11 #3 runs 250x with the salted arm + diagnostics only "
        "— the unsalted key's ~26M-pair verify is the documented skip)",
    )
    ap.add_argument(
        "--incremental", action="store_true",
        help="time the incremental (incoming-vs-base) pair on the "
        "split-family corpus instead of the self-join keys",
    )
    args = ap.parse_args()
    # r14: aqe_probe C profile (OPTIMIZATION_r13.md AQE adjudication) —
    # overprovision partitions, let AQE coalesce to 64 MB from runtime
    # bytes; -18.1% vs pinned 32 at the 50x dedup fixture.
    spark = get_spark("template-scale-probe", shuffle_partitions=256, advisory_partition_mb=64)

    lo, hi = args.mults
    keys = args.keys or (_INC_KEYS if args.incremental else _KEYS)
    prefix = "template_inc_probe" if args.incremental else "template_probe"
    gen = _gen_incremental if args.incremental else _gen

    dirs = {}
    for mult in (lo, hi):
        n, fam = _OCTAVES[mult]
        d = os.path.join(_REPO, "spark-warehouse", f"{prefix}_{mult}x")
        if not os.path.exists(f"{d}/documents.parquet"):
            print(f"generating {mult}x {prefix} corpus ...", file=sys.stderr)
            gen(spark, d, n, fam)
        dirs[mult] = d

    record = {
        "mults": [lo, hi],
        "corpus": {
            m: {"n_docs": _OCTAVES[m][0], "family": _OCTAVES[m][1]}
            for m in (lo, hi)
        },
        "sink": "noop",
        "keys": {},
    }
    if args.incremental:
        record["base_side"] = {
            "family": _INC_BASE_FAMILY, "background": _INC_BASE_BG,
        }
    # diagnostic values at each octave (collect: 4 rows)
    for mult in (lo, hi):
        _session._TABLE_CACHE.clear()
        stats = (
            registry.QUERIES["llm_lsh_bucket_stats"](spark, dirs[mult])
            .orderBy("band")
            .collect()
        )
        record["corpus"][mult]["max_bucket"] = max(r.max_bucket for r in stats)
        record["corpus"][mult]["cand_pairs"] = max(r.cand_pairs for r in stats)
    for name in keys:
        t_lo = _time_key(name, spark, dirs[lo])
        t_hi = _time_key(name, spark, dirs[hi])
        e = {"base": t_lo, "scaled": t_hi, "step": round(t_hi / max(t_lo, 1e-9), 2)}
        print(f"template-octave {name}: {e}", file=sys.stderr)
        record["keys"][name] = e
    with open(args.report, "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps(record))


if __name__ == "__main__":
    main()
