"""Scale sweep: time registry keys at sf0.1 and at an N x copy, in one
session, and write the record (SCALESWEEP_rN.json, SCALING.md).

    python tools/scale_sweep.py [--mult 10] [--report SCALESWEEP.json]
        [--keys KEY ...] [--sink collect|noop] [--no-noop-exonerate]

A quadratic candidate space, a lost broadcast or a driver materialization
shows up as a ratio far above the data growth. Without --keys every batch
key is timed; streaming keys are left out of that full sweep (their scale
story is the state-store stress and watermark tests, and availableNow
replays make wall-time ratios meaningless). --keys times exactly the keys
it names, streaming ones included.

The N x fixture is built once under spark-warehouse/scale_smoke_<N>x/:
the star schema and events (generate: hash-of-id columns, the shapes and
domains of FIXTURES.md) and documents and embeddings
(generate_docs_embeddings), all at N x the sf0.1 row counts.

One run writes one record: each entry holds base, scaled and ratio, and
the record's `cpus` (the session's defaultParallelism) says which machine
measured all of them. Every key whose collect ratio exceeds 8x is
re-measured through the noop sink in the same run and stamped under
`noop`: output-volume-bound keys (big collect transfer, flat engine cost)
adjudicate themselves.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from backup_repo_spark import registry  # noqa: E402
from backup_repo_spark.session import get_spark  # noqa: E402

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE_DIR = "/root/testdata/sf0.1"

# 256-word vocabulary with per-doc TOPIC slices: each doc draws from a
# 64-word window of the vocab keyed by its topic, so word-frequency
# profiles (and therefore simhash/minhash signatures) are DIVERSE across
# docs. A flat shared vocab made every simhash land within Hamming 3 of
# every other (91M pairs from 50k docs — the first sweep's driver-OOM).
_VOCAB = [
    f"{a}{b}"
    for a in (
        "batch part spark line column order small sort fast value scan "
        "hash slow group agg filter query big key window row table stream "
        "merge data vector shuffle plan join scale read write"
    ).split()
    for b in ("", "er", "ing", "ed", "ly", "est", "ware", "set")
]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]  # en-heavy like testdata


def generate_docs_embeddings(spark: SparkSession, out: str, mult: int) -> None:
    n_docs, n_vecs = 5_000 * mult, 2_000 * mult
    vocab = F.array(*[F.lit(w) for w in _VOCAB])
    n_words = (F.abs(F.xxhash64("id", F.lit(1))) % 50 + 10).cast("int")
    topic = (F.abs(F.xxhash64("id", F.lit(7))) % (len(_VOCAB) - 64)).cast("int")
    text = F.array_join(
        F.transform(
            F.sequence(F.lit(1), n_words),
            lambda i: F.element_at(
                vocab,
                topic
                + (F.abs(F.xxhash64(F.col("id") * 1000 + i)) % 64 + 1).cast("int"),
            ),
        ),
        " ",
    )
    docs = (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            text.alias("text"),
            F.element_at(
                F.array(*[F.lit(x) for x in _LANGS]),
                (F.abs(F.xxhash64("id", F.lit(2))) % len(_LANGS) + 1).cast("int"),
            ).alias("lang"),
            F.concat(
                F.lit("src"), (F.abs(F.xxhash64("id", F.lit(3))) % 12).cast("string")
            ).alias("source"),
        )
        .withColumn("n_chars", F.length("text"))
        .toPandas()
    )
    emb = F.transform(
        F.sequence(F.lit(1), F.lit(64)),
        lambda i: (
            ((F.abs(F.xxhash64(F.col("id") * 100 + i)) % 2001) - 1000) / 1000.0
        ).cast("float"),
    )
    vecs = (
        spark.range(n_vecs)
        .select(
            F.col("id").alias("vec_id"),
            emb.alias("embedding"),
            (F.abs(F.xxhash64("id", F.lit(5))) % 10).cast("int").alias("label"),
        )
        .toPandas()
    )
    # single FILES (not directories), matching the testdata layout the
    # DSv2 connector keys expect
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(docs), f"{out}/documents.parquet")
    tbl = pa.table(
        {
            "vec_id": pa.array(vecs["vec_id"], pa.int64()),
            "embedding": pa.array(
                [list(v) for v in vecs["embedding"]], pa.list_(pa.float32())
            ),
            "label": pa.array(vecs["label"], pa.int32()),
        }
    )
    pq.write_table(tbl, f"{out}/embeddings.parquet")


_SEGS = "HOUSEHOLD FURNITURE MACHINERY AUTOMOBILE BUILDING".split()
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ETYPES = "signup error click view purchase".split()


def _pick(col, options):
    """Deterministic uniform pick from a string list, keyed by an id column."""
    arr = F.array(*[F.lit(o) for o in options])
    return F.element_at(arr, (F.abs(F.xxhash64(col)) % len(options) + 1).cast("int"))


def generate(spark: SparkSession, out: str, mult: int) -> None:
    n_li, n_o, n_c, n_s, n_e = (
        600_000 * mult, 150_000 * mult, 15_000 * mult, 1_000 * mult, 100_000 * mult)
    parts = max(8, mult * 4)

    def rnd(col, lo, hi, salt):
        u = (F.abs(F.xxhash64(col + F.lit(salt))) % 1_000_000) / 1_000_000.0
        return lo + u * (hi - lo)

    spark.range(5).select(
        F.col("id").cast("int").alias("r_regionkey"),
        _pick(F.col("id"), ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]).alias("rn"),
    ).withColumn("r_name", F.expr(
        "element_at(array('AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'), "
        "cast(r_regionkey as int) + 1)"
    )).drop("rn").coalesce(1).write.mode("overwrite").parquet(f"{out}/region.parquet")

    spark.range(25).select(
        F.col("id").cast("int").alias("n_nationkey"),
        F.concat(F.lit("NATION_"), F.col("id")).alias("n_name"),
        (F.col("id") % 5).cast("int").alias("n_regionkey"),
    ).coalesce(1).write.mode("overwrite").parquet(f"{out}/nation.parquet")

    spark.range(n_c).select(
        F.col("id").alias("c_custkey"),
        F.format_string("Customer#%09d", F.col("id")).alias("c_name"),
        (F.abs(F.xxhash64("id")) % 25).cast("int").alias("c_nationkey"),
        F.round(rnd(F.col("id"), -999.0, 9999.0, 1), 2).alias("c_acctbal"),
        _pick(F.col("id"), _SEGS).alias("c_mktsegment"),
    ).repartition(parts).write.mode("overwrite").parquet(f"{out}/customer.parquet")

    spark.range(n_s).select(
        F.col("id").alias("s_suppkey"),
        F.format_string("Supplier#%09d", F.col("id")).alias("s_name"),
        (F.abs(F.xxhash64("id")) % 25).cast("int").alias("s_nationkey"),
        F.round(rnd(F.col("id"), -999.0, 9999.0, 2), 2).alias("s_acctbal"),
    ).repartition(8).write.mode("overwrite").parquet(f"{out}/supplier.parquet")

    _PTYPES = "STANDARD SMALL MEDIUM LARGE ECONOMY PROMO".split()
    _PNOUNS = "ring bolt washer gear cog spring plate rod".split()
    _PADJS = "large hot blue red green dim small pale".split()
    spark.range(20_000 * mult).select(
        F.col("id").alias("p_partkey"),
        F.concat_ws(" ", _pick(F.col("id") + 13, _PADJS), _pick(F.col("id") + 17, _PNOUNS)).alias("p_name"),
        F.concat(F.lit("Brand#"), (F.abs(F.xxhash64("id", F.lit(21))) % 25).cast("string")).alias("p_brand"),
        _pick(F.col("id") + 23, _PTYPES).alias("p_type"),
        ((F.abs(F.xxhash64("id", F.lit(22))) % 50) + 1).cast("int").alias("p_size"),
        F.round(rnd(F.col("id"), 900.0, 999.9, 24), 2).alias("p_retailprice"),
    ).repartition(8).write.mode("overwrite").parquet(f"{out}/part.parquet")

    day = F.expr("INTERVAL 1 DAY")
    spark.range(n_o).select(
        F.col("id").alias("o_orderkey"),
        (F.abs(F.xxhash64("id")) % n_c).alias("o_custkey"),
        _pick(F.col("id"), ["P", "O", "F"]).alias("o_orderstatus"),
        F.round(rnd(F.col("id"), 1000.0, 400000.0, 3), 2).alias("o_totalprice"),
        (F.lit("1995-01-01").cast("timestamp")
         + day * (F.abs(F.xxhash64("id", F.lit(4))) % 2400).cast("int")).alias("o_orderdate"),
        _pick(F.col("id") + 7, _PRIOS).alias("o_orderpriority"),
    ).repartition(parts).write.mode("overwrite").parquet(f"{out}/orders.parquet")

    spark.range(n_li).select(
        (F.abs(F.xxhash64("id", F.lit(9))) % n_o).alias("l_orderkey"),
        (F.abs(F.xxhash64("id", F.lit(10))) % (20_000 * mult)).alias("l_partkey"),
        (F.abs(F.xxhash64("id", F.lit(11))) % n_s).alias("l_suppkey"),
        ((F.col("id") % 7) + 1).cast("int").alias("l_linenumber"),
        F.round(rnd(F.col("id"), 1.0, 50.0, 12)).alias("l_quantity"),
        F.round(rnd(F.col("id"), 900.0, 100000.0, 13), 2).alias("l_extendedprice"),
        F.round(rnd(F.col("id"), 0.0, 0.10, 14), 2).alias("l_discount"),
        F.round(rnd(F.col("id"), 0.0, 0.08, 15), 2).alias("l_tax"),
        _pick(F.col("id") + 3, ["R", "A", "N"]).alias("l_returnflag"),
        _pick(F.col("id") + 5, ["O", "F"]).alias("l_linestatus"),
        (F.lit("1995-01-02").cast("timestamp")
         + day * (F.abs(F.xxhash64("id", F.lit(16))) % 2490).cast("int")).alias("l_shipdate"),
    ).repartition(parts).write.mode("overwrite").parquet(f"{out}/lineitem.parquet")

    sec = F.expr("INTERVAL 1 SECOND")
    spark.range(n_e).select(
        F.col("id").alias("event_id"),
        (F.lit("2024-01-01").cast("timestamp")
         + sec * (F.abs(F.xxhash64("id", F.lit(17))) % (29 * 86400)).cast("int")).alias("ts"),
        (F.abs(F.xxhash64("id", F.lit(18))) % n_c).alias("user_id"),
        _pick(F.col("id") + 11, _ETYPES).alias("event_type"),
        F.round(rnd(F.col("id"), 0.01, 490.0, 19), 2).alias("value"),
        F.format_string('{"k": %d}', (F.abs(F.xxhash64("id", F.lit(20))) % 100)).alias("props"),
    ).repartition(parts).write.mode("overwrite").parquet(f"{out}/events.parquet")


def fixture_dir(spark: SparkSession, mult: int) -> str:
    """The N x fixture directory, generated on first use."""
    d = os.path.join(_REPO, "spark-warehouse", f"scale_smoke_{mult}x")
    if not os.path.exists(f"{d}/lineitem.parquet"):
        print(f"generating {mult}x data under {d} ...", file=sys.stderr)
        generate(spark, d, mult)
    if not os.path.exists(f"{d}/documents.parquet"):
        print(f"generating {mult}x documents/embeddings ...", file=sys.stderr)
        generate_docs_embeddings(spark, d, mult)
    return d


def _time_key(fn, spark, sf_dir, sink: str = "collect") -> float:
    """Time a key end-to-end.  sink='collect' matches the driver protocol
    (includes driver-side result transfer); sink='noop' materializes every
    row distributed-side with zero driver transfer — use it to separate
    plan cost from collect volume for keys whose OUTPUT is proportional
    to the input (reshape_unpivot returned 18M rows at 10×: 15.5× by
    collect, 0.59× by noop — SCALING.md round 5)."""

    def run():
        df = fn(spark, sf_dir)
        if sink == "noop":
            df.write.mode("overwrite").format("noop").save()
        else:
            df.collect()

    run()  # warm
    best = min(
        (lambda t0: (run(), time.perf_counter() - t0)[1])(time.perf_counter())
        for _ in range(2)
    )
    return round(best, 3)


def _noop_candidates(results: dict[str, dict], threshold: float = 8.0) -> list[str]:
    """Keys whose headline collect-sink ratio exceeds `threshold` — the
    candidates for the end-of-sweep noop-sink exoneration pass. Rounds 5-8
    adjudicated this class by hand in SCALING.md prose (every >8x collect
    ratio so far has been driver-transfer volume, not plan shape:
    reshape_unpivot 18.4x by collect, 1.09x engine-side); this stamps the
    noop re-measure into the record itself (VERDICT r8 #2) so the worst-20
    is self-adjudicating. Entries already carrying a noop stamp or an
    error are skipped."""
    return sorted(
        name
        for name, entry in results.items()
        if entry.get("ratio", 0.0) > threshold
        and "err" not in entry
        and "noop" not in entry
    )


def _noop_exonerate(results, spark, out) -> list[str]:
    """Re-measure every >8x collect-ratio key under the noop sink (pure
    distributed materialization, zero driver transfer) and stamp the
    numbers into the entry: `noop` = {base, scaled, ratio}. A noop ratio
    at/near the data-growth line exonerates the headline number as
    collect-volume; a noop ratio that STAYS high is a real plan-shape
    scaler and keeps the flag."""
    flagged = _noop_candidates(results)
    stamped = []
    for name in flagged:
        entry = results[name]
        try:
            base = _time_key(registry.QUERIES[name], spark, BASE_DIR, "noop")
            scaled = _time_key(registry.QUERIES[name], spark, out, "noop")
        except Exception as e:  # noqa: BLE001
            entry["noop_err"] = f"{type(e).__name__}: {str(e)[:160]}"
            continue
        entry["noop"] = {
            "base": base,
            "scaled": scaled,
            "ratio": round(scaled / max(base, 1e-9), 2),
        }
        stamped.append(name)
        print(
            f"noop-exonerate {name}: collect {entry['ratio']} -> "
            f"noop {entry['noop']['ratio']}",
            file=sys.stderr,
        )
    return stamped


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--report", default="SCALESWEEP.json")
    ap.add_argument(
        "--sink",
        choices=["collect", "noop"],
        default="collect",
        help="collect = driver protocol (default); noop = distributed "
        "materialization only, for diagnosing output-volume-bound keys",
    )
    ap.add_argument(
        "--noop-exonerate",
        action=argparse.BooleanOptionalAction,
        default=True,
        help="re-measure any key whose collect ratio exceeds 8x under the "
        "noop sink at the end of the sweep and stamp `noop` into its "
        "record entry (default on; only applies to --sink collect)",
    )
    ap.add_argument(
        "--keys",
        nargs="*",
        default=None,
        help="measure only these registry keys, streaming ones included "
        "(default: all batch keys)",
    )
    args = ap.parse_args()
    # Reject a typo'd or empty --keys before the fixture build: either
    # would measure nothing and still rewrite the report.
    if args.keys is not None:
        if not args.keys:
            sys.exit("--keys: empty key list (nothing to measure)")
        unknown = sorted(set(args.keys) - set(registry.QUERIES))
        if unknown:
            sys.exit(f"--keys: unknown registry keys: {unknown}")
        names = sorted(set(args.keys))
    else:
        names = sorted(k for k in registry.QUERIES if not k.startswith("stream_"))

    # AQE coalesces to Spark's default 64 MB advisory size (aqe_probe, README "Retired probes").
    spark = get_spark("scale-sweep", shuffle_partitions=256)
    cpus = spark.sparkContext.defaultParallelism
    out = fixture_dir(spark, args.mult)

    results: dict[str, dict] = {}
    for name in names:
        fn = registry.QUERIES[name]
        entry: dict = {}
        try:
            entry["base"] = _time_key(fn, spark, BASE_DIR, args.sink)
            entry["scaled"] = _time_key(fn, spark, out, args.sink)
            entry["ratio"] = round(entry["scaled"] / max(entry["base"], 1e-9), 2)
        except Exception as e:  # noqa: BLE001
            entry["err"] = f"{type(e).__name__}: {str(e)[:160]}"
        results[name] = entry
        print(f"{name}: {entry}", file=sys.stderr)

    noop_stamp = None
    if args.noop_exonerate and args.sink == "collect":
        noop_stamp = _noop_exonerate(results, spark, out)

    ok = {k: v for k, v in results.items() if "ratio" in v}
    worst = sorted(ok.items(), key=lambda kv: -kv[1]["ratio"])[:20]
    report = {
        "mult": args.mult,
        # measurement protocol stamp (ADVICE r5): lets readers tell
        # collect-protocol records from noop ones
        "sink": args.sink,
        "cpus": cpus,
        "keys_timed": len(ok),
        "keys_errored": len(results) - len(ok),
        "errors": {k: v["err"] for k, v in results.items() if "err" in v},
        "worst20": [{"key": k, **v} for k, v in worst],
        "results": results,
    }
    if noop_stamp is not None:
        report["noop_exonerated"] = noop_stamp
    with open(args.report, "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps({"keys_timed": len(ok), "errored": report["keys_errored"],
                      "worst": [(k, v["ratio"]) for k, v in worst[:8]]}))


if __name__ == "__main__":
    main()
