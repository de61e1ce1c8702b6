"""Closed-loop benchmark of the engine through its public entry points.

    python3 perfbench/run.py --workload sql_interactive --seed 1 --seconds 16 --trace 0

One client runs one op at a time; each op builds a DataFrame with
``registry.QUERIES[key](spark, data_dir)`` and executes it through the
workload's Spark sink (``collect`` or a parquet write). A run is:

1. set-up: ``get_spark``, seeded input generation, and one warm pass that
   executes every op key once (fixed order). Each warm result is compared
   with the key's DuckDB oracle through ``backup_repo_spark.testing``
   (a value that the two engines round to either side of an exact rounding
   midpoint is accepted, see ``FP_SUM_RTOL``); that check is timed apart
   from ``setup_s``.
2. the timed loop: whole rounds, every key once per round in an order
   shuffled by the seed. ``--seconds`` sets the number of rounds,
   ``max(1, round(seconds / round_s))``, where ``round_s`` is the
   workload's nominal round length on a 4-vCPU box; the count does not
   depend on the clock, so every run of a workload does the same work.
3. verification, outside the timed loop: every timed result must hash
   (order-insensitively) to its warm-pass result.

``--trace 1`` runs one round in which every op runs twice, untraced and
with per-layer probes, and prints per-layer metrics instead of end-to-end
ones. The last stdout line is one JSON object; the line before it holds
diagnostics (box stamps, the tail percentile and its sample count,
per-key figures and, traced, per-key job, stage and task counts).

``--size`` picks the inputs: ``full`` (the default, sf0.01 and a 1000-doc
corpus), ``large`` (sf0.1 and 3000 docs) or ``tiny`` (the smoke test's).

The run keeps its files under ``perfbench/.work``. Once Spark has stopped
it measures what the engine left in its temp dirs and in new
``spark-warehouse`` entries (``sources.leftover_bytes``), then removes all
of it. Run one benchmark at a time per checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

import datagen  # noqa: E402
import layers  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WAREHOUSE = os.path.join(ROOT, "spark-warehouse")
STAR_DIR = os.path.join(WORK, "pb_star")
# the run's TMPDIR, java.io.tmpdir and Spark local dirs, under WORK
ENGINE_TMP = ("tmp", "jvm-tmp", "spark-local")
CORPUS_DIR = os.path.join(WORK, "pb_corpus")
# A double sum whose exact value is a rounding midpoint (x.xx5 under
# round(_, 2)) rounds to either neighbour, depending on the order in which
# each engine adds; on money columns with cents and discounts that happens
# to a few seeds (join_star_5way's revenue on seed 1942761202 is exactly
# 1944110.285: Spark rounds its sum to .28, DuckDB to .29). The oracle check
# accepts such a value only when the unrounded oracle value lies on the
# midpoint of the two results to within this relative error, the worst case
# of a double sum of 1e5 terms.
FP_SUM_RTOL = 1e-11


@dataclass(frozen=True)
class Workload:
    keys: tuple[str, ...]
    sink: str  # "collect" or "parquet"
    inputs: str  # "star" or "corpus"
    round_s: float  # nominal seconds per round (every key once) on 4 vCPUs


WORKLOADS = {
    # Interactive SQL: sub-second ops where build, planning and job
    # orchestration are a large share. Read-only apart from the layout
    # writes partition_pruning makes while building.
    "sql_interactive": Workload(
        keys=(
            "agg_tpch_q1", "topk_revenue", "join_star_5way", "win_topn_per_group",
            "stream_tumbling", "agg_distinct", "tpch_q6_style", "tpch_q10_style",
            "tpch_q12_style", "tpch_q14_style", "tpch_q19_style",
            "dsv2_scan_pushdown", "filter_pushdown", "partition_pruning",
        ),
        sink="collect",
        inputs="star",
        round_s=7.5,
    ),
    # LLM-curation batch: execution, shuffles, windows and eager build work,
    # each result written as parquet.
    "curation_write": Workload(
        keys=(
            "llm_e2e_curation", "llm_dedup_minhash_banded", "llm_dedup_simhash",
            "llm_tfidf", "llm_pii_redact", "llm_doc_chunk", "llm_contamination",
            "llm_seq_pack",
        ),
        sink="parquet",
        inputs="corpus",
        round_s=8.5,
    ),
}

# "tiny" is the smoke-test size (perfbench/smoke.py); "large" is the
# analyst-SQL scale factor 0.1, for checking a result at ten times the data.
SIZES = {
    "full": {"sf": 0.01, "docs": 1000},
    "large": {"sf": 0.1, "docs": 3000},
    "tiny": {"sf": 0.001, "docs": 300},
}

END_TO_END_UNITS = {
    "setup_s": "s",
    "ops_per_s": "op/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "spark.warmup_s": "s",
    "operators.build_s": "s",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.fetch_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.failed_tasks": "count",
    "llm.build_s": "s",
    "llm.build_jobs": "count",
    "sources.build_s": "s",
    "sources.build_jobs": "count",
    "sources.bytes_written": "B",
    "sources.files_written": "count",
    "sources.leftover_bytes": "B",
    "session.peak_rss_mb": "MB",
    "bench.tracing_overhead_pct": "%",
}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full")
    return p.parse_args()


def configure_env(cpus: int) -> None:
    """Pin everything the engine reads from the environment, and keep every
    file the run writes inside the checkout."""
    for var in (
        "SPARK_GRAFT_IO_CODEC", "SPARK_GRAFT_PARQUET_CODEC", "SPARK_GRAFT_SF_DIR",
        "SPARK_DRIVER_MEM", "PYSPARK_SUBMIT_ARGS", "_JAVA_OPTIONS",
    ):
        os.environ.pop(var, None)
    os.environ.update(
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(cpus),
        TZ="UTC",
        TMPDIR=os.path.join(WORK, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(WORK, 'jvm-tmp')} -XX:-UsePerfData",
    )
    time.tzset()
    tempfile.tempdir = None


def under_root(path: str) -> bool:
    return os.path.realpath(path).startswith(os.path.realpath(ROOT) + os.sep)


def layer_of(fn) -> str:
    """The engine package a registry key lives in: operators, llm, sources..."""
    return fn.__module__.split(".")[1]


# ---------------------------------------------------------------- results


def _canon(v) -> str:
    if isinstance(v, float):
        return "nan" if v != v else format(v + 0.0, ".9g")
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "(" + ",".join(_canon(x) for x in v) + ")"
    return repr(v)


def fingerprint(rows) -> str:
    """Order-insensitive hash of a result; floats compared to 9 digits, so
    a last-bit difference in a float sum does not count as a mismatch."""
    h = hashlib.sha256()
    for line in sorted(_canon(r) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def parquet_rows(path: str) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond): the highest percentile with at
    least 10 samples above it (the maximum when there are 10 or fewer)."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, 0
    return xs[n - 11], 100.0 * (n - 10) / n, 10


# ---------------------------------------------------------------- the run


class Run:
    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.size = SIZES[args.size]
        self.cpus = len(os.sched_getaffinity(0))
        self.excluded_s = 0.0  # checks timed apart from setup_s
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.diag: dict = {}

    # -- helpers

    def _excluded(self, fn, *a):
        t0 = time.perf_counter()
        try:
            return fn(*a)
        finally:
            dt = time.perf_counter() - t0
            self.excluded_s += dt
            per_check = self.diag.setdefault("checks_excluded_s", {})
            per_check[fn.__name__] = per_check.get(fn.__name__, 0.0) + dt

    def _op_failed(self, key: str, what: str) -> None:
        self.failed += 1
        print(f"perfbench: op {key} failed: {what}", file=sys.stderr)

    @property
    def data_dir(self) -> str:
        return STAR_DIR if self.workload.inputs == "star" else CORPUS_DIR

    def out_path(self, key: str, tag: str) -> str:
        return os.path.join(WORK, "out", f"{key}-{tag}")

    def execute(self, key: str, out: str):
        """One op: build plus sink. Returns the DataFrame and the collected
        rows (None for the parquet sink, whose result is at ``out``)."""
        df = self.registry.QUERIES[key](self.spark, self.data_dir)
        if self.workload.sink == "collect":
            return df, df.collect()
        df.write.mode("overwrite").parquet(out)
        return df, None

    def result_rows(self, rows, out: str):
        return rows if self.workload.sink == "collect" else parquet_rows(out)

    def result_fingerprint(self, rows, out: str) -> str:
        return fingerprint(self.result_rows(rows, out))

    # -- phases

    def import_engine(self) -> None:
        sys.path.insert(0, ROOT)
        try:
            import backup_repo_spark
            from backup_repo_spark import registry, testing
            from backup_repo_spark.session import get_spark
            from backup_repo_spark.sources.astro_datasource import ensure_range_layout
        except ImportError as e:
            fail(f"cannot import the engine (backup_repo_spark) from {ROOT}: {e}")
        if not under_root(backup_repo_spark.__file__):
            fail(f"this process imported backup_repo_spark from {backup_repo_spark.__file__}, not {ROOT}")
        missing = [k for k in self.workload.keys if k not in registry.QUERIES]
        if missing:
            fail(f"registry lacks keys {missing}")
        self.registry, self.testing = registry, testing
        self.get_spark, self.ensure_range_layout = get_spark, ensure_range_layout

    def check_worker_engine(self) -> None:
        def probe(_):
            import backup_repo_spark

            return backup_repo_spark.__file__

        path = self.spark.sparkContext.parallelize([0], 1).map(probe).collect()[0]
        if not under_root(path):
            fail(f"a Python worker imported backup_repo_spark from {path}, not {ROOT}")

    def make_inputs(self) -> dict:
        if self.workload.inputs == "star":
            rows = datagen.write_star_schema(STAR_DIR, self.args.seed, self.size["sf"])
            # Astro-style bulk load of the range layout dsv2_scan_pushdown
            # reads; built here so every run pays it in set-up.
            self.ensure_range_layout(self.spark, STAR_DIR, "lineitem", "l_orderkey")
        else:
            rows = datagen.write_corpus(CORPUS_DIR, self.args.seed, self.size["docs"])
        return rows

    def open_oracle(self):
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET threads = {self.cpus}")
        con.execute("CREATE MACRO pb_unrounded(x, d) AS x")  # see rounding_ties
        for name in sorted(os.listdir(self.data_dir)):
            if name.endswith(".parquet"):
                path = os.path.join(self.data_dir, name)
                con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')")
        return con

    def oracle_check(self, con, key: str, columns: list[str], rows, out: str) -> bool:
        import pandas as pd

        sql = self.registry.ORACLES.get(key)
        if sql is None:
            return True
        if self.workload.sink == "collect":
            got = pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)
        else:
            import pyarrow.parquet as pq

            got = pq.read_table(out).to_pandas()
        want = con.execute(sql).fetchdf()
        problems = self.testing.hard_problems(self.testing.compare(got, want))
        if not problems:
            return True
        try:
            ties = self.rounding_ties(con, sql, got, want)
        except Exception as e:
            ties, problems = None, problems + [f"rounding-tie check raised {e!r}"]
        if ties:
            self.diag.setdefault("oracle_rounding_ties", {})[key] = ties
            return True
        self._op_failed(key, f"differs from its DuckDB oracle: {problems[:2]}")
        return False

    def rounding_ties(self, con, sql: str, got, want) -> list | None:
        """The float values in which the engine's result ``got`` and the
        oracle's ``want`` differ only by rounding a midpoint to different
        neighbours (see FP_SUM_RTOL), as (column, got, want, unrounded);
        None if any difference is something else. Rows are matched on the
        result's non-float columns, which must identify them."""
        import numpy as np

        unrounded = con.execute(re.sub(r"\bround\s*\(", "pb_unrounded(", sql, flags=re.I)).fetchdf()
        floats = [c for c in want.columns if want[c].dtype.kind == "f"]
        keys = [c for c in want.columns if c not in floats]
        frames = [self.testing.norm(f) for f in (got, want, unrounded)]
        if not floats or not keys or any(f[keys].duplicated().any() for f in frames):
            return None
        m = frames[0].merge(frames[1], on=keys, suffixes=("_got", "_want")).merge(frames[2], on=keys)
        if not len(m) == len(frames[0]) == len(frames[1]) == len(frames[2]):
            return None
        ties = []
        for c in floats:
            for a, b, u in zip(m[f"{c}_got"], m[f"{c}_want"], m[c]):
                if np.isclose(a, b, rtol=1e-9, atol=1e-9):
                    continue
                step = abs(a - b)
                one_step = step <= 1 and np.isclose(10 ** round(math.log10(step)), step, rtol=1e-6)
                if not one_step or abs(u - (a + b) / 2) > FP_SUM_RTOL * abs(u):
                    return None
                ties.append((c, a, b, u))
        return ties

    def warm_pass(self) -> tuple[dict, dict]:
        """Execute every key once; returns (first-execution seconds, reference
        fingerprint) per key. A key whose warm op fails gets no reference."""
        con = self._excluded(self.open_oracle)
        warm_s, ref = {}, {}
        try:
            for key in self.workload.keys:
                out = self.out_path(key, "warm")
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    df, rows = self.execute(key, out)
                except Exception:
                    warm_s[key] = time.perf_counter() - t0
                    self._op_failed(key, traceback.format_exc(limit=3))
                    continue
                warm_s[key] = time.perf_counter() - t0
                if self._excluded(self.oracle_check, con, key, df.columns, rows, out):
                    ref[key] = self._excluded(self.result_fingerprint, rows, out)
                shutil.rmtree(out, ignore_errors=True)
        finally:
            con.close()
        return warm_s, ref

    def rounds(self) -> list[list[str]]:
        """The key order of every round. The round count is fixed by
        --seconds and the workload's nominal round length, not by the clock,
        so every run of a workload does the same work. A traced run, whose
        per-layer figures are per-op means and per-key counts, runs one."""
        n = 1 if self.args.trace else max(1, round(self.args.seconds / self.workload.round_s))
        rng = random.Random(self.args.seed)
        out = []
        for _ in range(n):
            order = list(self.workload.keys)
            rng.shuffle(order)
            out.append(order)
        return out

    def timed_op(self, key: str, out: str) -> tuple[float, object]:
        """(latency, rows) of one untraced op; (inf, traceback) if it raised."""
        t0 = time.perf_counter()
        try:
            rows = self.execute(key, out)[1]
        except Exception:
            return math.inf, traceback.format_exc(limit=3)
        return time.perf_counter() - t0, rows

    def check(self, key: str, latency: float, res, out: str, ref: dict) -> None:
        """Count the op and compare its result with the warm-pass result."""
        self.attempted += 1
        if math.isinf(latency):
            self._op_failed(key, res)
        elif key not in ref:
            self._op_failed(key, "no verified warm-pass result to compare with")
        elif self.result_fingerprint(res, out) != ref[key]:
            self._op_failed(key, "result differs from the warm-pass result")
        shutil.rmtree(out, ignore_errors=True)

    def timed_loop(self, orders: list[list[str]], ref: dict) -> tuple[list[tuple[str, float]], float]:
        """Untraced closed loop. Returns (key, latency) per op and the
        loop's wall time; results are checked after the loop."""
        ops = []
        t0 = time.perf_counter()
        for order in orders:
            for key in order:
                out = self.out_path(key, str(len(ops)))
                ops.append((key, *self.timed_op(key, out), out))
        wall_s = time.perf_counter() - t0
        for key, latency, res, out in ops:
            self.check(key, latency, res, out, ref)
        return [(key, latency) for key, latency, _, _ in ops], wall_s

    def traced_op(self, counter, key: str, tag: str, out: str) -> dict:
        """One op split into build, planning and sink, with the jobs it ran
        and the files it wrote; a collect op is then repeated with a sink
        that fetches nothing."""
        fn = self.registry.QUERIES[key]
        layer = layer_of(fn)
        scan_roots = [WAREHOUSE, os.environ["TMPDIR"]]
        before = layers.file_state(scan_roots) if layer == "sources" else None
        counter.start(f"{tag}b", key)
        t0 = time.perf_counter()
        df = fn(self.spark, self.data_dir)
        t1 = time.perf_counter()
        counter.start(f"{tag}r", key)
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        if self.workload.sink == "collect":
            rows = df.collect()
        else:
            df.write.mode("overwrite").parquet(out)
            rows = None
        t3 = time.perf_counter()
        written = (0, 0)
        if before is not None:
            written = layers.written_since(before, layers.file_state(scan_roots))
        noop_s = None
        if self.workload.sink == "collect":
            counter.start(f"{tag}n", key)
            qe = fn(self.spark, self.data_dir)._jdf.queryExecution()
            qe.executedPlan()
            t4 = time.perf_counter()
            qe.toRdd().count()
            noop_s = time.perf_counter() - t4
        build = counter.count(f"{tag}b")
        return {
            "key": key, "layer": layer, "rows": rows, "build_s": t1 - t0,
            "plan_s": t2 - t1, "sink_s": t3 - t2, "noop_s": noop_s, "latency_s": t3 - t0,
            "build_jobs": build["jobs"], **counter.count(f"{tag}b", f"{tag}r"),
            "bytes_written": written[0], "files_written": written[1],
        }

    def traced_loop(self, orders: list[list[str]], ref: dict) -> list[dict]:
        """Each op runs untraced and traced back to back, in alternating
        order, so the tracing overhead compares ops of the same warmth."""
        counter = layers.JobCounter(self.spark.sparkContext)
        records = []
        keys = [key for order in orders for key in order]
        for i, key in enumerate(keys):
            out_u, out_t = self.out_path(key, f"u{i}"), self.out_path(key, f"t{i}")
            rec, err = None, None
            for traced in (False, True) if i % 2 == 0 else (True, False):
                if not traced:
                    untraced = self.timed_op(key, out_u)
                    continue
                try:
                    rec = self.traced_op(counter, key, f"pb{i}", out_t)
                except Exception:
                    err = traceback.format_exc(limit=3)
            self.check(key, *untraced, out_u, ref)
            if rec is None:
                self.check(key, math.inf, err, out_t, ref)
                continue
            self.check(key, rec["latency_s"], rec.pop("rows"), out_t, ref)
            rec["untraced_s"] = untraced[0]
            records.append(rec)
        return records

    # -- metrics

    @staticmethod
    def end_to_end(setup_s: float, ops: list[tuple[str, float]], wall_s: float) -> tuple[dict, dict]:
        lat = [latency for _, latency in ops]
        done = sum(1 for x in lat if not math.isinf(x))
        value, pct, beyond = tail(lat)
        metrics = {
            "setup_s": setup_s,
            "ops_per_s": done / wall_s,
            "latency_p50_s": statistics.median(lat),
            "latency_tail_s": value,
        }
        return metrics, {"latency_tail_percentile": pct, "latency_tail_beyond": beyond,
                         "latency_samples": len(lat)}

    @staticmethod
    def per_layer(records: list[dict]) -> tuple[dict, dict]:
        def mean(xs):
            xs = list(xs)
            return statistics.fmean(xs) if xs else 0.0

        collect = [r for r in records if r["noop_s"] is not None]
        llm = [r for r in records if r["layer"] == "llm"]
        src = [r for r in records if r["layer"] == "sources"]
        paired = [r for r in records if not math.isinf(r["untraced_s"])]
        metrics = {
            "operators.build_s": mean(r["build_s"] for r in records),
            "spark.plan_s": mean(r["plan_s"] for r in records),
            "spark.exec_s": mean(r["sink_s"] if r["noop_s"] is None else r["noop_s"]
                                 for r in records),
            "spark.fetch_s": mean(r["sink_s"] - r["noop_s"] for r in collect),
            "spark.jobs_per_op": mean(r["jobs"] for r in records),
            "spark.stages_per_op": mean(r["stages"] for r in records),
            "spark.tasks_per_op": mean(r["tasks"] for r in records),
            "spark.failed_tasks": sum(r["failed_tasks"] for r in records),
            "llm.build_s": mean(r["build_s"] for r in llm),
            "llm.build_jobs": mean(r["build_jobs"] for r in llm),
            "sources.build_s": mean(r["build_s"] for r in src),
            "sources.build_jobs": mean(r["build_jobs"] for r in src),
            "sources.bytes_written": mean(r["bytes_written"] for r in src),
            "sources.files_written": mean(r["files_written"] for r in src),
            "bench.tracing_overhead_pct": 100.0 * (
                sum(r["latency_s"] for r in paired) / sum(r["untraced_s"] for r in paired) - 1.0
            ) if paired else 0.0,
        }
        per_key: dict[str, dict] = {}
        for r in records:
            counts = {k: r[k] for k in ("jobs", "stages", "tasks", "build_jobs")}
            entry = per_key.setdefault(r["key"], {**counts, "varies": []})
            if counts != {k: entry[k] for k in counts}:
                entry["varies"].append(counts)
        return metrics, per_key

    # -- main

    def main(self) -> dict:
        args = self.args
        stamps = self.diag
        stamps.update(
            workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
            size=args.size, nproc=self.cpus, spark_graft_cpus=os.environ["SPARK_GRAFT_CPUS"],
            load_avg_start=os.getloadavg(),
        )
        steal0 = layers.cpu_steal_ticks()
        stamps["control_query_s"] = self._excluded(layers.control_query_s, self.cpus)
        rss = layers.PeakRss() if args.trace else contextlib.nullcontext()
        try:
            with rss:
                t = time.perf_counter()
                self.spark = self.get_spark("perfbench", cpus=self.cpus)
                session_start_s = time.perf_counter() - t
                self._excluded(self.check_worker_engine)
                t = time.perf_counter()
                stamps["input_rows"] = self.make_inputs()
                input_s = time.perf_counter() - t
                t, excluded0 = time.perf_counter(), self.excluded_s
                warm_s, ref = self.warm_pass()
                warmup_s = time.perf_counter() - t - (self.excluded_s - excluded0)
                setup_s = time.perf_counter() - T_START - self.excluded_s

                orders = self.rounds()
                stamps.update(
                    rounds=len(orders), session_start_s=session_start_s, input_s=input_s,
                    warmup_s=warmup_s, warm_s_per_key=warm_s,
                )
                if args.trace:
                    records = self.traced_loop(orders, ref)
                    metrics, stamps["trace_counts_per_key"] = self.per_layer(records)
                    metrics["session.start_s"] = session_start_s
                    metrics["spark.warmup_s"] = warmup_s
                    ops = [(r["key"], r["untraced_s"]) for r in records]
                else:
                    ops, wall_s = self.timed_loop(orders, ref)
                    metrics, tail_stamps = self.end_to_end(setup_s, ops, wall_s)
                    n = len(self.workload.keys)
                    stamps.update(
                        tail_stamps, loop_wall_s=wall_s,
                        round_s=[sum(x for _, x in ops[i:i + n]) for i in range(0, len(ops), n)],
                    )
                stamps["latency_median_per_key"] = {
                    k: statistics.median([x for kk, x in ops if kk == k] or [math.inf])
                    for k in self.workload.keys
                }
            if args.trace:
                metrics["session.peak_rss_mb"] = rss.peak_bytes / 2**20
        finally:
            self.shutdown()
        stamps["steal_ticks_delta"] = layers.cpu_steal_ticks() - steal0
        return metrics

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and wait for every process it started,
        also when a signal cut a call into the JVM short and stopping fails."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        children = layers.descendants(os.getpid())
        spark, self.spark = self.spark, None
        for stop in (spark.stop, gateway.shutdown):
            try:
                stop()
            except Exception as e:
                print(f"perfbench: {stop.__qualname__}: {e!r}"[:500], file=sys.stderr)
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        for pid in children:
            while layers.is_running(pid):
                if time.monotonic() > deadline:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                time.sleep(0.05)


def bytes_under(roots: list[str]) -> int:
    return sum(size for size, _ in layers.file_state(roots).values())


def clean_stale() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    if os.path.isdir(WAREHOUSE):
        for name in os.listdir(WAREHOUSE):
            if name.startswith("astro_layout_pb_"):  # layout of our generated tables
                shutil.rmtree(os.path.join(WAREHOUSE, name), ignore_errors=True)


def on_sigterm(*_) -> None:
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(143)


def main() -> None:
    args = parse_args()
    # a terminated run still stops Spark and removes its files (finally
    # blocks); a second SIGTERM must not cut that clean-up short
    signal.signal(signal.SIGTERM, on_sigterm)
    configure_env(len(os.sched_getaffinity(0)))
    run = Run(args)
    run.import_engine()
    clean_stale()
    warehouse_existed = os.path.isdir(WAREHOUSE)
    warehouse_before = set(os.listdir(WAREHOUSE)) if warehouse_existed else set()
    for sub in ENGINE_TMP + ("out",):
        os.makedirs(os.path.join(WORK, sub))
    try:
        metrics = run.main()
        # Spark has stopped: whatever is still in the temp dirs, or in a
        # warehouse entry this run created, the engine left behind.
        new_entries = sorted(set(os.listdir(WAREHOUSE)) - warehouse_before) if os.path.isdir(WAREHOUSE) else []
        left = {
            "tmp": bytes_under([os.path.join(WORK, sub) for sub in ENGINE_TMP]),
            "warehouse": bytes_under([os.path.join(WAREHOUSE, n) for n in new_entries]),
        }
        run.diag.update(leftover_bytes=left, leftover_warehouse_entries=new_entries)
        if args.trace:
            metrics["sources.leftover_bytes"] = sum(left.values())
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
        if not warehouse_existed:  # the engine created it during this run
            shutil.rmtree(WAREHOUSE, ignore_errors=True)
        elif os.path.isdir(WAREHOUSE):
            for name in set(os.listdir(WAREHOUSE)) - warehouse_before:
                shutil.rmtree(os.path.join(WAREHOUSE, name), ignore_errors=True)
    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    print(json.dumps({"diagnostics": run.diag}, default=str))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )


if __name__ == "__main__":
    main()
