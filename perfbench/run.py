"""Closed-loop benchmark of the OHLCV Spark engine.

    python3 perfbench/run.py --workload reads --seed 1 --seconds 16 --trace 0

One client process issues one operation at a time on
``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process may run on).
An operation is one call into the package's public surface, timed from
outside: a ``queries()[name](spark, sf_dir)`` call plus the DataFrame
action after it, or one ETL day batch (``bronze_to_silver`` then
``write_silver``). Streaming ops start and drain their query inside the
call.

A run has two phases:

* set-up (``setup_s``): start the session, clear the persisted indexes,
  run every op of the workload once at sf0.01 and check its fingerprint
  against ``SWEEP_HASHES.json`` (this also builds the indexes and warms
  code generation and the Python workers), check the ETL output against
  its generated input, and warm the write path with a second batch;
* the timed loop: ``round(--seconds / NOMINAL_PASS_S)`` whole passes over
  the workload's ops, each pass in a seeded order, each query forced with
  a noop sink. On a 4-core box that measures for about ``--seconds``.

``--trace 1`` runs each op twice per pass, once plain and once traced,
alternating which goes first. The plain runs give the job counts the
traced ones must match and the base for the tracing overhead; the traced
runs give the per-layer metrics (see ``tracing.py`` and ``README.md``).

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. Everything the run writes stays
under the repository root: ``.perfbench/`` and ``spark-warehouse/``.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import importlib.util
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF_DIR = os.path.join(HERE, "data", "sf0.01")
PACKAGE = "automated_ohlcv_data_pipeline_for_algorithmic_trading_spark"
WORK = os.path.join(ROOT, ".perfbench")
SCRATCH = os.path.join(WORK, f"run-{os.getpid()}")
INDEX_DIRS = tuple(os.path.join(ROOT, "spark-warehouse", d) for d in ("ann_index", "dup_index"))
ETL_OP = "etl_day_batch"
ETL_SYMBOLS = 200
#: A run outliving this set-up allowance plus WATCHDOG_LOOP_FACTOR times its
#: planned loop is killed (see ``_watchdog_s``).
SETUP_ALLOWANCE_S = 110
WATCHDOG_LOOP_FACTOR = 3

WORKLOADS = {
    "reads": (
        "d_quality_fusion emb_ivf_probe d_dup_components x_kalman"
    ).split(),
    "ingest": [ETL_OP, "s_stream_hourly", "s_stateful_vwap"],
}

#: Seconds one plain pass of either workload takes on a 4-core box; sets
#: the pass count.
NOMINAL_PASS_S = 5.5


def _n_passes(args) -> int:
    return max(1, round(args.seconds / NOMINAL_PASS_S))


def _watchdog_s(args) -> float:
    """Seconds a run may take: set-up plus a multiple of the loop's nominal
    length, which ``--trace 1`` doubles (each op runs twice)."""
    loop = _n_passes(args) * NOMINAL_PASS_S * (2 if args.trace else 1)
    return SETUP_ALLOWANCE_S + WATCHDOG_LOOP_FACTOR * loop


def _required_files_missing() -> list[str]:
    need = ("__spark_entry__.py", PACKAGE, "SWEEP_HASHES.json", "scripts/verify_local.py")
    return [p for p in need if not os.path.exists(os.path.join(ROOT, p))]


def _confine_to_root() -> None:
    """Point every scratch location of Python, the JVM and Spark inside
    this run's ``SCRATCH`` directory and let Python workers import the
    package."""
    tmp = os.path.join(SCRATCH, "tmp")
    local = os.path.join(SCRATCH, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} {java_opts}".strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH"))))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    import tempfile

    tempfile.tempdir = None


def _load_fingerprint():
    spec = importlib.util.spec_from_file_location(
        "verify_local", os.path.join(ROOT, "scripts", "verify_local.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.frame_fingerprint


def _index_markers() -> dict[str, int]:
    out = {}
    for base in INDEX_DIRS:
        for dirpath, _, files in os.walk(base):
            if "_BUILT" in files:
                path = os.path.join(dirpath, "_BUILT")
                out[path] = os.stat(path).st_mtime_ns
    return out


def _dir_files(path: str) -> tuple[int, int]:
    files = nbytes = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith("part-"):
                files += 1
                nbytes += os.path.getsize(os.path.join(dirpath, n))
    return files, nbytes


def _peak_rss_mb(pids) -> float:
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0


def _source_digest() -> str:
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for dirpath, _, names in os.walk(os.path.join(ROOT, PACKAGE)):
        paths += [os.path.join(dirpath, n) for n in names if n.endswith(".py")]
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _git_head() -> str | None:
    try:
        res = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    top, head = res.stdout.split()
    return head if os.path.realpath(top) == os.path.realpath(ROOT) else None


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


class Bench:
    def __init__(self, spark, entry, args, get_spark_s: float) -> None:
        from tracing import StreamProgress, Tracer

        self.spark = spark
        self.args = args
        self.get_spark_s = get_spark_s
        self.ops = WORKLOADS[args.workload]
        self.queries = entry.queries()
        with open(os.path.join(ROOT, "SWEEP_HASHES.json")) as fh:
            self.expected = json.load(fh)["queries"]
        self.fingerprint = _load_fingerprint()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: list[dict] = []
        self.passes: list[dict] = []
        self.seq = 0
        self.raw = None
        self.etl_rows_in = self.etl_rows_out = 0
        self.listener = None
        if any(op.startswith("s_") for op in self.ops):
            self.listener = StreamProgress()
            spark.streams.addListener(self.listener)
        self.tracer = None
        if args.trace:
            self.tracer = Tracer(spark, entry, PACKAGE)
            self.tracer.install()

    # -- ops -------------------------------------------------------------
    def _build(self, op: str):
        if op == ETL_OP:
            from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.plans.etl import (
                bronze_to_silver,
            )

            return bronze_to_silver(self.raw, dedup="last")
        return self.queries[op](self.spark, SF_DIR)

    def _execute(self, op: str, df, path: str) -> None:
        if op == ETL_OP:
            from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.plans.etl import (
                write_silver,
            )

            write_silver(df, path)
        else:
            df.write.format("noop").mode("overwrite").save()

    def _release(self) -> None:
        # ops that cache intermediates would otherwise find them again on
        # their next run
        self.spark.catalog.clearCache()
        gc.collect()

    def _fail(self, op: str, why: str) -> None:
        self.failed += 1
        self.errors.append(f"{op}: {why}"[:400])
        print(f"# FAILED {op}: {why}"[:400], file=sys.stderr, flush=True)

    # -- set-up ----------------------------------------------------------
    def make_etl_input(self) -> None:
        """One synthetic day of ``ETL_SYMBOLS`` symbols with a quarter of the
        candles re-fetched, folded into the raw envelope shape ``bench.py``
        uses. Both frames are local checkpoints, not cache entries, so the
        ``clearCache`` after every op leaves them in place and no timed ETL
        batch regenerates its input."""
        from pyspark.sql import functions as F

        from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark.sources.mock import (
            candles_to_envelopes,
            mock_candles,
        )

        symbols = [f"NSE:SYM{i:03d}-EQ" for i in range(ETL_SYMBOLS)]
        self.flat = mock_candles(
            self.spark, symbols, days=1, duplicate_fraction=0.25, seed=self.args.seed
        ).localCheckpoint()
        self.etl_rows_in = self.flat.count()
        self.etl_keys = self.flat.select("symbol", "timestamp_unix").distinct().count()
        env = candles_to_envelopes(self.flat).withColumn(
            "_file_seq", F.col("fetch_seq").cast("string")
        )
        self.raw = env.groupBy("_file_seq").agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        "symbol",
                        F.struct(
                            F.col("symbol"),
                            F.lit("5").alias("resolution"),
                            F.col("candles"),
                            F.lit("t").alias("timestamp"),
                            F.create_map(F.lit("k"), F.lit("v")).alias("metadata"),
                        ),
                    )
                )
            ).alias("data")
        ).localCheckpoint()

    def _check_query(self, op: str) -> str | None:
        df = self._build(op)
        rows = [tuple(r) for r in df.collect()]
        n, h = self.fingerprint(df.columns, rows)
        exp = self.expected.get(op)
        if exp is None or exp.get("match") is not True:
            return "no oracle-matched hash in SWEEP_HASHES.json"
        if (n, h) != (exp["rows"], exp["spark_hash"]):
            return f"fingerprint {n}/{h} != {exp['rows']}/{exp['spark_hash']}"
        return None

    def _check_etl(self) -> str | None:
        """Silver holds one row per distinct (symbol, ts) of the generated
        input, and each row carries the values of the last fetch."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        path = os.path.join(SCRATCH, "etl", "check")
        shutil.rmtree(path, ignore_errors=True)
        self._execute(ETL_OP, self._build(ETL_OP), path)
        keys = ["symbol", "timestamp_unix"]
        vals = ["open", "high", "low", "close", "volume"]
        last = Window.partitionBy(*keys).orderBy(F.col("fetch_seq").desc())
        want = self.flat.withColumn("_rn", F.row_number().over(last)).filter("_rn = 1")
        got = self.spark.read.parquet(path)
        row = (
            want.select(*keys, *[F.col(v).alias(f"w_{v}") for v in vals], F.lit(1).alias("w"))
            .join(got.select(*keys, *vals, F.lit(1).alias("g")), keys, "full_outer")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.count("g").alias("got"),
                F.count("w").alias("want"),
                F.sum(F.when(F.col("w").isNull() | F.col("g").isNull(), 1)
                      .when(~F.expr(" AND ".join(f"w_{v} <=> {v}" for v in vals)), 1)
                      .otherwise(0)).alias("bad"),
            )
            .first()
        )
        shutil.rmtree(path, ignore_errors=True)
        self.etl_rows_out = row["got"]
        if row["bad"] or not row["rows"] == row["got"] == row["want"] == self.etl_keys:
            return f"silver rows {row['got']} vs {self.etl_keys} expected; {row['bad']} differ"
        return None

    def setup(self) -> None:
        t0 = time.perf_counter()
        if ETL_OP in self.ops:
            self.make_etl_input()
            print(f"# etl input {time.perf_counter() - t0:.2f} s", file=sys.stderr, flush=True)
        for op in self.ops:
            self.attempted += 1
            t = time.perf_counter()
            try:
                why = self._check_etl() if op == ETL_OP else self._check_query(op)
            except Exception as e:  # noqa: BLE001 - a raise is a failed op
                why = f"{type(e).__name__}: {e}"
            if why:
                self._fail(op, why)
            self._release()
            print(f"# check {op} {time.perf_counter() - t:.2f} s", file=sys.stderr, flush=True)
        if ETL_OP in self.ops:
            # the write path needs a second batch before it runs at speed
            t = time.perf_counter()
            path = os.path.join(SCRATCH, "etl", "warm")
            self._execute(ETL_OP, self._build(ETL_OP), path)
            shutil.rmtree(path, ignore_errors=True)
            self._release()
            print(f"# etl warm {time.perf_counter() - t:.2f} s", file=sys.stderr, flush=True)
        self.index_setup_builds = len(_index_markers())
        self.warmup_s = time.perf_counter() - t0

    # -- timed loop ------------------------------------------------------
    def timed_op(self, op: str, traced: bool) -> dict:
        from tracing import drain_listener_bus, next_job_id

        self.seq += 1
        op_id = f"{op}#{self.seq}"
        path = os.path.join(SCRATCH, "etl", f"silver-{self.seq}")
        sample = {"op": op, "traced": traced, "ok": True}
        n_started = len(self.listener.started) if self.listener else 0
        tracer = self.tracer if traced else None
        markers = _index_markers() if traced else None
        j0 = next_job_id(self.spark)
        if tracer:
            tracer.begin(op_id, op)
        t0 = t1 = time.perf_counter()
        try:
            df = self._build(op)
            t1 = time.perf_counter()
            j1 = next_job_id(self.spark) if tracer else 0
            self._execute(op, df, path)
        except Exception as e:  # noqa: BLE001 - counted, never aborts the run
            sample["ok"] = False
            self._fail(op, f"{type(e).__name__}: {e}")
        finally:
            t2 = time.perf_counter()
            if tracer:
                tracer.end()
        self.attempted += 1
        sample.update(seconds=t2 - t0, build_s=t1 - t0, exec_s=t2 - t1)
        if self.listener or tracer:
            drain_listener_bus(self.spark)
        sample["jobs"] = next_job_id(self.spark) - j0
        run_ids = self.listener.started[n_started:] if self.listener else []
        sample["run_ids"] = run_ids
        if op == ETL_OP and sample["ok"]:
            sample["files"], sample["bytes"] = _dir_files(path)
        shutil.rmtree(path, ignore_errors=True)
        if tracer and sample["ok"]:
            self._trace_sample(sample, op_id, run_ids, j1, markers, t0, t1, t2)
        self._release()
        return sample

    def _trace_sample(self, sample, op_id, run_ids, j1, markers, t0, t1, t2) -> None:
        tr = self.tracer
        jobs = tr.group_jobs([op_id, *run_ids])
        sample["build"] = tr.stage_metrics([j for j in jobs if j < j1])
        sample["exec"] = tr.stage_metrics([j for j in jobs if j >= j1])
        sample["unattributed_jobs"] = sample["jobs"] - len(jobs)
        sample["operators"] = {
            m: (tr.operator_self[m], tr.operator_calls[m]) for m in tr.operator_calls
        }
        after = _index_markers()
        builds = sum(1 for p, m in after.items() if markers.get(p) != m)
        sample["index_builds"] = builds
        sample["index_hits"] = max(len(tr.index_lookups) - builds, 0)
        tr.span(op_id, "op.build", sample["op"], t0, t1, jobs=sample["build"]["jobs"])
        tr.span(op_id, "op.exec", sample["op"], t1, t2, jobs=sample["exec"]["jobs"])

    def loop(self) -> None:
        """Whole passes over the ops, each in a seeded order. The pass count
        is ``--seconds`` over the workload's nominal pass time, so every run
        has the same mix of samples whatever the machine's speed."""
        rng = random.Random(self.args.seed)
        self.t_first_op = time.perf_counter()
        for _ in range(_n_passes(self.args)):
            order = list(self.ops)
            rng.shuffle(order)
            variants = [False]
            if self.args.trace:
                variants = [False, True] if len(self.passes) % 2 == 0 else [True, False]
            walls = dict.fromkeys(variants, 0.0)
            for op in order:
                pair = {traced: self.timed_op(op, traced) for traced in variants}
                for traced, s in pair.items():
                    self.samples.append(s)
                    walls[traced] += s["seconds"]
                if len(pair) == 2 and pair[False]["ok"] and pair[True]["ok"]:
                    pair[True]["jobs_plain"] = pair[False]["jobs"]
            self.passes.append(walls)

    # -- metrics ---------------------------------------------------------
    def end_to_end(self) -> dict:
        by_op: dict[str, list[float]] = {}
        for s in self.samples:
            if not s["traced"] and s["ok"]:
                by_op.setdefault(s["op"], []).append(s["seconds"])
        # each op's fastest latency over the passes, for the reason wall_s
        # keeps the fastest pass; the tail is the slowest op at its fastest
        best = {op: min(v) for op, v in by_op.items()}
        self.op_samples = {op: len(v) for op, v in by_op.items()}
        self.tail_op = max(best, key=best.get, default=None)
        return {
            "setup_s": (self.t_first_op - T_PROCESS, "s"),
            # fastest pass, as bench.py keeps the fastest of its passes: a
            # pass slowed by other load on the machine must not set it
            "wall_s": (min((p[False] for p in self.passes), default=0.0), "s"),
            "op_p50_s": (_median(best.values()), "s"),
            "op_tail_s": (best.get(self.tail_op, 0.0), "s"),
        }

    def _etl_and_stream(self, samples) -> dict:
        etl = [s for s in samples if s["op"] == ETL_OP and s["ok"]]
        etl_s = _median([s["seconds"] for s in etl])
        files = _median([s["files"] for s in etl])
        nbytes = _median([s["bytes"] for s in etl])
        run_ids = {r for s in samples for r in s["run_ids"]}
        stream_ops = [s for s in samples if s["run_ids"]]
        batches = [b for b in (self.listener.batches if self.listener else []) if b["run_id"] in run_ids]

        def phase(key):
            return _median([b["duration_ms"].get(key, 0) for b in batches])

        return {
            "etl_rows_per_s": (self.etl_rows_out / etl_s if etl_s else 0.0, "rows/s"),
            "etl.bronze_to_silver_s": (_median([s["build_s"] for s in etl]), "s"),
            "etl.write_silver_s": (_median([s["exec_s"] for s in etl]), "s"),
            "etl.rows_in": (self.etl_rows_in, "count"),
            "etl.rows_out": (self.etl_rows_out, "count"),
            "etl.keep_ratio": (self.etl_rows_out / self.etl_rows_in if self.etl_rows_in else 0.0, "ratio"),
            "etl.files_written": (files, "count"),
            "etl.bytes_written": (nbytes, "bytes"),
            "etl.bytes_per_file": (nbytes / files if files else 0.0, "bytes"),
            "stream_batch_p50_s": (phase("triggerExecution") / 1e3, "s"),
            "streaming.batches": (len(batches) / len(stream_ops) if stream_ops else 0.0, "count"),
            "streaming.input_rows": (_mean([b["input_rows"] for b in batches]), "count"),
            "streaming.queryPlanning_ms": (phase("queryPlanning"), "ms"),
            "streaming.addBatch_ms": (phase("addBatch"), "ms"),
            "streaming.walCommit_ms": (phase("walCommit"), "ms"),
            "streaming.commitOffsets_ms": (phase("commitOffsets"), "ms"),
            "streaming.triggerExecution_ms": (phase("triggerExecution"), "ms"),
            "streaming.state_commit_ms": (_median([b["state_commit_ms"] for b in batches]), "ms"),
            "streaming.state_rows": (_median([b["state_rows"] for b in batches]), "count"),
            "streaming.state_memory_bytes": (_median([b["state_memory_bytes"] for b in batches]), "bytes"),
        }

    def per_layer(self) -> dict:
        from tracing import OPERATOR_MODULES, STAGE_FIELDS

        traced = [s for s in self.samples if s["traced"] and s["ok"]]
        m = {
            "session.get_spark_s": (self.get_spark_s, "s"),
            "session.warmup_s": (self.warmup_s, "s"),
            "build.s": (_mean([s["build_s"] for s in traced]), "s"),
            "build.jobs": (_mean([s["build"]["jobs"] for s in traced]), "count"),
            "build.stages": (_mean([s["build"]["stages"] for s in traced]), "count"),
        }
        for mod in OPERATOR_MODULES:
            m[f"operators.{mod}.build_s"] = (
                _mean([s["operators"].get(mod, (0.0, 0))[0] for s in traced]), "s")
            m[f"operators.{mod}.calls"] = (
                _mean([s["operators"].get(mod, (0.0, 0))[1] for s in traced]), "count")
        m["exec.s"] = (_mean([s["exec_s"] for s in traced]), "s")
        units = {"run_s": "s", "cpu_s": "s", "offcpu_s": "s", "gc_s": "s"}
        for f in ("jobs", "stages", "skipped_stages", *STAGE_FIELDS, "offcpu_s"):
            m[f"exec.{f}"] = (_mean([s["exec"][f] for s in traced]),
                              units.get(f, "bytes" if f.endswith("bytes") else "count"))
        builds = sum(s["index_builds"] for s in traced)
        hits = sum(s["index_hits"] for s in traced)
        m["index.setup_builds"] = (self.index_setup_builds, "count")
        m["index.builds"] = (builds, "count")
        m["index.hits"] = (hits, "count")
        m["index.hit_ratio"] = (hits / (hits + builds) if hits + builds else 0.0, "ratio")
        m.update(self._etl_and_stream(traced))
        m["trace.overhead_s"] = (
            min(p[True] for p in self.passes) - min(p[False] for p in self.passes)
            if self.passes else 0.0, "s")
        m["trace.job_mismatches"] = (self.job_mismatches(), "count")
        m["trace.unattributed_jobs"] = (sum(s["unattributed_jobs"] for s in traced), "count")
        return m

    def job_mismatches(self) -> int:
        return sum(
            1 for s in self.samples
            if s["traced"] and "jobs_plain" in s and s["jobs_plain"] != s["jobs"]
        )

    def context(self) -> dict:
        import pyspark

        plain = [s for s in self.samples if not s["traced"]]
        conf = self.spark.sparkContext.getConf()
        return {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "ops": self.ops,
            "sf_dir": os.path.relpath(SF_DIR, ROOT),
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "master": self.spark.sparkContext.master,
            "spark.driver.memory": conf.get("spark.driver.memory", None),
            "pyspark": pyspark.__version__,
            "git_head": _git_head(),
            "source_sha256": _source_digest(),
            "passes": len(self.passes),
            "op_samples": len([s for s in plain if s["ok"]]),
            "op_latency_samples": self.op_samples,
            "op_tail_op": self.tail_op,
            "failed_frac": self.failed / self.attempted if self.attempted else 0.0,
            "errors": self.errors,
        }


def _abort(limit_s: float) -> None:
    """Watchdog: a run that outlives ``limit_s`` kills its JVM (the Python
    workers exit with it) and exits without a result."""
    print(f"perfbench: no result after {limit_s:.0f} s, aborting", file=sys.stderr, flush=True)
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.kill()
        proc.wait()
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os._exit(3)


def _stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = _required_files_missing()
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2
    _confine_to_root()
    limit_s = _watchdog_s(args)
    watchdog = threading.Timer(limit_s - (time.perf_counter() - T_PROCESS), _abort, (limit_s,))
    watchdog.daemon = True
    watchdog.start()
    for d in INDEX_DIRS:
        shutil.rmtree(d, ignore_errors=True)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    import __spark_entry__ as entry
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench")
    get_spark_s = time.perf_counter() - t
    try:
        bench = Bench(spark, entry, args, get_spark_s)
        bench.setup()
        bench.loop()
        jvm = spark.sparkContext._gateway.proc.pid
        e2e = bench.end_to_end()
        context = bench.context()
        # printed with the end-to-end metrics; kept in the per-layer set so
        # that every workload reports the same bounded keys
        shown_too = {"peak_rss_mb": (_peak_rss_mb([os.getpid(), jvm]), "MB")}
        if args.workload == "ingest":
            extra = bench._etl_and_stream([s for s in bench.samples if not s["traced"]])
            shown_too.update({k: extra[k] for k in ("etl_rows_per_s", "stream_batch_p50_s")})
        layer = {**bench.per_layer(), "peak_rss_mb": shown_too["peak_rss_mb"]} if args.trace else {}
        correct = bench.failed == 0 and (not args.trace or bench.job_mismatches() == 0)
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        with open(os.path.join(WORK, "results", name), "w") as fh:
            json.dump({"context": context, "samples": bench.samples}, fh, indent=1)
        if args.trace:
            bench.tracer.write(
                os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.jsonl"), context
            )
    finally:
        _stop(spark)
        shutil.rmtree(SCRATCH, ignore_errors=True)

    print("# context " + json.dumps(context))
    for name, (value, unit) in {**e2e, **shown_too, **layer}.items():
        print(f"# {args.workload} {name} = {value:.6g} {unit}")
    shown = layer if args.trace else e2e
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
