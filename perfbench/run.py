#!/usr/bin/env python3
"""Layered lakehouse benchmark: one workload, one process, one client.

    python3 perfbench/run.py --workload olap_read --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. One client runs the workload's ops in a
closed loop against one ``local[<cores>]`` session, in seeded passes,
until ``--seconds`` of timed work is done (whole passes, at least one).
Each op is timed from outside the program: ``QueryDef.fn`` (build) and
the sink on the returned frame (exec: the collect the output check
needs), or the ``sources.delta_log`` call it makes. Outputs are checked
outside the timed region.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
ops with per-layer tracing and prints the per-layer metrics. The last
line of stdout is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. Lines before it list every figure with its unit, the
host canary and the data sizes; the full result and the trace spans are
written under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import fixtures  # noqa: E402
import workloads  # noqa: E402
from checks import Oracle  # noqa: E402
from layers import Tracer, jvm_gc_seconds, session_leaks, vm_hwm_mb  # noqa: E402

SETUP_ROUNDS = 3
MIN_BEYOND_TAIL = 10
_HD_GRID = 20_000

# per-layer query modules, in the order they are reported
QUERY_MODULES = (
    "operators.relational",
    "operators.tpch_more",
    "operators.windows",
    "operators.sessions",
    "operators.timeseries",
    "operators.hypertable",
    "operators.dedup",
    "operators.text",
    "operators.similarity",
    "pipelines",
)
DELTA_CALLS = (
    "delta_write",
    "delta_merge",
    "delta_delete_dv",
    "delta_optimize",
    "delta_vacuum",
    "delta_snapshot_adds_df",
    "delta_read",
)


def quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: the order statistics
    averaged with Beta((n+1)p, (n+1)(1-p)) weights. Ops of several kinds
    interleave in a pass, so a single order statistic jumps from one kind
    to another between runs; the weighted average moves smoothly."""
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    grid = (np.arange(_HD_GRID) + 0.5) / _HD_GRID
    pdf = np.exp((a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid))
    cdf = np.concatenate([[0.0], np.cumsum(pdf / pdf.sum())])
    return float(np.diff(cdf[np.round(np.arange(n + 1) / n * _HD_GRID).astype(int)]) @ x)


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it. Below twenty samples no percentile above the median
    has ten beyond it, so p90 is reported instead."""
    n = len(values)
    p = (n - MIN_BEYOND_TAIL) / n if n >= 2 * MIN_BEYOND_TAIL else 0.9
    return 100.0 * p, quantile(values, p)


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


class Bench:
    """One run of one workload."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.tmp_root = os.path.join(work, "tmp")
        self.records: list[dict] = []
        self.errors: list[str] = []
        self.spark = None
        self.tracer = None
        self._rec: dict | None = None
        self.stages: dict[str, float] = {}  # wall time of the run's stages

    # -- timing helpers used by the workloads ---------------------------
    @contextlib.contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            with self.tracer.phase(name):
                yield
        finally:
            self._rec[name] = self._rec.get(name, 0.0) + time.perf_counter() - t0

    @contextlib.contextmanager
    def call(self, fn: str):
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"delta_log.{fn}"):
                yield
        finally:
            self._rec.setdefault("calls", []).append((fn, time.perf_counter() - t0))

    # -- set-up -----------------------------------------------------------
    def _warmup(self) -> None:
        """JIT the basic codegen paths, as the repository's bench.py does,
        then the paths every query op goes through (a fixture parquet scan,
        a broadcast join, a shuffle, the Arrow collect), so that the first
        timed op does not pay for them."""
        from pyspark.sql import functions as F

        spark = self.spark
        spark.range(1_000_000).selectExpr("sum(id) as s").collect()
        if not self.sf_dir:
            return
        orders, customer = (
            spark.read.parquet(os.path.join(self.sf_dir, f"{t}.parquet"))
            for t in ("orders", "customer")
        )
        orders.join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey")).groupBy(
            "c_mktsegment", F.to_date("o_orderdate").alias("day")
        ).agg(F.sum("o_totalprice").alias("total")).toPandas()

    def setup(self) -> None:
        """``SETUP_ROUNDS`` set-up rounds, each timed as (session build,
        registry load, warmup). The first round launches the JVM, imports
        the query modules through ``get_registry`` and is the set-up the
        timed ops follow (``setup.cold_s``). Later rounds stop the session
        and build a new one in the same JVM, and rebuild the registry with
        ``build_registry`` (``get_registry`` returns the cached one), so
        ``setup_s``, their median with the first, is a warm set-up."""
        from lakesail_hdfs_deltalake_guide_spark import registry
        from lakesail_hdfs_deltalake_guide_spark.session import build_session

        cores = len(os.sched_getaffinity(0))
        self.cores = cores
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
        }
        rounds = []
        for r in range(SETUP_ROUNDS):
            if r:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = build_session(
                app_name="perfbench", master=f"local[{cores}]", extra_conf=conf
            )
            t1 = time.perf_counter()
            self.registry = registry.get_registry() if r == 0 else registry.build_registry()
            t2 = time.perf_counter()
            self._warmup()
            t3 = time.perf_counter()
            rounds.append((t1 - t0, t2 - t1, t3 - t2))
        self.setup_rounds = rounds
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid  # noqa: SLF001

    # -- timed ops --------------------------------------------------------
    def timed_op(self, name: str, kind: str, pass_no: int = -1) -> dict:
        """Run one op: time it, then, outside the timed region, record its
        leak counters and (traced) Spark statistics, check it, and clean
        the session for the next op."""
        op_id = len(self.records)
        rec = {"op": name, "kind": kind, "pass": pass_no, "module": self.workload.module(self, name)}
        self._rec = rec
        inp = self.workload.prepare(self, name)
        traced = self.tracer.enabled
        gc0 = jvm_gc_seconds(self.spark) if traced else 0.0
        out = None
        t0 = time.perf_counter()
        try:
            with self.tracer.op(op_id, name):
                out = self.workload.run_op(self, name, inp)
            rec["ok"] = True
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            rec["ok"] = False
            self.errors.append(f"{name}: {traceback.format_exc(limit=3)}")
        rec["lat"] = time.perf_counter() - t0
        if isinstance(out, int):
            rec["version"] = out
        # -- outside the timed region --
        tmp_before = self._tmp_entries
        leaks = session_leaks(self.spark, self.tmp_root)
        rec["leaks"] = dict(leaks, tmp_entries=leaks["tmp_entries"] - tmp_before)
        self._tmp_entries = leaks["tmp_entries"]
        t_post = time.perf_counter()
        if traced:
            rec["jvm_gc_s"] = jvm_gc_seconds(self.spark) - gc0
            rec["spark"] = {p: self.tracer.spark_stats(op_id, p) for p in ("build", "exec")}
            if self.workload.uses_fixtures and out is not None:
                from lakesail_hdfs_deltalake_guide_spark.plans import inspect

                rec["shuffles"] = inspect.shuffle_count(out)
                rec["broadcast_joins"] = inspect.broadcast_join_count(out)
        rec["trace_s"] = time.perf_counter() - t_post
        if rec["ok"]:
            try:
                problem = self.workload.after_op(self, name, inp, out)
            except Exception:  # noqa: BLE001 — a check that cannot run is a failure
                problem = f"{name}: check raised {traceback.format_exc(limit=3)}"
            if problem:
                rec["ok"] = False
                self.errors.append(problem)
        self.hygiene()
        self.records.append(rec)
        return rec

    def hygiene(self) -> None:
        """Between ops, as bench.py does: drop cached frames and run a JVM
        GC so one op's leftovers do not land in the next op's time."""
        t0 = time.perf_counter()
        self.spark.catalog.clearCache()
        self.spark._jvm.System.gc()  # noqa: SLF001
        self.stages["hygiene"] = self.stages.get("hygiene", 0.0) + time.perf_counter() - t0

    def run(self) -> dict:
        from lakesail_hdfs_deltalake_guide_spark.sources import delta_log

        args = self.args
        self.delta = delta_log
        self.workload = workloads.make(args.workload, args.sf, args.seed, self.work)
        self.sf_dir = None
        if self.workload.uses_fixtures:
            self.sf_dir = fixtures.ensure(
                os.path.join(ROOT, ".perfbench_cache", "fixtures"), self.workload.sf
            )
        t0 = time.perf_counter()
        self.setup()
        self.stages["setup"] = time.perf_counter() - t0
        self.tracer = Tracer(self.spark, enabled=bool(args.trace))
        self._tmp_entries = len(os.listdir(self.tmp_root))
        if self.sf_dir:
            self.oracle = Oracle(self.sf_dir)
        t0 = time.perf_counter()
        self.workload.setup(self)
        self.stages["workload_setup"] = time.perf_counter() - t0

        rng = np.random.default_rng(args.seed)
        t0 = time.perf_counter()
        passes, trace_s = [], []
        while not passes or sum(passes) < args.seconds:
            plan = self.workload.plan_pass(rng)
            recs = [self.timed_op(name, kind, len(passes)) for name, kind in plan]
            passes.append(sum(r["lat"] for r in recs))
            trace_s.append(sum(r["trace_s"] for r in recs))
        self.stages["passes"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        problem = self.workload.finish(self)
        self.stages["finish"] = time.perf_counter() - t0
        if problem:
            self.errors.append(problem)
        if self.sf_dir:
            self.oracle.close()
            data_bytes = fixtures.total_bytes(self.sf_dir)
        else:
            scanner = self.workload.scanner
            scanner.scan(count=False)
            data_bytes = sum(sz for sz, _ in scanner.sizes.values())
        return {
            "passes": passes,
            "trace_s": trace_s,
            "finish_failed": bool(problem),
            "data_bytes": data_bytes,
            "canary": self._canary(),
            "rss": self._rss(),
        }

    def close(self) -> None:
        """Stop the session and the JVM, and wait for it to exit."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway  # noqa: SLF001
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
        self.spark = None

    # -- host canary and memory -------------------------------------------
    def _canary(self) -> dict:
        """Fixed CPU-bound JVM and Python probes; recorded, never gated."""
        t0 = time.perf_counter()
        self.spark.range(20_000_000).selectExpr("bit_xor(xxhash64(id)) as s").collect()
        jvm = time.perf_counter() - t0
        t0 = time.perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc += i ^ (i >> 3)
        return {"jvm_s": jvm, "py_s": time.perf_counter() - t0}

    def _rss(self) -> dict:
        return {"jvm_mb": vm_hwm_mb(self.jvm_pid), "python_mb": vm_hwm_mb("self")}

    # -- metrics ----------------------------------------------------------
    def _p50(self, kind: str) -> float:
        lats = [r["lat"] for r in self.records if r["ok"] and r["kind"] == kind]
        return quantile(lats, 0.5) if lats else 0.0

    def end_to_end(self, res: dict) -> dict[str, tuple[float, str]]:
        lats = [r["lat"] for r in self.records]
        res["tail_percentile"], op_tail = tail(lats)
        return {
            "setup_s": (median(sum(r) for r in self.setup_rounds), "s"),
            "wall_s": (median(res["passes"]), "s"),
            "op_p50_s": (quantile(lats, 0.5), "s"),
            "op_tail_s": (op_tail, "s"),
            "peak_rss_mb": (res["rss"]["jvm_mb"] + res["rss"]["python_mb"], "MB"),
        }

    def workload_figures(self, res: dict) -> dict[str, tuple[float, str]]:
        """Read and write latency, write amplification and failures. There
        are no writes on ``olap_read`` and no Delta table of the
        benchmark's own outside ``delta_rw``; those figures read 0 there."""
        delta = self._delta()
        return {
            "read_p50_s": (self._p50("read"), "s"),
            "write_p50_s": (self._p50("write"), "s"),
            "write_amp": (
                delta.scanner.totals["bytes_written"] / delta.user_bytes if delta else 0.0,
                "ratio",
            ),
            "failed_ratio": (self.failed(res) / self.attempted(), "ratio"),
        }

    def _delta(self) -> workloads.DeltaReadWrite | None:
        return self.workload if isinstance(self.workload, workloads.DeltaReadWrite) else None

    def attempted(self) -> int:
        return len(self.records)

    def failed(self, res: dict) -> int:
        return sum(1 for r in self.records if not r["ok"]) + int(res["finish_failed"])

    def layer_metrics(self, res: dict) -> dict[str, tuple[float, str]]:
        recs = self.records
        out: dict[str, tuple[float, str]] = {}
        # the parts of the first set-up round, the one the timed ops follow
        cold = self.setup_rounds[0]
        out["session.build_session_s"] = (cold[0], "s")
        out["registry.get_registry_s"] = (cold[1], "s")
        out["setup.warmup_s"] = (cold[2], "s")
        out["setup.cold_s"] = (sum(cold), "s")
        for m in QUERY_MODULES:
            mine = [r for r in recs if r["module"] == m]
            out[f"{m}.build_s"] = (mean(r.get("build", 0.0) for r in mine), "s")
            out[f"{m}.exec_s"] = (mean(r.get("exec", 0.0) for r in mine), "s")
        queries = [r for r in recs if r["module"] in QUERY_MODULES]
        out["query.remainder_s"] = (
            mean(r["lat"] - r.get("build", 0.0) - r.get("exec", 0.0) for r in queries),
            "s",
        )

        def spark(phases, key):
            return [sum(r["spark"][p][key] for p in phases) for r in recs]

        out["spark.jobs.build"] = (mean(spark(["build"], "jobs")), "count")
        out["spark.jobs.exec"] = (mean(spark(["exec"], "jobs")), "count")
        both = ["build", "exec"]
        out["spark.stages"] = (mean(spark(both, "stages")), "count")
        out["spark.tasks"] = (mean(spark(both, "tasks")), "count")
        out["spark.executor_run_s"] = (mean(spark(both, "run_s")), "s")
        exec_wall = sum(r.get("exec", 0.0) for r in recs)
        out["spark.core_busy_ratio"] = (
            sum(spark(["exec"], "run_s")) / (exec_wall * self.cores) if exec_wall else 0.0,
            "ratio",
        )
        out["spark.shuffle_read_bytes"] = (mean(spark(both, "shuffle_read")), "B")
        out["spark.shuffle_write_bytes"] = (mean(spark(both, "shuffle_write")), "B")
        out["spark.spill_bytes"] = (float(sum(spark(both, "spill"))), "B")
        out["spark.jvm_gc_s"] = (mean(r["jvm_gc_s"] for r in recs), "s")
        out["plans.shuffle_count"] = (mean(r.get("shuffles", 0) for r in queries), "count")
        out["plans.broadcast_join_count"] = (
            mean(r.get("broadcast_joins", 0) for r in queries),
            "count",
        )

        calls: dict[str, list[float]] = {fn: [] for fn in DELTA_CALLS}
        for r in recs:
            for fn, dt in r.get("calls", []):
                calls[fn].append(dt)
        for fn in DELTA_CALLS:
            out[f"delta_log.{fn}_s"] = (median(calls[fn]), "s")
        reads = [
            r for r in recs if r["module"] == "sources.delta_log" and r["kind"] == "read" and r["ok"]
        ]
        out["delta_log.read_exec_s"] = (median(r.get("exec", 0.0) for r in reads), "s")
        from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import CHECKPOINT_INTERVAL

        out["delta_log.ckpt_commit_s"] = (
            median(
                r["lat"]
                for r in recs
                if r["kind"] == "write" and r.get("version", 1) % CHECKPOINT_INTERVAL == 0
            ),
            "s",
        )
        delta = self._delta()
        for key in ("commits", "checkpoints", "files_added", "files_removed"):
            out[f"delta_log.{key}"] = (float(delta.scanner.totals[key]) if delta else 0.0, "count")
        out["delta_log.live_files_end"] = (float(len(delta.scanner.live)) if delta else 0.0, "count")
        out["delta_log.bytes_written"] = (
            float(delta.scanner.totals["bytes_written"]) if delta else 0.0,
            "B",
        )
        out["delta_log.log_bytes"] = (float(delta.scanner.log_bytes()) if delta else 0.0, "B")
        out["delta_log.files_read_ratio"] = (
            mean(delta.files_read_ratios) if delta else 0.0,
            "ratio",
        )
        out["delta_log.rows_rewritten_per_row_changed"] = (
            delta.dml_rows_written / delta.rows_changed if delta and delta.rows_changed else 0.0,
            "ratio",
        )

        out["session.cached_frames_left"] = (mean(r["leaks"]["cached_frames"] for r in recs), "count")
        out["session.storage_bytes_left"] = (mean(r["leaks"]["storage_bytes"] for r in recs), "B")
        out["session.tmp_entries_left"] = (mean(r["leaks"]["tmp_entries"] for r in recs), "count")

        out["trace.overhead_s"] = (median(res["trace_s"]), "s")
        self_times = self.tracer.self_times()
        n = len(recs)
        out["trace.self.op_s"] = (self_times.get("op", 0.0) / n, "s")
        out["trace.self.build_s"] = (self_times.get("build", 0.0) / n, "s")
        out["trace.self.exec_s"] = (self_times.get("exec", 0.0) / n, "s")
        out["trace.self.delta_log_s"] = (
            sum(v for k, v in self_times.items() if k.startswith("delta_log.")) / n,
            "s",
        )
        return out


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("olap_read", "delta_rw", "curation"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--sf", type=float, default=None,
        help="fixture scale factor (default: 0.1 for olap_read, 0.01 for curation)",
    )
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import lakesail_hdfs_deltalake_guide_spark.registry  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # everything the program and Spark write goes under the checkout;
    # Python workers import the package from it
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # every JVM (the launcher and Spark's own): temp files under the work
    # dir, and no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p
        for p in (
            os.environ.get("JAVA_TOOL_OPTIONS"),
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        )
        if p
    )
    tempfile.tempdir = None
    bench = Bench(args, work)
    try:
        res = bench.run()
        metrics = bench.end_to_end(res)
        figures = bench.workload_figures(res)
        layer = bench.layer_metrics(res) if args.trace else {}
        if args.trace:
            layer.update(figures)
        failed = bench.failed(res)
        attempted = bench.attempted()
        op_samples = len(bench.records)
        spans = bench.tracer.spans
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    shown = {**metrics, **figures, **layer}
    full = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": bench.cores,
        "data_bytes": res["data_bytes"],
        "passes": res["passes"],
        "op_samples": op_samples,
        "tail_percentile": res["tail_percentile"],
        "setup_rounds": bench.setup_rounds,
        "stages_s": bench.stages,
        "host_canary": res["canary"],
        "peak_rss": res["rss"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
        "ops": bench.records,
        "errors": bench.errors,
    }
    with open(os.path.join(out_dir, stem + ".json"), "w") as fh:
        json.dump(full, fh, indent=1, default=str)
    if args.trace:
        with open(os.path.join(out_dir, stem + "-spans.json"), "w") as fh:
            json.dump(spans, fh)

    for err in bench.errors:
        print(f"# FAILED {err}", file=sys.stderr)
    print(
        f"# {args.workload} seed={args.seed} trace={args.trace} cores={bench.cores} "
        f"passes={len(res['passes'])} op_samples={op_samples} attempted={attempted} "
        f"op_tail=p{res['tail_percentile']:.1f} data_bytes={res['data_bytes']} "
        f"host_canary=jvm:{res['canary']['jvm_s']:.3f}s,py:{res['canary']['py_s']:.3f}s"
    )
    print("# stages_s " + " ".join(f"{k}={v:.1f}" for k, v in bench.stages.items()))
    untraced = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace0.json")
    if args.trace and os.path.exists(untraced):
        with open(untraced) as fh:
            base = json.load(fh)["metrics"]["wall_s"]["value"]
        shown["trace.wall_minus_untraced_s"] = (metrics["wall_s"][0] - base, "s")
    for k, (v, u) in shown.items():
        print(f"# {k} = {v:.6g} {u}")
    # the result carries exactly the metrics BENCHMARK.json names
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        names = [m["name"] for m in json.load(fh)["per_layer" if args.trace else "end_to_end"]]
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": shown[k][0], "unit": shown[k][1]} for k in names},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
