#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries (registry entries tagged ``bench``) at
``$SPARK_GRAFT_SF_DIR`` (default ``/root/testdata/sf0.1``) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Per-query time is the best of ``BENCH_RUNS`` timed runs after one untimed
JVM/code-path warmup query, so JIT + parquet-footer caching don't pollute the
numbers. Each run drives the query to completion with a count-style action
(``df.count()`` would let Spark prune the project; ``write.format("noop")``
keeps every column materialized, matching what a real consumer pays).
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from lakesail_hdfs_deltalake_guide_spark.registry import get_registry
from lakesail_hdfs_deltalake_guide_spark.session import build_session

BENCH_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session(app_name="lakesail-spark-bench")
    reg = get_registry()
    bench_defs = {n: q for n, q in reg.defs.items() if "bench" in q.tags}

    warmup(spark, sf_dir)

    timings: dict[str, float] = {}
    for name, qdef in bench_defs.items():
        best = float("inf")
        for _ in range(BENCH_RUNS):
            t0 = time.perf_counter()
            qdef.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 4)
        # Session hygiene BETWEEN queries (never inside a timed region):
        # lifecycle/pipeline queries persist() intermediates their
        # returned frame depends on, which the CacheManager then holds
        # forever — by the end of the 77-query run the leaked stage
        # caches (full-corpus copies from the curation capstones, 6+
        # frames each) squeeze unified memory and late queries degrade
        # several-fold (measured: end-of-run re-runs at 4-16x their
        # in-order time). Clearing AFTER a query's timed runs keeps
        # run 2's legitimate reuse of run 1's persists (pin-era
        # semantics) while making each query's number independent of
        # which queries ran before it.
        spark.catalog.clearCache()
        # clearCache drops CacheManager entries but NOT the RDD blocks
        # behind localCheckpoint frames — those wait for a driver GC
        # (the session's periodic 1-min GC), which lands INSIDE a later
        # query's timed run: measured as bimodal readings on the
        # checkpoint-heavy graph queries (fof alternating 16/11 s with
        # run order, monotone 12->7.5 s once a GC ran at each query
        # boundary). One explicit GC here — never inside a timed
        # region — makes block reclamation deterministic. (r16)
        spark._jvm.System.gc()  # noqa: SLF001

    # Regression gate vs the pinned per-query baselines (BASELINE.md):
    # ratios are only meaningful at the pinned scale factor, and host
    # contention moves the whole run uniformly — judge per-query ratios
    # against the run's median ratio, not in isolation.
    pins_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BASELINE_PINS.json"
    )
    pins: dict[str, float] | None = None
    if os.path.exists(pins_path):
        with open(pins_path) as fh:
            pinned = json.load(fh)
        if _sf_from_dir(sf_dir) == pinned.get("sf"):
            pins = pinned["queries"]

    def _flagged(ts: dict[str, float]) -> list[str]:
        # 2x flag with a sub-second floor: host scheduler noise swings
        # 0.2-0.5 s queries past 2x routinely (r09's sample_split_counts
        # false positive on a 0.2314 s pin), so a ratio trip only counts
        # when the pin is >= 0.5 s — plus an absolute backstop so a
        # genuine 0.3 s -> 6 s blow-up on a tiny pin still flags.
        return sorted(
            n
            for n, t in ts.items()
            if n in pins
            and t / pins[n] > 2.0
            and (pins[n] >= 0.5 or t >= pins[n] + 5.0)
        )

    # Contention re-run: a transient scheduler spike during a query's two
    # timed runs flags it even though nothing regressed (7 false flags in
    # one driver round). Any would-be flag gets ONE more run at end-of-run
    # — keep the min — so only a repeatable slowdown survives the gate.
    # Bounded extra cost: at most one run per flagged query.
    reran: dict[str, float] = {}
    if pins:
        for name in _flagged(timings):
            t0 = time.perf_counter()
            bench_defs[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            reran[name] = round(time.perf_counter() - t0, 4)
            timings[name] = min(timings[name], reran[name])
            spark.catalog.clearCache()
            spark._jvm.System.gc()  # noqa: SLF001 (see between-queries note)

    # Host-speed canary, RECORDED never GATED on: one fixed CPU-bound JVM
    # probe and one single-thread Python probe. The r15 host reboot made
    # the same code read 1.8x slower uniformly across all 77 pins — with
    # the canary in the sidecar, that adjudicates from the artifact
    # itself (canary up ~= run median up => host, not regression)
    # instead of requiring a sandbox to re-measure.
    t0 = time.perf_counter()
    spark.range(100_000_000).selectExpr(
        # bit_xor fold: ANSI-safe (sum of 1e8 hashed longs overflows)
        "bit_xor(xxhash64(id)) as s"
    ).collect()
    jvm_canary = round(time.perf_counter() - t0, 4)
    t0 = time.perf_counter()
    acc = 0
    for i in range(5_000_000):
        acc += i ^ (i >> 3)
    py_canary = round(time.perf_counter() - t0, 4)

    out: dict = {
        "metric": "bench_total_sec",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": _sf_from_dir(sf_dir),
        "host_canary": {"jvm_sec": jvm_canary, "py_sec": py_canary},
    }
    if pins:
        out["vs_pin"] = {
            n: round(t / pins[n], 3) for n, t in timings.items() if n in pins
        }
        out["over_2x_vs_pin"] = _flagged(timings)
        if reran:
            out["reran"] = reran
        unpinned = sorted(set(timings) - set(pins))
        if unpinned:
            out["unpinned"] = unpinned
    # The driver captures a bounded tail of stdout; r05's line (35+ pinned
    # queries + vs_pin ratios) outgrew it and front-truncated, leaving
    # BENCH_r05 "parsed": null. Two defenses: (a) the FULL payload goes to
    # a sidecar bench_result.json next to this script, (b) the printed
    # line is the compact core only (metric/value/unit/sf/queries +
    # over_2x_vs_pin gate) with no-whitespace separators — vs_pin's ~35
    # ratio entries live in the sidecar.
    sidecar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_result.json"
    )
    with open(sidecar, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    # The driver parses a bounded (2000-char) TAIL of stdout: a JSON line
    # longer than that front-truncates and records "parsed": null (r05 and
    # r08 both hit this as the query count grew). All 77 query names alone
    # total 2066 chars, so the full dict can NEVER fit — some truncation is
    # forced. Three rules keep the printed line maximally useful:
    #   (a) printed timings round to 2 decimals (full precision stays in
    #       the sidecar), fitting more entries per byte;
    #   (b) reran and the full host_canary dict are sidecar-only
    #       (diagnostics, not results); the canary prints only as the
    #       compact "hc":[jvm_sec, py_sec], so a host-wide slowdown can be
    #       told from a regression from the printed line alone;
    #   (c) the kept set is ordered by PINNED baseline cost, not current
    #       cost: pins are frozen, so the same queries print every round
    #       and the driver's line-over-line per-query diff sees zero
    #       spurious drops — r15's "dropped_from_bench" artifact was two
    #       queries vanishing from the printed top-52 BECAUSE they got
    #       faster. Unpinned (new) queries sort first so they are always
    #       visible the round they appear.
    line = {
        k: v
        for k, v in out.items()
        if k not in ("vs_pin", "host_canary", "reran")
    }
    line["hc"] = [round(jvm_canary, 2), round(py_canary, 2)]
    stable_cost = pins if pins else timings
    by_pin = sorted(
        timings, key=lambda n: -stable_cost.get(n, float("inf"))
    )
    keep = len(by_pin)
    while True:
        line["queries"] = {n: round(timings[n], 2) for n in by_pin[:keep]}
        omitted = len(by_pin) - keep
        if omitted:
            line["queries_omitted"] = omitted
        if len(json.dumps(line, separators=(",", ":"))) <= 1900 or keep == 0:
            break
        # clamp so keep=1 is actually tried, then keep=0 drops the
        # queries dict entirely (non-query fields alone can exceed the
        # budget when the gate lists are long)
        keep = max(0, keep - 5) if keep > 5 else keep - 1
    if keep == 0:
        line.pop("queries", None)
        line["queries_omitted"] = len(by_pin)
    print(json.dumps(line, separators=(",", ":")))
    spark.stop()


def warmup(spark, sf_dir: str) -> None:
    """Untimed warmup shared by the query harnesses: spin up executor
    threads, JIT the codegen paths once, and prime the shared
    InMemoryFileIndex / parquet-footer caches for every fixture table
    under ``sf_dir``. Without the listing warmup, whichever query
    touches a table first pays its one-time listing cost, so per-query
    numbers depend on dict order (the r3 `session_stats` "drift" was
    exactly this: 0.94 s first-in-order vs 0.61 s order-controlled)."""
    spark.range(1_000_000).selectExpr("sum(id) as s").collect()
    # JIT the codegen-heavy hash paths too: md5/xxhash64 + HOF
    # (transform/aggregate) expression codegen and the shuffle-join
    # machinery the dedup/minhash/ANN family leans on. A first-in-session
    # dedup_minhash_lsh otherwise pays a one-time ~18 s JIT cliff
    # (measured 19.8 s cold vs 1.6 s steady) that reads as a 3-12x flag.
    warm = spark.range(100_000).selectExpr(
        "id",
        "md5(cast(id as string)) as h",
        "transform(sequence(0, 15), s -> "
        " xxhash64(concat(md5(cast(id % 977 as string)),"
        "          cast(s as string)))) as sig",
    )
    warm.selectExpr(
        # XOR fold: sum would ARITHMETIC_OVERFLOW under ANSI mode
        "aggregate(sig, cast(0 as bigint), (a, x) -> a ^ x) as s", "h"
    ).join(
        warm.selectExpr("h", "id as rid"), "h"
    ).write.format("noop").mode("overwrite").save()
    # derived from the fixture dir, not a hard-coded name list: a missing
    # or renamed table can't crash the warmup or silently skip priming
    for pq in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        spark.read.parquet(pq).count()


if __name__ == "__main__":
    main()
