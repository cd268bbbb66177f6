#!/usr/bin/env python
"""Per-query profiling harness for the optimization rounds.

For each named registry query (or every bench-tagged one):

  - times ``fn(spark, sf_dir)`` driven through the noop sink (the bench
    protocol, guide §1.4), best of ``--runs``;
  - counts the Spark jobs the run launched (``setJobGroup`` + status
    tracker) — at sf0.1 the fixtures are ~17 MB, so job/stage count is
    the fixed-overhead proxy that actually explains wall time;
  - optionally dumps ``.explain("formatted")`` of the returned frame to
    ``plans/r16/<name>_<tag>.txt`` (NOTE: for lifecycle queries the
    returned frame is only the final ledger — their cost lives in the
    side-effecting commits, which the job count captures).

Usage:
  python scripts/profile_query.py [--runs 2] [--plans TAG] [name ...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import warmup
from lakesail_hdfs_deltalake_guide_spark.registry import get_registry
from lakesail_hdfs_deltalake_guide_spark.session import build_session


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--plans", default=None, help="dump explain to plans/r16/<name>_<TAG>.txt")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    spark = build_session(app_name="lakesail-profile")
    reg = get_registry()
    names = args.names or [n for n, q in reg.defs.items() if "bench" in q.tags]

    warmup(spark, args.sf_dir)

    tracker = spark.sparkContext.statusTracker()
    print(f"{'query':42s} {'best_sec':>9s} {'jobs':>5s}")
    for name in names:
        qdef = reg.defs[name]
        best, jobs = float("inf"), -1
        for r in range(args.runs):
            group = f"prof-{name}-{r}"
            spark.sparkContext.setJobGroup(group, name)
            t0 = time.perf_counter()
            df = qdef.fn(spark, args.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            spark.sparkContext.setJobGroup("prof-idle", "idle")
            njobs = len(tracker.getJobIdsForGroup(group))
            if dt < best:
                best, jobs = dt, njobs
        print(f"{name:42s} {best:9.3f} {jobs:5d}", flush=True)
        if args.plans:
            os.makedirs("plans/r16", exist_ok=True)
            df = qdef.fn(spark, args.sf_dir)
            plan = df._jdf.queryExecution().explainString(  # noqa: SLF001
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(  # noqa: SLF001
                    "formatted"
                )
            )
            with open(f"plans/r16/{name}_{args.plans}.txt", "w") as fh:
                fh.write(plan)
    spark.stop()


if __name__ == "__main__":
    main()
