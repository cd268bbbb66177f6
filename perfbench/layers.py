"""Per-layer measurement taken from outside the program.

Everything here wraps the benchmark's own calls into the program's public
functions, or reads Spark's status APIs, ``/proc`` and the Delta table's
files. Nothing patches the program.

- ``Tracer`` records spans (op -> build/exec -> delta_log call) and tags
  each phase's Spark jobs with a job group, then reads the jobs' stage
  statistics from the status tracker and status store after the op.
- ``session_leaks`` counts what an op left in the session.
- ``TableScanner`` diffs a Delta table directory after each op.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import urllib.parse


class Tracer:
    """Spans and Spark statistics for one run; inert when disabled."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op_id = -1

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"op_id": self._op_id, "name": name, "parent": parent, "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def op(self, op_id: int, name: str):
        self._op_id = op_id
        with self.span(name):
            yield

    @contextlib.contextmanager
    def phase(self, phase: str):
        """``build`` or ``exec``; Spark jobs started inside carry the
        job group ``pb-<op>-<phase>``."""
        if self.enabled:
            self.spark.sparkContext.setJobGroup(f"pb-{self._op_id}-{phase}", phase)
        try:
            with self.span(phase):
                yield
        finally:
            if self.enabled:
                self.spark.sparkContext.setJobGroup("pb-idle", "idle")

    def spark_stats(self, op_id: int, phase: str) -> dict:
        """Job, stage and task statistics of one op phase."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()  # noqa: SLF001
        jvm = sc._jvm  # noqa: SLF001
        no_status = jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(jvm.double, 0)  # noqa: SLF001
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "run_s", "shuffle_read", "shuffle_write", "spill", "gc_task_s"),
            0,
        )
        seen = set()
        for job_id in tracker.getJobIdsForGroup(f"pb-{op_id}-{phase}"):
            out["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            for stage_id in info.stageIds:
                if stage_id in seen:
                    continue
                seen.add(stage_id)
                attempts = store.stageData(stage_id, False, no_status, False, no_quantiles)
                for i in range(attempts.size()):
                    st = attempts.apply(i)
                    if st.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += st.numCompleteTasks()
                    out["run_s"] += st.executorRunTime() / 1000.0
                    out["shuffle_read"] += st.shuffleReadBytes()
                    out["shuffle_write"] += st.shuffleWriteBytes()
                    out["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    out["gc_task_s"] += st.jvmGcTime() / 1000.0
        return out

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part its
        children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            key = "op" if s["parent"] is None else s["name"]
            out[key] = out.get(key, 0.0) + (s["end"] - s["start"]) - c
        return out


def jvm_gc_seconds(spark) -> float:
    """Collection time of every JVM garbage collector so far."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()  # noqa: SLF001
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def session_leaks(spark, tmp_root: str) -> dict:
    """What is left in the session: persisted RDDs (cached frames and
    local checkpoints), their storage bytes, and temp-root entries."""
    sc = spark.sparkContext
    infos = sc._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
    return {
        "cached_frames": sc._jsc.getPersistentRDDs().size(),  # noqa: SLF001
        "storage_bytes": sum(i.memSize() + i.diskSize() for i in infos),
        "tmp_entries": len(os.listdir(tmp_root)),
    }


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class TableScanner:
    """Diffs a Delta table directory after each op: bytes written, the
    commits' add/remove actions, checkpoints, and the live file set."""

    def __init__(self, path: str):
        self.path = path
        self.log = os.path.join(path, "_delta_log")
        self.sizes: dict[str, tuple[int, int]] = {}
        self.live: set[str] = set()
        self.next_version = 0
        self.totals = dict.fromkeys(
            ("bytes_written", "commits", "checkpoints", "files_added", "files_removed"), 0
        )
        self.checkpoint_files: set[str] = set()

    def _walk(self) -> dict[str, tuple[int, int]]:
        out = {}
        for root, _, files in os.walk(self.path):
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
        return out

    def scan(self, count: bool = True) -> dict:
        """Fold new commits and new bytes; returns this step's deltas.
        ``count=False`` folds without adding to the run totals (set-up)."""
        now = self._walk()
        new_bytes = sum(sz for p, (sz, mt) in now.items() if self.sizes.get(p) != (sz, mt))
        self.sizes = now
        step = {"bytes_written": new_bytes, "commits": 0, "checkpoints": 0,
                "files_added": 0, "files_removed": 0, "rows_in_new_files": 0}
        while True:
            commit = os.path.join(self.log, f"{self.next_version:020d}.json")
            if not os.path.exists(commit):
                break
            adds, removes = {}, set()
            with open(commit) as fh:
                for line in fh:
                    action = json.loads(line)
                    if "add" in action:
                        adds[action["add"]["path"]] = action["add"].get("stats")
                    elif "remove" in action:
                        removes.add(action["remove"]["path"])
            for p, stats in adds.items():
                if p not in self.live:
                    step["files_added"] += 1
                    if stats:
                        step["rows_in_new_files"] += json.loads(stats).get("numRecords", 0)
            step["files_removed"] += len(removes - adds.keys())
            self.live = (self.live - removes) | adds.keys()
            step["commits"] += 1
            self.next_version += 1
        new_ckpts = {
            p for p in now
            if ".checkpoint." in p and p.endswith(".parquet") and not os.path.basename(p).startswith(".")
        } - self.checkpoint_files
        step["checkpoints"] = len(new_ckpts)
        self.checkpoint_files |= new_ckpts
        if count:
            for k in self.totals:
                self.totals[k] += step[k]
        return step

    def data_files(self, uris) -> set[str]:
        """The live data files among a scan's input file URIs."""
        rel = {
            os.path.relpath(urllib.parse.unquote(urllib.parse.urlparse(u).path), self.path)
            for u in uris
        }
        return rel & self.live

    def log_bytes(self) -> int:
        return sum(sz for p, (sz, _) in self.sizes.items() if p.startswith(self.log + os.sep))

