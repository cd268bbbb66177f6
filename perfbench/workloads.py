"""The benchmark's workloads.

A workload's ``setup`` runs untimed after the session set-up (the
``delta_rw`` load phase, the ``curation`` warmup query). ``plan_pass``
gives the seeded op order of one pass.
For each op the runner calls ``prepare`` (untimed input), ``run_op``
(timed; it reports its ``build`` and ``exec`` phases through
``bench.phase`` and its ``sources.delta_log`` calls through
``bench.call``) and ``after_op`` (untimed checks).

- ``olap_read``: read-only registry queries over the sf0.1 parquet
  fixtures. Loads ``tables`` and ``operators.*``; bypasses
  ``sources.delta_log``, ``pipelines`` and Python workers.
- ``curation``: the LLM-data tier (dedup, text ranking, vector search,
  the incremental curation pipeline) over documents and embeddings.
  Loads ``operators.{dedup,text,similarity}``, ``functions.*`` and
  ``pipelines``, which writes Delta state tables as it runs.
- ``delta_rw``: appends, merges, deletion-vector deletes and reads on one
  native Delta table, checked against ``checks.KeyModel``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from checks import KeyModel
from layers import TableScanner

OLAP_QUERIES = (
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_revenue_forecast",
    "tpch_q18_large_volume_customer",
    "flagship_customer_order_analysis",
    "join_broadcast_nation_region",
    "window_running_revenue",
    "session_stats",
    "ts_gapfill_hourly",
    "hypertable_multires_rollup",
)

CURATION_QUERIES = (
    "dedup_minhash_lsh",
    "text_bm25_rank",
    "similarity_bruteforce_topk",
    "pipeline_curation_incremental",
)

_PKG = "lakesail_hdfs_deltalake_guide_spark."


def _shuffled(ops, rng: np.random.Generator) -> list:
    return [ops[i] for i in rng.permutation(len(ops))]


def module_of(fn) -> str:
    """Layer name of a query function: its module, without the package."""
    return fn.__module__.removeprefix(_PKG)


class QueryWorkload:
    """Registry queries in seeded order. The exec phase collects each
    result, and the op's own output is compared with its DuckDB oracle
    twin after the op, outside the timed region. Each query runs once per
    pass, so the first pass is also each query's first run in the process,
    after the set-up's warmup: a separate check round and a warm pass
    would double the run, which the benchmark's run budget cannot carry."""

    uses_fixtures = True

    def __init__(
        self,
        names: tuple[str, ...],
        sf: float,
        writers: tuple[str, ...] = (),
        warmup: tuple[str, ...] = (),
    ):
        self.names = names
        self.sf = sf
        self.writers = writers  # queries that write Delta tables as they run
        self.warmup = warmup  # untimed queries that JIT the paths the ops share
        self._got = None

    def setup(self, bench) -> None:
        for name in self.warmup:
            bench.registry.defs[name].fn(bench.spark, bench.sf_dir).toPandas()
            bench.hygiene()

    def plan_pass(self, rng: np.random.Generator) -> list[tuple[str, str]]:
        """The read-only queries in seeded order, then the writers: the
        curation pipeline composes the tier's operators, so it runs after
        them, whatever the seed."""
        reads = [n for n in self.names if n not in self.writers]
        return [(n, "read") for n in _shuffled(reads, rng)] + [(n, "write") for n in self.writers]

    def module(self, bench, name: str) -> str:
        return module_of(bench.registry.defs[name].fn)

    def prepare(self, bench, name: str):
        return None

    def run_op(self, bench, name: str, inp):
        qdef = bench.registry.defs[name]
        with bench.phase("build"):
            df = qdef.fn(bench.spark, bench.sf_dir)
        with bench.phase("exec"):
            self._got = df.toPandas()
        return df

    def after_op(self, bench, name: str, inp, df) -> str | None:
        got, self._got = self._got, None
        return bench.oracle.mismatch(name, bench.registry.defs[name].oracle, got)

    def finish(self, bench) -> str | None:
        return None


class DeltaReadWrite:
    """Seeded writes and reads on one native Delta table."""

    uses_fixtures = False
    BATCH_ROWS = 2_000
    MERGE_ROWS = 1_000
    RECENT_KEYS = 4 * BATCH_ROWS  # merges update recently written keys
    LOAD_COMMITS = 4  # untimed: create the table and give merges keys to update
    # One pass, 62 % writes: the seeded mix of appends, a merge and reads,
    # then a maintenance window of two deletion-vector deletes and a
    # compaction, so every pass starts from a compacted table.
    ROUND = (
        ["append"] * 6
        + ["merge"]
        + ["read_range"] * 3
        + ["read_full", "read_version", "snapshot_adds"]
    )
    MAINTENANCE = ["delete_dv", "delete_dv", "optimize"]
    STATS_COLS = ["k"]  # min/max stats on the key, for range skipping
    WRITES = {"append", "merge", "delete_dv", "optimize"}

    def __init__(self, path: str, seed: int):
        self.path = path
        self.scanner = TableScanner(path)
        # input stream, independent of the runner's op-order stream
        self.rng = np.random.default_rng(seed + 7919)
        self.model = KeyModel()
        self.next_key = 0
        self.user_bytes = 0
        self.rows_changed = 0
        self.dml_rows_written = 0
        self.files_read_ratios: list[float] = []

    # -- inputs ---------------------------------------------------------
    def _batch(self, keys: np.ndarray) -> pa.Table:
        n = len(keys)
        payload = self.rng.integers(0, 2**63, (n, 2), dtype=np.uint64)
        return pa.table(
            {
                "k": pa.array(keys.astype(np.int64)),
                "v": pa.array(self.rng.integers(0, 1_000_000, n)),
                "x": pa.array(self.rng.random(n)),
                "payload": pa.array([f"{a:016x}{b:016x}" for a, b in payload]),
            }
        )

    def _new_keys(self, n: int) -> np.ndarray:
        keys = self.rng.permutation(np.arange(self.next_key, self.next_key + n))
        self.next_key += n
        return keys

    # -- workload protocol -----------------------------------------------
    def setup(self, bench) -> None:
        """Load phase, untimed: create the table with ``LOAD_COMMITS``
        batches, so the first pass's merges have keys to update and its
        commits cross the first checkpoint, then read it once, so that the
        first timed read does not pay for the read path's JIT."""
        dl = bench.delta
        for i in range(self.LOAD_COMMITS):
            batch = self._batch(self._new_keys(self.BATCH_ROWS))
            version = dl.delta_write(
                bench.spark.createDataFrame(batch), self.path,
                mode="append" if i else "overwrite", stats_cols=self.STATS_COLS,
            )
            self.model.upsert(batch.column("k").to_numpy(), batch.column("v").to_numpy())
            self.model.commit(version)
        dl.delta_read(bench.spark, self.path).write.format("noop").mode("overwrite").save()
        self.scanner.scan(count=False)

    def plan_pass(self, rng: np.random.Generator) -> list[tuple[str, str]]:
        ops = _shuffled(self.ROUND, rng) + self.MAINTENANCE
        return [(op, "write" if op in self.WRITES else "read") for op in ops]

    def module(self, bench, name: str) -> str:
        return "sources.delta_log"

    def _key_range(self, share: float) -> tuple[int, int]:
        width = max(1, int(self.next_key * share))
        lo = int(self.rng.integers(0, max(1, self.next_key - width)))
        return lo, lo + width - 1

    def prepare(self, bench, name: str):
        """The op's generated input, made before its timer starts."""
        if name == "append":
            return self._batch(self._new_keys(self.BATCH_ROWS))
        if name == "merge":
            old = np.fromiter(
                (k for k in self.model.rows if k >= self.next_key - self.RECENT_KEYS), np.int64
            )
            half = self.MERGE_ROWS // 2
            picked = self.rng.choice(old, min(half, len(old)), replace=False)
            return self._batch(np.concatenate([picked, self._new_keys(half)]))
        if name == "delete_dv":
            return self._key_range(0.005)
        if name == "read_range":
            return self._key_range(0.02)
        if name == "read_version":
            return int(self.rng.choice(sorted(self.model.versions)))
        return None

    def run_op(self, bench, name: str, inp):
        dl = bench.delta
        spark = bench.spark
        if name in ("append", "merge"):
            with bench.phase("build"):
                df = spark.createDataFrame(inp)
            with bench.phase("exec"):
                if name == "append":
                    with bench.call("delta_write"):
                        return dl.delta_write(
                            df, self.path, mode="append", stats_cols=self.STATS_COLS
                        )
                with bench.call("delta_merge"):
                    return dl.delta_merge(spark, self.path, df, on=["k"])
        if name == "delete_dv":
            with bench.phase("build"):
                pred = F.col("k").between(*inp)
            with bench.phase("exec"):
                with bench.call("delta_delete_dv"):
                    return dl.delta_delete_dv(spark, self.path, pred)
        if name == "optimize":
            with bench.phase("exec"):
                with bench.call("delta_optimize"):
                    return dl.delta_optimize(spark, self.path)
        if name == "vacuum":
            with bench.phase("exec"):
                with bench.call("delta_vacuum"):
                    return dl.delta_vacuum(spark, self.path)
        # reads: build = the resolve/fold call, exec = the noop sink
        with bench.phase("build"):
            if name == "snapshot_adds":
                with bench.call("delta_snapshot_adds_df"):
                    df = dl.delta_snapshot_adds_df(spark, self.path)
            elif name == "read_range":
                with bench.call("delta_read"):
                    df = dl.delta_read(spark, self.path, range_filter={"k": inp})
                df = df.where(F.col("k").between(*inp))
            else:
                with bench.call("delta_read"):
                    df = dl.delta_read(spark, self.path, version=inp)
        with bench.phase("exec"):
            df.write.format("noop").mode("overwrite").save()
        return df

    @staticmethod
    def _table_summary(df) -> tuple[int, int, int]:
        row = df.agg(F.count("*"), F.sum("k"), F.sum("v")).first()
        return int(row[0]), int(row[1] or 0), int(row[2] or 0)

    def after_op(self, bench, name: str, inp, out) -> str | None:
        """Replay the op on the key model, fold the table's new files,
        and check every read: row count, key sum and value sum against
        the model (at the version read, or in the key range read), and
        the snapshot's add set against the log's live files."""
        if name in ("append", "merge"):
            keys = inp.column("k").to_numpy()
            self.model.upsert(keys, inp.column("v").to_numpy())
            self.user_bytes += inp.nbytes
            if name == "merge":
                self.rows_changed += len(keys)
        elif name == "delete_dv":
            self.rows_changed += self.model.delete_range(*inp)
        if name in self.WRITES:
            self.model.commit(out)
        step = self.scanner.scan()
        if name in ("merge", "delete_dv"):
            self.dml_rows_written += step["rows_in_new_files"]
        if name == "read_range" and bench.tracer.enabled:
            scanned = self.scanner.data_files(out.inputFiles())
            self.files_read_ratios.append(len(scanned) / max(1, len(self.scanner.live)))
        want = None
        if name == "read_version":
            what, want = f"time travel to v{inp}", self.model.versions[inp]
        elif name == "read_range":
            what, want = f"key range {inp}", self.model.summary(*inp)
        elif name == "read_full":
            what, want = "full read", self.model.summary()
        elif name == "snapshot_adds":
            got = {row[0] for row in out.select("path").collect()}
            if got != self.scanner.live:
                return f"snapshot adds: {len(got)} files != {len(self.scanner.live)} live in the log"
        if want is not None:
            got = self._table_summary(out)
            if got != want:
                return f"{what}: {got} != model {want}"
        return None

    def finish(self, bench) -> str | None:
        """Vacuum (a timed op), then check the final table."""
        bench.timed_op("vacuum", "maintenance")
        got = self._table_summary(bench.delta.delta_read(bench.spark, self.path))
        want = self.model.summary()
        return None if got == want else f"final table {got} != model {want}"


def make(name: str, sf: float | None, seed: int, work: str):
    if name == "olap_read":
        return QueryWorkload(OLAP_QUERIES, sf if sf is not None else 0.1)
    if name == "curation":
        return QueryWorkload(
            CURATION_QUERIES,
            sf if sf is not None else 0.01,
            writers=("pipeline_curation_incremental",),
            # the text, hashing and string-collect paths of the tier, so
            # that whichever op the seed puts first does not pay for them
            warmup=("dedup_exact_keep_first",),
        )
    if name == "delta_rw":
        return DeltaReadWrite(os.path.join(work, "delta_rw_table"), seed)
    raise ValueError(f"unknown workload {name!r}")
