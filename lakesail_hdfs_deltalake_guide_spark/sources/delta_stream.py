"""Streaming SOURCE over the native Delta log (incremental ingest).

delta-spark's other streaming half: a Delta table is not just a sink,
it is a **source** — `spark.readStream.format("delta")` tails the
transaction log and emits each commit's added files as micro-batches,
giving downstream pipelines exactly-once incremental ingest with the
log itself as the offset ledger. The reference's Delta surface
(``/root/reference/README.md:302``) is batch-only; this closes the
loop for the engine's own protocol-level log (sources/delta_log.py).

Spark has no built-in reader for our log (delta-spark jars absent —
SCALE.md), so the source is built on the Spark 4 Python DataSource API
(same machinery as sources/pysource.py):

- **Offsets are log versions** (``{"version": N}``); a micro-batch
  covers commits ``(start, end]``. The offset ledger is the log — no
  side state, and a checkpoint-restarted query resumes at the exact
  commit boundary it left off.
- **partitions() maps one added file → one input partition** (planned
  driver-side from the commit JSON, metadata-sized); executors read
  their file via pyarrow and yield **Arrow RecordBatches** — the
  vectorized fast path through the Python source API, no per-row
  Python loop.
- **dataChange discipline** follows delta-spark: append commits stream
  their adds; layout commits (OPTIMIZE/compaction, ``dataChange:
  false``) contribute NOTHING (their adds are rewrites of already-
  streamed rows); commits that remove or re-stamp live data
  (overwrite, DML, deletion vectors) are not expressible as an
  append-only feed — the source raises unless
  ``skipChangeCommits=true`` (delta-spark's option of the same name)
  tells it to skip them wholesale.

Scale posture: batch planning folds only the commit tail (never the
data), each added file is an independent executor-side columnar read,
and throughput scales with files-per-commit exactly like the batch
scan. A 100 TB table streaming 1 GB/min of appends plans ~10 file
partitions per trigger from a few KB of JSON.
"""

from __future__ import annotations

import json
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from ..querydef import QueryDef


class _AddFilePartition(InputPartition):
    def __init__(
        self,
        abs_path: str,
        columns: list[tuple],
        partition_values: dict | None = None,
    ) -> None:
        self.abs_path = abs_path
        # [(logical name, Spark DataType, on-file physical name)] in
        # schema order — physical == logical except under column mapping
        self.columns = columns
        # the add's partitionValues (physical keys, string values): hive
        # partition columns live in the directory, not in the file
        self.partition_values = partition_values or {}


def _read_logical(partition: _AddFilePartition):
    """The partition's file as a pyarrow table of the declared LOGICAL
    columns, in schema order: file columns by physical name (column
    mapping); partition columns from the add's partitionValues, cast to
    the column type as the batch reader's partition discovery does;
    evolution-added columns a pre-evolution file lacks as typed nulls.
    None for the empty placeholder partition."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs
    from pyspark.sql.pandas.types import to_arrow_type

    if not partition.abs_path:
        return None
    fsys, p = pafs.FileSystem.from_uri(partition.abs_path)
    table = pq.read_table(p, filesystem=fsys)
    arrays = []
    for _, dtype, phys in partition.columns:
        if phys in table.column_names:
            arrays.append(table[phys].combine_chunks())
            continue
        value = partition.partition_values.get(phys)
        arrays.append(
            pa.array([value] * len(table), pa.string()).cast(
                to_arrow_type(dtype)
            )
        )
    return pa.table(dict(zip([n for n, _, _ in partition.columns], arrays)))


_STREAM_READER_FEATURES = frozenset({"deletionVectors", "columnMapping"})


def _file_uri(path: str, ref: str) -> str:
    """Add paths may be RELATIVE (normal) or ABSOLUTE (shallow clones);
    mirror delta_log._data_uri without a JVM dependency."""
    import re

    if ref.startswith("/") or re.match(r"^[A-Za-z][\w+.-]*:", ref):
        return ref
    return f"{path}/{ref}"


def _check_streamable(path: str, proto: dict | None) -> None:
    """Reader-feature gating for the streaming sources — same refusal
    contract as the batch reader: a protocol demanding a feature this
    source does not implement must error, never silently misread."""
    if proto is None:
        return
    found = int(proto.get("minReaderVersion", 1))
    if found <= 1:
        return
    if found == 3:
        feats = proto.get("readerFeatures")
        unknown = set(feats or ()) - _STREAM_READER_FEATURES
        if feats is not None and not unknown:
            return
    raise ValueError(
        f"cannot stream delta table at {path}: protocol {proto} demands "
        f"reader features beyond {sorted(_STREAM_READER_FEATURES)}"
    )


def _resolve_meta_proto(path: str) -> tuple[dict, dict | None]:
    """Driver-side resolution of the table's current metaData +
    protocol: walk the JSON tail newest→oldest, falling back to the
    newest parquet checkpoint for tables whose early commits were
    removed by log cleanup."""
    from pyarrow import fs as pafs

    log_dir = f"{path}/_delta_log"
    versions = _list_log_versions(log_dir)
    if not versions:
        raise ValueError(f"no delta table at {path}")
    meta: dict | None = None
    proto: dict | None = None
    for v in reversed(versions):
        for action in _read_commit(log_dir, v):
            if meta is None and "metaData" in action:
                meta = action["metaData"]
            if proto is None and "protocol" in action:
                proto = action["protocol"]
        if meta is not None and proto is not None:
            break
    if meta is None or proto is None:
        import pyarrow.parquet as pq

        fsys, root = pafs.FileSystem.from_uri(log_dir)
        infos = fsys.get_file_info(pafs.FileSelector(root, recursive=False))
        import re as _re

        # classic single-file checkpoints, plus part 1 of multi-part
        # sets (the metadata actions live only in part 1 by the
        # engine's layout); the 20-digit version prefix keeps the
        # lexicographic sort version-ordered either way
        _part1 = _re.compile(
            r"\.checkpoint\.0000000001\.\d{10}\.parquet$"
        )
        # v2 (uuid-named) top files also hold the metadata actions
        _v2top = _re.compile(
            r"\.checkpoint\.[0-9a-zA-Z-]+\.parquet$"
        )
        ckpts = sorted(
            info.path
            for info in infos
            if info.base_name.endswith(".checkpoint.parquet")
            or _part1.search(info.base_name)
            or (
                _v2top.search(info.base_name)
                and not _re.search(r"\.\d{10}\.\d{10}\.parquet$", info.base_name)
            )
        )
        if ckpts:
            for row in pq.read_table(ckpts[-1], filesystem=fsys).to_pylist():
                if (
                    meta is None
                    and row.get("metaData") is not None
                    and row["metaData"].get("schemaString")
                ):
                    meta = dict(row["metaData"])
                    if isinstance(meta.get("configuration"), list):
                        meta["configuration"] = dict(meta["configuration"])
                if (
                    proto is None
                    and row.get("protocol") is not None
                    and row["protocol"].get("minReaderVersion") is not None
                ):
                    proto = {
                        k: v
                        for k, v in row["protocol"].items()
                        if v is not None
                    }
    if meta is None:
        raise ValueError(f"no metaData resolvable in the log at {path}")
    return meta, proto


def _resolve_fields(meta: dict) -> list[tuple]:
    """[(logical, Spark DataType, physical)] honoring columnMapping
    mode=name (physical == logical otherwise)."""
    from pyspark.sql.types import StructType

    mode = str(
        (meta.get("configuration") or {}).get("delta.columnMapping.mode", "")
    ).lower()
    out = []
    for f in StructType.fromJson(json.loads(meta["schemaString"])).fields:
        phys = f.name
        if mode == "name":
            phys = f.metadata.get("delta.columnMapping.physicalName", f.name)
        out.append((f.name, f.dataType, phys))
    return out


def _list_log_versions(log_dir: str) -> list[int]:
    """Driver-side listing of commit versions via pyarrow's filesystem
    (the source API has no JVM access; pyarrow spans file:// and
    hdfs:// the same way the engine's footer reads do)."""
    from pyarrow import fs as pafs

    fsys, root = pafs.FileSystem.from_uri(log_dir)
    try:
        infos = fsys.get_file_info(pafs.FileSelector(root, recursive=False))
    except FileNotFoundError:
        return []
    out = []
    for info in infos:
        name = info.base_name
        if name.endswith(".json") and name[:-5].isdigit():
            out.append(int(name[:-5]))
    return sorted(out)


def _read_commit(log_dir: str, version: int) -> list[dict]:
    from pyarrow import fs as pafs

    fsys, root = pafs.FileSystem.from_uri(f"{log_dir}/{version:020d}.json")
    with fsys.open_input_stream(root) as f:
        text = f.read().decode()
    return [json.loads(line) for line in text.splitlines() if line.strip()]


class DeltaLogStreamReader(DataSourceStreamReader):
    """Log-tailing stream reader: offsets are commit versions."""

    def __init__(self, options, schema_fields: list[tuple[str, str]]) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("delta_native_stream requires option 'path'")
        self.log_dir = f"{self.path}/_delta_log"
        self.starting = int(options.get("startingVersion", "0"))
        self.skip_change = (
            str(options.get("skipChangeCommits", "false")).lower() == "true"
        )
        meta, proto = _resolve_meta_proto(self.path)
        _check_streamable(self.path, proto)
        self.fields = _resolve_fields(meta)  # (logical, ddl, physical)

    def initialOffset(self) -> dict:
        return {"version": self.starting - 1}

    def latestOffset(self) -> dict:
        versions = _list_log_versions(self.log_dir)
        if not versions:
            raise ValueError(f"no delta table at {self.path}")
        return {"version": versions[-1]}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["version"]), int(end["version"])
        available = set(_list_log_versions(self.log_dir))
        want = set(range(lo + 1, hi + 1))
        if not want <= available:
            raise ValueError(
                f"streaming range ({lo}, {hi}] of {self.path} is no "
                f"longer reconstructible: commits "
                f"{sorted(want - available)} were removed by log cleanup"
            )
        parts: list[_AddFilePartition] = []
        for v in sorted(want):
            actions = _read_commit(self.log_dir, v)
            for a in actions:
                if "protocol" in a:
                    # a mid-stream protocol upgrade must gate too
                    _check_streamable(self.path, a["protocol"])
            adds = [
                a["add"]
                for a in actions
                if "add" in a and a["add"].get("dataChange", True)
            ]
            data_removes = any(
                "remove" in a and a["remove"].get("dataChange", True)
                for a in actions
            )
            dv_adds = any(a.get("deletionVector") for a in adds)
            if data_removes or dv_adds:
                # not an append: overwrite/DML/DV re-stamp — delta-spark
                # semantics: error unless told to skip the whole commit
                if self.skip_change:
                    continue
                raise ValueError(
                    f"commit {v} of {self.path} updates or deletes live "
                    "rows; an append-only stream cannot represent it "
                    "(set skipChangeCommits=true to skip such commits)"
                )
            parts.extend(
                _AddFilePartition(
                    _file_uri(self.path, a["path"]),
                    self.fields,
                    a.get("partitionValues"),
                )
                for a in adds
            )
        # a range of pure layout/skipped commits still needs ≥1 (empty)
        # partition — the API requires a non-empty plan
        return parts or [_AddFilePartition("", self.fields)]

    def read(self, partition: _AddFilePartition):
        table = _read_logical(partition)
        return iter(()) if table is None else iter(table.to_batches())

    def commit(self, end: dict) -> None:
        pass  # the log IS the ledger; nothing external to acknowledge


class DeltaLogStreamSource(DataSource):
    """``spark.readStream.format("delta_native_stream").option("path", t)``"""

    @classmethod
    def name(cls) -> str:
        return "delta_native_stream"

    def schema(self) -> str:
        # resolve the current metaData driver-side (JSON tail, parquet
        # checkpoint fallback for cleaned logs) and gate on the table's
        # protocol before any data moves
        path = self.options.get("path")
        if not path:
            raise ValueError("delta_native_stream requires option 'path'")
        meta, proto = _resolve_meta_proto(path)
        _check_streamable(path, proto)
        return ", ".join(
            f"{n} {t.simpleString()}" for n, t, _ in _resolve_fields(meta)
        )

    def streamReader(self, schema):
        return DeltaLogStreamReader(self.options, None)


class _CdfFilePartition(_AddFilePartition):
    def __init__(
        self,
        abs_path: str,
        columns: list[tuple],
        version: int,
        ctype: str | None,
        partition_values: dict | None = None,
    ) -> None:
        super().__init__(abs_path, columns, partition_values)
        self.version = version
        self.ctype = ctype  # None → the cdc file carries _change_type


class DeltaCdfStreamReader(DataSourceStreamReader):
    """Change-feed tailing: each micro-batch emits the commits' exact
    change rows (insert / delete / update_preimage / update_postimage)
    tagged with their commit version — the streaming twin of
    delta_read_cdf. DML commits stream from their ``_change_data``
    files (O(changes)); insert-only commits derive from their adds;
    layout commits emit nothing; a change commit without cdc actions
    raises (enable delta.enableChangeDataFeed)."""

    def __init__(self, options, schema_fields: list[tuple[str, str]]) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("delta_native_cdf_stream requires option 'path'")
        self.log_dir = f"{self.path}/_delta_log"
        self.starting = int(options.get("startingVersion", "1"))
        meta, proto = _resolve_meta_proto(self.path)
        _check_streamable(self.path, proto)
        self.fields = _resolve_fields(meta)  # (logical, ddl, physical)

    def initialOffset(self) -> dict:
        return {"version": self.starting - 1}

    def latestOffset(self) -> dict:
        versions = _list_log_versions(self.log_dir)
        if not versions:
            raise ValueError(f"no delta table at {self.path}")
        return {"version": versions[-1]}

    def partitions(self, start: dict, end: dict):
        from pyspark.sql.types import StringType

        lo, hi = int(start["version"]), int(end["version"])
        available = set(_list_log_versions(self.log_dir))
        want = set(range(lo + 1, hi + 1))
        if not want <= available:
            raise ValueError(
                f"CDF streaming range ({lo}, {hi}] of {self.path} is no "
                f"longer reconstructible: commits "
                f"{sorted(want - available)} were removed by log cleanup"
            )
        parts: list[_CdfFilePartition] = []
        # cdc files are staged from LOGICAL-name frames and carry their
        # own _change_type; data files hold physical names — each
        # partition carries the right lookup names
        cdc_cols = [(n, t, n) for n, t, _ in self.fields] + [
            ("_change_type", StringType(), "_change_type")
        ]
        for v in sorted(want):
            actions = _read_commit(self.log_dir, v)
            for a in actions:
                if "protocol" in a:
                    _check_streamable(self.path, a["protocol"])
            cdc = [a["cdc"]["path"] for a in actions if "cdc" in a]
            adds = [
                a["add"]
                for a in actions
                if "add" in a and a["add"].get("dataChange", True)
            ]
            changes = any(
                "remove" in a and a["remove"].get("dataChange", True)
                for a in actions
            ) or any(a.get("deletionVector") for a in adds)
            if cdc:
                parts.extend(
                    _CdfFilePartition(
                        _file_uri(self.path, c), cdc_cols, v, None
                    )
                    for c in cdc
                )
            elif changes:
                raise ValueError(
                    f"commit {v} of {self.path} changes live rows without "
                    "cdc actions; enable delta.enableChangeDataFeed for "
                    "an exact streaming feed"
                )
            else:
                parts.extend(
                    _CdfFilePartition(
                        _file_uri(self.path, a["path"]),
                        self.fields,
                        v,
                        "insert",
                        a.get("partitionValues"),
                    )
                    for a in adds
                )
        return parts or [_CdfFilePartition("", self.fields, 0, "insert")]

    def read(self, partition: _CdfFilePartition):
        import pyarrow as pa

        table = _read_logical(partition)
        if table is None:
            return iter(())
        n = len(table)
        if partition.ctype is not None:
            table = table.append_column(
                "_change_type", pa.array([partition.ctype] * n, pa.string())
            )
        table = table.append_column(
            "_commit_version", pa.array([partition.version] * n, pa.int64())
        )
        return iter(table.to_batches())

    def commit(self, end: dict) -> None:
        pass


class DeltaCdfStreamSource(DataSource):
    """``spark.readStream.format("delta_native_cdf_stream")``"""

    @classmethod
    def name(cls) -> str:
        return "delta_native_cdf_stream"

    def schema(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("delta_native_cdf_stream requires option 'path'")
        meta, proto = _resolve_meta_proto(path)
        _check_streamable(path, proto)
        cols = ", ".join(
            f"{n} {t.simpleString()}" for n, t, _ in _resolve_fields(meta)
        )
        return cols + ", _change_type string, _commit_version long"

    def streamReader(self, schema):
        return DeltaCdfStreamReader(self.options, None)


def register_delta_stream_source(spark: SparkSession) -> None:
    spark.dataSource.register(DeltaLogStreamSource)
    spark.dataSource.register(DeltaCdfStreamSource)


# ---------------------------------------------------------------------------
# Registered query


def delta_stream_incremental_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """End-to-end log tailing: four append commits land disjoint orders
    slices (plus an OPTIMIZE between them that must contribute ZERO
    rows — its adds are dataChange=false rewrites), the stream drains
    with availableNow through a foreachBatch sink, and the grouped
    totals equal plain SQL over ALL orders: any double-read (optimize
    rewrite streamed) or drop (append missed) breaks the counts."""
    from ..session import configure_session
    from ..tables import load_table
    from .delta_log import delta_optimize, delta_write

    configure_session(spark)
    register_delta_stream_source(spark)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    table = tempfile.mkdtemp(prefix="ls_delta_src_")
    delta_write(o.where("o_orderkey % 4 = 0"), table, mode="overwrite")
    delta_write(o.where("o_orderkey % 4 = 1"), table, mode="append")
    delta_optimize(spark, table)  # layout-only: must stream nothing
    delta_write(o.where("o_orderkey % 4 = 2"), table, mode="append")
    delta_write(o.where("o_orderkey % 4 = 3"), table, mode="append")
    stream = (
        spark.readStream.format("delta_native_stream")
        .option("path", table)
        .load()
    )
    out_dir = tempfile.mkdtemp(prefix="ls_delta_src_out_")
    q = (
        stream.writeStream.foreachBatch(
            lambda batch_df, batch_id: batch_df.write.mode("append").parquet(
                out_dir
            )
        )
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            tempfile.mkdtemp(prefix="ls_delta_src_ckpt_"),
        )
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out_dir)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("o_orderstatus")
    )


def delta_stream_cdf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Change Data Feed: a CDF-enabled table takes an insert
    load (v0), a DELETE (v1), an OPTIMIZE (v2 — must stream NOTHING),
    and an UPDATE (v3); tailing the feed from version 0 emits exactly
    the insert rows plus the DML images tagged with their commit
    versions. Grouped per (version, change type) — any layout leak,
    missed image, or double delivery breaks the ledger."""
    import tempfile

    from ..session import configure_session
    from ..tables import load_table
    from .delta_log import (
        delta_delete,
        delta_optimize,
        delta_update,
        delta_write,
    )

    configure_session(spark)
    register_delta_stream_source(spark)
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
    )
    table = tempfile.mkdtemp(prefix="ls_cdfstream_")
    delta_write(
        c.repartition(4),
        table,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    delta_delete(spark, table, "c_custkey % 7 = 0")
    delta_optimize(spark, table)
    delta_update(
        spark, table, "c_custkey % 5 = 0", {"cents": F.col("cents") + 100}
    )
    stream = (
        spark.readStream.format("delta_native_cdf_stream")
        .option("path", table)
        .option("startingVersion", "0")
        .load()
    )
    out_dir = tempfile.mkdtemp(prefix="ls_cdfstream_out_")
    q = (
        stream.writeStream.foreachBatch(
            lambda b, _id: b.write.mode("append").parquet(out_dir)
        )
        .trigger(availableNow=True)
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="ls_cdfstream_ck_")
        )
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out_dir)
        .groupBy("_commit_version", "_change_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("_commit_version", "_change_type")
    )


QUERIES: list[QueryDef] = [
    QueryDef(
        "delta_stream_cdf_ingest",
        delta_stream_cdf_ingest,
        """
        WITH base AS (
          SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS cents
          FROM customer),
        deleted AS (SELECT * FROM base WHERE c_custkey % 7 = 0),
        updated AS (SELECT * FROM base
                    WHERE c_custkey % 5 = 0 AND c_custkey % 7 <> 0)
        SELECT CAST(0 AS BIGINT) AS _commit_version,
               'insert' AS _change_type,
               COUNT(*) AS n_rows, CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM base
        UNION ALL
        SELECT CAST(1 AS BIGINT), 'delete', COUNT(*),
               CAST(SUM(cents) AS BIGINT)
        FROM deleted
        UNION ALL
        SELECT CAST(3 AS BIGINT), 'update_postimage', COUNT(*),
               CAST(SUM(cents + 100) AS BIGINT)
        FROM updated
        UNION ALL
        SELECT CAST(3 AS BIGINT), 'update_preimage', COUNT(*),
               CAST(SUM(cents) AS BIGINT)
        FROM updated
        ORDER BY _commit_version, _change_type
        """,
        tags=("parity", "streaming", "delta", "io", "cdc"),
        description="Streaming Change Data Feed over the native log: "
        "cdc files stream per commit, insert-only commits derive from "
        "adds, OPTIMIZE streams nothing.",
    ),
    QueryDef(
        "delta_stream_incremental_ingest",
        delta_stream_incremental_ingest,
        """
        SELECT o_orderstatus, COUNT(*) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM orders
        GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
        tags=("parity", "streaming", "delta", "io"),
        description="Streaming SOURCE over the native Delta log: commit "
        "versions as offsets, one added file per input partition, "
        "Arrow-batch executor reads; OPTIMIZE commits stream nothing.",
    ),
]
