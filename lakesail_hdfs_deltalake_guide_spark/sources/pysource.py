"""Custom connector via the Spark 4 Python Data Source API.

The reference's source surface is file formats on HDFS (SURVEY.md §2.1);
a real engine also needs *custom* connectors — queues, services, synthetic
generators. Spark 4's Python DataSource API is the idiomatic extension
point: the planner asks the source for ``partitions()`` (parallel splits),
pushes supported predicates into ``pushFilters`` (scan-side pruning — the
same contract a parquet scan honors), and runs ``read(partition)`` on
executors.

The source here generates the engine's deterministic Lehmer-hash stream
``(i, h = (i·48271 + 11) mod 2^31-1, bucket = h mod 97)`` — pure
arithmetic, so every query over it has a bit-exact DuckDB oracle over
``range(n)``, making the *connector machinery itself* (split planning,
filter pushdown, schema projection) the thing under test.

Scale posture: ``partitions()`` splits the id range evenly, so reads
parallelize across executors like any file scan; an ``EqualTo(bucket)``
predicate is consumed in ``pushFilters`` and applied inside the generator
— rows are dropped at the source, never materialized, shuffled, or sent
to the driver (the Python-source analogue of parquet row-group pruning).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    EqualTo,
    InputPartition,
    WriterCommitMessage,
)

from ..querydef import QueryDef

_M = 2147483647
_A = 48271
_C = 11
_NBUCKETS = 97

SOURCE_ROWS = 50_000
SOURCE_PARTS = 8
FILTER_BUCKET = 7


class _IdRange(InputPartition):
    def __init__(self, start: int, end: int) -> None:
        self.start = start
        self.end = end


class LehmerReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.n = int(options.get("n", str(SOURCE_ROWS)))
        self.num_parts = int(options.get("partitions", str(SOURCE_PARTS)))
        self.bucket_eq: int | None = None

    def pushFilters(self, filters):
        """Consume EqualTo(bucket) — pruning happens inside read() — and
        hand every other predicate back to Spark to evaluate post-scan."""
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("bucket",):
                self.bucket_eq = int(f.value)
            else:
                yield f

    def partitions(self):
        step = -(-self.n // self.num_parts)
        return [
            _IdRange(s, min(s + step, self.n)) for s in range(0, self.n, step)
        ]

    def read(self, partition: _IdRange):
        eq = self.bucket_eq
        for i in range(partition.start, partition.end):
            h = (i * _A + _C) % _M
            b = h % _NBUCKETS
            if eq is not None and b != eq:
                continue
            yield (i, h, b)


class LehmerStreamReader(DataSourceStreamReader):
    """Partitioned streaming reader over the same id space.

    Offsets are positions in the id sequence (``{"i": N}``); each
    micro-batch covers ``[start.i, end.i)``, which ``partitions()``
    splits into parallel ranges read on executors — the full
    DataSourceStreamReader contract (offset tracking, split planning,
    executor-side reads, commit), not the driver-side
    SimpleDataSourceStreamReader shortcut, so read throughput scales
    with the cluster exactly like the batch reader."""

    def __init__(self, options) -> None:
        self.n = int(options.get("n", str(SOURCE_ROWS)))
        self.num_parts = int(options.get("partitions", str(SOURCE_PARTS)))

    def initialOffset(self) -> dict:
        return {"i": 0}

    def latestOffset(self) -> dict:
        # the synthetic stream is fully available; availableNow drains it
        # in one deterministic batch (real sources advance this per poll)
        return {"i": self.n}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["i"]), int(end["i"])
        span = max(hi - lo, 1)
        step = -(-span // self.num_parts)
        return [
            _IdRange(s, min(s + step, hi)) for s in range(lo, hi, step)
        ] or [_IdRange(lo, hi)]

    def read(self, partition: _IdRange):
        for i in range(partition.start, partition.end):
            h = (i * _A + _C) % _M
            yield (i, h, h % _NBUCKETS)

    def commit(self, end: dict) -> None:
        pass  # offsets are derivable; nothing external to acknowledge


class LehmerDataSource(DataSource):
    """``spark.read.format("lehmer_source").option("n", ...).load()``"""

    @classmethod
    def name(cls) -> str:
        return "lehmer_source"

    def schema(self) -> str:
        return "i bigint, h bigint, bucket bigint"

    def reader(self, schema):
        return LehmerReader(self.options)

    def streamReader(self, schema):
        return LehmerStreamReader(self.options)


# ---------------------------------------------------------------------------
# Custom sink: two-phase-commit JSONL audit writer

@dataclass
class _AuditCommit(WriterCommitMessage):
    staged: str
    rows: int


class AuditJsonlWriter(DataSourceWriter):
    """Executor tasks stage a JSONL file each; the driver's ``commit``
    publishes them atomically (stage → rename + manifest), ``abort``
    discards the staging dir — the same speculation-safe two-phase
    protocol FileFormatWriter / Delta commits use: a reader never
    observes a half-written table, failed/duplicate task attempts leave
    only unreferenced staged files.

    Multi-write safety: published names carry the per-job uuid (an
    append never renames onto another commit's files), the staging dir
    is per-job (a concurrent writer's in-flight files are untouchable),
    ``mode("append")`` accumulates the ``_SUCCESS`` row count, and
    ``mode("overwrite")`` retracts previously published parts inside the
    same commit.

    File ops route through ``pyarrow.fs.FileSystem.from_uri`` so the
    identical code serves ``file://`` here and an HDFS URI on the
    reference's deployment (pyarrow's HadoopFileSystem — not installable
    in this sandbox, same degradation note as SCALE.md's Delta entry).
    """

    def __init__(self, options, overwrite: bool) -> None:
        import uuid

        self.path = options.get("path")
        if not self.path:
            raise ValueError("audit_jsonl sink requires .option('path', ...)")
        self.overwrite = overwrite
        self.job_id = uuid.uuid4().hex

    def _fs(self):
        from pyarrow import fs as pafs

        return pafs.FileSystem.from_uri(self.path)

    @property
    def _staging(self) -> str:
        return f"_staging-{self.job_id}"

    def write(self, rows) -> _AuditCommit:
        import json
        import uuid

        filesystem, root = self._fs()
        staging = f"{root}/{self._staging}"
        filesystem.create_dir(staging, recursive=True)
        staged = f"{staging}/part-{uuid.uuid4().hex}.jsonl"
        n = 0
        with filesystem.open_output_stream(staged) as out:
            for row in rows:
                out.write((json.dumps(row.asDict()) + "\n").encode())
                n += 1
        return _AuditCommit(staged=staged, rows=n)

    def commit(self, messages) -> None:
        import json

        from pyarrow import fs as pafs

        filesystem, root = self._fs()
        prior = 0
        if self.overwrite:
            # retract previously published parts before exposing the new
            # generation (the one non-atomic window; a transaction log
            # like sources/delta_log.py closes it — out of scope here)
            for info in filesystem.get_file_info(
                pafs.FileSelector(root, allow_not_found=True)
            ):
                base = info.path.rsplit("/", 1)[-1]
                if base.startswith("part-") and base.endswith(".jsonl"):
                    filesystem.delete_file(info.path)
        else:
            try:
                with filesystem.open_input_stream(f"{root}/_SUCCESS") as inp:
                    prior = json.loads(inp.read().decode()).get("rows", 0)
            except (FileNotFoundError, OSError):
                prior = 0
        total = prior
        for i, m in enumerate(messages):
            filesystem.move(m.staged, f"{root}/part-{self.job_id}-{i:05d}.jsonl")
            total += m.rows
        with filesystem.open_output_stream(f"{root}/_SUCCESS") as out:
            out.write(json.dumps({"rows": total}).encode())
        filesystem.delete_dir_contents(
            f"{root}/{self._staging}", missing_dir_ok=True
        )
        filesystem.delete_dir(f"{root}/{self._staging}")

    def abort(self, messages) -> None:
        filesystem, root = self._fs()
        filesystem.delete_dir_contents(
            f"{root}/{self._staging}", missing_dir_ok=True
        )


class AuditJsonlDataSource(DataSource):
    """``df.write.format("audit_jsonl").option("path", ...).save()``"""

    @classmethod
    def name(cls) -> str:
        return "audit_jsonl"

    def writer(self, schema, overwrite: bool):
        return AuditJsonlWriter(self.options, overwrite)


def register_lehmer_source(spark: SparkSession) -> None:
    spark.dataSource.register(LehmerDataSource)
    spark.dataSource.register(AuditJsonlDataSource)


def _source(spark: SparkSession) -> DataFrame:
    from ..session import configure_session

    configure_session(spark)  # python filterPushdown conf on vanilla sessions
    register_lehmer_source(spark)
    return (
        spark.read.format("lehmer_source")
        .option("n", str(SOURCE_ROWS))
        .option("partitions", str(SOURCE_PARTS))
        .load()
    )


def pysource_lehmer_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-scan aggregate over the custom source (97-bucket histogram)."""
    return (
        _source(spark)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("h").alias("sum_h"))
        .orderBy("bucket")
    )


def pysource_lehmer_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective read exercising the pushFilters path: the bucket
    predicate is consumed by the source and pruned at generation."""
    return (
        _source(spark)
        .where(F.col("bucket") == FILTER_BUCKET)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("i").alias("sum_i"),
            F.min("h").alias("min_h"),
            F.max("h").alias("max_h"),
        )
    )


def pysource_stream_lehmer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the custom streaming source with availableNow through a
    foreachBatch Parquet sink (the engine's standard distributed drain —
    streaming/events.py rationale), then aggregate: the streaming read
    path must produce exactly the batch reader's rows."""
    import tempfile

    from ..session import configure_session

    configure_session(spark)
    register_lehmer_source(spark)
    stream = (
        spark.readStream.format("lehmer_source")
        .option("n", str(SOURCE_ROWS))
        .option("partitions", str(SOURCE_PARTS))
        .load()
    )
    out_dir = tempfile.mkdtemp(prefix="ls_pysrc_stream_")
    q = (
        stream.writeStream.foreachBatch(
            lambda batch_df, batch_id: batch_df.write.mode("append").parquet(
                out_dir
            )
        )
        .trigger(availableNow=True)
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="ls_pysrc_ckpt_")
        )
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out_dir)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("h").alias("sum_h"))
        .orderBy("bucket")
    )


def pysource_audit_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write documents through the two-phase-commit JSONL sink, read the
    published files back, and aggregate — proving the sink publishes
    exactly the rows the tasks staged (nothing lost, nothing doubled by
    the commit protocol)."""
    import tempfile

    from ..session import configure_session
    from ..tables import load_table

    configure_session(spark)
    register_lehmer_source(spark)
    out = tempfile.mkdtemp(prefix="ls_audit_")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d.write.format("audit_jsonl").option("path", out).mode("append").save()
    back = spark.read.json(f"{out}/part-*.jsonl")
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("doc_id").alias("n_distinct_docs"),
        )
        .orderBy("lang")
    )


_GEN = f"""
(SELECT i, (i * {_A} + {_C}) % {_M} AS h,
        ((i * {_A} + {_C}) % {_M}) % {_NBUCKETS} AS bucket
 FROM range({SOURCE_ROWS}) t(i))
"""

QUERIES: list[QueryDef] = [
    QueryDef(
        "pysource_lehmer_histogram",
        pysource_lehmer_histogram,
        f"""
        SELECT bucket, COUNT(*) AS n_rows, CAST(SUM(h) AS BIGINT) AS sum_h
        FROM {_GEN} GROUP BY bucket ORDER BY bucket
        """,
        tags=("extension", "sources", "pysource"),
        description="Custom Python DataSource: partitioned synthetic scan "
        "+ aggregate, bit-exact oracle.",
    ),
    QueryDef(
        "pysource_lehmer_filtered",
        pysource_lehmer_filtered,
        f"""
        SELECT COUNT(*) AS n_rows, CAST(SUM(i) AS BIGINT) AS sum_i,
               CAST(MIN(h) AS BIGINT) AS min_h, CAST(MAX(h) AS BIGINT) AS max_h
        FROM {_GEN} WHERE bucket = {FILTER_BUCKET}
        """,
        tags=("extension", "sources", "pysource"),
        description="Custom Python DataSource with EqualTo filter pushdown "
        "consumed at the generator.",
    ),
    QueryDef(
        "pysource_stream_lehmer_counts",
        pysource_stream_lehmer_counts,
        f"""
        SELECT bucket, COUNT(*) AS n_rows, CAST(SUM(h) AS BIGINT) AS sum_h
        FROM {_GEN} GROUP BY bucket ORDER BY bucket
        """,
        tags=("extension", "sources", "pysource", "streaming"),
        description="Custom streaming DataSource (offsets, split planning, "
        "executor reads) drained via availableNow ≡ batch reader.",
    ),
    QueryDef(
        "pysource_audit_write_roundtrip",
        pysource_audit_write_roundtrip,
        """
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct_docs
        FROM documents GROUP BY lang ORDER BY lang
        """,
        tags=("extension", "sources", "pysource", "io"),
        description="Two-phase-commit custom JSONL sink: stage → publish "
        "→ read-back equals the source exactly.",
    ),
]
