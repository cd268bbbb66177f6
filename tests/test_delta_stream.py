"""Contracts for the native-Delta streaming SOURCE (log tailing):
offset resumption across restarts, dataChange discipline, schema
evolution conformance, startingVersion."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
    delta_delete_dv,
    delta_optimize,
    delta_write,
)
from lakesail_hdfs_deltalake_guide_spark.sources.delta_stream import (
    register_delta_stream_source,
)


def _drain(spark, table: str, out_dir: str, ckpt: str, **opts) -> None:
    reader = spark.readStream.format("delta_native_stream").option(
        "path", table
    )
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.foreachBatch(
            lambda b, _id: b.write.mode("append").parquet(out_dir)
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()


def _ids(spark, out_dir: str) -> list[int]:
    return sorted(r["id"] for r in spark.read.parquet(out_dir).collect())


def test_stream_resumes_from_checkpoint(spark):
    """availableNow drains the log, new appends land, a restart with the
    SAME checkpoint ingests ONLY the new commits — the log versions are
    the offset ledger, so nothing is re-read or missed."""
    register_delta_stream_source(spark)
    table = tempfile.mkdtemp(prefix="ls_ds_resume_")
    df = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    delta_write(df.where("id < 40"), table, mode="overwrite")
    delta_write(df.where("id >= 40 AND id < 70"), table, mode="append")
    out = tempfile.mkdtemp(prefix="ls_ds_out_")
    ckpt = tempfile.mkdtemp(prefix="ls_ds_ckpt_")
    _drain(spark, table, out, ckpt)
    assert _ids(spark, out) == list(range(70))
    delta_write(df.where("id >= 70"), table, mode="append")
    _drain(spark, table, out, ckpt)  # same checkpoint: resumes at v2
    assert _ids(spark, out) == list(range(100)), "restart must not re-read"


def test_stream_optimize_contributes_nothing(spark):
    """dataChange=false layout commits (OPTIMIZE) must stream zero rows
    even though they carry add actions."""
    register_delta_stream_source(spark)
    table = tempfile.mkdtemp(prefix="ls_ds_opt_")
    df = spark.range(50).select(F.col("id"))
    delta_write(df.repartition(4), table)
    delta_optimize(spark, table)
    out = tempfile.mkdtemp(prefix="ls_ds_opt_out_")
    _drain(spark, table, out, tempfile.mkdtemp(prefix="ls_ds_opt_ck_"))
    assert _ids(spark, out) == list(range(50))


def test_stream_change_commit_errors_unless_skipped(spark):
    """A commit that deletes live rows (here a DV delete) cannot be
    expressed as an append feed: the stream must raise — and with
    skipChangeCommits=true skip the commit wholesale, delta-spark's
    documented semantics."""
    import pytest

    register_delta_stream_source(spark)
    table = tempfile.mkdtemp(prefix="ls_ds_chg_")
    df = spark.range(60).select(F.col("id"), (F.col("id") * 2).alias("v"))
    delta_write(df.where("id < 30"), table, stats_cols=["id"])
    delta_delete_dv(spark, table, "id % 5 = 0")  # v1: change commit
    delta_write(df.where("id >= 30"), table, mode="append")  # v2
    out = tempfile.mkdtemp(prefix="ls_ds_chg_out_")
    with pytest.raises(Exception, match="skipChangeCommits"):
        _drain(
            spark, table, out, tempfile.mkdtemp(prefix="ls_ds_chg_ck1_")
        )
    out2 = tempfile.mkdtemp(prefix="ls_ds_chg_out2_")
    _drain(
        spark,
        table,
        out2,
        tempfile.mkdtemp(prefix="ls_ds_chg_ck2_"),
        skipChangeCommits="true",
    )
    # v0 and v2 stream in full; the DV commit is skipped entirely (its
    # deletions are invisible to the append feed — documented semantics)
    assert _ids(spark, out2) == list(range(60))


def test_stream_schema_evolution_conforms_old_files(spark):
    """Files written before a schema evolution stream back with typed
    nulls in the evolved column, pinned to the declared column order."""
    register_delta_stream_source(spark)
    table = tempfile.mkdtemp(prefix="ls_ds_evo_")
    df = spark.range(20).select(F.col("id"))
    delta_write(df, table)
    evolved = spark.range(20, 30).select(
        F.col("id"), F.lit("tag").alias("label")
    )
    delta_write(evolved, table, mode="append", merge_schema=True)
    out = tempfile.mkdtemp(prefix="ls_ds_evo_out_")
    _drain(spark, table, out, tempfile.mkdtemp(prefix="ls_ds_evo_ck_"))
    back = spark.read.parquet(out)
    assert back.columns == ["id", "label"]
    rows = {r["id"]: r["label"] for r in back.collect()}
    assert sorted(rows) == list(range(30))
    assert all(rows[i] is None for i in range(20))
    assert all(rows[i] == "tag" for i in range(20, 30))


def test_stream_starting_version(spark):
    """startingVersion skips the table's history below it — the
    latest-only ingest delta-spark exposes the same way."""
    register_delta_stream_source(spark)
    table = tempfile.mkdtemp(prefix="ls_ds_sv_")
    df = spark.range(40).select(F.col("id"))
    delta_write(df.where("id < 20"), table)  # v0
    delta_write(df.where("id >= 20"), table, mode="append")  # v1
    out = tempfile.mkdtemp(prefix="ls_ds_sv_out_")
    _drain(
        spark,
        table,
        out,
        tempfile.mkdtemp(prefix="ls_ds_sv_ck_"),
        startingVersion="1",
    )
    assert _ids(spark, out) == list(range(20, 40))


def test_cdf_stream_resumes_and_refuses_uncdc_changes(spark):
    """The CDF stream resumes from its checkpoint (only NEW commits'
    images on a second drain) and refuses a change commit that carries
    no cdc actions (non-CDF table) rather than misreporting it."""
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_delete,
        delta_update,
    )

    table = tempfile.mkdtemp(prefix="ls_ds_cdf_")
    df = spark.range(60).select(F.col("id"), (F.col("id") * 2).alias("v"))
    delta_write(
        df,
        table,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    delta_delete(spark, table, "id % 6 = 0")  # v1
    out = tempfile.mkdtemp(prefix="ls_ds_cdf_out_")
    ckpt = tempfile.mkdtemp(prefix="ls_ds_cdf_ck_")

    def drain():
        q = (
            spark.readStream.format("delta_native_cdf_stream")
            .option("path", table)
            .option("startingVersion", "0")
            .load()
            .writeStream.foreachBatch(
                lambda b, _id: b.write.mode("append").parquet(out)
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()

    drain()
    got = spark.read.parquet(out)
    assert got.where("_change_type = 'insert'").count() == 60
    assert sorted(
        r["id"] for r in got.where("_change_type = 'delete'").collect()
    ) == [i for i in range(60) if i % 6 == 0]
    # second drain after one more DML: only v2's images arrive
    delta_update(spark, table, "id % 7 = 1", {"v": F.col("v") + 5})
    drain()
    got = spark.read.parquet(out)
    assert got.count() == 60 + 10 + 2 * len(
        [i for i in range(60) if i % 7 == 1 and i % 6 != 0]
    )
    # non-CDF table with a DML commit: the stream refuses
    table2 = tempfile.mkdtemp(prefix="ls_ds_nocdf2_")
    delta_write(df, table2)
    delta_delete(spark, table2, "id < 5")
    with pytest.raises(Exception, match="enableChangeDataFeed"):
        q = (
            spark.readStream.format("delta_native_cdf_stream")
            .option("path", table2)
            .option("startingVersion", "0")
            .load()
            .writeStream.foreachBatch(lambda b, _id: None)
            .trigger(availableNow=True)
            .option(
                "checkpointLocation",
                tempfile.mkdtemp(prefix="ls_ds_nocdf_ck_"),
            )
            .start()
        )
        q.awaitTermination()


def test_stream_reads_column_mapped_and_cloned_tables(spark):
    """Regression: the stream must translate physical col-<uuid> file
    names back to logical columns (a silent all-null read otherwise)
    and resolve shallow-clone ABSOLUTE file references; a table
    demanding an unimplemented reader feature must refuse to stream."""
    import os

    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_clone,
    )

    register_delta_stream_source(spark)
    # column-mapped table: values must come through, not nulls
    table = tempfile.mkdtemp(prefix="ls_ds_cm_")
    df = spark.range(30).select(F.col("id"), (F.col("id") * 3).alias("v"))
    delta_write(
        df, table, configuration={"delta.columnMapping.mode": "name"}
    )
    out = tempfile.mkdtemp(prefix="ls_ds_cm_out_")
    _drain(spark, table, out, tempfile.mkdtemp(prefix="ls_ds_cm_ck_"))
    rows = {r["id"]: r["v"] for r in spark.read.parquet(out).collect()}
    assert rows == {i: i * 3 for i in range(30)}
    # shallow clone: absolute references stream too
    dst = tempfile.mkdtemp(prefix="ls_ds_cl_")
    os.rmdir(dst)
    src_t = tempfile.mkdtemp(prefix="ls_ds_clsrc_")
    delta_write(df, src_t)
    delta_clone(spark, src_t, dst)
    out2 = tempfile.mkdtemp(prefix="ls_ds_cl_out_")
    _drain(spark, dst, out2, tempfile.mkdtemp(prefix="ls_ds_cl_ck_"))
    assert _ids(spark, out2) == list(range(30))
    # unimplemented reader feature: refuse at load time
    bad = tempfile.mkdtemp(prefix="ls_ds_bad_")
    delta_write(df, bad)
    delta_log._write_commit(
        spark,
        bad,
        1,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["typeWidening"],
                    "writerFeatures": ["typeWidening"],
                }
            }
        ],
    )
    with pytest.raises(Exception, match="typeWidening|reader features"):
        spark.readStream.format("delta_native_stream").option(
            "path", bad
        ).load()


def test_streams_fill_partition_values_and_evolved_dates(spark):
    """Both streaming sources conform files the way the batch readers
    do: hive partition columns come from each add's partitionValues,
    typed like the schema (not NULL), and a ``date`` column added by
    schema evolution reads back as typed nulls in older files."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_read,
        delta_read_cdf,
    )

    register_delta_stream_source(spark)
    table = tempfile.mkdtemp(prefix="ls_ds_part_")
    df = spark.range(12).select(
        F.col("id"), (F.col("id") % 3).cast("int").alias("p")
    )
    delta_write(
        df,
        table,
        partition_by=["p"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    evolved = spark.range(12, 16).select(
        F.col("id"),
        (F.col("id") % 3).cast("int").alias("p"),
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int"))
        .alias("d"),
    )
    delta_write(evolved, table, mode="append", merge_schema=True)

    out = tempfile.mkdtemp(prefix="ls_ds_part_out_")
    _drain(spark, table, out, tempfile.mkdtemp(prefix="ls_ds_part_ck_"))
    got = spark.read.parquet(out)
    assert got.columns == ["id", "p", "d"]
    assert dict(got.dtypes) == {"id": "bigint", "p": "int", "d": "date"}
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, delta_read(spark, table).collect())
    )

    cdf_out = tempfile.mkdtemp(prefix="ls_ds_part_cdf_out_")
    q = (
        spark.readStream.format("delta_native_cdf_stream")
        .option("path", table)
        .option("startingVersion", "0")
        .load()
        .writeStream.foreachBatch(
            lambda b, _id: b.write.mode("append").parquet(cdf_out)
        )
        .trigger(availableNow=True)
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="ls_ds_part_cdf_ck_")
        )
        .start()
    )
    q.awaitTermination()
    cols = ["id", "p", "d", "_change_type", "_commit_version"]
    streamed = spark.read.parquet(cdf_out).select(*cols)
    batch = delta_read_cdf(spark, table, 0).select(*cols)
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )
    assert streamed.where("p IS NULL").count() == 0
