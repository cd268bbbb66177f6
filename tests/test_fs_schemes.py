"""Hadoop-FS scheme generality: the delta_log transaction log and its
DML must behave identically on any configured FileSystem, not just
``file://`` (the reference deploys on Kerberized ``hdfs://``,
``/root/reference/hadoop-kerberos/config/core-site.xml:6-8``; no live
cluster exists in-sandbox).

``viewfs://`` is the stand-in: Hadoop's client-side mount table is a real
non-local FileSystem with its own scheme + authority whose paths resolve
through URI qualification, so it exercises exactly the code that breaks
when a path is string-split instead of URI-relativized (staging-file
publish, rename-commit, log listing) — while physically backed by a local
directory. Each test mounts a fresh mount table (unique authority), since
Hadoop caches FileSystem instances per (scheme, authority) with the conf
captured at first use.
"""

from __future__ import annotations

import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
    delta_delete,
    delta_live_adds,
    delta_merge,
    delta_read,
    delta_write,
)
from lakesail_hdfs_deltalake_guide_spark.tables import load_table

SCHEMES = ("file", "viewfs")


def _table_path(spark, scheme: str, tag: str) -> str:
    """A table root under the requested scheme, backed by a temp dir."""
    local = tempfile.mkdtemp(prefix=f"ls_fss_{tag}_")
    if scheme == "file":
        return f"file://{local}/tbl"
    authority = f"mt{uuid.uuid4().hex[:8]}"
    conf = spark._jsc.hadoopConfiguration()  # noqa: SLF001
    conf.set(f"fs.viewfs.mounttable.{authority}.link./data", f"file://{local}")
    return f"viewfs://{authority}/data/tbl"


@pytest.mark.parametrize("scheme", SCHEMES)
def test_delta_log_lifecycle_on_scheme(spark, sf_smoke, scheme):
    n = load_table(spark, sf_smoke, "nation")
    path = _table_path(spark, scheme, f"delta_{scheme}")
    assert delta_write(n, path, mode="overwrite") == 0
    assert delta_write(n, path, mode="append") == 1
    assert (
        delta_write(n.where(F.col("n_regionkey") == 0), path, mode="overwrite")
        == 2
    )
    # adds are scheme-relative paths, never absolute URIs
    for rel, _ in delta_live_adds(spark, path):
        assert "://" not in rel and not rel.startswith("/")
    assert delta_read(spark, path).count() == n.where(F.col("n_regionkey") == 0).count()
    # MVCC time travel across the overwrite
    assert delta_read(spark, path, version=1).count() == 2 * n.count()
    assert delta_read(spark, path, version=0).count() == n.count()
    # MERGE (region 0 rows updated, region 1 rows inserted), then DELETE
    region0 = n.where(F.col("n_regionkey") == 0).count()
    src = n.where(F.col("n_regionkey") <= 1).withColumn(
        "n_name", F.concat(F.lit("M-"), F.col("n_name"))
    )
    assert delta_merge(spark, path, src, on=["n_nationkey"]) == 3
    merged = delta_read(spark, path)
    assert merged.count() == src.count()
    assert merged.where(~F.col("n_name").startswith("M-")).count() == 0
    assert delta_delete(spark, path, "n_regionkey = 0") == 4
    assert delta_read(spark, path).count() == src.count() - region0
    # the pre-DML snapshot is untouched
    assert delta_read(spark, path, version=2).count() == region0


@pytest.mark.parametrize("scheme", SCHEMES)
def test_delta_checkpoint_crosses_interval_on_scheme(spark, sf_smoke, scheme):
    """Commit past CHECKPOINT_INTERVAL so the auto-checkpoint fires ON
    THE SCHEME: checkpoint parquet write and read must go through the
    Hadoop FileSystem like every other log file (pyarrow's
    FileSystem.from_uri cannot resolve viewfs:// — the regression this
    pins is the 10th commit raising from delta_write AFTER the commit
    durably landed, which would bait a caller into a double-append
    retry). Cleanup then forces the reader to resolve from the
    checkpoint alone."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        CHECKPOINT_INTERVAL,
        _list_checkpoints,
        delta_cleanup_log,
    )

    n = load_table(spark, sf_smoke, "nation")
    one = n.where(F.col("n_nationkey") == 0)
    path = _table_path(spark, scheme, f"ckpt_{scheme}")
    delta_write(n, path, mode="overwrite")  # v0
    for _ in range(CHECKPOINT_INTERVAL + 2):  # v1..v12, crossing v10
        delta_write(one, path, mode="append")
    assert _list_checkpoints(spark, path) == [CHECKPOINT_INTERVAL]
    expected = n.count() + (CHECKPOINT_INTERVAL + 2) * one.count()
    assert delta_read(spark, path).count() == expected
    # drop the pre-checkpoint JSON commits: the snapshot now MUST fold
    # checkpoint + tail, proving the checkpoint READ path on the scheme
    assert delta_cleanup_log(spark, path)
    assert delta_read(spark, path).count() == expected
    assert (
        delta_read(spark, path, version=CHECKPOINT_INTERVAL).count()
        == n.count() + CHECKPOINT_INTERVAL * one.count()
    )


@pytest.mark.parametrize("scheme", SCHEMES)
def test_footer_stats_in_adds_on_scheme(spark, sf_smoke, scheme):
    """Every add carries numRecords (and min/max for stats_cols) on
    EVERY scheme: pyarrow footers on file://, parquet-hadoop through
    the JVM Hadoop FS on viewfs:// — the round-7 regression was an
    unconditional pyarrow FileSystem.from_uri that raised
    'Unable to load libhdfs' on any JVM-only scheme."""
    import json

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_row_count_from_stats,
    )

    n = load_table(spark, sf_smoke, "nation")
    path = _table_path(spark, scheme, f"stats_{scheme}")
    delta_write(n.repartition(3), path, stats_cols=["n_nationkey"])
    total = 0
    for _, a in delta_live_adds(spark, path):
        st = json.loads(a["stats"])
        assert st["numRecords"] > 0
        total += st["numRecords"]
        assert st["minValues"].get("n_nationkey") is not None
        assert st["maxValues"].get("n_nationkey") is not None
    assert total == n.count()
    # the log-fold COUNT(*) (what incremental-pipeline ledgers use)
    assert delta_row_count_from_stats(spark, path) == n.count()
