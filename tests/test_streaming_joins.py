"""Streaming-join tier: result invariants (oracle parity covers values)."""

from __future__ import annotations

from pyspark.sql import functions as F

from lakesail_hdfs_deltalake_guide_spark.streaming.joins import (
    streaming_dedup_users_per_type,
    streaming_interval_join_click_error,
    streaming_static_enrich,
)
from lakesail_hdfs_deltalake_guide_spark.tables import load_table


def test_enrich_preserves_matched_event_count(spark, sf_smoke):
    out = streaming_static_enrich(spark, sf_smoke)
    total = out.agg(F.sum("n_events").alias("s")).collect()[0]["s"]
    ev = load_table(spark, sf_smoke, "events")
    cust = load_table(spark, sf_smoke, "customer")
    matched = ev.join(cust, ev.user_id == cust.c_custkey).count()
    assert total == matched


def test_dedup_bounded_by_user_count(spark, sf_smoke):
    out = streaming_dedup_users_per_type(spark, sf_smoke)
    n_users = load_table(spark, sf_smoke, "events").select("user_id").distinct().count()
    assert all(r["n_users"] <= n_users for r in out.collect())


def test_interval_join_lags_within_bound(spark, sf_smoke):
    out = streaming_interval_join_click_error(spark, sf_smoke)
    rows = out.collect()
    assert len(rows) > 0
    assert all(0 <= r["avg_lag_us"] <= 600_000_000 for r in rows)


def test_upsert_sink_accumulates_across_batches(spark, tmp_path):
    """Two-file source, maxFilesPerTrigger=1: an hour whose rows are split
    across micro-batches must still total correctly (additive merge)."""
    import os

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_last_txn,
        delta_read,
    )
    from lakesail_hdfs_deltalake_guide_spark.streaming.joins import (
        UPSERT_APP_ID,
        run_upsert_stream,
    )
    from lakesail_hdfs_deltalake_guide_spark.tables import _postprocess

    t0 = 1_700_000_000_000_000_000  # epoch NANOS, same hour for all rows
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)

    def write_file(rows):
        spark.createDataFrame(
            [(i, t0 + i * 1_000_000_000, 1, "click", v, "{}") for i, v in rows],
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1).write.mode("append").parquet(in_dir)

    write_file([(0, 1.0), (1, 2.0)])   # batch 1: 2 events, 300 cents
    write_file([(2, 4.0)])             # batch 2: same hour, 400 cents

    schema = spark.read.parquet(in_dir).schema
    stream = _postprocess(
        "events",
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir),
    )
    table = str(tmp_path / "t")
    run_upsert_stream(stream, table)

    rows = delta_read(spark, table).collect()
    assert len(rows) == 1
    assert rows[0]["n_events"] == 3
    assert rows[0]["sum_cents"] == 700
    # the last micro-batch id committed with its merge (txn action)
    assert delta_last_txn(spark, table, UPSERT_APP_ID) == 1
