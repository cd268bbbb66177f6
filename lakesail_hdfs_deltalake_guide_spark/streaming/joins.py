"""Streaming joins + streaming dedup (extension tier, no reference analogue).

Three canonical Structured Streaming patterns over the ``events`` fixture:

- **Stream-static enrichment**: the arriving stream joins a static dim
  table. The static side is planned per micro-batch (broadcast at dim
  size), the stream side never buffers state — the production shape for
  "attach account metadata to a clickstream".
- **Streaming dedup**: ``dropDuplicates`` on a key subset; state is one
  entry per distinct key. (At 100 TB one would bound state with
  ``dropDuplicatesWithinWatermark`` and accept at-least-once outside the
  horizon; the fixture's key space is small and exact-distinct is the
  oracle-checkable semantic.)
- **Stream-stream interval join**: clicks matched to errors by the same
  user within 10 minutes. Both sides carry watermarks; the time-interval
  predicate bounds the join state (each side buffers only the watermark
  horizon). Pairs drain via ``foreachBatch`` to parquet, and the per-user
  rollup happens batch-side on the sink — the idiomatic split between
  unbounded-state streaming and bounded batch post-processing.

Determinism contract: identical to streaming/events.py — file-source
stream + ``trigger(availableNow=True)`` + drain-to-sink, so results equal
the batch semantics and every query has a DuckDB oracle. Time arithmetic
stays in integer micros (``unix_micros`` / ``epoch_us``) on both engines.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import int_div_expr
from ..querydef import QueryDef
from ..tables import load_table
from .events import (
    WATERMARK,
    _cents,
    _run_to_table,
    events_stream,
    sized_state_shuffle,
)


def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: events enriched with the customer dim, revenue
    rollup per market segment."""
    ev = events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    agg = (
        ev.withWatermark("ts", WATERMARK)
        .join(F.broadcast(cust), ev.user_id == cust.c_custkey, "inner")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_cents()).alias("sum_value_cents"),
        )
    )
    return _run_to_table(
        agg, "ls_stream_enrich", source_paths=(f"{sf_dir}/events.parquet",)
    ).orderBy(
        "c_mktsegment", "event_type"
    )


def streaming_dedup_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on (user_id, event_type), then distinct-user counts
    per type — state is one row per live key."""
    ev = events_stream(spark, sf_dir)
    deduped = ev.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_users"))
    return _run_to_table(
        agg, "ls_stream_dedup", source_paths=(f"{sf_dir}/events.parquet",)
    ).orderBy("event_type")


def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup: ``dropDuplicatesWithinWatermark``
    evicts each key's dedup state once the watermark passes its event time
    — O(keys-in-horizon) state instead of O(all keys ever), the 100 TB
    streaming-dedup posture (plain ``dropDuplicates`` state grows without
    bound; this is the trade documented on streaming_dedup_users_per_type).
    With an availableNow drain of the fixture (one batch, watermark only
    advances after the batch) every in-batch duplicate is caught, so the
    emitted key set equals exact DISTINCT — the oracle."""
    ev = events_stream(spark, sf_dir)
    deduped = (
        ev.select("user_id", "event_type", "ts")
        .withWatermark("ts", WATERMARK)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _run_to_table(
        deduped,
        "ls_stream_dedup_wm",
        output_mode="append",
        source_paths=(f"{sf_dir}/events.parquet",),
    ).orderBy("user_id", "event_type")


def streaming_interval_join_click_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream join: per user, (click, error) pairs where the error
    lands within 10 minutes after the click; per-user pair stats."""
    clicks = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", WATERMARK)
    )
    errors = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
            F.col("event_id").alias("error_id"),
        )
        .withWatermark("e_ts", WATERMARK)
    )
    pairs = clicks.join(
        errors,
        (F.col("c_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("c_ts"))
        & (F.col("e_ts") <= F.col("c_ts") + F.expr("INTERVAL 10 MINUTES")),
        "inner",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "error_id",
        (F.unix_micros(F.col("e_ts")) - F.unix_micros(F.col("c_ts"))).alias("lag_us"),
    )

    out_dir = tempfile.mkdtemp(prefix="ls_stream_ivjoin_out_")
    with sized_state_shuffle(spark, f"{sf_dir}/events.parquet"):
        q = (
            pairs.writeStream.format("parquet")
            .option("path", out_dir)
            .option(
                "checkpointLocation",
                tempfile.mkdtemp(prefix="ls_ckpt_ivjoin_"),
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.read.parquet(out_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            # trunc-toward-zero division, matching DuckDB integer `//`
            # even if a lag were ever negative (clock skew upstream).
            int_div_expr("sum(lag_us)", "count(1)").alias("avg_lag_us"),
        )
        .orderBy("user_id")
    )


def streaming_upsert_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE sink: per-micro-batch hourly rollups merged into
    a native Delta table via ``foreachBatch`` — the lakehouse "streaming
    upsert" pattern (Delta's streaming MERGE). The merge is ADDITIVE
    (matched keys accumulate counts), so an hour split across
    micro-batches still totals correctly — proven with a two-batch source
    in tests/test_streaming_joins.py."""
    from ..sources.delta_log import delta_read

    table = tempfile.mkdtemp(prefix="ls_stream_upsert_")
    run_upsert_stream(
        events_stream(spark, sf_dir),
        table,
        source_paths=(f"{sf_dir}/events.parquet",),
    )
    return (
        delta_read(spark, table)
        .groupBy("event_type")
        .agg(
            F.sum("n_events").alias("total_events"),
            F.sum("sum_cents").alias("total_cents"),
            F.count(F.lit(1)).alias("n_hours"),
        )
        .orderBy("event_type")
    )


UPSERT_APP_ID = "ls_stream_upsert"


def run_upsert_stream(
    ev: DataFrame, table: str, source_paths: tuple[str, ...] = ()
) -> None:
    """Drain an events stream into a native Delta table with additive
    merges.

    Exactly-once under foreachBatch's at-least-once replay: each merge
    commits the protocol's ``txn`` action (``UPSERT_APP_ID``, batch_id)
    atomically with its data, and a batch id at or below
    ``delta_last_txn`` is skipped — a batch replayed after a
    crash-between-commit-and-checkpoint is never double-counted."""
    from ..sources.delta_log import (
        delta_last_txn,
        delta_merge,
        delta_read,
        delta_write,
    )

    spark = ev.sparkSession
    empty = spark.createDataFrame(
        [], "hour_us bigint, event_type string, n_events bigint, sum_cents bigint"
    )
    delta_write(empty, table)

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        last = delta_last_txn(spark, table, UPSERT_APP_ID)
        if last is not None and batch_id <= last:
            return  # replayed batch — its merge already committed
        hourly = (
            batch_df.groupBy(
                (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("ts")) % 3_600_000_000)
                .alias("hour_us"),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(_cents()).alias("sum_cents"),
            )
        )
        # Additive merge: fold existing totals for matched keys into the
        # batch rows, then upsert the summed rows.
        target = delta_read(spark, table).select(
            "hour_us",
            "event_type",
            F.col("n_events").alias("old_n"),
            F.col("sum_cents").alias("old_s"),
        )
        summed = (
            hourly.join(target, ["hour_us", "event_type"], "left")
            .select(
                "hour_us",
                "event_type",
                (F.col("n_events") + F.coalesce(F.col("old_n"), F.lit(0))).alias(
                    "n_events"
                ),
                (F.col("sum_cents") + F.coalesce(F.col("old_s"), F.lit(0))).alias(
                    "sum_cents"
                ),
            )
        )
        delta_merge(
            spark,
            table,
            summed,
            on=["hour_us", "event_type"],
            txn=(UPSERT_APP_ID, batch_id),
        )

    with sized_state_shuffle(spark, *source_paths):
        q = (
            ev.writeStream.foreachBatch(upsert_batch)
            .trigger(availableNow=True)
            .option(
                "checkpointLocation",
                tempfile.mkdtemp(prefix="ls_ckpt_upsert_"),
            )
            .start()
        )
        q.awaitTermination()


def streaming_interval_join_left_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: clicks with no error in
    the following 10 minutes emit a null-error row — but only once the
    watermark passes the click's join window, so clicks inside the final
    watermark horizon are legitimately WITHHELD at stream end. The
    oracle-comparable output therefore restricts to clicks at least one
    hour before the LAGGING stream's end (watermark 30 min + window
    10 min + margin), where null emission is guaranteed; the threshold
    is derived from the data identically on both engines. Anchoring on
    the overall max would be fixture-luck: the global watermark is the
    min across both streams' watermarks, so the guarantee horizon keys
    off whichever side's events end earlier. State contract: each side
    buffers only its watermark horizon — the outer join adds no state
    over the inner one, just deferred null emission."""
    from ..tables import load_table

    lag_mx_ns = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "error"))
        .groupBy("event_type")
        .agg(F.max("ts_ns").alias("mx"))
        .agg(F.min("mx").alias("mm"))
        .collect()[0]
        .mm
    )
    threshold_ns = lag_mx_ns - 3_600_000_000_000  # 1 h before lagging stream end

    clicks = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", WATERMARK)
    )
    errors = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
            F.col("event_id").alias("error_id"),
        )
        .withWatermark("e_ts", WATERMARK)
    )
    pairs = clicks.join(
        errors,
        (F.col("c_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("c_ts"))
        & (F.col("e_ts") <= F.col("c_ts") + F.expr("INTERVAL 10 MINUTES")),
        "left_outer",
    ).select(
        F.col("c_user").alias("user_id"),
        F.unix_micros(F.col("c_ts")).alias("c_us"),
        "click_id",
        "error_id",
    )

    out_dir = tempfile.mkdtemp(prefix="ls_stream_lojoin_out_")
    with sized_state_shuffle(spark, f"{sf_dir}/events.parquet"):
        q = (
            pairs.writeStream.format("parquet")
            .option("path", out_dir)
            .option(
                "checkpointLocation",
                tempfile.mkdtemp(prefix="ls_ckpt_lojoin_"),
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.read.parquet(out_dir)
        .where(F.col("c_us") * 1000 <= F.lit(threshold_ns))
        .groupBy("user_id")
        .agg(
            F.count("error_id").alias("n_pairs"),
            F.sum(F.col("error_id").isNull().cast("bigint")).alias(
                "n_unmatched_clicks"
            ),
            F.countDistinct("click_id").alias("n_clicks"),
        )
        .orderBy("user_id")
    )


def streaming_interval_join_full_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream FULL OUTER interval join — the one stream-stream
    join type the tier still lacked: clicks with no error in the
    following 10 minutes emit a null-error row AND errors preceded by no
    click emit a null-click row, each once the watermark clears the
    respective join window. Both deferred emissions are only guaranteed
    outside the final watermark horizon, so the oracle-comparable output
    applies ONE post-filter to the join RESULT (not to the inputs):
    matched-or-unmatched-click rows must have the click ≥ 1 h before the
    horizon anchor, unmatched-error rows the error — the identical
    predicate runs on the oracle's full join, so edge-of-stream rows are
    excluded symmetrically.

    The anchor is the LAGGING stream's max event time (min of the two
    per-type maxima), not the overall max: the global watermark is the
    minimum across both streams' watermarks, so emission is only
    guaranteed relative to whichever side ends earlier (on the fixture
    the last error precedes the last event by ~30 min — anchoring on the
    overall max withholds borderline unmatched errors). State contract:
    each side buffers only its watermark horizon; the outer sides add no
    state over the inner join, just deferred null emission."""
    from ..tables import load_table

    lag_mx_ns = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "error"))
        .groupBy("event_type")
        .agg(F.max("ts_ns").alias("mx"))
        .agg(F.min("mx").alias("mm"))
        .collect()[0]
        .mm
    )
    threshold_ns = lag_mx_ns - 3_600_000_000_000  # 1 h before lagging stream end

    clicks = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", WATERMARK)
    )
    errors = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
            F.col("event_id").alias("error_id"),
        )
        .withWatermark("e_ts", WATERMARK)
    )
    pairs = clicks.join(
        errors,
        (F.col("c_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("c_ts"))
        & (F.col("e_ts") <= F.col("c_ts") + F.expr("INTERVAL 10 MINUTES")),
        "full_outer",
    ).select(
        F.coalesce(F.col("c_user"), F.col("e_user")).alias("user_id"),
        F.unix_micros(F.col("c_ts")).alias("c_us"),
        F.unix_micros(F.col("e_ts")).alias("e_us"),
        "click_id",
        "error_id",
    )

    out_dir = tempfile.mkdtemp(prefix="ls_stream_fojoin_out_")
    with sized_state_shuffle(spark, f"{sf_dir}/events.parquet"):
        q = (
            pairs.writeStream.format("parquet")
            .option("path", out_dir)
            .option(
                "checkpointLocation",
                tempfile.mkdtemp(prefix="ls_ckpt_fojoin_"),
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    click_side = F.col("click_id").isNotNull()
    return (
        spark.read.parquet(out_dir)
        .where(
            (click_side & (F.col("c_us") * 1000 <= F.lit(threshold_ns)))
            | (~click_side & (F.col("e_us") * 1000 <= F.lit(threshold_ns)))
        )
        .groupBy("user_id")
        .agg(
            F.sum((click_side & F.col("error_id").isNotNull()).cast("bigint"))
            .alias("n_pairs"),
            F.sum(F.col("error_id").isNull().cast("bigint")).alias(
                "n_unmatched_clicks"
            ),
            F.sum(F.col("click_id").isNull().cast("bigint")).alias(
                "n_unmatched_errors"
            ),
        )
        .orderBy("user_id")
    )


def streaming_delta_append_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream → native Delta table: every micro-batch commits a
    transactional append to the protocol-level log (sources/delta_log.py)
    — the real "foreachBatch → Delta sink" the streaming tier's design
    notes called for, no longer a parquet stand-in. Each batch is one
    atomic log commit, so a reader sees complete batches or nothing.
    Exactly-once under foreachBatch's at-least-once replay comes from
    the protocol's ``txn`` action: each commit carries
    (appId, batch_id), and a replayed batch id is dropped against
    ``delta_last_txn`` — Delta's txnAppId/txnVersion mechanism, here at
    the protocol level (tests/test_delta_log.py pins the replay
    skip)."""
    import tempfile

    from ..sources.delta_log import delta_last_txn, delta_read, delta_write
    from .events import events_stream

    ev = events_stream(spark, sf_dir)
    table = tempfile.mkdtemp(prefix="ls_stream_delta_")
    app_id = "ls_stream_delta_sink"

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # protocol-level exactly-once: foreachBatch is at-least-once, so
        # a replayed batch id is dropped against the log's txn state
        last = delta_last_txn(batch_df.sparkSession, table, app_id)
        if last is not None and batch_id <= last:
            return
        delta_write(
            batch_df.select(
                "event_id",
                "event_type",
                F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
            ),
            table,
            mode="append",
            txn=(app_id, batch_id),
        )

    with sized_state_shuffle(spark, f"{sf_dir}/events.parquet"):
        q = (
            ev.writeStream.foreachBatch(sink)
            .trigger(availableNow=True)
            .option(
                "checkpointLocation", tempfile.mkdtemp(prefix="ls_sd_ckpt_")
            )
            .start()
        )
        q.awaitTermination()
    return (
        delta_read(spark, table)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_cents"),
            F.countDistinct("event_id").alias("n_distinct_events"),
        )
        .orderBy("event_type")
    )


def streaming_document_curation_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming CURATION gate over a documents stream — the ingest-time
    version of the batch curation capstone (X182): as documents arrive
    they pass a quality gate (>= 20 words, type-token ratio >= 30%) and
    an exact-text dedup with BOUNDED state
    (``dropDuplicatesWithinWatermark`` on md5(text), event time derived
    from doc_id) before landing in the sink; the emitted survivors are
    then rolled up by 100-word length bucket.

    Determinism under streaming dedup: WHICH duplicate survives is
    arrival-order-dependent, but duplicates share their text, so every
    downstream value (word counts, buckets) is representative-invariant
    — the reason the rollup keys on text-derived quantities only and
    the oracle is plain DISTINCT-text SQL.

    At 100 TB/day this is the shape of a curation FRONT-END: per-batch
    state is O(keys in the watermark horizon), the quality gate is
    map-side, and the expensive batch passes (MinHash, decontamination)
    run downstream on the already-thinned sink."""
    path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    docs = stream.select(
        "text",
        # +1h: doc_id 0 would otherwise sit AT the initial watermark
        # (epoch 0) and be dropped as late by the dedup state store
        F.expr("timestamp_micros((doc_id + 3600) * 1000000)").alias("ts"),
        F.size(F.split("text", " ")).cast("bigint").alias("words"),
        F.size(F.array_distinct(F.split("text", " ")))
        .cast("bigint")
        .alias("uniq"),
    )
    gated = docs.where("words >= 20 AND uniq * 100 >= 30 * words")
    deduped = (
        gated.withColumn("h", F.md5("text"))
        .withWatermark("ts", WATERMARK)
        .dropDuplicatesWithinWatermark(["h"])
        .select("words")
    )
    survivors = _run_to_table(
        deduped,
        "ls_stream_curation",
        output_mode="append",
        source_paths=(f"{sf_dir}/documents.parquet",),
    )
    return (
        survivors.groupBy(F.expr("words div 100").alias("len_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("words").alias("n_words"),
        )
        .orderBy("len_bucket")
    )


QUERIES: list[QueryDef] = [
    QueryDef(
        "streaming_document_curation_gate",
        streaming_document_curation_gate,
        """
        WITH toks AS (
          SELECT text,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
                 CAST(len(list_distinct(string_split(text, ' ')))
                   AS BIGINT) AS uniq
          FROM documents),
        survivors AS (
          SELECT DISTINCT text, words FROM toks
          WHERE words >= 20 AND uniq * 100 >= 30 * words)
        SELECT words // 100 AS len_bucket, COUNT(*) AS n_docs,
               CAST(SUM(words) AS BIGINT) AS n_words
        FROM survivors GROUP BY len_bucket ORDER BY len_bucket
        """,
        tags=("extension", "streaming", "pipeline"),
        description="Streaming curation front-end: quality gate + "
        "bounded-state exact-text dedup (dropDuplicatesWithinWatermark "
        "on md5(text)) over a documents stream, rolled up by "
        "representative-invariant length buckets.",
    ),
    QueryDef(
        "streaming_interval_join_left_outer",
        streaming_interval_join_left_outer,
        """
        WITH m AS (
          SELECT MIN(mx) - 3600000000000 AS thr FROM (
            SELECT event_type, MAX(epoch_ns(ts)) AS mx FROM events
            WHERE event_type IN ('click', 'error') GROUP BY event_type)),
        c AS (
          SELECT user_id AS cu, epoch_ns(ts) AS cts, event_id AS cid
          FROM events
          WHERE event_type = 'click'
            AND epoch_ns(ts) <= (SELECT thr FROM m)),
        e AS (
          SELECT user_id AS eu, epoch_ns(ts) AS ets, event_id AS eid
          FROM events WHERE event_type = 'error'),
        j AS (
          SELECT c.cu, c.cid, e.eid
          FROM c LEFT JOIN e
            ON c.cu = e.eu AND e.ets >= c.cts
           AND e.ets <= c.cts + 600000000000)
        SELECT cu AS user_id,
               COUNT(eid) AS n_pairs,
               CAST(SUM(CASE WHEN eid IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_unmatched_clicks,
               CAST(COUNT(DISTINCT cid) AS BIGINT) AS n_clicks
        FROM j GROUP BY cu ORDER BY user_id
        """,
        tags=("extension", "streaming"),
        description="Stream-stream LEFT OUTER interval join: null emission "
        "after the watermark passes the join window.",
    ),
    QueryDef(
        "streaming_interval_join_full_outer",
        streaming_interval_join_full_outer,
        """
        WITH m AS (
          SELECT MIN(mx) - 3600000000000 AS thr FROM (
            SELECT event_type, MAX(epoch_ns(ts)) AS mx FROM events
            WHERE event_type IN ('click', 'error') GROUP BY event_type)),
        c AS (
          SELECT user_id AS cu, epoch_ns(ts) AS cts, event_id AS cid
          FROM events WHERE event_type = 'click'),
        e AS (
          SELECT user_id AS eu, epoch_ns(ts) AS ets, event_id AS eid
          FROM events WHERE event_type = 'error'),
        j AS (
          SELECT COALESCE(c.cu, e.eu) AS u, c.cts, e.ets, c.cid, e.eid
          FROM c FULL JOIN e
            ON c.cu = e.eu AND e.ets >= c.cts
           AND e.ets <= c.cts + 600000000000),
        f AS (
          SELECT * FROM j
          WHERE (cid IS NOT NULL AND cts <= (SELECT thr FROM m))
             OR (cid IS NULL AND ets <= (SELECT thr FROM m)))
        SELECT u AS user_id,
               CAST(SUM(CASE WHEN cid IS NOT NULL AND eid IS NOT NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN eid IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_unmatched_clicks,
               CAST(SUM(CASE WHEN cid IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_unmatched_errors
        FROM f GROUP BY u ORDER BY user_id
        """,
        tags=("extension", "streaming"),
        description="Stream-stream FULL OUTER interval join: deferred "
        "null emission on both sides past the watermark horizon.",
    ),
    QueryDef(
        "streaming_delta_append_sink",
        streaming_delta_append_sink,
        """
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents,
               CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct_events
        FROM events GROUP BY event_type ORDER BY event_type
        """,
        tags=("extension", "streaming", "delta"),
        description="Stream drained into the native Delta log: one atomic "
        "append commit per micro-batch.",
    ),
    QueryDef(
        "streaming_upsert_versioned",
        streaming_upsert_versioned,
        """
        WITH hourly AS (
          SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us,
                 event_type, COUNT(*) AS n_events,
                 CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS sum_cents
          FROM events GROUP BY 1, 2)
        SELECT event_type,
               CAST(SUM(n_events) AS BIGINT) AS total_events,
               CAST(SUM(sum_cents) AS BIGINT) AS total_cents,
               COUNT(*) AS n_hours
        FROM hourly GROUP BY event_type ORDER BY event_type
        """,
        tags=("extension", "streaming", "delta", "dml"),
        description="Streaming upsert sink: foreachBatch MERGE into a "
        "native Delta table, exactly-once via the txn action.",
    ),
    QueryDef(
        "streaming_static_enrich",
        streaming_static_enrich,
        """
        SELECT c_mktsegment, event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS sum_value_cents
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment, event_type
        ORDER BY c_mktsegment, event_type
        """,
        tags=("extension", "streaming", "join"),
        description="Stream-static broadcast enrichment rollup.",
    ),
    QueryDef(
        "streaming_dedup_users_per_type",
        streaming_dedup_users_per_type,
        """
        SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        FROM events GROUP BY event_type ORDER BY event_type
        """,
        tags=("extension", "streaming", "dedup"),
        description="Streaming dropDuplicates → distinct users per type.",
    ),
    QueryDef(
        "streaming_dedup_within_watermark",
        streaming_dedup_within_watermark,
        """
        SELECT DISTINCT user_id, event_type
        FROM events ORDER BY user_id, event_type
        """,
        tags=("extension", "streaming", "dedup"),
        description="Watermark-bounded streaming dedup (state evicted past "
        "the horizon).",
    ),
    QueryDef(
        "streaming_interval_join_click_error",
        streaming_interval_join_click_error,
        """
        WITH c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS c_us
                   FROM events WHERE event_type = 'click'),
             e AS (SELECT user_id, event_id AS error_id, epoch_us(ts) AS e_us
                   FROM events WHERE event_type = 'error'),
             pairs AS (
               SELECT c.user_id, e_us - c_us AS lag_us
               FROM c JOIN e ON c.user_id = e.user_id
                AND e.e_us >= c.c_us AND e.e_us <= c.c_us + 600000000)
        SELECT user_id, COUNT(*) AS n_pairs,
               CAST(SUM(lag_us) // COUNT(*) AS BIGINT) AS avg_lag_us
        FROM pairs GROUP BY user_id ORDER BY user_id
        """,
        tags=("extension", "streaming", "join", "temporal"),
        description="Watermarked stream-stream time-interval join.",
    ),
]
