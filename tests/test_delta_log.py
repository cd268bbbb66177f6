"""Protocol-level Delta log contracts: action structure, MVCC overwrite
retraction, append accumulation, time travel."""

from __future__ import annotations

import glob
import json
import tempfile

import pytest
from pyspark.sql import functions as F

from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
    delta_live_files,
    delta_read,
    delta_write,
)
from lakesail_hdfs_deltalake_guide_spark.tables import load_table


def _actions(path: str, version: int) -> list[dict]:
    f = f"{path}/_delta_log/{version:020d}.json"
    return [json.loads(line) for line in open(f)]


def test_first_commit_has_protocol_and_metadata(spark, sf_smoke):
    n = load_table(spark, sf_smoke, "nation")
    path = tempfile.mkdtemp(prefix="ls_dl_t1_")
    assert delta_write(n, path) == 0
    kinds = [next(iter(a)) for a in _actions(path, 0)]
    # every commit leads with a commitInfo stamp (in-commit timestamp)
    assert kinds[0] == "commitInfo"
    assert kinds[1] == "protocol" and kinds[2] == "metaData"
    assert kinds.count("add") >= 1 and "remove" not in kinds
    meta = _actions(path, 0)[2]["metaData"]
    assert meta["format"]["provider"] == "parquet"
    assert json.loads(meta["schemaString"])["type"] == "struct"


def test_overwrite_retracts_previous_generation(spark, sf_smoke):
    n = load_table(spark, sf_smoke, "nation")
    path = tempfile.mkdtemp(prefix="ls_dl_t2_")
    delta_write(n, path, mode="overwrite")
    v0_files = set(delta_live_files(spark, path))
    delta_write(n.where(F.col("n_regionkey") == 0), path, mode="overwrite")
    kinds = [next(iter(a)) for a in _actions(path, 1)]
    assert kinds.count("remove") == len(v0_files)
    live = set(delta_live_files(spark, path))
    assert live.isdisjoint(v0_files)
    # retracted files remain ON DISK (older snapshots still readable)
    on_disk = {p.rsplit("/", 1)[-1] for p in glob.glob(f"{path}/*.parquet")}
    assert v0_files <= on_disk


def test_append_and_time_travel(spark, sf_smoke):
    n = load_table(spark, sf_smoke, "nation")
    path = tempfile.mkdtemp(prefix="ls_dl_t3_")
    delta_write(n, path, mode="overwrite")
    delta_write(n, path, mode="append")
    assert delta_read(spark, path).count() == 2 * n.count()
    assert delta_read(spark, path, version=0).count() == n.count()
    # appends never retract
    kinds = [next(iter(a)) for a in _actions(path, 1)]
    assert "remove" not in kinds


def test_partitioned_write_prunes_from_log(spark, sf_smoke):
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_live_adds,
    )

    o = load_table(spark, sf_smoke, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    path = tempfile.mkdtemp(prefix="ls_dl_t4_")
    delta_write(o, path, partition_by=["o_orderpriority"])
    adds = delta_live_adds(spark, path)
    assert all(a["partitionValues"].get("o_orderpriority") for _, a in adds)
    urgent_files = [
        f
        for f, a in adds
        if a["partitionValues"]["o_orderpriority"] == "1-URGENT"
    ]
    assert 0 < len(urgent_files) < len(adds)
    pruned = delta_read(
        spark, path, partition_filter={"o_orderpriority": "1-URGENT"}
    )
    expected = o.where(F.col("o_orderpriority") == "1-URGENT").count()
    assert pruned.count() == expected
    # partition column is reconstructed from the directory layout
    assert "o_orderpriority" in pruned.columns


def test_stats_skipping_reduces_file_set(spark, sf_smoke):
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_live_adds,
    )

    li = load_table(spark, sf_smoke, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    path = tempfile.mkdtemp(prefix="ls_dl_t5_")
    clustered = li.repartitionByRange(8, "l_quantity").sortWithinPartitions(
        "l_quantity"
    )
    delta_write(clustered, path, stats_cols=["l_quantity"])
    adds = delta_live_adds(spark, path)
    assert all(json.loads(a["stats"])["numRecords"] > 0 for _, a in adds)
    total = len(adds)
    narrow = delta_read(spark, path, range_filter={"l_quantity": (1.0, 5.0)})
    n_files_read = narrow.select(F.input_file_name()).distinct().count()
    assert n_files_read < total, "range filter must skip some files"
    exact = li.where((F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 5))
    got = narrow.where(
        (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 5)
    )
    assert got.count() == exact.count()


def test_append_with_wrong_partitioning_is_rejected(spark, sf_smoke):
    import pytest

    n = load_table(spark, sf_smoke, "nation")
    path = tempfile.mkdtemp(prefix="ls_dl_t6_")
    delta_write(n, path, partition_by=["n_regionkey"])
    # omitted partition_by INHERITS the table's layout (delta-spark UX,
    # pinned by the golden foreign-fixture append in r11)
    assert delta_write(n, path, mode="append") == 1
    adds = dict(
        __import__(
            "lakesail_hdfs_deltalake_guide_spark.sources.delta_log",
            fromlist=["delta_live_adds"],
        ).delta_live_adds(spark, path)
    )
    assert all("n_regionkey" in a["partitionValues"] for a in adds.values())
    # a CONTRADICTING explicit spec is protocol-corrupt — still refused
    with pytest.raises(ValueError, match="partitionColumns"):
        delta_write(n, path, mode="append", partition_by=["n_nationkey"])


def test_fully_retracted_snapshot_reads_empty(spark, sf_smoke):
    n = load_table(spark, sf_smoke, "nation")
    path = tempfile.mkdtemp(prefix="ls_dl_t7_")
    delta_write(n, path)
    # pruned read matching nothing yields an empty frame with the schema
    out = delta_read(
        spark, path, range_filter={"n_nationkey": (10**9, 10**9 + 1)}
    )
    assert out.count() >= 0  # readable, never raises


def test_partition_values_are_unescaped(spark, sf_smoke):
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_live_adds,
    )

    df = spark.createDataFrame(
        [(1, "a:b c"), (2, None)], "id bigint, k string"
    )
    path = tempfile.mkdtemp(prefix="ls_dl_t8_")
    delta_write(df, path, partition_by=["k"])
    values = {a["partitionValues"]["k"] for _, a in delta_live_adds(spark, path)}
    # protocol stores UNESCAPED values and null (not hive dir spellings)
    assert "a:b c" in values and None in values
    pruned = delta_read(spark, path, partition_filter={"k": "a:b c"})
    assert pruned.count() == 1


def test_optimize_compacts_without_changing_rows(spark, sf_smoke):
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_live_adds,
        delta_optimize,
    )

    s = load_table(spark, sf_smoke, "supplier")
    path = tempfile.mkdtemp(prefix="ls_dl_t9_")
    delta_write(s.repartition(16), path)
    before_files = len(delta_live_adds(spark, path))
    before_rows = delta_read(spark, path).count()
    v = delta_optimize(spark, path, target_files=1)
    assert len(delta_live_adds(spark, path)) < before_files
    assert delta_read(spark, path).count() == before_rows
    # compaction commits are layout-only: every action says dataChange false
    for a in _actions(path, v):
        body = a.get("add") or a.get("remove")
        if body is not None:  # commitInfo stamp carries no dataChange
            assert body["dataChange"] is False
    # pre-OPTIMIZE snapshot still readable (MVCC)
    assert delta_read(spark, path, version=v - 1).count() == before_rows


def test_checkpoint_written_and_read_from_tail(spark, sf_smoke, monkeypatch):
    """A 25-commit table resolves from the newest checkpoint (v20) plus
    the JSON tail (v21-24) — commits below the checkpoint are never
    opened."""
    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log

    n = load_table(spark, sf_smoke, "nation")
    path = tempfile.mkdtemp(prefix="ls_dl_ckpt_")
    delta_write(n, path, mode="overwrite")
    for i in range(24):
        delta_write(n.where(F.col("n_nationkey") == i), path, mode="append")
    assert delta_log._list_checkpoints(spark, path) == [10, 20]
    pointer = json.loads(open(f"{path}/_delta_log/_last_checkpoint").read())
    assert pointer["version"] == 20

    opened: list[int] = []
    real_read = delta_log._read_text

    def spying_read(spark_, p):
        if p.endswith(".json") and "_delta_log" in p:
            opened.append(int(p.rsplit("/", 1)[-1][: -len(".json")]))
        return real_read(spark_, p)

    monkeypatch.setattr(delta_log, "_read_text", spying_read)
    # drop the immutable-log cache so every commit the fold touches
    # shows up in the spy (cached texts never reach _read_text)
    delta_log._purge_log_text_cache(delta_log._log_dir(path))
    total = delta_read(spark, path).count()
    assert total == n.count() + n.where(F.col("n_nationkey") < 24).count()
    assert opened and min(opened) == 21, f"fold must start after v20: {opened}"
    # time travel below the checkpoint still folds JSON from v0
    assert delta_read(spark, path, version=0).count() == n.count()


def test_crashed_commit_tmp_file_is_harmless(spark, sf_smoke):
    """A writer dying between tmp-write and rename leaves a .tmp-* file
    in _delta_log; listing, reads, and later commits must be unaffected
    (the reason commit temp names carry no .json suffix)."""
    n = load_table(spark, sf_smoke, "nation")
    path = tempfile.mkdtemp(prefix="ls_dl_crash_")
    delta_write(n, path)
    # simulate the crash artifact
    with open(f"{path}/_delta_log/.tmp-deadbeef", "w") as f:
        f.write('{"add": {"path": "never-published.parquet"}}\n')
    assert delta_read(spark, path).count() == n.count()
    assert delta_write(n, path, mode="append") == 1
    assert delta_read(spark, path).count() == 2 * n.count()


def test_log_cleanup_retains_checkpoint_tail(spark, sf_smoke):
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_cleanup_log,
    )
    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log

    n = load_table(spark, sf_smoke, "nation")
    path = tempfile.mkdtemp(prefix="ls_dl_clean_")
    delta_write(n, path, mode="overwrite")
    for i in range(24):
        delta_write(n.where(F.col("n_nationkey") == i), path, mode="append")
    expected = delta_read(spark, path).count()
    deleted = delta_cleanup_log(spark, path)
    assert deleted == list(range(20)), "everything below ckpt v20 goes"
    assert delta_log._list_checkpoints(spark, path) == [20]
    # retained snapshots still resolve: checkpoint version and the tail
    assert delta_read(spark, path).count() == expected
    assert delta_read(spark, path, version=20).count() > 0
    # history below the cleanup boundary fails LOUDLY, never silently wrong
    with pytest.raises(ValueError, match="no longer reconstructible"):
        delta_read(spark, path, version=5)


def test_log_text_cache_purged_by_cleanup(spark, sf_smoke):
    """The immutable-log-text cache (r15 driver-overhead fix) must not
    serve cleaned commits as ghosts: retention cleanup purges the
    table's cached texts, so a direct read of an expired version file
    fails exactly as an uncached read would."""
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_cleanup_log,
    )

    n = load_table(spark, sf_smoke, "nation")
    path = tempfile.mkdtemp(prefix="ls_dl_ghost_")
    delta_write(n, path, mode="overwrite")
    for i in range(12):
        delta_write(n.where(F.col("n_nationkey") == i), path, mode="append")
    # fill the cache: a snapshot fold reads the JSON tail, and history
    # reads every retained commit
    delta_read(spark, path).count()
    v3 = delta_log._version_file(path, 3)
    delta_log._read_log_text_immutable(spark, v3)
    assert v3 in delta_log._LOG_TEXT_CACHE
    deleted = delta_cleanup_log(spark, path)
    assert 3 in deleted
    log_prefix = delta_log._log_dir(path)
    assert not any(
        p.startswith(log_prefix) for p in delta_log._LOG_TEXT_CACHE
    ), "cleanup must purge every cached text of this table's log"
    with pytest.raises(Exception, match="FileNotFoundException"):
        delta_log._read_log_text_immutable(spark, v3)


def test_concurrent_commit_retries_at_next_version(spark, sf_smoke, monkeypatch):
    """A lost rename race re-plans and lands at the next version — and a
    writer that keeps losing eventually raises."""
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log

    n = load_table(spark, sf_smoke, "nation")
    path = tempfile.mkdtemp(prefix="ls_dl_race_")
    delta_write(n, path, mode="overwrite")  # v0

    real = delta_log._write_commit
    state = {"raced": False}

    def racing(spark_, p, version, actions):
        if not state["raced"]:
            state["raced"] = True
            real(spark_, p, version, [])  # competitor lands this version first
        return real(spark_, p, version, actions)

    monkeypatch.setattr(delta_log, "_write_commit", racing)
    v = delta_write(n, path, mode="append")
    assert v == 2, "competitor took v1; retry must land at v2"
    assert delta_read(spark, path).count() == 2 * n.count()

    # a writer that loses every race gives up after max_retries
    monkeypatch.setattr(
        delta_log,
        "_write_commit",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("conflict")),
    )
    with pytest.raises(RuntimeError, match="conflict"):
        delta_write(n, path, mode="append", max_retries=1)


def test_txn_idempotent_writer(spark, sf_smoke):
    """The protocol's txn action: (appId, version) rides in the commit,
    delta_last_txn reads it back (including across a checkpoint), and a
    replayed batch id is skippable — exactly-once for streaming sinks."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_last_txn,
    )

    n = load_table(spark, sf_smoke, "nation")
    path = tempfile.mkdtemp(prefix="ls_dl_txn_")
    app = "writer-a"
    assert delta_last_txn(spark, path, app) is None  # table absent yet
    delta_write(n, path, mode="overwrite", txn=(app, 0))
    delta_write(n, path, mode="append", txn=(app, 1))
    assert delta_last_txn(spark, path, app) == 1
    assert delta_last_txn(spark, path, "writer-b") is None
    # the sink-side guard: a replayed batch 1 is dropped
    replay_batch = 1
    if not (delta_last_txn(spark, path, app) or -1) >= replay_batch:
        delta_write(n, path, mode="append", txn=(app, replay_batch))
    assert delta_read(spark, path).count() == 2 * n.count()
    # txn state survives checkpointing: cross the interval and clean up
    for i in range(2, 12):
        delta_write(
            n.where(F.col("n_nationkey") == i), path, mode="append", txn=(app, i)
        )
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_cleanup_log,
    )

    assert delta_cleanup_log(spark, path), "checkpoint must exist by now"
    assert delta_last_txn(spark, path, app) == 11


def test_schema_evolution_append(spark, sf_smoke):
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_metadata,
    )

    c = load_table(spark, sf_smoke, "customer")
    two_col = c.select("c_custkey", "c_name")
    three_col = c.select("c_custkey", "c_name", "c_acctbal")
    path = tempfile.mkdtemp(prefix="ls_dl_evo_")
    delta_write(two_col.limit(10), path)
    # mismatched append without merge_schema is rejected
    with pytest.raises(ValueError, match="merge_schema"):
        delta_write(three_col.limit(5), path, mode="append")
    delta_write(three_col.limit(5), path, mode="append", merge_schema=True)
    back = delta_read(spark, path)
    assert back.columns == ["c_custkey", "c_name", "c_acctbal"]
    assert back.count() == 15
    # pre-evolution rows carry typed nulls in the new column
    assert back.where(F.col("c_acctbal").isNull()).count() == 10
    meta_cols = [
        f["name"]
        for f in json.loads(delta_metadata(spark, path)["schemaString"])["fields"]
    ]
    assert meta_cols == ["c_custkey", "c_name", "c_acctbal"]
    # time travel to v0 sees the ORIGINAL two-column schema
    v0 = delta_read(spark, path, version=0)
    assert v0.columns == ["c_custkey", "c_name"] and v0.count() == 10


def test_schema_evolution_on_partitioned_table(spark, sf_smoke):
    """Evolution composes with hive partitioning: the appended column
    lands, old partitions read with typed nulls, the metaData column
    ORDER holds (partition discovery would otherwise move the partition
    column to the end), and log-fold pruning still works."""
    df1 = spark.createDataFrame([(1, "x"), (2, "y")], "id bigint, k string")
    df2 = spark.createDataFrame(
        [(3, "x", 9.5), (4, "z", 1.5)], "id bigint, k string, score double"
    )
    path = tempfile.mkdtemp(prefix="ls_dl_evo_part_")
    delta_write(df1, path, partition_by=["k"])
    delta_write(df2, path, mode="append", partition_by=["k"], merge_schema=True)
    out = delta_read(spark, path)
    assert out.columns == ["id", "k", "score"]
    rows = {(r.id, r.k, r.score) for r in out.collect()}
    assert rows == {(1, "x", None), (2, "y", None), (3, "x", 9.5), (4, "z", 1.5)}
    pruned = delta_read(spark, path, partition_filter={"k": "x"})
    assert {(r.id, r.score) for r in pruned.select("id", "score").collect()} == {
        (1, None),
        (3, 9.5),
    }


def test_schema_evolution_rejects_type_change(spark, sf_smoke):
    import pytest

    df = spark.createDataFrame([(1, "a")], "id bigint, v string")
    path = tempfile.mkdtemp(prefix="ls_dl_evo_t_")
    delta_write(df, path)
    retyped = spark.createDataFrame([(2, 3.5)], "id bigint, v double")
    with pytest.raises(ValueError, match="cannot change column"):
        delta_write(retyped, path, mode="append", merge_schema=True)


def test_full_maintenance_lifecycle(spark, sf_smoke):
    """The whole table-maintenance loop composes: appends crossing the
    checkpoint interval, OPTIMIZE compaction, VACUUM retention, then log
    retention cleanup — and the snapshot stays row-identical throughout,
    with time travel behaving per each mechanism's contract."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_cleanup_log,
        delta_live_adds,
        delta_optimize,
        delta_vacuum,
    )

    n = load_table(spark, sf_smoke, "nation")
    path = tempfile.mkdtemp(prefix="ls_dl_life_")
    delta_write(n, path, mode="overwrite")
    for i in range(12):
        delta_write(n.where(F.col("n_nationkey") % 12 == i), path, mode="append")
    expected = 2 * n.count()
    assert delta_read(spark, path).count() == expected

    v_opt = delta_optimize(spark, path, target_files=1)
    assert delta_read(spark, path).count() == expected
    assert len(delta_live_adds(spark, path)) == 1

    deleted_files = delta_vacuum(spark, path, keep_versions=1)
    assert deleted_files, "fragmented pre-OPTIMIZE files must be reclaimed"
    assert delta_read(spark, path).count() == expected

    deleted_versions = delta_cleanup_log(spark, path)
    assert deleted_versions == list(range(10)), "commits below ckpt v10 go"
    assert delta_read(spark, path).count() == expected
    # VACUUM(keep_versions=1) already reclaimed v10's files — its log
    # state still RESOLVES from the checkpoint (metadata contract), even
    # though the data scan would 404: exactly Delta's split between log
    # retention and data retention
    assert len(delta_live_adds(spark, path, version=10)) > 0
    import pytest

    with pytest.raises(ValueError, match="no longer reconstructible"):
        delta_read(spark, path, version=3)
    # one more write continues the log normally after all maintenance
    assert delta_write(n, path, mode="append") == v_opt + 1
    assert delta_read(spark, path).count() == expected + n.count()


def test_vacuum_reclaims_only_unreferenced_files(spark, sf_smoke):
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_live_files,
        delta_vacuum,
    )

    n = load_table(spark, sf_smoke, "nation")
    path = tempfile.mkdtemp(prefix="ls_dl_t10_")
    delta_write(n, path, mode="overwrite")
    v0_files = set(delta_live_files(spark, path))
    delta_write(n.where(F.col("n_regionkey") <= 1), path, mode="overwrite")
    before = n.where(F.col("n_regionkey") <= 1).count()

    deleted = delta_vacuum(spark, path, keep_versions=1)
    assert set(deleted) == v0_files, "exactly the retracted generation goes"
    # latest snapshot unaffected
    assert delta_read(spark, path).count() == before
    # vacuumed history is genuinely gone from disk
    on_disk = {p.rsplit("/", 1)[-1] for p in glob.glob(f"{path}/*.parquet")}
    assert on_disk.isdisjoint(v0_files)
    # idempotent
    assert delta_vacuum(spark, path, keep_versions=1) == []


def test_reader_refuses_higher_protocol_version(spark, sf_smoke):
    """Public Delta protocol requirement: a table whose log declares a
    minReaderVersion above what this reader implements must REFUSE to
    read (silently folding features like deletion vectors would return
    wrong rows, not degraded rows). Time travel to a snapshot below the
    protocol upgrade stays readable — the gate applies per-snapshot."""
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log

    n = load_table(spark, sf_smoke, "nation")
    path = tempfile.mkdtemp(prefix="ls_dl_proto_r_")
    delta_write(n, path, mode="overwrite")  # v0, protocol (1, 2)
    # a foreign writer upgrades the table to reader v3 / writer v7 with
    # a table feature this engine does not implement
    delta_log._write_commit(
        spark,
        path,
        1,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["icebergCompatV9"],
                    "writerFeatures": ["icebergCompatV9"],
                }
            }
        ],
    )
    with pytest.raises(ValueError, match="icebergCompatV9"):
        delta_read(spark, path)
    with pytest.raises(ValueError, match="icebergCompatV9"):
        delta_write(n, path, mode="append")  # replan folds the log too
    # snapshots below the upgrade commit are still this reader's dialect
    assert delta_read(spark, path, version=0).count() == n.count()
    # a v3 protocol that LISTS no features is malformed — refuse too
    path2 = tempfile.mkdtemp(prefix="ls_dl_proto_r2_")
    delta_write(n, path2, mode="overwrite")
    delta_log._write_commit(
        spark,
        path2,
        1,
        [{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7}}],
    )
    with pytest.raises(ValueError, match="reader features"):
        delta_read(spark, path2)
    # reader v2 is the LEGACY column-mapping version (what delta-spark
    # stamps on column-mapped tables below table features) — this reader
    # implements columnMapping, so v2 tables are readable (r11 fix
    # caught by the golden fixture); only v4+ legacy versions refuse
    path3 = tempfile.mkdtemp(prefix="ls_dl_proto_r3_")
    delta_write(n, path3, mode="overwrite")
    delta_log._write_commit(
        spark,
        path3,
        1,
        [{"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}],
    )
    assert delta_read(spark, path3).count() == n.count()
    path4 = tempfile.mkdtemp(prefix="ls_dl_proto_r4_")
    delta_write(n, path4, mode="overwrite")
    delta_log._write_commit(
        spark,
        path4,
        1,
        [{"protocol": {"minReaderVersion": 4, "minWriterVersion": 7}}],
    )
    with pytest.raises(ValueError, match="minReaderVersion=4"):
        delta_read(spark, path4)


def test_writer_refuses_higher_writer_version_reader_still_works(spark, sf_smoke):
    """A reader-v1 table may legitimately demand a newer WRITER (e.g.
    append-only invariants): reads keep working, writes refuse — and the
    gate survives checkpointing + log cleanup (protocol action restated
    in the checkpoint, not lost with the folded JSON commits)."""
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_checkpoint,
        delta_cleanup_log,
    )

    n = load_table(spark, sf_smoke, "nation")
    path = tempfile.mkdtemp(prefix="ls_dl_proto_w_")
    delta_write(n, path, mode="overwrite")  # v0
    delta_log._write_commit(
        spark, path, 1, [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 7}}]
    )
    assert delta_read(spark, path).count() == n.count()
    with pytest.raises(ValueError, match="minWriterVersion=7"):
        delta_write(n, path, mode="append")
    # checkpoint restates the table's protocol, not this writer's own
    delta_checkpoint(spark, path)
    deleted = delta_cleanup_log(spark, path)
    assert deleted, "cleanup must fold the pre-checkpoint commits"
    assert delta_read(spark, path).count() == n.count()
    with pytest.raises(ValueError, match="minWriterVersion=7"):
        delta_write(n, path, mode="append")


def test_concurrent_writers_with_evolution_and_checkpoint(
    spark, sf_smoke, monkeypatch
):
    """The classic lakehouse corruption corner, composed: two racing
    writers (disjoint partitions), the loser carrying a schema
    EVOLUTION, the retry landing exactly on the checkpoint-interval
    commit — then a second race where an OVERWRITE loses to an append
    and its replan must recompute the remove set to include the
    winner's files. Both commits land at distinct versions and the
    post-race snapshot equals the union (resp. the overwrite)."""
    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_metadata,
    )

    base = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(8)], "id bigint, k string"
    )
    path = tempfile.mkdtemp(prefix="ls_dl_race_evo_")
    delta_write(base, path, partition_by=["k"])  # v0
    for i in range(1, 9):  # v1..v8: next writer targets v9
        delta_write(
            base.where(F.col("id") == i % 8),
            path,
            mode="append",
            partition_by=["k"],
        )

    evolved = spark.createDataFrame(
        [(100, "a", 9.5)], "id bigint, k string, score double"
    )
    competitor = spark.createDataFrame([(200, "b")], "id bigint, k string")

    real = delta_log._write_commit
    state = {"raced": False}

    def racing(spark_, p, version, actions):
        if not state["raced"]:
            state["raced"] = True
            # the competitor's FULL commit (old schema, disjoint
            # partition) lands this version first; recursion hits the
            # raced=True branch so it uses the real commit path
            won = delta_write(
                competitor, p, mode="append", partition_by=["k"]
            )
            assert won == version
        return real(spark_, p, version, actions)

    monkeypatch.setattr(delta_log, "_write_commit", racing)
    v_evo = delta_write(
        evolved, path, mode="append", partition_by=["k"], merge_schema=True
    )
    assert state["raced"]
    # competitor took v9; the evolution retried onto v10 — the
    # checkpoint-interval commit, so the auto-checkpoint covers it
    assert v_evo == 10
    assert delta_log._list_checkpoints(spark, path) == [10]

    out = delta_read(spark, path)
    assert out.columns == ["id", "k", "score"]
    assert out.count() == 8 + 8 + 1 + 1
    assert out.where(F.col("score").isNotNull()).count() == 1
    assert (
        out.where((F.col("id") == 200) & F.col("score").isNull()).count() == 1
    )
    meta_cols = [
        f["name"]
        for f in json.loads(delta_metadata(spark, path)["schemaString"])["fields"]
    ]
    assert meta_cols == ["id", "k", "score"]
    # the winner's snapshot (v9) predates the evolution: old schema
    v9 = delta_read(spark, path, version=9)
    assert v9.columns == ["id", "k"] and v9.count() == 17

    # --- race 2: overwrite loses to an append; replan must retract the
    # winner's files too, or the "overwrite" silently keeps them ---
    state["raced"] = False
    competitor2 = spark.createDataFrame(
        [(201, "b", 2.0)], "id bigint, k string, score double"
    )
    overwriter = spark.createDataFrame(
        [(300, "a", 1.0)], "id bigint, k string, score double"
    )

    def racing2(spark_, p, version, actions):
        if not state["raced"]:
            state["raced"] = True
            won = delta_write(
                competitor2, p, mode="append", partition_by=["k"]
            )
            assert won == version
        return real(spark_, p, version, actions)

    monkeypatch.setattr(delta_log, "_write_commit", racing2)
    v_ow = delta_write(overwriter, path, mode="overwrite", partition_by=["k"])
    assert v_ow == 12, "competitor took v11; overwrite retried at v12"
    final = delta_read(spark, path)
    assert [(r.id, r.k, r.score) for r in final.collect()] == [(300, "a", 1.0)]
    # v11 (pre-overwrite) still time-travels to the full union + competitor2
    assert delta_read(spark, path, version=11).count() == 19


def test_restore_to_version(spark, sf_smoke):
    """RESTORE: latest snapshot equals the restored version's rows and
    schema, history (including the destroyed generation) stays
    time-travelable, the commit is pure metadata (re-added paths, no new
    data files), and restoring past a vacuum refuses loudly."""
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_restore,
        delta_vacuum,
    )

    n = load_table(spark, sf_smoke, "nation")
    path = tempfile.mkdtemp(prefix="ls_dl_restore_")
    delta_write(n, path, mode="overwrite")  # v0
    delta_write(n, path, mode="append")  # v1: 2x nation
    delta_write(n.where(F.col("n_regionkey") == 0), path, mode="overwrite")  # v2
    n_files_before = len(glob.glob(f"{path}/*.parquet"))
    assert delta_restore(spark, path, 1) == 3
    # restored snapshot == v1, no data files written by the restore
    assert delta_read(spark, path).count() == 2 * n.count()
    assert len(glob.glob(f"{path}/*.parquet")) == n_files_before
    # the destroyed generation is still one time-travel away
    assert (
        delta_read(spark, path, version=2).count()
        == n.where(F.col("n_regionkey") == 0).count()
    )
    # restore composes with schema evolution: restoring below the
    # evolution brings the OLD schema back
    evolved = n.withColumn("extra", F.lit(1).cast("bigint"))
    delta_write(evolved, path, mode="overwrite", merge_schema=True)  # v4
    assert delta_read(spark, path).columns == [*n.columns, "extra"]
    delta_restore(spark, path, 3)  # v5: back to v1's shape
    assert delta_read(spark, path).columns == n.columns
    assert delta_read(spark, path).count() == 2 * n.count()
    # vacuum away everything the old generations referenced, then try to
    # restore into the hole
    delta_vacuum(spark, path, keep_versions=1)
    with pytest.raises(ValueError, match="removed by vacuum"):
        delta_restore(spark, path, 4)


# ---------------------------------------------------------------------------
# Row-level DML (copy-on-write DELETE / UPDATE / MERGE)


def test_delete_rewrites_only_affected_files(spark, sf_smoke):
    """DELETE must remove exactly the predicate-true rows, rewrite ONLY
    files that held at least one of them, and leave every other file's
    add action untouched in the live set."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_delete,
    )

    c = load_table(spark, sf_smoke, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    path = tempfile.mkdtemp(prefix="ls_dl_del_")
    # partition by segment so the predicate's files are a strict subset
    delta_write(c, path, partition_by=["c_mktsegment"])
    before = set(delta_live_files(spark, path))
    v = delta_delete(spark, path, "c_mktsegment = 'BUILDING'")
    assert v == 1
    after = set(delta_live_files(spark, path))
    # only BUILDING files left the live set; no survivors were re-added
    # (the whole partition matched, so the rewrite stages nothing)
    gone = before - after
    assert gone and all("c_mktsegment=BUILDING" in f for f in gone)
    assert (before - gone) <= after
    back = delta_read(spark, path)
    expect = c.where(F.col("c_mktsegment") != "BUILDING")
    assert back.count() == expect.count()
    assert back.where(F.col("c_mktsegment") == "BUILDING").count() == 0
    # MVCC: version 0 still sees the deleted rows
    assert delta_read(spark, path, version=0).count() == c.count()


def test_delete_partial_file_keeps_survivors(spark, sf_smoke):
    """A file where only SOME rows match is rewritten with its
    survivors; predicate-NULL rows are kept (SQL three-valued DELETE)."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_delete,
    )

    c = (
        load_table(spark, sf_smoke, "customer")
        .select("c_custkey", "c_acctbal")
        .withColumn(
            "flag",
            F.when(F.col("c_custkey") % 3 == 0, F.lit(None).cast("boolean"))
            .otherwise(F.col("c_custkey") % 2 == 0),
        )
    )
    path = tempfile.mkdtemp(prefix="ls_dl_del2_")
    delta_write(c.repartition(4), path)
    delta_delete(spark, path, "flag")
    back = delta_read(spark, path)
    # survivors = flag false or NULL
    expect = c.where(~F.coalesce(F.col("flag"), F.lit(False)))
    assert back.count() == expect.count()
    assert (
        back.selectExpr("sum(c_custkey)").first()[0]
        == expect.selectExpr("sum(c_custkey)").first()[0]
    )


def test_delete_noop_returns_current_version(spark, sf_smoke):
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_delete,
    )

    n = load_table(spark, sf_smoke, "nation")
    path = tempfile.mkdtemp(prefix="ls_dl_del3_")
    delta_write(n, path)
    assert delta_delete(spark, path, "n_nationkey < 0") == 0
    assert len(_actions(path, 0)) > 0
    import os

    assert not os.path.exists(f"{path}/_delta_log/{1:020d}.json")


def test_update_applies_assignments_simultaneously(spark, sf_smoke):
    """UPDATE evaluates every assignment against the preimage (SET a=b,
    b=a swaps), keeps the row count invariant, and touches only
    predicate-true rows."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_update,
    )

    n = load_table(spark, sf_smoke, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    path = tempfile.mkdtemp(prefix="ls_dl_upd_")
    delta_write(n.repartition(3), path)
    delta_update(
        spark,
        path,
        "n_nationkey % 2 = 0",
        {"n_nationkey": "n_regionkey", "n_regionkey": "n_nationkey"},
    )
    back = delta_read(spark, path)
    assert back.count() == n.count()
    swapped = back.join(
        n.withColumnRenamed("n_nationkey", "orig_n").withColumnRenamed(
            "n_regionkey", "orig_r"
        ),
        F.col("n_nationkey") == F.col("orig_r"),
        "inner",
    )
    # every even original key now appears swapped
    evens = n.where(F.col("n_nationkey") % 2 == 0)
    got = back.exceptAll(
        n.where(F.col("n_nationkey") % 2 != 0)
    )  # the rewritten rows
    assert got.count() == evens.count()
    expect_swapped = evens.select(
        F.col("n_regionkey").alias("n_nationkey"),
        F.col("n_nationkey").alias("n_regionkey"),
    )
    assert got.exceptAll(expect_swapped).count() == 0


def test_update_unknown_column_rejected(spark, sf_smoke):
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_update,
    )

    n = load_table(spark, sf_smoke, "nation")
    path = tempfile.mkdtemp(prefix="ls_dl_upd2_")
    delta_write(n, path)
    with pytest.raises(ValueError, match="unknown columns"):
        delta_update(spark, path, "true", {"nope": F.lit(1)})


def test_merge_upserts_matched_and_inserts(spark, sf_smoke):
    """MERGE: matched targets take source values (including explicit
    NULLs), unmatched source rows insert with typed nulls for columns
    the source lacks, unmatched targets are untouched — one commit."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_merge,
    )

    n = load_table(spark, sf_smoke, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    path = tempfile.mkdtemp(prefix="ls_dl_mrg_")
    target = n.where(F.col("n_nationkey") < 15)
    delta_write(target.repartition(4), path)
    source = (
        n.where(F.col("n_nationkey") % 5 == 0)
        .select(
            "n_nationkey",
            F.when(F.col("n_nationkey") == 10, F.lit(None).cast("string"))
            .otherwise(F.concat(F.lit("NEW-"), F.col("n_name")))
            .alias("n_name"),
        )
    )
    v = delta_merge(spark, path, source, on=["n_nationkey"])
    assert v == 1, "one atomic commit"
    back = delta_read(spark, path)
    # 15 original targets + inserts for keys 15,20 (if present in nation)
    inserted_keys = [
        r[0]
        for r in source.where(F.col("n_nationkey") >= 15)
        .select("n_nationkey")
        .collect()
    ]
    assert back.count() == target.count() + len(inserted_keys)
    # matched update applied
    assert (
        back.where(F.col("n_nationkey") == 5).first()["n_name"].startswith("NEW-")
    )
    # explicit NULL from source lands as NULL
    assert back.where(F.col("n_nationkey") == 10).first()["n_name"] is None
    # inserted rows carry typed nulls for the column source lacks
    for k in inserted_keys:
        row = back.where(F.col("n_nationkey") == k).first()
        assert row["n_regionkey"] is None
    # untouched target rows identical
    assert (
        back.where(F.col("n_nationkey") == 1).first()["n_name"]
        == target.where(F.col("n_nationkey") == 1).first()["n_name"]
    )


def test_merge_rejects_duplicate_source_keys(spark, sf_smoke):
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_merge,
    )

    n = load_table(spark, sf_smoke, "nation").select("n_nationkey", "n_name")
    path = tempfile.mkdtemp(prefix="ls_dl_mrg2_")
    delta_write(n, path)
    dup_source = n.unionByName(n)
    with pytest.raises(ValueError, match="duplicate"):
        delta_merge(spark, path, dup_source, on=["n_nationkey"])


def test_dml_lifecycle_with_optimize_restore(spark, sf_smoke):
    """The verdict's composition ask: DML interleaved with OPTIMIZE and
    RESTORE. delete → optimize (dataChange=false) → update → restore to
    the pre-update snapshot → merge; every intermediate version stays
    readable and the final state is exactly the replayed semantics."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_delete,
        delta_merge,
        delta_optimize,
        delta_restore,
        delta_update,
    )

    # modulo predicates: non-empty on ANY fixture size
    s = load_table(spark, sf_smoke, "supplier").select(
        "s_suppkey", "s_nationkey", "s_acctbal"
    )
    path = tempfile.mkdtemp(prefix="ls_dl_life_")
    delta_write(s.repartition(6), path)  # v0
    assert delta_delete(spark, path, "s_suppkey % 3 = 0") == 1  # v1
    after_del = s.where(F.col("s_suppkey") % 3 != 0)
    assert delta_read(spark, path).count() == after_del.count()
    delta_optimize(spark, path, target_files=1)  # v2: layout only
    assert delta_read(spark, path).count() == after_del.count()
    assert (
        delta_update(
            spark, path, "s_suppkey % 3 = 1", {"s_acctbal": F.lit(-1.0)}
        )
        == 3
    )  # v3
    n_marked = after_del.where(F.col("s_suppkey") % 3 == 1).count()
    assert (
        delta_read(spark, path).where(F.col("s_acctbal") == -1.0).count()
        == n_marked
    )
    # restore to v2 (pre-update): original balances back, delete holds
    assert delta_restore(spark, path, 2) == 4  # v4
    restored = delta_read(spark, path)
    assert restored.count() == after_del.count()
    assert restored.exceptAll(after_del).count() == 0
    # merge on top of the restore: bump a keyed subset
    source = after_del.where(F.col("s_suppkey") % 3 == 2).select(
        "s_suppkey", (F.col("s_acctbal") + 1000.0).alias("s_acctbal")
    )
    assert source.count() > 0
    delta_merge(spark, path, source, on=["s_suppkey"])  # v5
    final = delta_read(spark, path)
    assert final.count() == after_del.count()
    bumped = final.join(source.select("s_suppkey"), "s_suppkey", "left_semi")
    orig_sum = after_del.where(F.col("s_suppkey") % 3 == 2).agg(
        F.sum("s_acctbal")
    ).first()[0]
    got_sum = bumped.agg(F.sum("s_acctbal")).first()[0]
    assert abs(got_sum - (orig_sum + 1000.0 * source.count())) < 1e-6
    # every version 0..5 remains readable (MVCC survives the whole run)
    for v in range(6):
        assert delta_read(spark, path, version=v).count() >= 0


def test_dml_conflict_detection(spark, sf_smoke, monkeypatch):
    """A DML commit that loses the rename race re-validates its read
    set: if a concurrent commit removed an affected file (here an
    OPTIMIZE rewrote everything), the DML raises
    DeltaConcurrentModification instead of committing a rewrite derived
    from dead files; if the race left the read set intact, it retries
    and lands at the next version."""
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        DeltaConcurrentModification,
        delta_delete,
        delta_optimize,
    )

    n = load_table(spark, sf_smoke, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    path = tempfile.mkdtemp(prefix="ls_dl_cc_")
    delta_write(n.repartition(3), path)  # v0

    real = delta_log._write_commit
    state = {"raced": False}

    def optimize_races(spark_, p, version, actions):
        # competitor: an OPTIMIZE lands first and rewrites every file
        if not state["raced"] and any("remove" in a for a in actions):
            state["raced"] = True
            monkeypatch.setattr(delta_log, "_write_commit", real)
            delta_optimize(spark_, p, target_files=1)
            monkeypatch.setattr(delta_log, "_write_commit", optimize_races)
        return real(spark_, p, version, actions)

    monkeypatch.setattr(delta_log, "_write_commit", optimize_races)
    with pytest.raises(DeltaConcurrentModification):
        delta_delete(spark, path, "n_nationkey % 2 = 0")
    monkeypatch.setattr(delta_log, "_write_commit", real)

    # benign race: competitor appends unrelated rows — delete retries
    state2 = {"raced": False}

    def append_races(spark_, p, version, actions):
        if not state2["raced"] and any("remove" in a for a in actions):
            state2["raced"] = True
            monkeypatch.setattr(delta_log, "_write_commit", real)
            delta_write(
                n.where(F.col("n_nationkey") == 99), p, mode="append"
            )
            monkeypatch.setattr(delta_log, "_write_commit", append_races)
        return real(spark_, p, version, actions)

    monkeypatch.setattr(delta_log, "_write_commit", append_races)
    v = delta_delete(spark, path, "n_nationkey % 2 = 0")
    monkeypatch.setattr(delta_log, "_write_commit", real)
    back = delta_read(spark, path)
    assert back.where(F.col("n_nationkey") % 2 == 0).count() == 0


def test_cdf_dml_commits_write_change_files(spark, sf_smoke):
    """On a CDF-enabled table, DELETE/UPDATE/MERGE commits carry cdc
    actions pointing into _change_data/, the feed reproduces the exact
    change rows, and reading it opens ONLY change files (O(changes))."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_delete,
        delta_merge,
        delta_read_cdf,
        delta_update,
    )

    n = load_table(spark, sf_smoke, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    path = tempfile.mkdtemp(prefix="ls_dl_cdf_")
    delta_write(
        n.repartition(3),
        path,
        configuration={"delta.enableChangeDataFeed": "true"},
    )  # v0
    delta_delete(spark, path, "n_nationkey % 4 = 0")  # v1
    delta_update(
        spark, path, "n_nationkey % 4 = 1", {"n_regionkey": "n_regionkey + 10"}
    )  # v2
    source = n.where(F.col("n_nationkey") >= 23).select(
        (F.col("n_nationkey") + 100).alias("n_nationkey"), "n_regionkey"
    )
    delta_merge(spark, path, source, on=["n_nationkey"])  # v3: pure insert
    # cdc actions present in each DML commit
    for v, kinds in ((1, {"delete"}), (2, {"update_preimage", "update_postimage"}), (3, {"insert"})):
        acts = _actions(path, v)
        cdc = [a for a in acts if "cdc" in a]
        assert cdc, f"commit {v} missing cdc actions"
        assert all(a["cdc"]["path"].startswith("_change_data/") for a in cdc)
        feed_v = delta_read_cdf(spark, path, v, v)
        got_kinds = {r["_change_type"] for r in feed_v.select("_change_type").distinct().collect()}
        assert got_kinds == kinds
        # O(changes): only _change_data files are opened
        assert all("_change_data/" in f for f in feed_v.inputFiles())
    # the feed's content is exact
    feed = delta_read_cdf(spark, path, 1, 3)
    deleted = {r.n_nationkey for r in feed.where("_change_type = 'delete'").collect()}
    assert deleted == {
        r.n_nationkey for r in n.where("n_nationkey % 4 = 0").collect()
    }
    pre = feed.where("_change_type = 'update_preimage'")
    post = feed.where("_change_type = 'update_postimage'")
    assert pre.count() == post.count() == n.where("n_nationkey % 4 = 1").count()
    assert (
        post.agg(F.sum("n_regionkey")).first()[0]
        - pre.agg(F.sum("n_regionkey")).first()[0]
        == 10 * pre.count()
    )
    ins = {r.n_nationkey for r in feed.where("_change_type = 'insert'").collect()}
    assert ins == {r.n_nationkey + 100 for r in n.where("n_nationkey >= 23").collect()}


def test_cdf_derives_from_data_files_without_cdc_actions(spark, sf_smoke):
    """Commits without cdc actions (plain append/overwrite, or any
    commit on a non-CDF table) derive their feed from dataChange
    add/remove files; OPTIMIZE (dataChange=false) contributes nothing."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_optimize,
        delta_read_cdf,
    )

    n = load_table(spark, sf_smoke, "nation").select("n_nationkey")
    path = tempfile.mkdtemp(prefix="ls_dl_cdf2_")
    delta_write(n, path)  # v0 (CDF not enabled — derivation path)
    delta_write(n.where(F.col("n_nationkey") < 5), path, mode="append")  # v1
    delta_optimize(spark, path, target_files=1)  # v2
    feed = delta_read_cdf(spark, path, 0, 2)
    by_type = {
        (r["_commit_version"], r["_change_type"]): r["n"]
        for r in feed.groupBy("_commit_version", "_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert by_type == {
        (0, "insert"): n.count(),
        (1, "insert"): 5,
    }, by_type


def test_cdf_range_validation(spark, sf_smoke):
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_read_cdf,
    )

    n = load_table(spark, sf_smoke, "nation").select("n_nationkey")
    path = tempfile.mkdtemp(prefix="ls_dl_cdf3_")
    delta_write(n, path)
    with pytest.raises(ValueError, match="no longer reconstructible"):
        delta_read_cdf(spark, path, 0, 5)


def test_vacuum_spares_change_data_files(spark, sf_smoke):
    """VACUUM reclaims unreferenced DATA files but never the CDF files:
    their lifetime follows the log's, and a retained commit must keep
    its feed readable."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_delete,
        delta_read_cdf,
        delta_vacuum,
    )

    n = load_table(spark, sf_smoke, "nation").select("n_nationkey")
    path = tempfile.mkdtemp(prefix="ls_dl_cdfvac_")
    delta_write(
        n.repartition(2),
        path,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    delta_delete(spark, path, "n_nationkey % 2 = 0")  # v1 writes cdc
    deleted = delta_vacuum(spark, path, keep_versions=1)
    assert deleted, "v0's rewritten files should be reclaimed"
    assert all(not p.startswith("_change_data/") for p in deleted)
    feed = delta_read_cdf(spark, path, 1, 1)
    assert feed.where("_change_type = 'delete'").count() == n.where(
        "n_nationkey % 2 = 0"
    ).count()


def test_check_constraints_enforced_across_write_paths(spark, sf_smoke):
    """Writer-v3 CHECK constraints: ADD CONSTRAINT validates existing
    data and bumps the protocol to minWriterVersion 3; every write path
    (append, UPDATE, MERGE) refuses violating rows atomically; DROP
    restores unconstrained writes; a v4 table is still refused."""
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_add_constraint,
        delta_drop_constraint,
        delta_merge,
        delta_update,
    )

    n = load_table(spark, sf_smoke, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    path = tempfile.mkdtemp(prefix="ls_dl_chk_")
    delta_write(n, path)  # v0, declares writer v2
    v = delta_add_constraint(
        spark, path, "key_nonneg", "n_nationkey >= 0"
    )  # v1
    protos = [a["protocol"] for a in _actions(path, v) if "protocol" in a]
    assert protos and protos[0]["minWriterVersion"] == 3
    # conforming append still works on the v3 table
    delta_write(n.limit(1), path, mode="append")  # v2
    # violating append refused, nothing committed
    bad = n.withColumn("n_nationkey", F.col("n_nationkey") - 1000)
    before = delta_read(spark, path).count()
    with pytest.raises(ValueError, match="key_nonneg"):
        delta_write(bad, path, mode="append")
    assert delta_read(spark, path).count() == before
    # violating UPDATE refused
    with pytest.raises(ValueError, match="key_nonneg"):
        delta_update(
            spark, path, "n_nationkey = 1", {"n_nationkey": F.lit(-5)}
        )
    # violating MERGE refused: the unmatched source rows would insert
    # negative keys, so the staged commit must be rejected whole
    with pytest.raises(ValueError, match="key_nonneg"):
        delta_merge(
            spark,
            path,
            n.limit(3).select(
                "n_nationkey",
                (F.col("n_nationkey") - 1000).alias("n_regionkey"),
            ).withColumn(
                "n_nationkey", F.col("n_nationkey") - 1000
            ),
            on=["n_nationkey"],
        )
    assert delta_read(spark, path).count() == before
    # a constraint the existing table violates cannot be added
    with pytest.raises(ValueError, match="small_keys"):
        delta_add_constraint(spark, path, "small_keys", "n_nationkey < 3")
    # drop, then the formerly-violating append lands
    delta_drop_constraint(spark, path, "key_nonneg")
    delta_write(bad.limit(2), path, mode="append")
    # foreign v4 tables remain refused by the writer gate
    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log as dl

    proto_path = tempfile.mkdtemp(prefix="ls_dl_chk4_")
    delta_write(n, proto_path)
    import json as _json

    with open(f"{proto_path}/_delta_log/{1:020d}.json", "w") as fh:
        fh.write(
            _json.dumps(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}}
            )
            + "\n"
        )
    with pytest.raises(ValueError, match="minWriterVersion=4"):
        delta_write(n.limit(1), proto_path, mode="append")


# ---------------------------------------------------------------------------
# Deletion vectors (merge-on-read DELETE; reader v3 / writer v7 features)


def _dv_table(spark, prefix: str, n_rows: int = 200, parts: int = 4) -> str:
    """A fresh DV-test table: n_rows of (id, v) spread over `parts`
    files, per-file stats recorded so full-file deletion is detectable."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_write,
    )

    df = spark.range(n_rows).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    path = tempfile.mkdtemp(prefix=prefix)
    delta_write(df.repartition(parts), path, stats_cols=["id"])
    return path


def test_dv_delete_commits_descriptor_not_rewrite(spark):
    """A DV delete must not rewrite or retire any data file: the commit
    re-adds the SAME paths with deletionVector descriptors, upgrades the
    protocol to the deletionVectors table feature, and the snapshot scan
    filters the deleted positions."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_live_adds,
    )

    path = _dv_table(spark, "ls_dv_basic_")
    before = {f for f, _ in delta_live_adds(spark, path)}
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_delete_dv,
    )

    assert delta_delete_dv(spark, path, "id % 3 = 0") == 1
    adds = delta_live_adds(spark, path)
    assert {f for f, _ in adds} == before, "data file set must not change"
    descs = [a["deletionVector"] for _, a in adds]
    assert all(d["storageType"] == "u" for d in descs)
    assert sum(d["cardinality"] for d in descs) == len(
        [i for i in range(200) if i % 3 == 0]
    )
    # protocol upgraded in the same commit
    actions = _actions(path, 1)
    protos = [a["protocol"] for a in actions if "protocol" in a]
    assert protos and protos[0]["minReaderVersion"] == 3
    assert "deletionVectors" in protos[0]["readerFeatures"]
    assert "deletionVectors" in protos[0]["writerFeatures"]
    # remove+add pairs for every affected file, no new data files
    kinds = [next(iter(a)) for a in actions]
    assert kinds.count("remove") == kinds.count("add")
    got = sorted(r["id"] for r in delta_read(spark, path).collect())
    assert got == [i for i in range(200) if i % 3 != 0]


def test_dv_second_delete_merges_descriptors(spark):
    """Per-file DVs are monotone: a second delete's descriptor covers
    the union of both deletes' positions (prior units merged in), and
    cardinalities count the union exactly."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_delete_dv,
        delta_live_adds,
    )

    path = _dv_table(spark, "ls_dv_merge_")
    delta_delete_dv(spark, path, "id % 3 = 0")
    delta_delete_dv(spark, path, "id % 5 = 0")
    adds = delta_live_adds(spark, path)
    total = sum(
        a["deletionVector"]["cardinality"]
        for _, a in adds
        if a.get("deletionVector")
    )
    expect_deleted = len(
        [i for i in range(200) if i % 3 == 0 or i % 5 == 0]
    )
    assert total == expect_deleted
    got = sorted(r["id"] for r in delta_read(spark, path).collect())
    assert got == [i for i in range(200) if i % 3 != 0 and i % 5 != 0]
    # every live descriptor points at the SECOND commit's storage unit
    units = {
        a["deletionVector"]["pathOrInlineDv"]
        for _, a in adds
        if a.get("deletionVector")
    }
    assert len(units) == 1


def test_dv_full_file_delete_becomes_remove(spark):
    """When a DV would cover every row of a file (per the add's
    numRecords stats) the commit plain-removes the file instead of
    carrying a 100%-dead descriptor."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_delete_dv,
        delta_live_adds,
        delta_write,
    )

    df = spark.range(100).select(
        (F.col("id") % 2).cast("string").alias("bucket"), F.col("id")
    )
    path = tempfile.mkdtemp(prefix="ls_dv_full_")
    delta_write(
        df.repartition(2),
        path,
        partition_by=["bucket"],
        stats_cols=["id"],
    )
    delta_delete_dv(spark, path, "bucket = '1'")
    adds = delta_live_adds(spark, path)
    assert all(
        a.get("partitionValues", {}).get("bucket") == "0" for _, a in adds
    ), "files of the fully-deleted partition must be removed outright"
    assert all(not a.get("deletionVector") for _, a in adds)
    got = sorted(r["id"] for r in delta_read(spark, path).collect())
    assert got == [i for i in range(100) if i % 2 == 0]


def test_dv_time_travel_restore_checkpoint(spark):
    """DVs are MVCC like everything else: pre-delete snapshots read
    complete, RESTORE across a DV commit re-stamps the old descriptor
    state (including descriptor-free), and the descriptor + feature
    protocol survive a checkpoint round-trip."""
    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_checkpoint,
        delta_delete_dv,
        delta_restore,
    )

    path = _dv_table(spark, "ls_dv_tt_")
    delta_delete_dv(spark, path, "id % 3 = 0")  # v1
    delta_delete_dv(spark, path, "id % 5 = 0")  # v2
    assert delta_read(spark, path, version=0).count() == 200
    assert (
        delta_read(spark, path, version=1).count()
        == len([i for i in range(200) if i % 3 != 0])
    )
    # checkpoint round-trip: resolve v2 purely from the checkpoint
    cv = delta_checkpoint(spark, path)
    proto, meta, live, _ = delta_log._read_checkpoint(spark, path, cv)
    assert proto["minReaderVersion"] == 3
    assert "deletionVectors" in proto["readerFeatures"]
    descs = [
        a["deletionVector"] for a in live.values() if a.get("deletionVector")
    ]
    assert descs and all(
        d["cardinality"] > 0 and d["pathOrInlineDv"] for d in descs
    )
    # restore to v1: descriptors revert to the first delete's state
    delta_restore(spark, path, 1)
    got = sorted(r["id"] for r in delta_read(spark, path).collect())
    assert got == [i for i in range(200) if i % 3 != 0]
    # restore to v0: descriptor-free
    delta_restore(spark, path, 0)
    assert delta_read(spark, path).count() == 200


def test_dv_optimize_materializes_and_vacuum_reclaims(spark):
    """OPTIMIZE reads through the DVs and rewrites clean files (the
    descriptors disappear); VACUUM protects storage units any retained
    snapshot references and reclaims them once superseded."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_delete_dv,
        delta_live_adds,
        delta_optimize,
        delta_vacuum,
    )

    path = _dv_table(spark, "ls_dv_opt_")
    delta_delete_dv(spark, path, "id % 3 = 0")  # v1: unit A
    delta_delete_dv(spark, path, "id % 5 = 0")  # v2: unit B (supersedes A)
    # retain v1+v2: unit A is still referenced by v1's snapshot
    deleted = delta_vacuum(spark, path, keep_versions=2)
    assert not any(d.startswith("_deletion_vectors") for d in deleted)
    # retain only v2: unit A is unreferenced now
    deleted = delta_vacuum(spark, path, keep_versions=1)
    assert any(d.startswith("_deletion_vectors") for d in deleted)
    expect = [i for i in range(200) if i % 3 != 0 and i % 5 != 0]
    assert sorted(
        r["id"] for r in delta_read(spark, path).collect()
    ) == expect
    delta_optimize(spark, path)
    adds = delta_live_adds(spark, path)
    assert all(not a.get("deletionVector") for _, a in adds)
    # with the descriptors gone, the last unit is reclaimable too
    deleted = delta_vacuum(spark, path, keep_versions=1)
    assert any(d.startswith("_deletion_vectors") for d in deleted)
    assert sorted(
        r["id"] for r in delta_read(spark, path).collect()
    ) == expect


def test_dv_concurrent_dv_update_conflict(spark, monkeypatch):
    """Two DV deletes racing on the SAME files: the loser must abort
    (action-equality re-validation) — its descriptor was derived from a
    superseded DV state, and committing it would silently drop the
    winner's deletions. Path-liveness alone cannot catch this (the
    data file stays live throughout)."""
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        DeltaConcurrentModification,
        delta_delete_dv,
    )

    path = _dv_table(spark, "ls_dv_race_")
    real = delta_log._write_commit
    state = {"raced": False}

    def dv_races(spark_, p, version, actions):
        if not state["raced"] and any("remove" in a for a in actions):
            state["raced"] = True
            monkeypatch.setattr(delta_log, "_write_commit", real)
            delta_delete_dv(spark_, p, "id % 7 = 0")
            monkeypatch.setattr(delta_log, "_write_commit", dv_races)
        return real(spark_, p, version, actions)

    monkeypatch.setattr(delta_log, "_write_commit", dv_races)
    with pytest.raises(DeltaConcurrentModification):
        delta_delete_dv(spark, path, "id % 3 = 0")
    monkeypatch.setattr(delta_log, "_write_commit", real)
    # the winner's deletions survived intact
    got = sorted(r["id"] for r in delta_read(spark, path).collect())
    assert got == [i for i in range(200) if i % 7 != 0]


def test_dv_cdf_exact_and_fallback_refusal(spark):
    """On a CDF-enabled table a DV delete writes exact cdc delete
    images (already-deleted rows never reappear in later feeds); on a
    non-CDF table the file-granularity CDF fallback REFUSES a DV commit
    instead of misreporting the re-added file as inserted."""
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_delete_dv,
        delta_read_cdf,
        delta_write,
    )

    df = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    path = tempfile.mkdtemp(prefix="ls_dv_cdf_")
    delta_write(
        df.repartition(4),
        path,
        stats_cols=["id"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    delta_delete_dv(spark, path, "id % 3 = 0")  # v1
    delta_delete_dv(spark, path, "id % 3 = 1")  # v2: disjoint images
    feed1 = delta_read_cdf(spark, path, 1, 1)
    assert sorted(r["id"] for r in feed1.collect()) == [
        i for i in range(100) if i % 3 == 0
    ]
    feed2 = delta_read_cdf(spark, path, 2, 2)
    assert sorted(r["id"] for r in feed2.collect()) == [
        i for i in range(100) if i % 3 == 1
    ]
    assert set(r["_change_type"] for r in feed2.collect()) == {"delete"}
    # non-CDF table: fallback refuses rather than corrupts
    path2 = _dv_table(spark, "ls_dv_nocdf_")
    delta_delete_dv(spark, path2, "id % 3 = 0")
    with pytest.raises(ValueError, match="deletion vectors without"):
        delta_read_cdf(spark, path2, 1, 1)


def test_dv_interleaved_with_cow_dml_and_append(spark):
    """Lifecycle: DV delete → append → copy-on-write UPDATE → DV delete
    again; every mechanism sees through the others' commits."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_delete_dv,
        delta_update,
        delta_write,
    )

    path = _dv_table(spark, "ls_dv_mix_")
    delta_delete_dv(spark, path, "id >= 150")  # keep 0..149
    extra = spark.range(200, 220).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    delta_write(extra, path, mode="append", stats_cols=["id"])
    # CoW update rewrites affected files; their DVs must be applied in
    # the rewrite (deleted rows must NOT resurrect)
    delta_update(spark, path, "id % 10 = 0", {"v": F.col("v") + 1})
    delta_delete_dv(spark, path, "id < 10")
    rows = {r["id"]: r["v"] for r in delta_read(spark, path).collect()}
    expect_ids = [i for i in range(10, 150)] + list(range(200, 220))
    assert sorted(rows) == expect_ids
    for i in expect_ids:
        assert rows[i] == i * 2 + (1 if i % 10 == 0 else 0)


# ---------------------------------------------------------------------------
# Column mapping (mode=name): RENAME/DROP COLUMN as metadata, physical
# file names, reader/writer translation


def _cm_table(spark, prefix: str) -> str:
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_write,
    )

    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") * 2).alias("v"),
        (F.col("id") % 3).cast("string").alias("tag"),
    )
    path = tempfile.mkdtemp(prefix=prefix)
    delta_write(
        df.repartition(3),
        path,
        stats_cols=["id"],
        configuration={"delta.columnMapping.mode": "name"},
    )
    return path


def test_cm_files_hold_physical_names_read_is_logical(spark):
    """Data files of a mapped table are written under stable physical
    ``col-<uuid>`` names; the snapshot read presents logical names; the
    protocol declares the columnMapping table feature."""
    import pyarrow.parquet as pq

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_read,
    )

    path = _cm_table(spark, "ls_cm_basic_")
    f0 = glob.glob(f"{path}/part-*.parquet")[0]
    on_disk = pq.read_schema(f0).names
    assert all(n.startswith("col-") for n in on_disk)
    assert delta_read(spark, path).columns == ["id", "v", "tag"]
    protos = [a["protocol"] for a in _actions(path, 0) if "protocol" in a]
    assert "columnMapping" in protos[0]["readerFeatures"]
    # per-file stats are keyed by physical names (what skipping reads)
    adds = [a["add"] for a in _actions(path, 0) if "add" in a]
    stats = json.loads(adds[0]["stats"])
    assert all(k.startswith("col-") for k in stats["minValues"])


def test_cm_rename_and_drop_are_metadata_only(spark):
    """RENAME and DROP COLUMN commit ONLY a metaData action — the live
    file set is byte-identical — and time travel resolves each snapshot
    under its own schema."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_drop_column,
        delta_live_adds,
        delta_read,
        delta_rename_column,
    )

    path = _cm_table(spark, "ls_cm_meta_")
    files0 = delta_live_adds(spark, path)
    v1 = delta_rename_column(spark, path, "v", "value")
    v2 = delta_drop_column(spark, path, "tag")
    assert (v1, v2) == (1, 2)
    assert delta_live_adds(spark, path) == files0
    for v in (1, 2):
        kinds = [next(iter(a)) for a in _actions(path, v)]
        assert kinds == ["commitInfo", "metaData"]
    assert delta_read(spark, path).columns == ["id", "value"]
    assert delta_read(spark, path, version=0).columns == ["id", "v", "tag"]
    got = sorted(
        (r["id"], r["value"]) for r in delta_read(spark, path).collect()
    )
    assert got == [(i, i * 2) for i in range(100)]


def test_cm_rename_requires_mapping_and_validates(spark):
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_drop_column,
        delta_rename_column,
        delta_write,
    )

    plain = tempfile.mkdtemp(prefix="ls_cm_plain_")
    delta_write(spark.range(5).select("id"), plain)
    with pytest.raises(ValueError, match="columnMapping"):
        delta_rename_column(spark, plain, "id", "id2")
    path = _cm_table(spark, "ls_cm_val_")
    with pytest.raises(ValueError, match="no such column"):
        delta_rename_column(spark, path, "nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        delta_rename_column(spark, path, "v", "tag")
    with pytest.raises(ValueError, match="no such column"):
        delta_drop_column(spark, path, "nope")


def test_cm_dml_and_dv_translate_through_mapping(spark):
    """Copy-on-write DELETE/UPDATE and merge-on-read DV DELETE all
    operate on logical names over physical files; rewritten files keep
    physical names."""
    import pyarrow.parquet as pq

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_delete,
        delta_delete_dv,
        delta_read,
        delta_rename_column,
        delta_update,
    )

    path = _cm_table(spark, "ls_cm_dml_")
    delta_rename_column(spark, path, "v", "value")
    delta_delete(spark, path, "id % 10 = 0")
    delta_update(spark, path, "id % 7 = 0", {"value": F.col("value") + 1})
    delta_delete_dv(spark, path, "id >= 90")
    rows = {r["id"]: r["value"] for r in delta_read(spark, path).collect()}
    exp = {
        i: i * 2 + (1 if i % 7 == 0 else 0)
        for i in range(90)
        if i % 10 != 0
    }
    assert rows == exp
    # every data file on disk still holds physical names only
    for f in glob.glob(f"{path}/part-*.parquet"):
        assert all(n.startswith("col-") for n in pq.read_schema(f).names)


def test_cm_evolution_restore_and_stats_pruning(spark):
    """Schema evolution mints fresh physical names for NEW fields only;
    RESTORE across rename/drop re-stamps the old logical schema; the
    range_filter prunes through physical stats keys on logical input."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_drop_column,
        delta_metadata,
        delta_read,
        delta_rename_column,
        delta_restore,
        delta_write,
    )

    path = _cm_table(spark, "ls_cm_evo_")
    delta_rename_column(spark, path, "v", "value")
    delta_drop_column(spark, path, "tag")
    evolved = spark.range(100, 110).select(
        F.col("id"),
        (F.col("id") * 2).alias("value"),
        F.lit(5).cast("long").alias("extra"),
    )
    delta_write(
        evolved, path, mode="append", merge_schema=True, stats_cols=["id"]
    )
    meta = delta_metadata(spark, path)
    fields = {
        f["name"]: (f.get("metadata") or {})
        for f in json.loads(meta["schemaString"])["fields"]
    }
    assert fields["extra"]["delta.columnMapping.physicalName"].startswith(
        "col-"
    )
    ids = [m["delta.columnMapping.id"] for m in fields.values()]
    assert len(set(ids)) == len(ids), "field ids must stay unique"
    # stats pruning through the mapping: only files overlapping [0, 5]
    pruned = delta_read(spark, path, range_filter={"id": (200, 300)})
    assert pruned.count() == 0  # metadata-only skip, no file matches
    # restore to v0: original logical schema returns, data intact
    delta_restore(spark, path, 0)
    back = delta_read(spark, path)
    assert back.columns == ["id", "v", "tag"]
    assert back.count() == 100


# ---------------------------------------------------------------------------
# Generated columns (writer feature generatedColumns)


def test_generated_column_computed_verified_and_recomputed(spark):
    """Omitted → computed; contradicting values → refused; matching
    values → accepted; UPDATE recomputes from the post-image; direct
    UPDATE of the generated column is refused; MERGE inserts compute it."""
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_merge,
        delta_update,
        delta_write,
    )

    df = spark.range(50).select(F.col("id"), (F.col("id") * 3).alias("a"))
    path = tempfile.mkdtemp(prefix="ls_gen_")
    delta_write(df, path, generated_columns={"twice_a": "a * 2"})
    protos = [p["protocol"] for p in _actions(path, 0) if "protocol" in p]
    assert protos[0]["minWriterVersion"] == 7
    assert "generatedColumns" in protos[0]["writerFeatures"]
    assert protos[0]["minReaderVersion"] == 1  # pure writer feature
    back = delta_read(spark, path)
    assert back.columns == ["id", "a", "twice_a"]
    assert back.where("twice_a <> a * 2").count() == 0
    # append omitting the generated column
    delta_write(
        spark.range(50, 60).select(F.col("id"), (F.col("id") * 3).alias("a")),
        path,
        mode="append",
    )
    assert delta_read(spark, path).where("twice_a <> a * 2").count() == 0
    # append SUPPLYING correct values is accepted
    ok = spark.range(60, 65).select(
        F.col("id"), (F.col("id") * 3).alias("a"),
        (F.col("id") * 6).alias("twice_a"),
    )
    delta_write(ok, path, mode="append")
    # contradicting values are refused
    bad = spark.range(65, 70).select(
        F.col("id"), (F.col("id") * 3).alias("a"), F.lit(0).cast("long").alias("twice_a")
    )
    with pytest.raises(ValueError, match="generated column"):
        delta_write(bad, path, mode="append")
    # UPDATE of a dependency recomputes; of the generated column refuses
    delta_update(spark, path, "id % 5 = 0", {"a": F.col("a") + 1})
    assert delta_read(spark, path).where("twice_a <> a * 2").count() == 0
    with pytest.raises(ValueError, match="generated"):
        delta_update(spark, path, "id = 0", {"twice_a": F.lit(1)})
    # MERGE: updates and inserts both land with recomputed values
    src = spark.range(58, 72).select(
        F.col("id"), (F.col("id") * 10).alias("a")
    )
    delta_merge(spark, path, src, on=["id"])
    final = delta_read(spark, path)
    assert final.where("twice_a <> a * 2").count() == 0
    assert final.where("id >= 65").count() == 7  # inserts landed
    assert final.where("(id BETWEEN 58 AND 71) AND a <> id * 10").count() == 0


def test_generated_column_metadata_survives_evolution(spark):
    """Schema evolution must carry the generation expression forward;
    rename/drop of a dependency column is refused."""
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        _generated_columns,
        delta_metadata,
        delta_write,
    )

    df = spark.range(20).select(F.col("id"), (F.col("id") * 3).alias("a"))
    path = tempfile.mkdtemp(prefix="ls_gen_evo_")
    delta_write(
        df,
        path,
        generated_columns={"twice_a": "a * 2"},
        configuration={"delta.columnMapping.mode": "name"},
    )
    evolved = spark.range(20, 25).select(
        F.col("id"), (F.col("id") * 3).alias("a"), F.lit("t").alias("note")
    )
    delta_write(evolved, path, mode="append", merge_schema=True)
    assert _generated_columns(delta_metadata(spark, path)) == {
        "twice_a": "a * 2"
    }
    assert delta_read(spark, path).where("twice_a <> a * 2").count() == 0
    # dependency surgery is refused; unrelated surgery is fine
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_drop_column,
        delta_rename_column,
    )

    with pytest.raises(ValueError, match="referenced by"):
        delta_rename_column(spark, path, "a", "b")
    with pytest.raises(ValueError, match="referenced by"):
        delta_drop_column(spark, path, "a")
    delta_rename_column(spark, path, "note", "comment")
    assert delta_read(spark, path).columns == [
        "id", "a", "twice_a", "comment",
    ]


# ---------------------------------------------------------------------------
# In-commit timestamps / DESCRIBE HISTORY / TIMESTAMP AS OF


def test_history_and_timestamp_travel(spark, sf_smoke):
    """Every commit carries a monotonic in-commit timestamp and an
    operation name; TIMESTAMP AS OF resolves to the newest version at or
    before the given time, errors below v0, and a between-commits
    timestamp resolves to the earlier version."""
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_delete,
        delta_history,
        delta_optimize,
    )

    n = load_table(spark, sf_smoke, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    path = tempfile.mkdtemp(prefix="ls_dl_hist_")
    delta_write(n, path)  # v0
    delta_write(n.where("n_regionkey = 1"), path, mode="append")  # v1
    delta_delete(spark, path, "n_nationkey < 3")  # v2
    delta_optimize(spark, path)  # v3
    hist = delta_history(spark, path)
    assert [h["version"] for h in hist] == [3, 2, 1, 0]
    assert [h["operation"] for h in hist] == [
        "OPTIMIZE",
        "DELETE",
        "WRITE",
        "WRITE",
    ]
    # each commit names the snapshot it acted on; creation has none
    assert [h["readVersion"] for h in hist] == [2, 1, 0, None]
    stamps = [h["timestamp"] for h in reversed(hist)]
    assert all(isinstance(t, int) for t in stamps)
    assert stamps == sorted(stamps) and len(set(stamps)) == 4, "monotonic"
    # AS OF each commit's own stamp == that version; between-stamps
    # resolves to the earlier commit; before v0 errors
    for h in hist:
        assert (
            delta_read(spark, path, timestamp=h["timestamp"]).count()
            == delta_read(spark, path, version=h["version"]).count()
        )
    mid = stamps[1] - 1 if stamps[1] - stamps[0] > 1 else stamps[0]
    assert (
        delta_read(spark, path, timestamp=mid).count()
        == delta_read(spark, path, version=0).count()
    )
    with pytest.raises(ValueError, match="predates"):
        delta_read(spark, path, timestamp=stamps[0] - 10_000)
    with pytest.raises(ValueError, match="not both"):
        delta_read(spark, path, version=1, timestamp=stamps[1])
    with pytest.raises(ValueError, match="does not exist"):
        delta_read(spark, path, version=99)


# ---------------------------------------------------------------------------
# Identity columns (writer feature identityColumns)


def test_identity_allocation_uniqueness_and_watermark(spark):
    """Engine-allocated ids form the exact arithmetic series across
    write + append; the watermark advances atomically; explicit values
    and UPDATE/MERGE assignment of the identity column are refused;
    MERGE inserts mint fresh ids above the watermark."""
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        _identity_columns,
        delta_merge,
        delta_metadata,
        delta_update,
        delta_write,
    )

    df = spark.range(30).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    path = tempfile.mkdtemp(prefix="ls_idc_")
    delta_write(
        df.repartition(4),
        path,
        identity_columns={"row_id": {"start": 1000, "step": 2}},
    )
    protos = [a["protocol"] for a in _actions(path, 0) if "protocol" in a]
    assert "identityColumns" in protos[0]["writerFeatures"]
    delta_write(
        spark.range(30, 50).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        path,
        mode="append",
    )
    ids = sorted(r["row_id"] for r in delta_read(spark, path).collect())
    assert ids == list(range(1000, 1000 + 2 * 50, 2))
    assert _identity_columns(delta_metadata(spark, path))["row_id"] == {
        "start": 1000,
        "step": 2,
        "high": 1098,
    }
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        delta_write(
            spark.range(5).select(
                F.col("id").alias("k"),
                (F.col("id") * 2).alias("v"),
                F.lit(9).cast("long").alias("row_id"),
            ),
            path,
            mode="append",
        )
    with pytest.raises(ValueError, match="identity"):
        delta_update(spark, path, "k = 1", {"row_id": F.lit(0)})
    with pytest.raises(ValueError, match="identity"):
        delta_merge(
            spark,
            path,
            spark.range(3).select(
                F.col("id").alias("k"), F.lit(1).cast("long").alias("row_id")
            ),
            on=["k"],
            update_cols=["row_id"],
        )
    # MERGE: updates keep ids, inserts mint fresh ones above watermark
    src = spark.range(45, 60).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("v")
    )
    delta_merge(spark, path, src, on=["k"])
    final = delta_read(spark, path)
    got = {r["k"]: r["row_id"] for r in final.collect()}
    assert len(got) == 60 and len(set(got.values())) == 60
    pre_merge_ids = set(range(1000, 1100, 2))
    assert all(got[k] in pre_merge_ids for k in range(50))  # kept
    assert all(got[k] > 1098 for k in range(50, 60))  # fresh, above hw
    hw = _identity_columns(delta_metadata(spark, path))["row_id"]["high"]
    assert hw == max(got.values())


def test_zorder_optimize_skips_on_both_keys_and_clears_dvs(spark):
    """OPTIMIZE ZORDER: after the rewrite, range predicates on EITHER
    interleaved key prune files on footer stats; DVs present before the
    rewrite are materialized away; rows are unchanged; the commit is
    dataChange=false throughout."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_delete_dv,
        delta_live_adds,
        delta_optimize_zorder,
    )

    df = spark.range(4096).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / F.lit(64)).cast("long").alias("y"),
        F.col("id").alias("payload"),
    )
    path = tempfile.mkdtemp(prefix="ls_zo_")
    delta_write(df.repartition(8), path, stats_cols=["x", "y"])
    delta_delete_dv(spark, path, "payload % 100 = 0")
    v = delta_optimize_zorder(spark, path, ["x", "y"], target_files=8)
    adds = delta_live_adds(spark, path)
    assert all(not a.get("deletionVector") for _, a in adds)
    for a in _actions(path, v):
        body = a.get("add") or a.get("remove")
        if body is not None:
            assert body["dataChange"] is False

    def surviving(col, lo, hi):
        n = 0
        for _, a in adds:
            st = json.loads(a["stats"])
            mn, mx = st["minValues"].get(col), st["maxValues"].get(col)
            if mn is None or not (mn > hi or mx < lo):
                n += 1
        return n

    assert surviving("x", 0, 15) < len(adds), "x-range must skip files"
    assert surviving("y", 0, 15) < len(adds), "y-range must skip files"
    back = delta_read(spark, path)
    assert back.count() == 4096 - len([i for i in range(4096) if i % 100 == 0])
    got = delta_read(spark, path, range_filter={"x": (0, 15)}).where(
        "x BETWEEN 0 AND 15"
    )
    exp = [i for i in range(4096) if i % 64 <= 15 and i % 100 != 0]
    assert sorted(r["payload"] for r in got.collect()) == exp


# ---------------------------------------------------------------------------
# Shallow clone


def test_shallow_clone_zero_copy_and_isolation(spark):
    """The clone's v0 references source files by absolute URI (no data
    file under the clone dir), inherits DVs (storageType p), evolves
    independently (append/UPDATE/OPTIMIZE), never mutates the source,
    and its VACUUM reaps only clone-local files. Cloning a partitioned
    table or onto an existing table is refused."""
    import os

    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_clone,
        delta_delete_dv,
        delta_live_adds,
        delta_optimize,
        delta_update,
        delta_vacuum,
    )

    df = spark.range(200).select(F.col("id"), (F.col("id") * 2).alias("v"))
    src = tempfile.mkdtemp(prefix="ls_cl_src_")
    delta_write(df.repartition(4), src, stats_cols=["id"])
    delta_delete_dv(spark, src, "id % 10 = 0")
    dst = tempfile.mkdtemp(prefix="ls_cl_dst_")
    os.rmdir(dst)
    delta_clone(spark, src, dst)
    exp = sorted(i for i in range(200) if i % 10 != 0)
    assert sorted(r["id"] for r in delta_read(spark, dst).collect()) == exp
    assert not glob.glob(f"{dst}/part-*.parquet"), "must be zero-copy"
    adds = delta_live_adds(spark, dst)
    assert all(a["path"].startswith("file:") for _, a in adds)
    dvs = [a["deletionVector"] for _, a in adds if a.get("deletionVector")]
    assert dvs and all(d["storageType"] == "p" for d in dvs)
    # independent evolution; source untouched
    delta_write(
        spark.range(500, 520).select(F.col("id"), (F.col("id") * 2).alias("v")),
        dst,
        mode="append",
    )
    delta_update(spark, dst, "id = 1", {"v": F.lit(999)})
    assert delta_read(spark, src).where("v = 999").count() == 0
    assert delta_read(spark, src).count() == len(exp)
    # OPTIMIZE localizes every reference; clone vacuum spares the source
    delta_optimize(spark, dst)
    assert all(
        not a["path"].startswith("file:")
        for _, a in delta_live_adds(spark, dst)
    )
    delta_vacuum(spark, dst)
    assert delta_read(spark, src).count() == len(exp)
    assert delta_read(spark, dst).count() == len(exp) + 20
    # refusals
    with pytest.raises(ValueError, match="already a delta table"):
        delta_clone(spark, src, dst)
    part_src = tempfile.mkdtemp(prefix="ls_cl_part_")
    delta_write(
        spark.range(20).select(
            (F.col("id") % 2).cast("string").alias("b"), F.col("id")
        ),
        part_src,
        partition_by=["b"],
    )
    with pytest.raises(ValueError, match="partitioned"):
        delta_clone(spark, part_src, tempfile.mktemp(prefix="ls_cl_p2_"))


def test_update_dv_masks_positions_without_rewrite(spark):
    """Merge-on-read UPDATE: the affected data files stay LIVE (re-added
    with descriptors, never rewritten), post-image rows land in NEW
    files, stacked updates compose, CDF carries exact pre/post images,
    and reading applies the masks."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_live_adds,
        delta_read_cdf,
        delta_update_dv,
    )

    df = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    path = tempfile.mkdtemp(prefix="ls_udv_")
    delta_write(
        df.repartition(4),
        path,
        stats_cols=["id"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    files_v0 = {f for f, _ in delta_live_adds(spark, path)}
    delta_update_dv(spark, path, "id % 4 = 0", {"v": F.col("v") + 1})
    adds = dict(delta_live_adds(spark, path))
    # old files all still live with descriptors; new files appended
    assert files_v0 <= set(adds)
    assert all(adds[f].get("deletionVector") for f in files_v0)
    assert len(adds) > len(files_v0), "post-image rows must be new files"
    rows = {r["id"]: r["v"] for r in delta_read(spark, path).collect()}
    assert rows == {
        i: i * 2 + (1 if i % 4 == 0 else 0) for i in range(100)
    }
    # stacked second update composes on the same files
    delta_update_dv(spark, path, "id % 4 = 0", {"v": F.col("v") + 10})
    rows = {r["id"]: r["v"] for r in delta_read(spark, path).collect()}
    assert rows == {
        i: i * 2 + (11 if i % 4 == 0 else 0) for i in range(100)
    }
    # CDF: exact images for the first update
    feed = delta_read_cdf(spark, path, 1, 1)
    pre = sorted(
        r["id"] for r in feed.where("_change_type = 'update_preimage'").collect()
    )
    post = {
        r["id"]: r["v"]
        for r in feed.where("_change_type = 'update_postimage'").collect()
    }
    assert pre == [i for i in range(100) if i % 4 == 0]
    assert post == {i: i * 2 + 1 for i in range(100) if i % 4 == 0}


def test_generate_symlink_manifest(spark, sf_smoke):
    """GENERATE symlink_format_manifest: per-partition text manifests of
    absolute URIs; scanning exactly the manifest's files reproduces the
    snapshot; regeneration tracks OPTIMIZE; DV tables are refused until
    optimized; nullCount lands in per-file stats."""
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_delete_dv,
        delta_generate_manifest,
        delta_live_adds,
        delta_optimize,
    )

    n = load_table(spark, sf_smoke, "nation").select(
        "n_nationkey", "n_regionkey", "n_name"
    )
    path = tempfile.mkdtemp(prefix="ls_manifest_")
    delta_write(
        n.withColumn("rk", F.col("n_regionkey").cast("string")),
        path,
        partition_by=["rk"],
        stats_cols=["n_nationkey"],
    )
    rels = delta_generate_manifest(spark, path)
    assert len(rels) == 5  # one per region partition
    uris = []
    for rel in rels:
        with open(f"{path}/{rel}".replace("file:", "")) as fh:
            uris += [l.strip() for l in fh if l.strip()]
    live = {f for f, _ in delta_live_adds(spark, path)}
    assert {u.rsplit("/", 1)[-1] for u in uris} == {
        f.rsplit("/", 1)[-1] for f in live
    }
    # scanning the manifest files reproduces the snapshot rows
    scanned = spark.read.parquet(*[u.replace("file:", "") for u in uris])
    assert scanned.count() == n.count()
    # nullCount present in stats
    st = json.loads(dict(delta_live_adds(spark, path))[sorted(live)[0]]["stats"])
    assert st["nullCount"].get("n_nationkey") == 0
    # DV table refuses until optimized
    path2 = tempfile.mkdtemp(prefix="ls_manifest_dv_")
    delta_write(spark.range(50).select("id"), path2, stats_cols=["id"])
    delta_delete_dv(spark, path2, "id % 5 = 0")
    with pytest.raises(ValueError, match="deletion vectors"):
        delta_generate_manifest(spark, path2)
    delta_optimize(spark, path2)
    rels2 = delta_generate_manifest(spark, path2)
    assert rels2 == ["_symlink_format_manifest/manifest"]


def test_cow_dml_aborts_on_concurrent_dv_commit(spark, monkeypatch):
    """A copy-on-write UPDATE racing a DV DELETE on the same files must
    abort: the path stays live (liveness re-check would pass) but its
    descriptor changed — committing the rewrite would resurrect the DV
    deletions it never saw."""
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        DeltaConcurrentModification,
        delta_delete_dv,
        delta_update,
    )

    df = spark.range(80).select(F.col("id"), (F.col("id") * 2).alias("v"))
    path = tempfile.mkdtemp(prefix="ls_cowdv_")
    delta_write(df.repartition(2), path, stats_cols=["id"])
    real = delta_log._write_commit
    state = {"raced": False}

    def dv_races(spark_, p, version, actions):
        is_dml = any("remove" in a for a in actions) and any(
            "add" in a for a in actions
        )
        if not state["raced"] and is_dml:
            state["raced"] = True
            monkeypatch.setattr(delta_log, "_write_commit", real)
            delta_delete_dv(spark_, p, "id % 4 = 0")
            monkeypatch.setattr(delta_log, "_write_commit", dv_races)
        return real(spark_, p, version, actions)

    monkeypatch.setattr(delta_log, "_write_commit", dv_races)
    with pytest.raises(DeltaConcurrentModification):
        delta_update(spark, path, "id % 2 = 0", {"v": F.lit(0)})
    monkeypatch.setattr(delta_log, "_write_commit", real)
    # the DV delete's effect survived intact
    got = sorted(r["id"] for r in delta_read(spark, path).collect())
    assert got == [i for i in range(80) if i % 4 != 0]


def test_optimize_aborts_on_concurrent_append(spark, monkeypatch):
    """OPTIMIZE whose commit loses to a concurrent append must abort
    (typed) — its remove list and rewrite came from the pre-append
    snapshot, and landing it anyway could drop the appended rows."""
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        DeltaConcurrentModification,
        delta_optimize,
    )

    df = spark.range(50).select(F.col("id"))
    path = tempfile.mkdtemp(prefix="ls_optrace_")
    delta_write(df.repartition(4), path)
    real = delta_log._write_commit
    state = {"raced": False}

    def append_races(spark_, p, version, actions):
        layout_commit = any(
            "remove" in a and a["remove"].get("dataChange") is False
            for a in actions
        )
        if not state["raced"] and layout_commit:
            state["raced"] = True
            monkeypatch.setattr(delta_log, "_write_commit", real)
            delta_write(
                spark_.range(50, 60).select(F.col("id")), p, mode="append"
            )
            monkeypatch.setattr(delta_log, "_write_commit", append_races)
        return real(spark_, p, version, actions)

    monkeypatch.setattr(delta_log, "_write_commit", append_races)
    with pytest.raises(DeltaConcurrentModification):
        delta_optimize(spark, path)
    monkeypatch.setattr(delta_log, "_write_commit", real)
    # nothing lost: all 60 rows readable
    assert sorted(r["id"] for r in delta_read(spark, path).collect()) == list(
        range(60)
    )


def _read_race_cases():
    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log as dl

    def rows(spark, data):
        return spark.createDataFrame(data, "k long, v long")

    def update_all(spark, p):
        dl.delta_update(spark, p, "true", {"v": F.col("v") + 100})

    def dv_delete(spark, p):
        dl.delta_delete_dv(spark, p, "k % 3 = 0")

    def append(v):
        return lambda spark, p: delta_write(
            rows(spark, [(10, v)]), p, mode="append"
        )

    def add_v_check(spark, p):
        dl.delta_add_constraint(spark, p, "v_nonneg", "v >= 0")

    def lose_a_file(spark, p):
        import os

        os.remove(f"{p}/{dl.delta_live_files(spark, p)[0]}")

    # name: (setup, winner, op)
    return {
        "delete": (
            None, update_all,
            lambda s, p: dl.delta_delete(s, p, "k % 2 = 0"),
        ),
        "update": (
            None, update_all,
            lambda s, p: dl.delta_update(
                s, p, "k % 2 = 0", {"v": F.col("v") * 10}
            ),
        ),
        "merge": (
            None, update_all,
            lambda s, p: dl.delta_merge(
                s, p, rows(s, [(0, 500), (11, 511)]), on=["k"]
            ),
        ),
        "replace_where": (
            None, update_all,
            lambda s, p: dl.delta_replace_where(
                s, p, "k < 4", rows(s, [(0, 900), (1, 901)])
            ),
        ),
        "delete_dv": (
            None, dv_delete,
            lambda s, p: dl.delta_delete_dv(s, p, "k % 2 = 0"),
        ),
        "update_dv": (
            None, dv_delete,
            lambda s, p: dl.delta_update_dv(
                s, p, "k % 2 = 0", {"v": F.col("v") * 10}
            ),
        ),
        "reorg_purge": (
            lambda s, p: dl.delta_delete_dv(s, p, "k % 2 = 0"),
            dv_delete,
            dl.delta_reorg_purge,
        ),
        "optimize": (None, append(10), dl.delta_optimize),
        "add_constraint": (None, append(-1), add_v_check),
        "drop_constraint": (
            add_v_check, append(10),
            lambda s, p: dl.delta_drop_constraint(s, p, "v_nonneg"),
        ),
        "rename_column": (
            None, update_all,
            lambda s, p: dl.delta_rename_column(s, p, "v", "w"),
        ),
        "fsck": (lose_a_file, append(10), dl.delta_fsck),
    }


@pytest.mark.parametrize("case", list(_read_race_cases()))
def test_commit_checks_commits_landed_after_its_read(
    spark, arm_read_race, case
):
    """A competing commit that lands between an op's snapshot read and
    its commit: the op either aborts with DeltaConcurrentModification
    or, re-planned against the winner, refuses it like a serial run
    does (the table is then exactly the winner's result), or commits,
    and the table equals a serial run of the winner followed by the op —
    never a duplicated key or a resurrected row the winner deleted."""
    import shutil

    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log as dl

    setup, winner, op = _read_race_cases()[case]
    base = tempfile.mkdtemp(prefix=f"ls_readrace_{case}_")
    delta_write(
        spark.createDataFrame(
            [(i, i) for i in range(10)], "k long, v long"
        ).repartition(5),
        base,
        stats_cols=["k"],
        configuration={"delta.columnMapping.mode": "name"}
        if case == "rename_column"
        else None,
    )
    if setup is not None:
        setup(spark, base)
    serial, alone = base + "_serial", base + "_alone"
    shutil.copytree(base, serial)
    shutil.copytree(base, alone)

    def state(p):
        if dl.delta_fsck(spark, p, dry_run=True):
            # a table that lost a data file reads only once repaired:
            # compare a repaired copy
            shutil.copytree(p, p + "_repaired")
            p += "_repaired"
            dl.delta_fsck(spark, p)
        df = delta_read(spark, p)
        got = sorted(tuple(r) for r in df.collect())
        cons = dl._table_constraints(dl.delta_metadata(spark, p))
        return df.columns, got, cons

    winner(spark, alone)
    winner(spark, serial)
    try:
        op(spark, serial)
        serial_committed = True
    except ValueError:  # the op refuses the winner's table
        serial_committed = False

    raced = arm_read_race(lambda p: winner(spark, p))
    try:
        op(spark, base)
        committed = True
    except dl.DeltaConcurrentModification:
        committed = False
    except ValueError:
        # a re-planned metadata ALTER re-validates the winner's table
        # and refuses it, exactly as a serial run does
        assert not serial_committed
        committed = False
    assert raced["fired"]
    cols, got, cons = state(base)
    keys = [r[0] for r in got]
    assert len(keys) == len(set(keys)), f"duplicated keys: {got}"
    if committed:
        assert serial_committed, "committed what a serial run refuses"
        assert (cols, got, cons) == state(serial)
    else:
        assert (cols, got, cons) == state(alone)


def _rt_table(spark, prefix="ls_rt_"):
    path = tempfile.mkdtemp(prefix=prefix)
    mk = lambda a, b: (  # noqa: E731 — tiny fixture builder
        spark.range(a, b)
        .select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
        .repartition(1)
        .sortWithinPartitions("k")
    )
    delta_write(
        mk(0, 10),
        path,
        mode="overwrite",
        configuration={"delta.enableRowTracking": "true"},
    )
    delta_write(mk(10, 20), path, mode="append")
    return path


def test_row_tracking_ids_survive_full_dml_lifecycle(spark):
    """Stable row ids through the whole surface: fresh ids are batch-
    rank based; CoW UPDATE, CoW DELETE, OPTIMIZE, a DV update and a
    MERGE (update + insert) each preserve every surviving row's id;
    inserts mint ids strictly above the watermark; ids stay unique
    throughout."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_delete,
        delta_merge,
        delta_optimize,
        delta_update,
        delta_update_dv,
    )

    path = _rt_table(spark)
    base = {
        r["k"]: r["_row_id"]
        for r in delta_read(spark, path, row_ids=True).collect()
    }
    # two sorted single-file appends → id == k on this fixture
    assert base == {k: k for k in range(20)}

    delta_update(spark, path, "k % 5 = 1", {"v": "v + 1"})
    delta_delete(spark, path, "k = 3")
    delta_optimize(spark, path, target_files=1)
    delta_update_dv(spark, path, "k = 7", {"v": "999"})
    src = spark.range(8, 12).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    delta_merge(spark, path, src, on=["k"])

    rows = delta_read(spark, path, row_ids=True).collect()
    got = {r["k"]: r["_row_id"] for r in rows}
    ids = [r["_row_id"] for r in rows]
    assert len(set(ids)) == len(ids), "row ids must stay unique"
    assert 3 not in got
    # every pre-existing surviving row kept its original id
    for k in range(20):
        if k == 3:
            continue
        assert got[k] == base[k], f"row {k} was renumbered"
    # a second merge with keys absent from the target exercises the
    # insert path: fresh ids, old rows untouched
    delta_merge(
        spark,
        path,
        spark.range(100, 103).select(
            F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
        ),
        on=["k"],
    )
    rows2 = delta_read(spark, path, row_ids=True).collect()
    got2 = {r["k"]: r["_row_id"] for r in rows2}
    assert all(got2[k] == got[k] for k in got), "merge renumbered old rows"
    assert min(got2[k] for k in (100, 101, 102)) > max(base.values())
    assert len(set(got2.values())) == len(got2)


def test_row_tracking_composes_with_checkpoint_clone_and_time_travel(spark):
    """baseRowId survives the checkpoint fold (the add field round-trips
    the parquet checkpoint schema); a shallow clone preserves ids and
    allocates its own appends above the inherited watermark; time travel
    reads the OLD snapshot's ids."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_checkpoint,
        delta_clone,
        delta_update,
    )

    path = _rt_table(spark)
    delta_update(spark, path, "k % 5 = 1", {"v": "v + 1"})
    delta_checkpoint(spark, path)
    mk = lambda a, b: (  # noqa: E731
        spark.range(a, b)
        .select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
        .repartition(1)
        .sortWithinPartitions("k")
    )
    delta_write(mk(20, 25), path, mode="append")
    rows = delta_read(spark, path, row_ids=True).collect()
    got = {r["k"]: r["_row_id"] for r in rows}
    assert all(got[k] == k for k in range(20)), "checkpoint lost baseRowId"
    # post-checkpoint appends allocate above the rewrite-advanced
    # watermark (the UPDATE minted fresh ranges for its rewritten file)
    assert min(got[k] for k in range(20, 25)) >= 20
    assert len(set(got.values())) == len(got)

    clone = tempfile.mkdtemp(prefix="ls_rt_clone_")
    delta_clone(spark, path, clone)
    crows = delta_read(spark, clone, row_ids=True).collect()
    assert {r["k"]: r["_row_id"] for r in crows} == got
    delta_write(mk(30, 32), clone, mode="append")
    crows2 = delta_read(spark, clone, row_ids=True).collect()
    cgot = {r["k"]: r["_row_id"] for r in crows2}
    assert min(cgot[30], cgot[31]) > max(got.values())

    # time travel: version 0 sees only batch1 with its original ids
    v0 = delta_read(spark, path, version=0, row_ids=True).collect()
    assert {r["k"]: r["_row_id"] for r in v0} == {k: k for k in range(10)}


def test_row_tracking_refuses_reserved_column_and_untracked_read(spark):
    import pytest

    df = spark.range(5).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("_row_id")
    )
    path = tempfile.mkdtemp(prefix="ls_rt_bad_")
    with pytest.raises(ValueError, match="reserves the physical column"):
        delta_write(
            df,
            path,
            configuration={"delta.enableRowTracking": "true"},
        )
    plain = tempfile.mkdtemp(prefix="ls_rt_plain_")
    delta_write(spark.range(5).select(F.col("id")), plain)
    with pytest.raises(ValueError, match="does not enable"):
        delta_read(spark, plain, row_ids=True).collect()


def test_type_widening_lifecycle(spark):
    """int→bigint and float→double widening via mergeSchema append: the
    metaData evolves, pre-widening files read back upcast (no rewrite),
    a narrower later batch upcasts into the table, time travel below
    the widening keeps the original types, the checkpoint fold round-
    trips the widened schema, and non-chain changes stay rejected."""
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_checkpoint,
    )

    p = tempfile.mkdtemp(prefix="ls_tw_")
    b1 = spark.range(0, 5).select(
        F.col("id").alias("k"),
        F.col("id").cast("int").alias("cents"),
        F.col("id").cast("float").alias("score"),
    )
    delta_write(b1, p, configuration={"delta.enableTypeWidening": "true"})
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_live_files,
    )

    files_v0 = set(delta_live_files(spark, p))
    b2 = spark.range(5, 8).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).cast("long").alias("cents"),
        F.col("id").cast("double").alias("score"),
    )
    delta_write(b2, p, mode="append", merge_schema=True)
    b3 = spark.range(8, 10).select(
        F.col("id").alias("k"),
        F.col("id").cast("int").alias("cents"),
        F.col("id").cast("float").alias("score"),
    )
    delta_write(b3, p, mode="append", merge_schema=True)
    out = delta_read(spark, p)
    assert out.schema.simpleString() == (
        "struct<k:bigint,cents:bigint,score:double>"
    )
    got = sorted((r["k"], r["cents"], float(r["score"])) for r in out.collect())
    assert got == [
        (k, k * 10 if 5 <= k < 8 else k, float(k)) for k in range(10)
    ]
    # the widening never rewrote v0's files
    assert files_v0 <= set(delta_live_files(spark, p))
    # time travel below the widening keeps the original narrow types
    assert delta_read(spark, p, version=0).schema.simpleString() == (
        "struct<k:bigint,cents:int,score:float>"
    )
    delta_checkpoint(spark, p)
    assert delta_read(spark, p).schema.simpleString() == (
        "struct<k:bigint,cents:bigint,score:double>"
    )
    # non-chain change (int chain -> string) is still corruption, not
    # evolution
    bad = spark.range(10, 11).select(
        F.col("id").alias("k"),
        F.col("id").cast("string").alias("cents"),
        F.col("id").cast("float").alias("score"),
    )
    with pytest.raises(ValueError, match="cannot change column"):
        delta_write(bad, p, mode="append", merge_schema=True)
    # without the table feature, widening appends stay rejected
    p2 = tempfile.mkdtemp(prefix="ls_tw_off_")
    delta_write(b1, p2)
    with pytest.raises(ValueError, match="cannot change column"):
        delta_write(b2, p2, mode="append", merge_schema=True)


def test_type_widening_history_stamped_and_foreign_gate(spark):
    """Interop half of type widening: (a) this engine's own widening
    commits record each hop in the field's
    ``delta.typeWidening.previousTypes`` metadata (the public protocol's
    location), so foreign readers see the history; (b) a FOREIGN
    typeWidening table whose recorded history uses a widening outside
    the two implemented chains (the protocol also allows int→double,
    decimal changes, date→timestampNTZ) is refused with the same clean
    gating error as an unknown reader feature — not passed through to
    fail or misread inside the parquet scan."""
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_metadata,
    )

    p = tempfile.mkdtemp(prefix="ls_tw_hist_")
    b1 = spark.range(0, 5).select(
        F.col("id").alias("k"), F.col("id").cast("int").alias("cents")
    )
    delta_write(b1, p, configuration={"delta.enableTypeWidening": "true"})
    b2 = spark.range(5, 8).select(
        F.col("id").alias("k"), (F.col("id") * 10).cast("long").alias("cents")
    )
    delta_write(b2, p, mode="append", merge_schema=True)  # widening = v1
    fields = {
        f["name"]: f
        for f in json.loads(delta_metadata(spark, p)["schemaString"])["fields"]
    }
    hops = fields["cents"]["metadata"]["delta.typeWidening.previousTypes"]
    assert hops == [
        {"fromType": "integer", "toType": "long", "tableVersion": 1}
    ]
    assert "delta.typeWidening.previousTypes" not in (
        fields["k"].get("metadata") or {}
    )
    # the stamped table still reads green through the gate (+ checkpoint)
    assert delta_read(spark, p).count() == 8

    # forge a foreign table whose history records int -> double
    pf = tempfile.mkdtemp(prefix="ls_tw_foreign_")
    delta_write(b1, pf)
    meta = dict(delta_metadata(spark, pf))
    sj = json.loads(meta["schemaString"])
    for f in sj["fields"]:
        if f["name"] == "cents":
            f["type"] = "double"
            f["metadata"] = {
                "delta.typeWidening.previousTypes": [
                    {"fromType": "integer", "toType": "double", "tableVersion": 1}
                ]
            }
    meta["schemaString"] = json.dumps(sj)
    delta_log._write_commit(
        spark,
        pf,
        1,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["typeWidening"],
                    "writerFeatures": ["typeWidening"],
                }
            },
            {"metaData": meta},
        ],
    )
    with pytest.raises(ValueError, match="integer -> double"):
        delta_read(spark, pf)
    # pre-upgrade snapshots stay readable (gate is per-snapshot)
    assert delta_read(spark, pf, version=0).count() == 5


def test_row_tracking_feature_name_is_vendor_scoped(spark):
    """Row-id watermark interop: this engine's watermark discipline
    (metaData.configuration) diverges from delta-spark's domainMetadata,
    so its tables declare the ENGINE-SPECIFIC writer feature
    ``lakesailRowTracking`` — a foreign delta-spark writer refuses them
    (unknown feature) instead of minting overlapping baseRowIds; and
    symmetrically this writer refuses a foreign table declaring the
    standard ``rowTracking`` rather than corrupting ITS watermark."""
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log

    p = tempfile.mkdtemp(prefix="ls_rt_feat_")
    df = spark.range(0, 6).select(F.col("id").alias("k"))
    delta_write(df, p, configuration={"delta.enableRowTracking": "true"})
    proto, _, _, _ = delta_log._snapshot_state(spark, p)
    assert "lakesailRowTracking" in proto["writerFeatures"]
    assert "rowTracking" not in proto["writerFeatures"]
    # a foreign table with the standard feature name is NOT writable here
    pf = tempfile.mkdtemp(prefix="ls_rt_foreign_")
    delta_write(df, pf)
    delta_log._write_commit(
        spark,
        pf,
        1,
        [
            {
                "protocol": {
                    "minReaderVersion": 1,
                    "minWriterVersion": 7,
                    "writerFeatures": ["rowTracking"],
                }
            }
        ],
    )
    # every committing op runs the writer gate, and commits nothing
    dl = delta_log
    for op in [
        lambda: delta_write(df, pf, mode="append"),
        lambda: dl.delta_delete(spark, pf, "k = 1"),
        lambda: dl.delta_update(spark, pf, "k = 1", {"k": "k + 10"}),
        lambda: dl.delta_merge(spark, pf, df, on=["k"]),
        lambda: dl.delta_delete_dv(spark, pf, "k = 1"),
        lambda: dl.delta_optimize(spark, pf),
        lambda: dl.delta_restore(spark, pf, 0),
        lambda: dl.delta_add_constraint(spark, pf, "nonneg", "k >= 0"),
        lambda: dl.delta_set_domain_metadata(spark, pf, "app.x", "1"),
    ]:
        with pytest.raises(ValueError, match="rowTracking"):
            op()
        assert dl._list_versions(spark, pf) == [0, 1]
    # but it stays readable (reader path ignores writerFeatures)
    assert delta_read(spark, pf).count() == 6


def test_row_tracking_on_partitioned_table(spark):
    """Row tracking composes with hive-partitioned layout: the read
    schema carries partition columns (directory-discovered) AND the
    materialized _row_id (file-resident or null) at once; partitioned
    CoW UPDATE/DELETE preserve ids; a partition-pruned read returns the
    same ids as the full read."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_delete,
        delta_update,
    )

    p = tempfile.mkdtemp(prefix="ls_rt_part_")
    df = spark.range(0, 20).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("pt"),
        (F.col("id") * 2).alias("v"),
    )
    delta_write(
        df,
        p,
        partition_by=["pt"],
        configuration={"delta.enableRowTracking": "true"},
    )
    r0 = {
        r["k"]: r["_row_id"]
        for r in delta_read(spark, p, row_ids=True).collect()
    }
    assert len(set(r0.values())) == len(r0) == 20
    delta_update(spark, p, "k % 5 = 2", {"v": "v + 100"})
    delta_delete(spark, p, "k = 11")
    r1 = {
        r["k"]: r["_row_id"]
        for r in delta_read(spark, p, row_ids=True).collect()
    }
    assert 11 not in r1 and all(r1[k] == r0[k] for k in r1)
    pruned = {
        r["k"]: r["_row_id"]
        for r in delta_read(
            spark, p, partition_filter={"pt": "2"}, row_ids=True
        ).collect()
    }
    assert set(pruned) == {2, 6, 10, 14, 18}
    assert all(pruned[k] == r1[k] for k in pruned)


def test_row_tracking_composes_with_identity_merge(spark):
    """Regression (review findings): (a) an insert-bearing MERGE on a
    table with BOTH rowTracking and identityColumns must allocate ids
    for the inserts while carrying _row_id through the allocation
    select; (b) an update-only MERGE (zero inserts) on an identity
    table must conform the empty insert piece instead of crashing on
    the missing identity column."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_merge,
    )

    p = tempfile.mkdtemp(prefix="ls_rt_id_")
    delta_write(
        spark.range(5).select(
            F.col("id").alias("k"), F.lit(1).cast("long").alias("v")
        ),
        p,
        configuration={"delta.enableRowTracking": "true"},
        identity_columns={"rid": {"start": 100, "step": 1}},
    )
    before = {
        r["k"]: (r["_row_id"], r["rid"])
        for r in delta_read(spark, p, row_ids=True).collect()
    }
    delta_merge(
        spark,
        p,
        spark.range(3, 8).select(
            F.col("id").alias("k"), F.lit(2).cast("long").alias("v")
        ),
        on=["k"],
    )
    rows = delta_read(spark, p, row_ids=True).collect()
    got = {r["k"]: (r["_row_id"], r["rid"]) for r in rows}
    assert set(got) == set(range(8))
    assert all(got[k] == before[k] for k in range(5)), "ids must survive"
    assert all(got[k][1] is not None for k in (5, 6, 7)), "inserts get rids"
    assert len({v[0] for v in got.values()}) == len(got)
    assert len({v[1] for v in got.values()}) == len(got)
    # update-only merge (no inserts) on an identity table
    delta_merge(
        spark,
        p,
        spark.range(0, 3).select(
            F.col("id").alias("k"), F.lit(9).cast("long").alias("v")
        ),
        on=["k"],
    )
    after = {
        r["k"]: (r["_row_id"], r["rid"], r["v"])
        for r in delta_read(spark, p, row_ids=True).collect()
    }
    assert all(after[k][:2] == got[k] for k in got)
    assert all(after[k][2] == 9 for k in range(3))


def test_row_tracking_reserved_name_holds_on_append(spark):
    """Regression (review finding): the _row_id reservation must hold on
    EVERY append, not just creation — a merge_schema batch carrying a
    _row_id column would collide with the injected read-schema column
    and brick every row-tracking path."""
    import pytest

    p = tempfile.mkdtemp(prefix="ls_rt_resv_")
    delta_write(
        spark.range(3).select(F.col("id").alias("k")),
        p,
        configuration={"delta.enableRowTracking": "true"},
    )
    bad = spark.range(3).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("_row_id")
    )
    with pytest.raises(ValueError, match="reserves the physical column"):
        delta_write(bad, p, mode="append", merge_schema=True)
    # the table is untouched and still fully readable with ids
    assert delta_read(spark, p, row_ids=True).count() == 3


def test_distributed_snapshot_fold_matches_driver_fold(spark, monkeypatch):
    """delta_snapshot_adds_df (the Spark-job snapshot reconstruction)
    must reproduce the driver dict fold exactly over a lifecycle that
    exercises every reconciliation rule: checkpoint base state, tail
    adds, tail removes (CoW), and a same-commit remove+re-add (the DV
    re-stamp). Then delta_read on the distributed path (threshold forced
    to 1) must return the same rows and honor pushed-down range_filter
    pruning."""
    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_checkpoint,
        delta_delete,
        delta_delete_dv,
        delta_snapshot_adds_df,
    )

    p = tempfile.mkdtemp(prefix="ls_dist_fold_")
    df = spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("v")
    )
    delta_write(df.repartition(4), p, stats_cols=["k"])
    delta_delete_dv(spark, p, "k % 11 = 0")  # same-commit remove+re-add
    delta_checkpoint(spark, p)
    delta_write(
        spark.range(400, 500).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("v")
        ),
        p,
        mode="append",
    )
    delta_delete(spark, p, "k >= 450")  # CoW: tail removes + adds

    _, _, live, _ = delta_log._snapshot_state(spark, p)
    dist = {
        r["path"]: r.asDict(recursive=True)
        for r in delta_snapshot_adds_df(spark, p).collect()
    }
    assert set(dist) == set(live)
    for f, a in live.items():
        d = dist[f]
        assert d.get("baseRowId") == a.get("baseRowId")
        assert d.get("stats") == a.get("stats")
        dv_drv = a.get("deletionVector")
        dv_dist = d.get("deletionVector")
        if dv_drv is None:
            assert dv_dist is None or dv_dist.get("storageType") is None
        else:
            assert dv_dist["cardinality"] == dv_drv["cardinality"]
            assert dv_dist["pathOrInlineDv"] == dv_drv["pathOrInlineDv"]

    # force the distributed read path and compare full + pruned reads
    expected = sorted(
        (r["k"], r["v"]) for r in delta_read(spark, p).collect()
    )
    delta_checkpoint(spark, p)  # refresh pointer at the latest version
    monkeypatch.setattr(delta_log, "_DIST_FOLD_ROWS", 1)
    got = sorted((r["k"], r["v"]) for r in delta_read(spark, p).collect())
    assert got == expected
    pruned = delta_read(spark, p, range_filter={"k": (0, 50)})
    got_band = sorted(
        r["k"] for r in pruned.where("k <= 50").collect()
    )
    assert got_band == [k for k in range(51) if k % 11 != 0]


def test_distributed_fold_plans_50k_adds_as_spark_job(spark):
    """Scale proof for the distributed reconstruction: a forged
    checkpoint carrying 50k add actions plus a JSON tail commit
    (one remove + one add) resolves via spark.read scans — the
    checkpoint parquet and the tail commits are INPUT FILES of the
    returned plan, not driver-parsed — and the last-writer-wins
    reconciliation nets to exactly 50k live files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_checkpoint,
        delta_snapshot_adds_df,
    )

    p = tempfile.mkdtemp(prefix="ls_dist_50k_")
    delta_write(
        spark.range(0, 10).select(F.col("id").alias("k")), p
    )
    delta_checkpoint(spark, p)
    ckfile = f"{p}/_delta_log/{0:020d}.checkpoint.parquet"
    t = pq.read_table(ckfile)
    rows = t.to_pylist()
    base = next(r for r in rows if r.get("add"))["add"]
    meta_rows = [r for r in rows if not r.get("add")]
    synth = []
    for i in range(50_000):
        a = dict(base)
        a["path"] = f"part-synth-{i:06d}.parquet"
        synth.append(
            {"protocol": None, "metaData": None, "add": a, "txn": None}
        )
    pq.write_table(
        pa.Table.from_pylist(meta_rows + synth, schema=t.schema), ckfile
    )
    # the forged rewrite bypassed Hadoop's LocalFileSystem, whose .crc
    # sidecar from the original write is now stale — drop it
    import os

    crc = f"{p}/_delta_log/.{os.path.basename(ckfile)}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    with open(f"{p}/_delta_log/_last_checkpoint", "w") as fh:
        fh.write(json.dumps({"version": 0, "size": len(meta_rows) + 50_000}))
    # tail commit: retract one synthetic file, add a replacement
    delta_log._write_commit(
        spark,
        p,
        1,
        [
            {
                "remove": {
                    "path": "part-synth-000000.parquet",
                    "deletionTimestamp": 1,
                    "dataChange": True,
                }
            },
            {
                "add": {
                    "path": "part-tail-000001.parquet",
                    "partitionValues": {},
                    "size": 1,
                    "modificationTime": 1,
                    "dataChange": True,
                }
            },
        ],
    )
    adds = delta_snapshot_adds_df(spark, p)
    files = adds.inputFiles()
    assert any("checkpoint.parquet" in f for f in files)
    assert any(f.endswith("00000000000000000001.json") for f in files)
    got = adds.select("path")
    n = got.count()
    assert n == 50_000
    paths = {r["path"] for r in got.where(
        "path IN ('part-synth-000000.parquet', 'part-tail-000001.parquet', "
        "'part-synth-049999.parquet')"
    ).collect()}
    assert "part-synth-000000.parquet" not in paths  # removed by tail
    assert "part-tail-000001.parquet" in paths  # added by tail
    assert "part-synth-049999.parquet" in paths


def test_distributed_multipart_checkpoint_roundtrip(spark, monkeypatch):
    """delta_checkpoint(distributed=True): adds shard into protocol-named
    parts (<v>.checkpoint.<part>.<parts>.parquet) via a Spark job, the
    metadata actions ride part 1, and EVERY consumer resolves from the
    multi-part set — the driver fold (delta_read, delta_last_txn), the
    distributed fold, a tail append after the checkpoint, idempotent
    re-checkpointing with a different part count, and log cleanup."""
    import glob as _glob

    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_checkpoint,
        delta_cleanup_log,
        delta_delete_dv,
        delta_last_txn,
        delta_snapshot_adds_df,
    )

    p = tempfile.mkdtemp(prefix="ls_mp_ckpt_")
    df = spark.range(0, 600).select(
        F.col("id").alias("k"), (F.col("id") % 9).alias("v")
    )
    delta_write(df.repartition(6), p, stats_cols=["k"])
    delta_write(
        spark.range(600, 700).select(
            F.col("id").alias("k"), (F.col("id") % 9).alias("v")
        ),
        p,
        mode="append",
        txn=("mp_app", 41),
    )
    delta_delete_dv(spark, p, "k % 13 = 0")
    expected = sorted((r["k"], r["v"]) for r in delta_read(spark, p).collect())

    v = delta_checkpoint(spark, p, distributed=True, part_files=3)
    parts = sorted(
        _glob.glob(f"{p}/_delta_log/*.checkpoint.*.*.parquet")
    )
    assert len(parts) == 4  # 1 metadata part + 3 add parts
    assert not _glob.glob(f"{p}/_delta_log/*.checkpoint.parquet")
    lc = json.loads(open(f"{p}/_delta_log/_last_checkpoint").read())
    assert lc["parts"] == 4 and lc["version"] == v
    # live adds = 6 + 1 appended + DV re-stamps; pointer size counts them
    assert lc["size"] >= 7 + 2

    assert v in delta_log._list_checkpoints(spark, p)
    # driver fold from the multi-part base
    got = sorted((r["k"], r["v"]) for r in delta_read(spark, p).collect())
    assert got == expected
    assert delta_last_txn(spark, p, "mp_app") == 41
    # distributed fold from the multi-part base
    dist = sorted(
        r["path"] for r in delta_snapshot_adds_df(spark, p).collect()
    )
    _, _, live, _ = delta_log._snapshot_state(spark, p)
    assert dist == sorted(live)
    # distributed READ path over the multi-part pointer
    monkeypatch.setattr(delta_log, "_DIST_FOLD_ROWS", 1)
    assert (
        sorted((r["k"], r["v"]) for r in delta_read(spark, p).collect())
        == expected
    )
    monkeypatch.setattr(delta_log, "_DIST_FOLD_ROWS", 100_000)
    # tail append after the checkpoint folds on top of it
    delta_write(
        spark.range(700, 720).select(
            F.col("id").alias("k"), (F.col("id") % 9).alias("v")
        ),
        p,
        mode="append",
    )
    assert delta_read(spark, p).count() == len(expected) + 20
    # idempotent rewrite with a different part count replaces the set
    delta_checkpoint(spark, p, version=v, distributed=True, part_files=2)
    parts2 = sorted(_glob.glob(f"{p}/_delta_log/*.checkpoint.*.*.parquet"))
    assert len(parts2) == 3
    assert delta_read(spark, p).count() == len(expected) + 20
    # a NEWER single-file checkpoint wins; cleanup reaps the old parts
    delta_checkpoint(spark, p)
    delta_cleanup_log(spark, p)
    assert not _glob.glob(f"{p}/_delta_log/*.checkpoint.*.*.parquet")
    assert delta_read(spark, p).count() == len(expected) + 20


def test_append_only_tables_refuse_row_removal(spark):
    """delta.appendOnly=true: appends and layout-only OPTIMIZE stay
    legal; overwrite, CoW DELETE/UPDATE, DV DELETE and a retracting
    RESTORE are all refused with nothing committed."""
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_delete,
        delta_delete_dv,
        delta_optimize,
        delta_restore,
        delta_update,
        _list_versions,
    )

    p = tempfile.mkdtemp(prefix="ls_apponly_")
    df = spark.range(0, 100).select(F.col("id").alias("k"))
    delta_write(df, p, configuration={"delta.appendOnly": "true"})
    delta_write(
        spark.range(100, 120).select(F.col("id").alias("k")), p, mode="append"
    )
    delta_optimize(spark, p)  # dataChange=false: allowed
    v = _list_versions(spark, p)[-1]
    for op in (
        lambda: delta_write(df, p, mode="overwrite"),
        lambda: delta_delete(spark, p, "k % 2 = 0"),
        lambda: delta_update(spark, p, "k < 5", {"k": F.col("k") + 1}),
        lambda: delta_delete_dv(spark, p, "k % 2 = 0"),
        lambda: delta_restore(spark, p, 0),
    ):
        with pytest.raises(ValueError, match="append-only"):
            op()
    assert _list_versions(spark, p)[-1] == v  # nothing committed
    assert delta_read(spark, p).count() == 120


def test_column_invariants_enforced_on_foreign_tables(spark):
    """A foreign writer-v2 table carrying delta.invariants in its field
    metadata: this engine's writes must enforce the invariant (writer
    v2 is accepted exactly because everything it implies is honored) —
    a violating batch is refused, NULL violates (delta's invariant
    semantics, stricter than CHECK), and a passing batch commits."""
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_metadata,
    )

    p = tempfile.mkdtemp(prefix="ls_invariant_")
    # nullable k so the NULL-violates case is schema-compatible
    df = spark.range(1, 50).select(
        F.expr("CASE WHEN id > 0 THEN id END").alias("k")
    )
    delta_write(df, p)
    # forge the foreign invariant k > 0 into the field metadata
    meta = dict(delta_metadata(spark, p))
    sj = json.loads(meta["schemaString"])
    sj["fields"][0]["metadata"] = {
        "delta.invariants": json.dumps(
            {"expression": {"expression": "k > 0"}}
        )
    }
    meta["schemaString"] = json.dumps(sj)
    delta_log._write_commit(spark, p, 1, [{"metaData": meta}])
    delta_write(
        spark.range(50, 60).select(
            F.expr("CASE WHEN id > 0 THEN id END").alias("k")
        ),
        p,
        mode="append",
    )
    with pytest.raises(ValueError, match="invariant"):
        delta_write(
            spark.range(-3, 2).select(
                F.expr("CASE WHEN id >= -3 THEN id END").alias("k")
            ),
            p,
            mode="append",
        )
    with pytest.raises(ValueError, match="invariant"):
        delta_write(
            spark.sql("SELECT CAST(NULL AS BIGINT) AS k"), p, mode="append"
        )
    assert delta_read(spark, p).count() == 59


def test_v2_checkpoint_roundtrip_and_gating(spark, monkeypatch):
    """V2 checkpoints: writing requires the table to declare the
    v2Checkpoint feature; the UUID-named top file + sidecar layout is
    then the fold base for the driver fold, the distributed fold,
    delta_last_txn, and folds with a JSON tail on top; log cleanup
    reaps superseded tops AND their orphaned sidecars."""
    import glob as _glob

    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_checkpoint,
        delta_cleanup_log,
        delta_delete_dv,
        delta_enable_v2_checkpoints,
        delta_last_txn,
    )

    p = tempfile.mkdtemp(prefix="ls_v2ck_")
    df = spark.range(0, 500).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("v")
    )
    delta_write(df.repartition(4), p, stats_cols=["k"])
    with pytest.raises(ValueError, match="v2Checkpoint"):
        delta_checkpoint(spark, p, format="v2")
    delta_write(
        spark.range(500, 550).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("v")
        ),
        p,
        mode="append",
        txn=("v2app", 7),
    )
    delta_delete_dv(spark, p, "k % 17 = 0")
    expected = sorted((r["k"], r["v"]) for r in delta_read(spark, p).collect())
    up_v = delta_enable_v2_checkpoints(spark, p)
    # idempotent
    assert delta_enable_v2_checkpoints(spark, p) == up_v
    v = delta_checkpoint(spark, p, format="v2", part_files=3)
    assert v == up_v
    tops = _glob.glob(f"{p}/_delta_log/*.checkpoint.*.parquet")
    assert len(tops) == 1 and ".checkpoint.parquet" not in tops[0]
    sidecars = _glob.glob(f"{p}/_delta_log/_sidecars/*.parquet")
    assert len(sidecars) == 3
    lc = json.loads(open(f"{p}/_delta_log/_last_checkpoint").read())
    assert lc["version"] == v and lc["sidecars"] == 3
    assert v in delta_log._list_checkpoints(spark, p)
    # driver fold from the v2 base
    got = sorted((r["k"], r["v"]) for r in delta_read(spark, p).collect())
    assert got == expected
    assert delta_last_txn(spark, p, "v2app") == 7
    # distributed fold + distributed READ from the v2 base
    monkeypatch.setattr(delta_log, "_DIST_FOLD_ROWS", 1)
    assert (
        sorted((r["k"], r["v"]) for r in delta_read(spark, p).collect())
        == expected
    )
    monkeypatch.setattr(delta_log, "_DIST_FOLD_ROWS", 100_000)
    # JSON tail after the v2 checkpoint folds on top of it
    delta_write(
        spark.range(550, 560).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("v")
        ),
        p,
        mode="append",
    )
    assert delta_read(spark, p).count() == len(expected) + 10
    # a newer classic checkpoint supersedes it; cleanup reaps top+sidecars
    delta_checkpoint(spark, p)
    delta_cleanup_log(spark, p)
    assert not _glob.glob(f"{p}/_delta_log/_sidecars/*.parquet")
    remaining = _glob.glob(f"{p}/_delta_log/*.checkpoint.*")
    assert all(t.endswith(".checkpoint.parquet") for t in remaining)
    assert delta_read(spark, p).count() == len(expected) + 10


def test_zorder_three_columns_skips_on_each_dim(spark):
    """N-dim generalization: a 3-column OPTIMIZE ZORDER must (a) leave
    the row multiset untouched, (b) give footer-stats skipping on EVERY
    clustered dimension for a quarter-range band, and (c) auto-derive a
    bit width that fits the 62-bit lane for 4 columns. A single-column
    list stays rejected."""
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_live_adds,
        delta_optimize_zorder,
    )

    p = tempfile.mkdtemp(prefix="ls_zo3_")
    # three independent-ish dims scattered across arrival order
    df = spark.range(0, 4000).select(
        F.col("id").alias("x"),
        ((F.col("id") * 37) % 1000).alias("y"),
        ((F.col("id") * 101) % 50).alias("z"),
        (F.col("id") % 7).alias("v"),
    )
    delta_write(df.repartition(8), p, stats_cols=["x", "y", "z"])
    before = sorted(
        (r["x"], r["y"], r["z"], r["v"]) for r in delta_read(spark, p).collect()
    )
    delta_optimize_zorder(spark, p, ["x", "y", "z"], target_files=8)
    after = sorted(
        (r["x"], r["y"], r["z"], r["v"]) for r in delta_read(spark, p).collect()
    )
    assert before == after
    live = delta_live_adds(spark, p)
    spans = {"x": (0, 999), "y": (0, 249), "z": (0, 12)}
    for c, (lo, hi) in spans.items():
        surv = 0
        for _, a in live:
            st = json.loads(a["stats"])
            mn, mx = st["minValues"].get(c), st["maxValues"].get(c)
            if mn is None or mx is None or not (mn > hi or mx < lo):
                surv += 1
        assert surv < len(live), f"no skipping on {c}: {surv}/{len(live)}"
    with pytest.raises(ValueError, match="at least 2"):
        delta_optimize_zorder(spark, p, ["x"])
    # 4 columns: default bits drops to 15 (60 interleaved bits) and runs
    p4 = tempfile.mkdtemp(prefix="ls_zo4_")
    delta_write(df.repartition(4), p4, stats_cols=["x", "y", "z", "v"])
    delta_optimize_zorder(spark, p4, ["x", "y", "z", "v"], target_files=4)
    assert delta_read(spark, p4).count() == 4000


def test_incremental_zorder_rewrites_only_unclustered_files(spark):
    """ZCube bookkeeping in add.tags: after a full OPTIMIZE ZORDER, an
    incremental run [1] leaves the clustered cube's files in place and
    rewrites only freshly appended files, [2] is a zero-commit no-op
    when everything is clustered (also across a checkpoint and through
    the DISTRIBUTED fold — tags must survive both), [3] re-rewrites a
    file once a deletion vector lands on it, and [4] never changes the
    row multiset."""
    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_checkpoint,
        delta_delete_dv,
        delta_live_adds,
        delta_optimize_zorder,
        delta_snapshot_adds_df,
    )

    p = tempfile.mkdtemp(prefix="ls_zo_inc_")
    df = spark.range(0, 2000).select(
        F.col("id").alias("x"), ((F.col("id") * 37) % 500).alias("y")
    )
    delta_write(df.repartition(4), p, stats_cols=["x", "y"])
    v1 = delta_optimize_zorder(spark, p, ["x", "y"], target_files=4)
    cube_files = set(f for f, a in delta_live_adds(spark, p))
    tags = {a["tags"]["ZCUBE_ID"] for _, a in delta_live_adds(spark, p)}
    assert len(tags) == 1  # one cube
    delta_write(
        spark.range(2000, 2300).select(
            F.col("id").alias("x"), ((F.col("id") * 37) % 500).alias("y")
        ).repartition(2),
        p,
        mode="append",
    )
    appended = set(f for f, _ in delta_live_adds(spark, p)) - cube_files
    assert len(appended) == 2
    v3 = delta_optimize_zorder(
        spark, p, ["x", "y"], target_files=2, incremental=True
    )
    assert v3 == v1 + 2
    live_now = dict(delta_live_adds(spark, p))
    assert cube_files <= set(live_now)  # old cube untouched
    assert appended.isdisjoint(live_now)  # appended files re-clustered
    assert {a["tags"]["ZCUBE_ZORDER_BY"] for a in live_now.values()} == {
        '["x", "y"]'
    }
    assert delta_read(spark, p).count() == 2300
    # fully clustered → no-op, with tags resolved THROUGH a checkpoint
    delta_checkpoint(spark, p)
    assert (
        delta_optimize_zorder(spark, p, ["x", "y"], incremental=True) == v3
    )
    # ...and through the distributed fold
    dist_tags = {
        r["tags"]["ZCUBE_ZORDER_BY"]
        for r in delta_snapshot_adds_df(spark, p).collect()
    }
    assert dist_tags == {'["x", "y"]'}
    # a different column spec re-clusters everything
    assert len(
        {
            f
            for f, a in delta_live_adds(spark, p)
            if (a.get("tags") or {}).get("ZCUBE_ZORDER_BY") != '["y", "x"]'
        }
    ) == len(live_now)
    # DV landing on a cube file forces its rewrite (and only its cube's
    # affected files)
    delta_delete_dv(spark, p, "x % 501 = 0")
    dv_files = {
        f
        for f, a in delta_live_adds(spark, p)
        if a.get("deletionVector")
    }
    assert dv_files
    before_other = {
        f
        for f, a in delta_live_adds(spark, p)
        if not a.get("deletionVector")
    }
    delta_optimize_zorder(spark, p, ["x", "y"], incremental=True)
    after = dict(delta_live_adds(spark, p))
    assert dv_files.isdisjoint(after)  # DV files rewritten
    assert before_other <= set(after)  # clean cube files untouched
    assert not any(a.get("deletionVector") for a in after.values())
    assert delta_read(spark, p).count() == 2300 - len(
        [x for x in range(2300) if x % 501 == 0]
    )


def test_zorder_key_wrapper_is_bit_identical_to_n_dim(spark):
    """zorder_key (the 2-dim entry point every existing caller uses) and
    zorder_key_n([a, b]) must produce the same z-value bit-for-bit."""
    from lakesail_hdfs_deltalake_guide_spark.sources.layout import (
        zorder_key,
        zorder_key_n,
    )

    df = spark.range(0, 2048).select(
        F.col("id").alias("a"), ((F.col("id") * 7919) % 1024).alias("b")
    )
    bad = df.where(
        zorder_key(F.col("a"), F.col("b"), 10)
        != zorder_key_n([F.col("a"), F.col("b")], 10)
    ).count()
    assert bad == 0


def test_row_tracking_survives_zorder(spark):
    """OPTIMIZE ZORDER BY is the second id-materializing rewrite path
    (distinct code from plain compaction: range exchange + clustered
    staging) — it must preserve every row's id deterministically, not
    just probabilistically via the fuzzer."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_optimize_zorder,
    )

    path = _rt_table(spark, prefix="ls_rt_z_")
    base = {
        r["k"]: r["_row_id"]
        for r in delta_read(spark, path, row_ids=True).collect()
    }
    delta_optimize_zorder(spark, path, ["k", "v"], target_files=3)
    after = {
        r["k"]: r["_row_id"]
        for r in delta_read(spark, path, row_ids=True).collect()
    }
    assert after == base


# ---------------------------------------------------------------------------
# REORG TABLE APPLY (PURGE) + ALTER TABLE DROP FEATURE


def test_reorg_purge_materializes_dvs_layout_only(spark):
    """PURGE rewrites ONLY descriptor-carrying files, with
    dataChange=false on both sides of the swap (streaming readers skip
    it, like OPTIMIZE); untouched files keep their original adds and the
    logical snapshot is row-identical."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_delete_dv,
        delta_live_adds,
        delta_reorg_purge,
    )

    path = _dv_table(spark, "ls_purge_basic_")
    delta_delete_dv(spark, path, "id % 3 = 0")  # v1
    before = dict(delta_live_adds(spark, path))
    untouched = {f for f, a in before.items() if not a.get("deletionVector")}
    v = delta_reorg_purge(spark, path)
    assert v == 2
    after = dict(delta_live_adds(spark, path))
    assert not any(a.get("deletionVector") for a in after.values())
    # files without a DV were not rewritten
    assert untouched <= set(after)
    # the purge commit is layout-only on both sides
    actions = _actions(path, v)
    for a in actions:
        if "remove" in a:
            assert a["remove"]["dataChange"] is False
        if "add" in a:
            assert a["add"]["dataChange"] is False
    got = sorted(r["id"] for r in delta_read(spark, path).collect())
    assert got == [i for i in range(200) if i % 3 != 0]
    # pre-purge version still resolves with DVs applied
    got1 = sorted(r["id"] for r in delta_read(spark, path, version=1).collect())
    assert got1 == got


def test_reorg_purge_noop_without_dvs(spark):
    """A table with no live descriptors purges as a no-op: same version,
    no new commit."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_reorg_purge,
    )

    path = _dv_table(spark, "ls_purge_noop_")
    assert delta_reorg_purge(spark, path) == 0
    assert sorted(glob.glob(f"{path}/_delta_log/*.json")) == [
        f"{path}/_delta_log/{0:020d}.json"
    ]


def test_reorg_purge_keeps_row_ids(spark):
    """Row-tracked tables: PURGE materializes surviving rows' stable ids
    into the replacement files — same discipline as OPTIMIZE."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_delete_dv,
        delta_reorg_purge,
        delta_write,
    )

    df = spark.range(120).select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
    path = tempfile.mkdtemp(prefix="ls_purge_rt_")
    delta_write(
        df.repartition(4),
        path,
        stats_cols=["k"],
        configuration={"delta.enableRowTracking": "true"},
    )
    delta_delete_dv(spark, path, "k % 4 = 2")
    base = {
        r["k"]: r["_row_id"]
        for r in delta_read(spark, path, row_ids=True).collect()
    }
    delta_reorg_purge(spark, path)
    after = {
        r["k"]: r["_row_id"]
        for r in delta_read(spark, path, row_ids=True).collect()
    }
    assert after == base


def test_drop_feature_refuses_while_in_use(spark):
    """Each gate names its remedial step: live DVs refuse the DV drop;
    recorded widening history refuses the typeWidening drop; defined
    constraints refuse the checkConstraints drop."""
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_delete_dv,
        delta_drop_feature,
    )

    path = _dv_table(spark, "ls_drop_inuse_")
    delta_delete_dv(spark, path, "id % 3 = 0")
    with pytest.raises(ValueError, match="delta_reorg_purge"):
        delta_drop_feature(spark, path, "deletionVectors")
    with pytest.raises(ValueError, match="cannot be dropped"):
        delta_drop_feature(spark, path, "columnMapping")
    with pytest.raises(ValueError, match="does not declare"):
        delta_drop_feature(spark, path, "identityColumns")


def test_drop_feature_refuses_retained_history_then_truncates(spark):
    """After a purge the LIVE set is clean but retained commits below it
    still carry descriptors — the drop refuses without truncate_history
    and succeeds with it, landing a downgraded legacy protocol that a
    featureless reader accepts."""
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_delete_dv,
        delta_drop_feature,
        delta_reorg_purge,
    )

    path = _dv_table(spark, "ls_drop_hist_")
    delta_delete_dv(spark, path, "id % 3 = 0")
    delta_reorg_purge(spark, path)
    with pytest.raises(ValueError, match="truncate_history"):
        delta_drop_feature(spark, path, "deletionVectors")
    v = delta_drop_feature(
        spark, path, "deletionVectors", truncate_history=True
    )
    protos = [a["protocol"] for a in _actions(path, v) if "protocol" in a]
    assert protos == [{"minReaderVersion": 1, "minWriterVersion": 2}]
    # time travel below the truncation cutoff now raises loudly
    with pytest.raises(ValueError, match="no longer reconstructible"):
        delta_read(spark, path, version=1).collect()
    got = sorted(r["id"] for r in delta_read(spark, path).collect())
    assert got == [i for i in range(200) if i % 3 != 0]
    # a later DV delete re-upgrades the protocol cleanly
    delta_delete_dv(spark, path, "id % 7 = 1")
    got2 = sorted(r["id"] for r in delta_read(spark, path).collect())
    assert got2 == [i for i in range(200) if i % 3 != 0 and i % 7 != 1]


def test_drop_feature_unused_type_widening_no_truncation(spark):
    """typeWidening enabled but never exercised drops without history
    truncation, clearing the enabling configuration key in the same
    commit; a widened table refuses (pre-widening files need upcasting
    forever)."""
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_drop_feature,
        delta_metadata,
        delta_write,
    )

    df = spark.range(50).select(F.col("id").cast("int").alias("k"))
    path = tempfile.mkdtemp(prefix="ls_drop_tw_")
    delta_write(df, path, configuration={"delta.enableTypeWidening": "true"})
    v = delta_drop_feature(spark, path, "typeWidening")
    meta = delta_metadata(spark, path)
    assert "delta.enableTypeWidening" not in meta.get("configuration", {})
    protos = [a["protocol"] for a in _actions(path, v) if "protocol" in a]
    assert protos[0]["minReaderVersion"] == 1
    # widened table: the gate refuses
    path2 = tempfile.mkdtemp(prefix="ls_drop_tw2_")
    delta_write(df, path2, configuration={"delta.enableTypeWidening": "true"})
    wide = spark.range(50).select(F.col("id").cast("long").alias("k"))
    delta_write(wide, path2, mode="append", merge_schema=True)
    with pytest.raises(ValueError, match="widening history"):
        delta_drop_feature(spark, path2, "typeWidening")


def test_reorg_purge_allowed_on_append_only_table(spark):
    """delta.appendOnly blocks row-retracting rewrites but PURGE is
    layout-only (logical rows unchanged) — it must pass the guard, like
    OPTIMIZE."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_reorg_purge,
        delta_write,
    )

    df = spark.range(60).select(F.col("id").alias("k"))
    path = tempfile.mkdtemp(prefix="ls_purge_ao_")
    delta_write(
        df.repartition(3),
        path,
        stats_cols=["k"],
        configuration={"delta.appendOnly": "true"},
    )
    # no DVs can exist on an append-only table (DV DML is refused), so
    # purge is a no-op — the point is that it does NOT raise
    assert delta_reorg_purge(spark, path) == 0


# ---------------------------------------------------------------------------
# Minor log compaction (<start>.<end>.compacted.json)


def test_log_compaction_fold_reads_one_file_and_keeps_tombstones(spark):
    """A fold over checkpoint + compacted tail must read exactly one
    tail file AND honor the compacted remove tombstones: an overwrite
    INSIDE the compacted range retracts files live in the checkpoint
    below it — dropping tombstones at compaction would resurrect them."""
    import lakesail_hdfs_deltalake_guide_spark.sources.delta_log as dl

    df = spark.range(100).select(F.col("id").alias("k"))
    path = tempfile.mkdtemp(prefix="ls_compact_fold_")
    dl.delta_write(df.repartition(2), path)                      # v0
    dl.delta_write(df.repartition(2), path, mode="append")       # v1
    dl.delta_write(df.repartition(2), path, mode="append")       # v2
    dl.delta_checkpoint(spark, path, 2)
    dl.delta_write(df.repartition(2), path, mode="append")       # v3
    # overwrite inside the to-be-compacted range: every pre-v4 file
    # becomes a tombstone the compacted file must carry
    dl.delta_write(
        df.where("k % 2 = 0").repartition(2), path, mode="overwrite"
    )                                                            # v4
    dl.delta_write(
        df.where("k % 2 = 1").repartition(2), path, mode="append"
    )                                                            # v5
    expect = sorted(
        r["k"] for r in dl.delta_read(spark, path).collect()
    )
    out = dl.delta_compact_log(spark, path)  # defaults: [3, 5]
    assert out.endswith(
        f"{3:020d}.{5:020d}.compacted.json"
    )
    reads: list[str] = []
    orig = dl._read_text

    def spy(spark_, p):
        reads.append(p)
        return orig(spark_, p)

    dl._read_text = spy
    try:
        got = sorted(r["k"] for r in dl.delta_read(spark, path).collect())
    finally:
        dl._read_text = orig
    assert got == expect == sorted(list(range(0, 100, 2)) + list(range(1, 100, 2)))
    tail_reads = [p for p in reads if p.endswith(".json") and "_last_checkpoint" not in p]
    compacted_reads = [p for p in tail_reads if "compacted" in p]
    commit_reads = [
        p for p in tail_reads
        if "compacted" not in p and int(p.rsplit("/", 1)[-1][:-5]) >= 3
    ]
    assert compacted_reads and not commit_reads, (
        f"fold read raw tail commits {commit_reads} despite compaction"
    )


def test_log_compaction_distributed_fold_consumes_it(spark):
    """delta_snapshot_adds_df (the Spark-job fold) must reconcile the
    compacted file at its END version: its live path set equals the
    driver fold's."""
    import lakesail_hdfs_deltalake_guide_spark.sources.delta_log as dl

    df = spark.range(60).select(F.col("id").alias("k"))
    path = tempfile.mkdtemp(prefix="ls_compact_dist_")
    dl.delta_write(df.repartition(2), path)                      # v0
    dl.delta_write(df.repartition(2), path, mode="append")       # v1
    dl.delta_write(
        df.where("k < 30").repartition(2), path, mode="overwrite"
    )                                                            # v2
    dl.delta_write(df.repartition(2), path, mode="append")       # v3
    expect = set(dl.delta_live_files(spark, path))
    dl.delta_compact_log(spark, path, 0, 3)
    got = {
        r["path"]
        for r in dl.delta_snapshot_adds_df(spark, path).select("path").collect()
    }
    assert got == expect


def test_log_compaction_txn_and_meta_survive(spark):
    """The latest txn per appId and the newest metaData ride the
    compacted file — delta_last_txn and schema resolution must not
    regress when the fold switches to it."""
    import lakesail_hdfs_deltalake_guide_spark.sources.delta_log as dl

    df = spark.range(20).select(F.col("id").alias("k"))
    path = tempfile.mkdtemp(prefix="ls_compact_txn_")
    dl.delta_write(df, path)                                     # v0
    dl.delta_write(df, path, mode="append", txn=("app", 4))      # v1
    wide = df.withColumn("v", F.col("k") * 2)
    dl.delta_write(wide, path, mode="append", merge_schema=True,
                   txn=("app", 9))                               # v2
    dl.delta_compact_log(spark, path, 0, 2)
    plan = dl._tail_plan(spark, path, 0, 2)
    assert len(plan) == 1
    assert dl.delta_last_txn(spark, path, "app") == 9
    back = dl.delta_read(spark, path)
    assert set(back.columns) == {"k", "v"}
    assert back.count() == 60


def test_log_compaction_validation_and_cleanup(spark):
    """Bad ranges refuse loudly; log cleanup expires compactions whose
    range starts below the new cutoff."""
    import glob as _glob

    import pytest

    import lakesail_hdfs_deltalake_guide_spark.sources.delta_log as dl

    df = spark.range(10).select(F.col("id").alias("k"))
    path = tempfile.mkdtemp(prefix="ls_compact_val_")
    dl.delta_write(df, path)                                     # v0
    dl.delta_write(df, path, mode="append")                      # v1
    with pytest.raises(ValueError, match="fewer than two"):
        dl.delta_compact_log(spark, path, 1, 1)
    with pytest.raises(ValueError, match="missing"):
        dl.delta_compact_log(spark, path, 0, 5)
    dl.delta_compact_log(spark, path, 0, 1)
    for _ in range(9):
        dl.delta_write(df, path, mode="append")                  # v2..v10
    # v10 wrote the cadence checkpoint; cleanup expires [0, 9] and with
    # them the [0,1] compaction
    dl.delta_cleanup_log(spark, path)
    assert not _glob.glob(f"{path}/_delta_log/*.compacted.json")
    assert dl.delta_read(spark, path).count() == 110


# ---------------------------------------------------------------------------
# Column DEFAULT values (allowColumnDefaults)


def test_column_defaults_fill_and_supplied_wins(spark):
    """Omitted default columns fill at insert time; a batch supplying
    the column keeps its own values; the feature and the
    CURRENT_DEFAULT metadata land in protocol/schema."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_metadata,
        delta_read,
        delta_write,
    )

    df = spark.range(10).select(F.col("id").alias("k"))
    path = tempfile.mkdtemp(prefix="ls_defaults_")
    delta_write(df, path, column_defaults={"flag": "'new'", "score": "7"})
    delta_write(
        df.select((F.col("k") + 10).alias("k"))
        .withColumn("flag", F.lit("old")),
        path,
        mode="append",
    )
    back = {r["k"]: (r["flag"], r["score"]) for r in delta_read(spark, path).collect()}
    assert all(back[k] == ("new", 7) for k in range(10))
    assert all(back[k] == ("old", 7) for k in range(10, 20))
    meta = delta_metadata(spark, path)
    fields = {f["name"]: f for f in json.loads(meta["schemaString"])["fields"]}
    assert fields["flag"]["metadata"]["CURRENT_DEFAULT"] == "'new'"
    assert fields["score"]["metadata"]["CURRENT_DEFAULT"] == "7"
    protos = [a["protocol"] for a in _actions(path, 0) if "protocol" in a]
    assert "allowColumnDefaults" in protos[0]["writerFeatures"]


def test_column_defaults_guards(spark):
    """A column cannot be both DEFAULT and generated/identity, and the
    feature refuses to drop while defaults are defined."""
    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_drop_feature,
        delta_write,
    )

    df = spark.range(5).select(F.col("id").alias("k"))
    path = tempfile.mkdtemp(prefix="ls_defaults_g_")
    with pytest.raises(ValueError, match="DEFAULT and be"):
        delta_write(
            df,
            path,
            column_defaults={"x": "1"},
            generated_columns={"x": "k * 2"},
        )
    delta_write(df, path, column_defaults={"x": "1"})
    with pytest.raises(ValueError, match="defaults are still defined"):
        delta_drop_feature(spark, path, "allowColumnDefaults")


# ---------------------------------------------------------------------------
# optimizeWrite + autoCompact


def test_optimize_small_compacts_only_small_files(spark):
    """delta_optimize_small rewrites ONLY files under the size cap with
    dataChange=false; larger files keep their original adds; below the
    count threshold it is a commit-free no-op."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_live_adds,
        delta_optimize_small,
        delta_write,
    )

    big = spark.range(50_000).select(F.col("id").alias("k"))
    small = spark.range(50_000, 50_040).select(F.col("id").alias("k"))
    path = tempfile.mkdtemp(prefix="ls_ac_small_")
    delta_write(big.coalesce(1), path)
    for i in range(4):
        delta_write(
            small.where(F.col("k") % 4 == i).coalesce(1),
            path,
            mode="append",
        )
    adds = dict(delta_live_adds(spark, path))
    sizes = sorted(a["size"] for a in adds.values())
    cut = sizes[-1]  # the one big file
    big_files = {f for f, a in adds.items() if a["size"] == cut}
    # below the count threshold: no-op
    assert delta_optimize_small(spark, path, max_file_size=1, min_num_files=1) is None
    v = delta_optimize_small(spark, path, max_file_size=cut, min_num_files=4)
    assert v is not None
    after = dict(delta_live_adds(spark, path))
    assert big_files <= set(after), "big file must not be rewritten"
    assert len(after) == 2  # big + one compacted
    actions = _actions(path, v)
    for a in actions:
        if "add" in a:
            assert a["add"]["dataChange"] is False
        if "remove" in a:
            assert a["remove"]["dataChange"] is False
    got = sorted(r["k"] for r in delta_read(spark, path).collect())
    assert got == list(range(50_040))


def test_auto_compact_hook_and_optimize_write(spark):
    """A table declaring both auto-optimize properties: every
    fragmented append triggers the post-commit fold (live files stay
    ~1), and the REBALANCE write coalesces an 8-shard batch into fewer
    staged files than shards."""
    import json as _json

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_live_files,
        delta_write,
    )

    df = spark.range(500).select(F.col("id").alias("k"))
    path = tempfile.mkdtemp(prefix="ls_ac_hook_")
    delta_write(
        df.repartition(8),
        path,
        configuration={
            "delta.autoOptimize.optimizeWrite": "true",
            "delta.autoOptimize.autoCompact": "true",
        },
    )
    adds_v0 = [a for a in _actions(path, 0) if "add" in a]
    assert len(adds_v0) < 8, "REBALANCE should coalesce the tiny shards"
    for i in range(3):
        delta_write(
            df.select((F.col("k") + 500 * (i + 1)).alias("k")).repartition(6),
            path,
            mode="append",
        )
    assert len(delta_live_files(spark, path)) <= 2
    assert delta_read(spark, path).count() == 2000


def test_generated_partition_derived_pruning(spark):
    """A range filter on the BASE column must prune hive partitions
    through the monotone generation expression: the physical file list
    of the filtered read excludes out-of-range months entirely."""
    import datetime

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        _derived_partition_bounds,
        _snapshot_state,
        delta_read,
        delta_write,
    )

    rows = [
        (i, datetime.datetime(1995, 1 + i % 6, 1 + i % 27), i * 10)
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp_ntz, v long")
    path = tempfile.mkdtemp(prefix="ls_genpart_")
    delta_write(
        df,
        path,
        partition_by=["month"],
        generated_columns={"month": "substring(cast(ts as string), 1, 7)"},
    )
    rf = {
        "ts": (
            datetime.datetime(1995, 2, 1),
            datetime.datetime(1995, 3, 31, 23, 59, 59),
        )
    }
    _, meta, live, _ = _snapshot_state(spark, path)
    assert _derived_partition_bounds(spark, meta, rf) == {
        "month": ("1995-02", "1995-03")
    }
    out = delta_read(spark, path, range_filter=rf)
    files = {
        r[0].rsplit("/", 2)[-2]
        for r in out.select(F.input_file_name()).distinct().collect()
    }
    assert files and all(
        f in ("month=1995-02", "month=1995-03") for f in files
    ), files
    got = sorted(r["k"] for r in out.collect())
    assert got == sorted(
        k for k, ts, _ in rows if ts.month in (2, 3)
    )
    # an unrecognized (non-monotone-whitelisted) expression derives
    # nothing — no unsound pruning
    assert (
        _derived_partition_bounds(
            spark,
            {**meta, "schemaString": meta["schemaString"].replace(
                "substring(cast(ts as string), 1, 7)", "month(ts)"
            )},
            rf,
        )
        == {}
    )


def test_drop_feature_truncate_at_cadence_checkpoint_version(spark):
    """truncate_history re-checkpoints the CURRENT version; when the
    cadence checkpoint already landed there (version % interval == 0)
    the re-checkpoint must be idempotent, not a spurious failure."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_delete_dv,
        delta_drop_feature,
        delta_read,
        delta_reorg_purge,
        delta_write,
    )

    df = spark.range(100).select(F.col("id").alias("k"))
    path = tempfile.mkdtemp(prefix="ls_drop_ckptv_")
    delta_write(df.repartition(2), path, stats_cols=["k"])
    for i in range(7):
        delta_write(
            df.select((F.col("k") + 100 * (i + 1)).alias("k")),
            path,
            mode="append",
        )  # v1..v7
    delta_delete_dv(spark, path, "k % 7 = 3")  # v8
    delta_reorg_purge(spark, path)  # v9
    delta_write(
        df.select((F.col("k") + 10_000).alias("k")), path, mode="append"
    )  # v10 — cadence checkpoint fires here
    v = delta_drop_feature(
        spark, path, "deletionVectors", truncate_history=True
    )
    assert v == 11
    assert delta_read(spark, path).count() == 786


@pytest.mark.parametrize("op", ["append", "distributed", "v2"])
def test_failed_footer_read_leaves_no_staging_dir(spark, monkeypatch, op):
    """A footer read that raises mid-publish propagates, commits nothing
    and leaves no staging dir behind — neither ``.staging-*`` in the
    table dir nor ``.ckpt-staging-*`` in ``_delta_log``, which VACUUM
    skips and log cleanup never lists, so a leak there is permanent."""
    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log as dl

    p = tempfile.mkdtemp(prefix="ls_stage_leak_")
    df = spark.range(0, 40).select(F.col("id").alias("k"))
    dl.delta_write(df.repartition(2), p)
    dl.delta_enable_v2_checkpoints(spark, p)
    before = dl._list_versions(spark, p)

    def boom(*_args, **_kwargs):
        raise OSError("footer read failed")

    monkeypatch.setattr(dl, "_file_stats", boom)
    monkeypatch.setattr(dl, "_file_stats_jvm", boom)
    with pytest.raises(OSError, match="footer read failed"):
        if op == "append":
            dl.delta_write(df.repartition(3), p, mode="append")
        elif op == "distributed":
            dl.delta_checkpoint(spark, p, distributed=True, part_files=3)
        else:
            dl.delta_checkpoint(spark, p, format="v2", part_files=3)
    monkeypatch.undo()
    left = glob.glob(f"{p}/.*staging-*") + glob.glob(
        f"{p}/_delta_log/.*staging-*"
    )
    assert not left, left
    assert dl._list_versions(spark, p) == before


@pytest.mark.parametrize(
    "layout",
    [{}, {"distributed": True}, {"format": "v2"}],
    ids=["classic", "distributed", "v2"],
)
def test_checkpoint_layouts_restate_the_snapshot(spark, layout):
    """Every checkpoint layout restates the same snapshot: after the
    checkpoint and log cleanup (so only the checkpoint is left to fold),
    the driver fold and the domain fold equal the ones taken from the
    JSON log (up to null DV fields), and ``_last_checkpoint.size`` is the exact number of action
    rows across the checkpoint's files (the distributed-read gate reads
    it)."""
    import pyarrow.parquet as pq

    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log as dl

    def frame(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") % 9).alias("v"),
            (F.col("id") % 3).cast("string").alias("p"),
        )

    p = tempfile.mkdtemp(prefix="ls_ckpt_layout_")
    dl.delta_write(
        frame(0, 300).repartition(3), p, partition_by=["p"], stats_cols=["k"]
    )
    dl.delta_write(frame(300, 360), p, mode="append", txn=("layout_app", 5))
    dl.delta_set_domain_metadata(spark, p, "d1", "one")
    dl.delta_set_domain_metadata(spark, p, "d2", "two")
    dl.delta_optimize_zorder(spark, p, ["k", "v"], target_files=2)
    dl.delta_delete_dv(spark, p, "k % 13 = 0")
    dl.delta_enable_v2_checkpoints(spark, p)
    expected = dl._snapshot_state(spark, p)
    domains = dl.delta_domain_metadata(spark, p)
    live = expected[2]
    assert any(a.get("deletionVector") for a in live.values())
    assert any(a.get("tags") for a in live.values())
    assert expected[3] == {"layout_app": 5}
    assert domains == {"d1": "one", "d2": "two"}

    def no_nulls(x):
        # the checkpoint schema gives every DV descriptor the protocol's
        # full field set; a JSON add leaves the null ones out
        if isinstance(x, dict):
            return {k: no_nulls(v) for k, v in x.items() if v is not None}
        if isinstance(x, tuple):
            return tuple(no_nulls(v) for v in x)
        return x

    v = dl.delta_checkpoint(spark, p, part_files=3, **layout)
    assert dl.delta_cleanup_log(spark, p) == list(range(v))
    assert no_nulls(dl._snapshot_state(spark, p)) == no_nulls(expected)
    assert dl.delta_domain_metadata(spark, p) == domains
    lc = json.loads(open(f"{p}/_delta_log/_last_checkpoint").read())
    files = dl._checkpoint_files(spark, p, v)
    assert len(files) == (1 if not layout else 4)
    assert lc["version"] == v
    assert lc["size"] == sum(pq.read_metadata(f).num_rows for f in files)


# --- DML file skipping -------------------------------------------------------
# Every DML op scans only the files whose min/max stats can hold a row it
# changes. Each case runs the op on a stats-carrying table and on a copy
# whose adds carry no stats (nothing can be skipped there): the tables and
# the op's change images must come out the same.


def _skip_rows(spark, start: int, end: int, parts: int = 1):
    return spark.range(start, end, 1, parts).select(
        F.col("id").alias("k"),
        (F.col("id") % 10).alias("v"),
        (F.col("id") / 4).alias("x"),
    )


def _skip_table(spark, configuration=None, stats_cols=("k",)) -> str:
    """Five files of k = 0-19, 20-39, ..., 80-99, with CDF on."""
    path = tempfile.mkdtemp(prefix="ls_dl_skip_")
    delta_write(
        _skip_rows(spark, 0, 100, 5),
        path,
        stats_cols=list(stats_cols) or None,
        configuration={"delta.enableChangeDataFeed": "true", **(configuration or {})},
    )
    return path


def _without_stats(path: str) -> str:
    """A copy of the table at ``path`` whose adds carry no stats."""
    import os
    import shutil

    dst = tempfile.mkdtemp(prefix="ls_dl_nostats_")
    shutil.copytree(path, dst, dirs_exist_ok=True)
    for f in glob.glob(f"{dst}/_delta_log/.*.crc"):
        os.remove(f)  # Hadoop's checksum of the log file rewritten below
    for f in glob.glob(f"{dst}/_delta_log/*.json"):
        actions = [json.loads(line) for line in open(f)]
        for a in actions:
            if "add" in a:
                a["add"].pop("stats", None)
        with open(f, "w") as out:
            out.writelines(json.dumps(a) + "\n" for a in actions)
    return dst


def _rows(df) -> list[str]:
    # repr: NaN == NaN, where tuple comparison says NaN != NaN
    return sorted(repr(tuple(r)) for r in df.collect())


def _assert_same_outcome(spark, path: str, op) -> None:
    """``op(path)`` on the table and on its stats-free copy: same rows,
    and the same change images when the op committed."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_read_cdf,
    )

    bare = _without_stats(path)
    v_skip, v_bare = op(path), op(bare)
    assert v_skip == v_bare
    assert _rows(delta_read(spark, path)) == _rows(delta_read(spark, bare))
    if v_skip > 0:
        assert _rows(delta_read_cdf(spark, path, v_skip, v_skip)) == _rows(
            delta_read_cdf(spark, bare, v_skip, v_skip)
        )


def _predicate_op(name: str, pred):
    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log as dl

    def op(spark, p):
        if name == "delete":
            return dl.delta_delete(spark, p, pred)
        if name == "delete_dv":
            return dl.delta_delete_dv(spark, p, pred)
        if name == "update":
            return dl.delta_update(spark, p, pred, {"v": "v + 100"})
        return dl.delta_update_dv(spark, p, pred, {"v": "v + 100"})

    return op


_SKIP_PREDICATES = {
    "or": "k < 5 or k > 95",
    "mod": "k % 7 = 0",
    "reversed": "50 < k and 60 >= k",
    "null_const": "k > null",
    "between_in": "k between 10 and 30 and k in (12, 17, 29, 300)",
    # a Column needs the session: built when the test runs
    "column_between": lambda: F.col("k").between(41, 58),
}


def _skip_predicate(shape: str):
    pred = _SKIP_PREDICATES[shape]
    return pred() if callable(pred) else pred


@pytest.mark.parametrize("shape", sorted(_SKIP_PREDICATES))
@pytest.mark.parametrize("name", ["delete", "delete_dv", "update", "update_dv"])
def test_dml_skipping_matches_unskipped_predicates(spark, name, shape):
    op = _predicate_op(name, _skip_predicate(shape))
    _assert_same_outcome(spark, _skip_table(spark), lambda p: op(spark, p))


def test_dml_skipping_bounds_of_predicates(spark):
    """The bounds each predicate shape implies (integral columns only;
    OR, ``%``, float columns and NULL constants add none)."""
    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log as dl

    meta = dl.delta_metadata(spark, _skip_table(spark))
    got = {
        s: dl._predicate_bounds(spark, meta, _skip_predicate(s))
        for s in _SKIP_PREDICATES
    }
    assert got == {
        "or": {},
        "mod": {},
        "reversed": {"k": (51, 60)},
        "null_const": {},
        "between_in": {"k": (12, 30)},
        "column_between": {"k": (41, 58)},
    }
    assert dl._predicate_bounds(spark, meta, "x > 5 and k <=> 7") == {"k": (7, 7)}
    assert dl._predicate_bounds(spark, meta, "no_such_column > 1") == {}


def test_dml_skipping_keeps_files_without_stats(spark):
    """Files appended without min/max stats are always scanned."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_delete_dv,
    )

    path = _skip_table(spark)
    delta_write(_skip_rows(spark, 100, 130), path, mode="append")
    _assert_same_outcome(
        spark, path, lambda p: delta_delete_dv(spark, p, "k between 90 and 120")
    )
    assert delta_read(spark, path).where("k between 90 and 120").count() == 0


@pytest.mark.parametrize("name", ["delete", "delete_dv", "update_dv"])
def test_dml_skipping_on_column_mapped_table(spark, name):
    op = _predicate_op(name, "k >= 20 and k < 35")
    path = _skip_table(spark, {"delta.columnMapping.mode": "name"})
    _assert_same_outcome(spark, path, lambda p: op(spark, p))


@pytest.mark.parametrize("name", ["delete", "delete_dv"])
def test_dml_skipping_never_prunes_nan_floats(spark, name):
    """Spark orders NaN above every value, parquet min/max omit NaN:
    ``x > 5`` must still delete the NaN rows."""
    path = tempfile.mkdtemp(prefix="ls_dl_skip_nan_")
    df = spark.createDataFrame(
        [(i, float("nan") if i % 10 == 0 else float(i % 5)) for i in range(50)],
        "k long, x double",
    )
    delta_write(
        df.repartitionByRange(5, "k"),
        path,
        stats_cols=["k", "x"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    op = _predicate_op(name, "x > 5")
    _assert_same_outcome(spark, path, lambda p: op(spark, p))
    assert delta_read(spark, path).count() == 45


def test_merge_skipping_outside_target_scans_no_file(spark, monkeypatch):
    """Source keys beyond every file's stats: zero files scanned, the
    MERGE is a pure insert."""
    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log as dl

    path = _skip_table(spark)
    src = spark.createDataFrame(
        [(k, -1, 0.5) for k in range(1000, 1050)], "k long, v long, x double"
    )
    scanned: dict[str, list] = {}
    real = dl._physical_scan

    def spy(spark_, path_, meta, files, **kw):
        scanned.setdefault(path_, []).extend(files)
        return real(spark_, path_, meta, files, **kw)

    def merge(p):
        monkeypatch.setattr(dl, "_physical_scan", spy)
        try:
            return dl.delta_merge(spark, p, src, on=["k"])
        finally:
            monkeypatch.setattr(dl, "_physical_scan", real)

    _assert_same_outcome(spark, path, merge)
    assert path not in scanned
    assert len(scanned.popitem()[1]) == 5  # the stats-free copy scans all
    assert delta_read(spark, path).count() == 150
    metrics = dl.delta_history(spark, path)[0]["operationMetrics"]
    assert metrics["numTargetFilesRemoved"] == "0"
    assert metrics["numOutputRows"] == "50"


@pytest.mark.parametrize("keys", ["some_null", "all_null"])
def test_merge_skipping_with_null_source_keys(spark, keys):
    """A NULL key matches nothing and inserts as a new row."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_merge,
    )

    rows = [(None, -1, 0.5)]
    if keys == "some_null":
        rows += [(k, -3, 0.5) for k in (3, 61, 500)]
    src = spark.createDataFrame(rows, "k long, v long, x double")
    path = _skip_table(spark)
    _assert_same_outcome(spark, path, lambda p: delta_merge(spark, p, src, on=["k"]))
    assert delta_read(spark, path).where("k is null").count() == 1


@pytest.mark.parametrize("name", ["delete", "delete_dv"])
def test_dml_skipping_with_append_racing_into_range(spark, arm_read_race, name):
    """An append that lands inside the skipped-to range after the op's
    read commits alongside it, exactly as without skipping."""
    op = _predicate_op(name, "k between 40 and 59")
    race = _skip_rows(spark, 45, 60).where("k % 5 = 0")

    def raced_op(p):
        arm_read_race(lambda q: delta_write(race, q, mode="append", stats_cols=["k"]))
        return op(spark, p)

    path = _skip_table(spark)
    _assert_same_outcome(spark, path, raced_op)
    assert delta_read(spark, path).where("k between 40 and 59").count() == 3


def test_dml_releases_its_checkpoints(spark):
    """MERGE and the deletion-vector ops leave no persisted RDD behind,
    whether they commit or raise."""
    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log as dl

    jsc = spark.sparkContext._jsc  # noqa: SLF001
    path = _skip_table(spark)
    src = spark.createDataFrame(
        [(k, -1, 0.5) for k in range(90, 110)], "k long, v long, x double"
    )
    dup = src.unionByName(src)
    ops = [
        lambda: dl.delta_merge(spark, path, src, on=["k"]),
        lambda: dl.delta_delete_dv(spark, path, "k between 10 and 20"),
        lambda: dl.delta_update_dv(spark, path, "k between 30 and 35", {"v": "0"}),
    ]
    for op in ops:
        before = jsc.getPersistentRDDs().size()
        op()
        assert jsc.getPersistentRDDs().size() == before
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(ValueError, match="duplicate"):
        dl.delta_merge(spark, path, dup, on=["k"])
    assert jsc.getPersistentRDDs().size() == before


def test_dml_commits_carry_operation_metrics(spark):
    """MERGE, DELETE, UPDATE and their deletion-vector forms stamp
    delta-spark-named operationMetrics; DESCRIBE HISTORY returns them."""
    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log as dl

    path = _skip_table(spark)  # 5 files of 20 rows: k 0-19, 20-39, ...
    src = spark.createDataFrame(
        [(k, -1, 0.5) for k in range(95, 105)], "k long, v long, x double"
    )
    dl.delta_merge(spark, path, src, on=["k"])  # v1: file 80-99 + 5 inserts
    dl.delta_delete(spark, path, "k < 5")  # v2
    dl.delta_update(spark, path, "k = 25", {"v": "0"})  # v3
    dl.delta_delete_dv(spark, path, "k between 40 and 44")  # v4
    dl.delta_update_dv(spark, path, "k between 60 and 79", {"v": "1"})  # v5
    hist = {h["version"]: h for h in dl.delta_history(spark, path)}
    write = dict(hist[0]["operationMetrics"])
    assert int(write.pop("executionTimeMs")) >= 0
    assert int(write.pop("numOutputBytes")) > 0
    assert write == {"numFiles": "5", "numOutputRows": "100"}

    def m(v):
        got = dict(hist[v]["operationMetrics"])
        assert int(got.pop("executionTimeMs")) >= 0
        # every op wrote change files; how many follows Spark's partitioning
        change_files = "numTargetChangeFilesAdded" if v == 1 else "numAddedChangeFiles"
        assert int(got.pop(change_files)) > 0
        return got

    assert hist[1]["operation"] == "MERGE"
    merge = m(1)
    for key in ("numTargetBytesAdded", "numTargetBytesRemoved", "numTargetFilesAdded"):
        assert int(merge.pop(key)) > 0
    assert merge == {"numTargetFilesRemoved": "1", "numOutputRows": "25"}
    assert m(2) == {
        "numRemovedFiles": "1",
        "numAddedFiles": "1",
        "numCopiedRows": "15",
        "numDeletedRows": "5",
    }
    assert m(3) == {"numRemovedFiles": "1", "numAddedFiles": "1"}
    dv_common = {
        "numCopiedRows": "0",
        "numDeletionVectorsUpdated": "0",
        "numDeletionVectorsRemoved": "0",
    }
    assert m(4) == {
        **dv_common,
        "numRemovedFiles": "0",
        "numAddedFiles": "0",
        "numDeletedRows": "5",
        "numDeletionVectorsAdded": "1",
    }
    # the whole 60-79 file is masked: a plain remove, no descriptor
    assert m(5) == {
        **dv_common,
        "numRemovedFiles": "1",
        "numAddedFiles": "1",
        "numUpdatedRows": "20",
        "numDeletionVectorsAdded": "0",
    }



def test_layout_commits_carry_operation_metrics(spark):
    """OPTIMIZE, Z-order, auto-compaction and REORG PURGE stamp
    delta-spark's file and byte counts, taken from the commit's own add
    and remove actions."""
    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log as dl

    path = _skip_table(spark)  # 5 files of 20 rows
    dl.delta_delete_dv(spark, path, "k between 40 and 44")  # v1
    ops = {
        2: lambda: dl.delta_reorg_purge(spark, path),
        3: lambda: dl.delta_optimize_small(spark, path, 10**9, 2),
        4: lambda: dl.delta_optimize_zorder(spark, path, ["k", "v"], target_files=2),
        5: lambda: dl.delta_optimize(spark, path),
    }
    for v, op in ops.items():
        sizes = {f: int(a["size"]) for f, a in dl.delta_live_adds(spark, path)}
        assert op() == v
        acts = _actions(path, v)
        adds = [a["add"] for a in acts if "add" in a]
        gone = [a["remove"]["path"] for a in acts if "remove" in a]
        got = dict(dl.delta_history(spark, path)[0]["operationMetrics"])
        assert int(got.pop("executionTimeMs")) >= 0
        assert got == {
            "numRemovedFiles": str(len(gone)),
            "numAddedFiles": str(len(adds)),
            "numRemovedBytes": str(sum(sizes[f] for f in gone)),
            "numAddedBytes": str(sum(a["size"] for a in adds)),
        }, v

def _commit_shape(path: str, version: int) -> dict:
    """What a commit did, without its paths, sizes and times: the count
    of each action kind, each kind's ``dataChange`` values, the stats
    keys and ``baseRowId`` presence of its adds, and its metric keys."""
    acts = _actions(path, version)
    info = next(a["commitInfo"] for a in acts if "commitInfo" in a)
    kinds = [next(iter(a)) for a in acts]
    adds = [a["add"] for a in acts if "add" in a]
    return {
        "op": info["operation"],
        "kinds": {k: kinds.count(k) for k in sorted(set(kinds))},
        "dataChange": {
            k: sorted({a[k]["dataChange"] for a in acts if k in a})
            for k in ("add", "remove", "cdc")
            if k in kinds
        },
        "stats": sorted(
            {tuple(sorted(json.loads(a["stats"])["minValues"])) for a in adds}
        ),
        "baseRowId": all("baseRowId" in a for a in adds),
        "metrics": sorted(info.get("operationMetrics") or {}),
    }


def test_rewrite_commit_shapes(spark):
    """The creating write and every op that replaces data files, plus DV
    DELETE and DV UPDATE, once each on a table with CDF and row
    tracking: each commit's action kinds and counts (one ``metaData`` at
    most), ``dataChange`` flags, add stats keys, ``baseRowId`` stamping
    and metric keys."""
    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log as dl

    path = _skip_table(spark, {"delta.enableRowTracking": "true"})
    region = _skip_rows(spark, 40, 45).withColumn("v", F.lit(7).cast("long"))
    src = _skip_rows(spark, 95, 105).withColumn("v", F.lit(-1).cast("long"))
    ops = [
        lambda: dl.delta_delete(spark, path, "k < 5"),
        lambda: dl.delta_update(spark, path, "k = 25", {"v": "0"}),
        lambda: dl.delta_replace_where(spark, path, "k >= 40 AND k < 45", region),
        lambda: dl.delta_merge(spark, path, src, on=["k"]),
        lambda: dl.delta_delete_dv(spark, path, "k between 60 and 62"),
        lambda: dl.delta_update_dv(spark, path, "k between 70 and 72", {"v": "1"}),
        lambda: dl.delta_reorg_purge(spark, path),
        lambda: dl.delta_optimize_small(spark, path, 10**9, 2),
        lambda: dl.delta_optimize(spark, path, target_files=2),
        lambda: dl.delta_optimize_zorder(spark, path, ["v", "x"], target_files=2),
    ]
    for v, op in enumerate(ops, start=1):
        assert op() == v
    data = {"add": [True], "remove": [True], "cdc": [False]}
    layout = {"add": [False], "remove": [False]}
    files = ["executionTimeMs", "numAddedBytes", "numAddedFiles"]
    files += ["numRemovedBytes", "numRemovedFiles"]
    cow = ["executionTimeMs", "numAddedChangeFiles", "numAddedFiles", "numRemovedFiles"]
    dv = sorted(
        cow
        + ["numCopiedRows", "numDeletionVectorsAdded"]
        + ["numDeletionVectorsRemoved", "numDeletionVectorsUpdated"]
    )
    write = ["executionTimeMs", "numFiles", "numOutputBytes", "numOutputRows"]

    def shape(op, kinds, data_change, metrics, stats=(("k",),)):
        kinds = {"commitInfo": 1, **kinds}
        return {
            "op": op,
            "kinds": dict(sorted(kinds.items())),
            "dataChange": data_change,
            "stats": list(stats),
            "baseRowId": True,
            "metrics": sorted(metrics),
        }

    expected = [
        # the creation metaData and the row-id watermark are one action
        shape(
            "WRITE",
            {"add": 5, "metaData": 1, "protocol": 1},
            {"add": [True]},
            write,
        ),
        shape(
            "DELETE",
            {"add": 1, "cdc": 1, "metaData": 1, "remove": 1},
            data,
            cow + ["numCopiedRows", "numDeletedRows"],
        ),
        shape("UPDATE", {"add": 1, "cdc": 2, "metaData": 1, "remove": 1}, data, cow),
        shape(
            "WRITE (replaceWhere)",
            {"add": 2, "cdc": 2, "metaData": 1, "remove": 1},
            data,
            write + ["numRemovedBytes", "numRemovedFiles"],
        ),
        shape(
            "MERGE",
            {"add": 2, "cdc": 4, "metaData": 1, "remove": 1},
            data,
            ["executionTimeMs", "numOutputRows", "numTargetChangeFilesAdded"]
            + ["numTargetBytesAdded", "numTargetBytesRemoved"]
            + ["numTargetFilesAdded", "numTargetFilesRemoved"],
        ),
        shape(
            "DELETE",
            {"add": 1, "cdc": 1, "protocol": 1, "remove": 1},
            data,
            dv + ["numDeletedRows"],
        ),
        shape(
            "UPDATE",
            {"add": 2, "cdc": 2, "metaData": 1, "remove": 1},
            data,
            dv + ["numUpdatedRows"],
        ),
        shape("REORG PURGE", {"add": 1, "metaData": 1, "remove": 1}, layout, files),
        shape("auto-OPTIMIZE", {"add": 1, "metaData": 1, "remove": 8}, layout, files),
        shape("OPTIMIZE", {"add": 1, "metaData": 1, "remove": 1}, layout, files),
        # the table's stats surface plus the clustering keys
        shape(
            "OPTIMIZE ZORDER",
            {"add": 2, "metaData": 1, "remove": 1},
            layout,
            files,
            stats=[("k", "v", "x")],
        ),
    ]
    for v, want in enumerate(expected):
        assert _commit_shape(path, v) == want, v

    # MERGE with schema evolution into a row-tracked identity table: the
    # evolved schema, the identity watermark and the row-id watermark
    # travel in one metaData action
    path = tempfile.mkdtemp(prefix="ls_dl_merge_meta_")
    delta_write(
        spark.range(0, 10, 1, 2).select(F.col("id").alias("k")),
        path,
        identity_columns={"rid": {"start": 1, "step": 1}},
        configuration={"delta.enableRowTracking": "true"},
    )
    src = spark.range(8, 12, 1, 1).select(F.col("id").alias("k"), F.lit("n").alias("e"))
    assert dl.delta_merge(spark, path, src, on=["k"], schema_evolution=True) == 1
    metas = [a["metaData"] for a in _actions(path, 1) if "metaData" in a]
    assert len(metas) == 1
    fields = {f["name"]: f for f in json.loads(metas[0]["schemaString"])["fields"]}
    assert list(fields) == ["k", "rid", "e"]
    assert fields["rid"]["metadata"]["delta.identity.highWaterMark"] == 12
    staged = sum(
        json.loads(a["add"]["stats"])["numRecords"]
        for a in _actions(path, 1)
        if "add" in a
    )
    wm = metas[0]["configuration"]["delta.rowTracking.rowIdHighWaterMark"]
    assert wm == str(10 + staged)


# Table features a table lists on BOTH sides of its protocol
# (PROTOCOL.md "Table Features": every reader feature is also a writer
# feature).
_READER_WRITER_FEATURES = {
    "deletionVectors",
    "columnMapping",
    "typeWidening",
    "v2Checkpoint",
    "vacuumProtocolCheck",
}


def assert_protocol_rule(spark, path: str, dropped=()) -> None:
    """The protocol invariants every commit must keep: a column-mapped
    table stays at reader >= 2; at reader 3 every reader-writer feature
    in writerFeatures is in readerFeatures too; a table that defines
    CHECK constraints declares them (legacy writer 3..6, or the
    checkConstraints feature at writer 7); a dropped feature is gone."""
    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log as dl

    proto, meta, _, _ = dl._snapshot_state(spark, path, include_adds=False)
    reader = set(proto.get("readerFeatures") or ())
    writer = set(proto.get("writerFeatures") or ())
    conf = meta.get("configuration") or {}
    r, w = proto["minReaderVersion"], proto["minWriterVersion"]
    if conf.get("delta.columnMapping.mode", "none") != "none":
        assert r >= 2, proto
    if r == 3:
        assert writer & _READER_WRITER_FEATURES <= reader, proto
    if any(k.startswith("delta.constraints.") for k in conf):
        assert 3 <= w < 7 or (w == 7 and "checkConstraints" in writer), proto
    assert not set(dropped) & (reader | writer), proto


def _contract_tables(spark) -> dict:
    """Starting tables of the protocol contract, as (path, key column,
    a column that is neither key nor partition column)."""
    import os

    fixtures = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
    fresh = tempfile.mkdtemp(prefix="ls_proto_fresh_")
    df = spark.range(30).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    delta_write(df.repartition(3), fresh)
    constrained = tempfile.mkdtemp(prefix="ls_proto_ck_")
    delta_write(
        df.repartition(3),
        constrained,
        configuration={"delta.constraints.nonneg": "k >= 0"},
    )
    return {
        "fresh": (fresh, "k", "v"),
        "constraint": (constrained, "k", "v"),
        "column_mapped": (_cm_table(spark, "ls_proto_cm_"), "id", "tag"),
        "golden": (os.path.join(fixtures, "golden_delta"), "id", "note"),
        "golden_dv": (os.path.join(fixtures, "golden_delta_dv"), "k", "amount"),
    }


# op name -> (run(dl, spark, path, key, col), operations it commits,
# feature it drops)
_CONTRACT_OPS = {
    "dv_delete": (
        lambda dl, s, p, k, c: dl.delta_delete_dv(s, p, f"{k} % 3 = 0"),
        ["DELETE"],
        (),
    ),
    "v2_checkpoints": (
        lambda dl, s, p, k, c: dl.delta_enable_v2_checkpoints(s, p),
        ["UPGRADE PROTOCOL"],
        (),
    ),
    "ict": (
        lambda dl, s, p, k, c: dl.delta_enable_in_commit_timestamps(s, p),
        ["UPGRADE PROTOCOL"],
        (),
    ),
    "domain": (
        lambda dl, s, p, k, c: dl.delta_set_domain_metadata(s, p, "app.x", "1"),
        ["SET DOMAIN METADATA"],
        (),
    ),
    "cluster_by": (
        lambda dl, s, p, k, c: dl.delta_cluster_by(s, p, [k]),
        ["CLUSTER BY"],
        (),
    ),
    "add_constraint": (
        lambda dl, s, p, k, c: dl.delta_add_constraint(s, p, "c_ok", f"{k} >= 0"),
        ["ADD CONSTRAINT"],
        (),
    ),
    "purge_drop_dv": (
        lambda dl, s, p, k, c: (
            dl.delta_delete_dv(s, p, f"{k} % 3 = 0"),
            dl.delta_reorg_purge(s, p),
            dl.delta_drop_feature(s, p, "deletionVectors", truncate_history=True),
        ),
        ["DROP FEATURE"],
        ("deletionVectors",),
    ),
    "drop_unused_constraints": (
        lambda dl, s, p, k, c: (
            dl.delta_add_constraint(s, p, "c_ok", f"{k} >= 0"),
            dl.delta_drop_constraint(s, p, "c_ok"),
            dl.delta_drop_feature(s, p, "checkConstraints"),
        ),
        ["ADD CONSTRAINT", "DROP CONSTRAINT", "DROP FEATURE"],
        ("checkConstraints",),
    ),
    "rename_drop_column": (
        lambda dl, s, p, k, c: (
            dl.delta_rename_column(s, p, c, "renamed"),
            dl.delta_drop_column(s, p, "renamed"),
        ),
        ["RENAME COLUMN", "DROP COLUMNS"],
        (),
    ),
}

# (table, op) pairs the op refuses, with the refusal's message
_CONTRACT_REFUSALS = {
    ("golden", "cluster_by"): "hive partitioning",
    ("constraint", "drop_unused_constraints"): "constraints are still defined",
    ("fresh", "rename_drop_column"): "requires columnMapping",
    ("constraint", "rename_drop_column"): "requires columnMapping",
    ("golden_dv", "rename_drop_column"): "requires columnMapping",
}


def test_protocol_contract(spark, tmp_path):
    """Every protocol-changing op keeps the protocol rule on every kind
    of starting table (engine-made legacy, constrained and column-mapped
    tables, and the reader-v2 and DV foreign fixtures), and commits under
    delta-spark's operation name; a table created with a CHECK
    constraint in its configuration declares it from version 0."""
    import shutil

    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log as dl

    for table, (src, key, col) in _contract_tables(spark).items():
        for op, (run, names, dropped) in _CONTRACT_OPS.items():
            path = str(tmp_path / f"{table}-{op}")
            shutil.copytree(src, path)
            refusal = _CONTRACT_REFUSALS.get((table, op))
            if refusal is None:
                run(dl, spark, path, key, col)
                ops = [h["operation"] for h in dl.delta_history(spark, path)]
                assert ops[: len(names)][::-1] == names, (table, op, ops)
            else:
                with pytest.raises(ValueError, match=refusal):
                    run(dl, spark, path, key, col)
                dropped = ()
            try:
                assert_protocol_rule(spark, path, dropped)
            except AssertionError as exc:
                raise AssertionError(f"{table} / {op}: {exc}") from None
    path = str(tmp_path / "created_constrained")
    delta_write(
        spark.range(5).select(F.col("id").alias("k")),
        path,
        configuration={"delta.constraints.nonneg": "k >= 0"},
    )
    assert_protocol_rule(spark, path)
