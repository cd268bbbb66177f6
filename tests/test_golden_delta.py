"""Foreign-log conformance against the vendored golden Delta fixture
(VERDICT r10 item 2).

``tests/fixtures/golden_delta`` is a committed table whose ``_delta_log``
is authored in delta-spark 3.2's wire format (commitInfo-first commits,
physical-name partition dirs + stats keys, checkpoint adds with
``dataChange=false`` and ``tags``, classic + 2-part checkpoints,
``_last_checkpoint`` with ``parts`` — see
``tests/fixtures/make_golden_delta.py`` for the honesty note: hand-
authored to that format, since no delta-spark jars exist in-sandbox).

Unlike ``test_delta_spark_conformance.py`` (which needs real jars and
skips here), this suite runs on every pytest invocation: it proves the
native reader folds a FOREIGN log — snapshot, time travel, multi-part
checkpoint, domainMetadata, column mapping, SetTransaction — without
ever having written a byte of it. Expected values are fixed by the
generator's layout table, not computed from the reader under test.

``golden_delta_v2`` (second half of this module) covers the V2-spec
checkpoint layout (UUID-named top file + ``_sidecars/`` add files +
``checkpointMetadata``, reader-v3 table features) the same way.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
    _read_checkpoint,
    delta_delete,
    delta_domain_metadata,
    delta_history,
    delta_last_txn,
    delta_live_adds,
    delta_merge,
    delta_optimize,
    delta_read,
    delta_row_count_from_stats,
    delta_update,
    delta_write,
)

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "fixtures", "golden_delta")

# version -> (row count, sum(amount)) fixed by the generator layout
EXPECTED = {
    0: (5, 151.25),
    1: (7, 282.0),
    2: (8, 362.0),
    3: (7, 322.0),
    4: (8, 412.0),
    5: (9, 512.0),
}


def test_snapshot_fold_and_column_mapping(spark):
    df = delta_read(spark, GOLDEN)
    # logical names in metaData order, never physical col-* names
    assert df.columns == ["id", "dept", "amount", "note"]
    rows = {r["id"]: r for r in df.collect()}
    assert sorted(rows) == [1, 2, 3, 5, 6, 7, 8, 9, 10]  # id 4 deleted @v3
    assert round(sum(r["amount"] for r in rows.values()), 2) == 512.0
    assert rows[10]["dept"] == "mkt" and rows[9]["dept"] == "eng"


@pytest.mark.parametrize("version", sorted(EXPECTED))
def test_time_travel_every_version(spark, version):
    count, amount = EXPECTED[version]
    df = delta_read(spark, GOLDEN, version=version)
    got = df.collect()
    assert len(got) == count
    assert round(sum(r["amount"] for r in got), 2) == amount


def test_multipart_checkpoint_folds_both_parts(spark):
    """v4 resolves through the 2-part checkpoint alone (no tail): part 1
    carries protocol/metaData/domainMetadata + 1 add, part 2 the other
    3 adds — a fold that read only part 1 would lose 3 live files."""
    proto, meta, live, txns = _read_checkpoint(spark, GOLDEN, 4)
    assert proto["minReaderVersion"] == 2
    assert proto["minWriterVersion"] == 7
    assert set(proto["writerFeatures"]) == {"columnMapping", "domainMetadata"}
    assert meta["partitionColumns"] == ["dept"]
    assert len(live) == 4  # A, C, E, F
    assert txns == {}
    # meta-only projection reads part 1 alone and still finds metaData
    proto2, meta2, live2, _ = _read_checkpoint(spark, GOLDEN, 4, meta_only=True)
    assert proto2 == proto and meta2["id"] == meta["id"] and live2 == {}


def test_checkpoint_adds_survive_foreign_field_shape(spark):
    """delta-spark checkpoints re-emit adds with dataChange=false, a tags
    column, and map-typed partitionValues — all must fold to live files
    with PHYSICAL partition keys preserved."""
    _, _, live, _ = _read_checkpoint(spark, GOLDEN, 2)
    assert len(live) == 4  # A, B, C, D live at v2
    for add in live.values():
        assert add["dataChange"] is False
        assert list(add["partitionValues"]) == ["col-9e8f7a6b"]
        assert add["partitionValues"]["col-9e8f7a6b"] in {"eng", "mkt"}


def test_domain_metadata_from_checkpoint_and_log(spark):
    domains = delta_domain_metadata(spark, GOLDEN)
    assert domains["lakesail.retention"] == '{"days":30}'
    # not yet set at v1
    assert "lakesail.retention" not in delta_domain_metadata(
        spark, GOLDEN, version=1
    )


def test_set_transaction_visible(spark):
    assert delta_last_txn(spark, GOLDEN, "golden-app") == 7
    assert delta_last_txn(spark, GOLDEN, "absent-app") is None


def test_stats_fold_row_counts(spark):
    """add.stats strings (physical-name keys) drive the metadata-only
    row count — must equal the scanned count at every version."""
    assert delta_row_count_from_stats(spark, GOLDEN) == 9
    assert delta_row_count_from_stats(spark, GOLDEN, version=2) == 8


def test_partition_prune_on_logical_name(spark):
    """partition_filter uses PHYSICAL keys in the log; pruning by the
    physical partition value must skip mkt files entirely."""
    live = dict(delta_live_adds(spark, GOLDEN))
    eng = [f for f in live if f.startswith("col-9e8f7a6b=eng/")]
    assert len(eng) == 3
    df = delta_read(spark, GOLDEN,
                    partition_filter={"col-9e8f7a6b": "eng"})
    assert sorted(r["id"] for r in df.collect()) == [1, 2, 3, 6, 7, 9]


def test_history_reads_foreign_commit_info(spark):
    hist = delta_history(spark, GOLDEN)
    ops = {h["version"]: h.get("operation") for h in hist}
    assert ops[0] == "WRITE" and ops[3] == "DELETE"
    assert len(hist) == 6


def test_native_append_onto_foreign_table(spark, tmp_path):
    """The write half of the interop: every writerFeature the golden
    table declares (columnMapping, domainMetadata) is implemented
    natively, so a native append must succeed, translate logical →
    physical names, and leave the table readable at both versions."""
    dest = str(tmp_path / "golden_copy")
    shutil.copytree(GOLDEN, dest)
    extra = spark.createDataFrame(
        [(11, "eng", 5.0, "k")], "id int, dept string, amount double, note string"
    )
    v = delta_write(extra, dest, mode="append")
    assert v == 6
    df = delta_read(spark, dest)
    assert df.count() == 10
    assert round(
        sum(r["amount"] for r in df.collect()), 2
    ) == 517.0
    # prior history still intact
    assert delta_read(spark, dest, version=5).count() == 9


def test_native_rewrites_on_foreign_partitioned_table(spark, tmp_path):
    """DELETE, UPDATE, MERGE and OPTIMIZE on a copy of the column-mapped,
    partitioned golden table: the rows read back as expected, and every
    new add keys ``partitionValues`` by the PHYSICAL partition column and
    lives under a physical-name directory, as the fixture's own adds do."""
    dest = str(tmp_path / "golden_copy")
    shutil.copytree(GOLDEN, dest)
    want = {r["id"]: r.asDict() for r in delta_read(spark, dest).collect()}
    assert delta_delete(spark, dest, "id = 1") == 6
    assert delta_update(spark, dest, "id = 2", {"amount": "1.5"}) == 7
    src = spark.createDataFrame(
        [(3, "eng", 9.0, "m"), (20, "mkt", 2.0, "n")],
        "id int, dept string, amount double, note string",
    )
    assert delta_merge(spark, dest, src, on=["id"]) == 8
    assert delta_optimize(spark, dest, target_files=1) == 9
    del want[1]
    want[2]["amount"] = 1.5
    for r in src.collect():
        want[r["id"]] = r.asDict()
    got = {r["id"]: r.asDict() for r in delta_read(spark, dest).collect()}
    assert got == want
    for v in range(6, 10):
        with open(os.path.join(dest, "_delta_log", f"{v:020d}.json")) as fh:
            adds = [a["add"] for a in map(json.loads, fh) if "add" in a]
        assert adds, v
        for a in adds:
            assert list(a["partitionValues"]) == ["col-9e8f7a6b"], v
            dept = a["partitionValues"]["col-9e8f7a6b"]
            assert a["path"].startswith(f"col-9e8f7a6b={dept}/"), v


# --- golden_delta_v2: the V2-spec (UUID top file + sidecars) layout ---------

GOLDEN_V2 = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "fixtures", "golden_delta_v2")

EXPECTED_V2 = {0: (7, 30.0), 1: (9, 47.5), 2: (10, 57.5), 3: (12, 81.0)}


@pytest.mark.parametrize("version", sorted(EXPECTED_V2))
def test_v2_time_travel_every_version(spark, version):
    count, amount = EXPECTED_V2[version]
    got = delta_read(spark, GOLDEN_V2, version=version).collect()
    assert len(got) == count
    assert round(sum(r["amount"] for r in got), 2) == amount


def test_v2_checkpoint_resolves_top_plus_sidecars(spark):
    """The v2 fold must read the UUID top file AND both sidecars: the
    adds live only in the sidecars, the metadata only in the top —
    either half alone loses the snapshot."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        _checkpoint_files,
        _list_checkpoints,
    )

    assert _list_checkpoints(spark, GOLDEN_V2) == [2]
    files = _checkpoint_files(spark, GOLDEN_V2, 2)
    assert len(files) == 3
    assert ".checkpoint.80a083e8" in files[0]
    assert all("_sidecars/" in f for f in files[1:])
    proto, meta, live, txns = _read_checkpoint(spark, GOLDEN_V2, 2)
    assert proto["minReaderVersion"] == 3
    assert proto["readerFeatures"] == ["v2Checkpoint"]
    assert meta["configuration"]["delta.checkpointPolicy"] == "v2"
    assert len(live) == 4  # H, I, J, K from the two sidecars
    # meta-only projection: top file alone, no sidecar decode
    proto2, meta2, live2, _ = _read_checkpoint(
        spark, GOLDEN_V2, 2, meta_only=True
    )
    assert proto2 == proto and meta2["id"] == meta["id"] and live2 == {}


def test_v2_checkpoint_only_resolution_after_cleanup(spark, tmp_path):
    """Drop the pre-checkpoint JSON commits: the snapshot must fold from
    the v2 checkpoint + tail alone (the layout's whole point)."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_cleanup_log,
    )

    dest = str(tmp_path / "golden_v2_copy")
    shutil.copytree(GOLDEN_V2, dest)
    assert delta_cleanup_log(spark, dest)
    assert delta_read(spark, dest).count() == 12
    assert delta_read(spark, dest, version=2).count() == 10


def test_v2_native_append_onto_foreign_table(spark, tmp_path):
    """v2Checkpoint is in the native writer's feature set, so appends
    onto the foreign v2 table must work and auto-inherit its layout."""
    dest = str(tmp_path / "golden_v2_append")
    shutil.copytree(GOLDEN_V2, dest)
    extra = spark.createDataFrame(
        [(13, "m", 9.0)], "k int, v string, amount double"
    )
    assert delta_write(extra, dest, mode="append") == 4
    assert delta_read(spark, dest).count() == 13
    assert delta_read(spark, dest, version=3).count() == 12


def test_unknown_actions_and_fields_are_ignored(spark, tmp_path):
    """PROTOCOL.md forward-compatibility: readers MUST ignore action
    types and fields they do not recognize (feature-gated semantics are
    what reader features exist for). Inject a future action type plus
    unknown fields into a commit of the golden table — every read must
    be identical to the pristine fixture."""
    import json

    dest = str(tmp_path / "golden_future")
    shutil.copytree(GOLDEN, dest)
    commit = os.path.join(dest, "_delta_log", f"{5:020d}.json")
    lines = open(commit).read().splitlines()
    patched = []
    for line in lines:
        action = json.loads(line)
        if "add" in action:
            action["add"]["futureFileLevelField"] = {"x": 1}
        if "commitInfo" in action:
            action["commitInfo"]["futureEngineTag"] = "v99"
        patched.append(json.dumps(action, separators=(",", ":")))
    patched.insert(1, json.dumps(
        {"futureAction": {"payload": "ignore-me", "n": 42}},
        separators=(",", ":")))
    with open(commit, "w") as fh:
        fh.write("\n".join(patched) + "\n")

    df = delta_read(spark, dest)
    rows = df.collect()
    assert len(rows) == 9
    assert round(sum(r["amount"] for r in rows), 2) == 512.0
    # the distributed fold path tolerates it too
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_snapshot_adds_df,
    )

    assert delta_snapshot_adds_df(spark, dest).count() == 5  # A C E F G
    assert delta_last_txn(spark, dest, "golden-app") == 7


# ------------------------------------------------------------ DV fixture

GOLDEN_DV = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fixtures", "golden_delta_dv"
)

# layout table (make_golden_delta.py make_dv): M = k 0..9 minus row
# positions {1,4}; N = k 10..15 minus positions {0,5}; O = k 20..24
_DV_EXPECT_LATEST = sorted(
    [k for i, k in enumerate(range(0, 10)) if i not in (1, 4)]
    + [k for i, k in enumerate(range(10, 16)) if i not in (0, 5)]
    + list(range(20, 25))
)


def test_golden_dv_snapshot_and_time_travel(spark):
    """Wire-format DVs from a foreign writer: the v1 DELETE commit is
    the protocol's remove + re-add-with-descriptor pairing (inline Z85
    for one file, UUID-addressed .bin for the other) — the snapshot
    must apply both, and v0 time travel must see the pre-delete rows."""
    got = sorted(r["k"] for r in delta_read(spark, GOLDEN_DV).collect())
    assert got == _DV_EXPECT_LATEST
    assert delta_read(spark, GOLDEN_DV, version=0).count() == 16
    assert delta_read(spark, GOLDEN_DV, version=1).count() == 12


def test_golden_dv_checkpoint_fold(spark, tmp_path):
    """The committed classic checkpoint carries delta-spark's FULL
    6-field descriptor struct; with the JSON commits ≤ 1 removed, the
    fold comes from the checkpoint alone plus the v2 tail — both
    descriptors (incl. offset/sizeInBytes) must survive."""
    dest = str(tmp_path / "golden_dv_ck")
    shutil.copytree(GOLDEN_DV, dest)
    os.remove(os.path.join(dest, "_delta_log", f"{0:020d}.json"))
    os.remove(os.path.join(dest, "_delta_log", f"{1:020d}.json"))
    got = sorted(r["k"] for r in delta_read(spark, dest).collect())
    assert got == _DV_EXPECT_LATEST
    live = dict(delta_live_adds(spark, dest))
    dvs = {
        f: a["deletionVector"]
        for f, a in live.items()
        if a.get("deletionVector")
    }
    assert len(dvs) == 2
    kinds = {d["storageType"] for d in dvs.values()}
    assert kinds == {"i", "u"}
    for d in dvs.values():
        if d["storageType"] == "u":
            assert d["offset"] == 1 and d["sizeInBytes"] > 0


def test_golden_dv_writable_after_adoption(spark, tmp_path):
    """Continuing to WRITE the foreign DV table: a plain append
    composes, and a further native DV delete merges with the foreign
    descriptors (cross-dialect prior merge)."""
    from pyspark.sql import functions as F

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_delete_dv,
    )

    dest = str(tmp_path / "golden_dv_rw")
    shutil.copytree(GOLDEN_DV, dest)
    delta_write(
        spark.range(30, 33).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") + 0.5).alias("amount"),
        ),
        dest,
        mode="append",
    )
    delta_delete_dv(spark, dest, "k % 2 = 0")
    got = sorted(r["k"] for r in delta_read(spark, dest).collect())
    assert got == [
        k for k in _DV_EXPECT_LATEST + [30, 31, 32] if k % 2 == 1
    ]
