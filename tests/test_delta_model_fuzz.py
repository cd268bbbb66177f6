"""Model-based differential fuzz of the native Delta log.

A seeded random sequence of table operations (append, copy-on-write
DELETE/UPDATE, merge-on-read DV DELETE, MERGE upsert, clause MERGE
(whenMatchedDelete + stale-guard update), REPLACE WHERE, OPTIMIZE,
REORG PURGE, RESTORE, checkpoint) runs against BOTH the protocol
implementation and
a trivial in-memory dict model; after every step the table snapshot
must equal the model exactly, and at the end every historical version
must still time-travel to its recorded model state. This is the class
of test that catches INTERACTION bugs (a DV surviving an optimize, a
restore resurrecting a deleted row, a CoW rewrite ignoring a DV) that
single-feature tests cannot.

Seeded concurrent steps add a second writer: its append, UPDATE or DV
DELETE lands between an op's snapshot read and the op's commit. The op
either aborts with DeltaConcurrentModification or commits; the model
applies the winner's change, then the op's change as computed on the
snapshot the op read, only if it committed (WriteSerializable: the two
touched disjoint files, so their changes commute).

After every step the table's protocol must also keep the protocol rule
(``tests/test_delta_log.py::assert_protocol_rule``)."""

from __future__ import annotations

import random
import tempfile

import pytest
from pyspark.sql import functions as F

from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
    DeltaConcurrentModification,
    _list_versions,
    delta_checkpoint,
    delta_delete,
    delta_delete_dv,
    delta_describe_detail,
    delta_live_adds,
    delta_merge,
    delta_optimize,
    delta_optimize_zorder,
    delta_read,
    delta_reorg_purge,
    delta_replace_where,
    delta_restore,
    delta_update,
    delta_update_dv,
    delta_vacuum,
    delta_write,
)
from tests.test_delta_log import assert_protocol_rule


def _snapshot(spark, path) -> dict[int, int]:
    return {
        r["k"]: r["v"] for r in delta_read(spark, path).collect()
    }


def _df(spark, rows: list[tuple[int, int]]):
    return spark.createDataFrame(rows, "k long, v long")


# ops whose snapshot read a second writer's commit may follow (restore
# reads the target version first, the rest commit nothing)
_RACEABLE = frozenset(
    {"append", "delete", "delete_dv", "update", "update_dv", "merge",
     "merge_clauses", "replace_where", "optimize", "zorder", "hilbert",
     "purge"}
)


@pytest.mark.parametrize("seed", [7, 23, 101])
def test_delta_model_fuzz(spark, arm_read_race, seed):
    rng = random.Random(seed)
    race_rng = random.Random(seed + 1)
    path = tempfile.mkdtemp(prefix=f"ls_fuzz_{seed}_")
    next_key = 0

    def fresh_rows(n: int) -> list[tuple[int, int]]:
        nonlocal next_key
        rows = [(next_key + i, rng.randrange(1000)) for i in range(n)]
        next_key += n
        return rows

    model: dict[int, int] = dict(fresh_rows(40))
    delta_write(
        _df(spark, list(model.items())).repartition(3),
        path,
        stats_cols=["k"],
    )
    history: dict[int, dict[int, int]] = {0: dict(model)}
    version = 0

    for step in range(14):
        op = rng.choice(
            ["append", "delete", "delete_dv", "update", "update_dv",
             "merge", "merge_clauses", "replace_where", "optimize",
             "zorder", "hilbert", "restore", "checkpoint", "purge",
             "vacuum_lite", "vacuum_inventory", "describe"]
        )
        base = dict(model)
        race = None
        if op in _RACEABLE and race_rng.random() < 0.35:
            kind = race_rng.choice(["append", "update", "delete_dv"])
            wm, wr = race_rng.choice([2, 3, 5]), race_rng.randrange(2)
            wbump = race_rng.randrange(1, 50)
            won_rows = [
                (next_key + i, race_rng.randrange(1000))
                for i in range(race_rng.randrange(1, 6))
            ]
            next_key += len(won_rows)
            landed: dict[str, int] = {}

            def winner(p):
                if kind == "append":
                    landed["v"] = delta_write(
                        _df(spark, won_rows), p, mode="append"
                    )
                elif kind == "update":
                    landed["v"] = delta_update(
                        spark, p, f"k % {wm} = {wr}",
                        {"v": F.col("v") + wbump},
                    )
                else:
                    landed["v"] = delta_delete_dv(
                        spark, p, f"k % {wm} = {wr}"
                    )

            race = arm_read_race(winner)
        try:
            if op == "append":
                rows = fresh_rows(rng.randrange(1, 15))
                delta_write(_df(spark, rows), path, mode="append")
                model.update(rows)
                version += 1
            elif op in ("delete", "delete_dv"):
                m = rng.choice([2, 3, 5, 7])
                r = rng.randrange(m)
                fn = delta_delete if op == "delete" else delta_delete_dv
                doomed = [k for k in model if k % m == r]
                new_v = fn(spark, path, f"k % {m} = {r}")
                # a no-match delete must be a no-op commit-wise
                assert race is not None or new_v == (
                    version + 1 if doomed else version
                )
                for k in doomed:
                    del model[k]
                version = new_v
            elif op in ("update", "update_dv"):
                m = rng.choice([2, 3, 5])
                r = rng.randrange(m)
                bump = rng.randrange(1, 50)
                ufn = delta_update if op == "update" else delta_update_dv
                new_v = ufn(
                    spark, path, f"k % {m} = {r}", {"v": F.col("v") + bump}
                )
                for k in list(model):
                    if k % m == r:
                        model[k] = model[k] + bump
                version = new_v
            elif op == "merge":
                upd_keys = rng.sample(sorted(model), min(5, len(model)))
                rows = [(k, rng.randrange(1000)) for k in upd_keys]
                rows += fresh_rows(rng.randrange(1, 6))
                delta_merge(spark, path, _df(spark, rows), on=["k"])
                model.update(rows)
                version += 1
            elif op == "merge_clauses":
                pool = sorted(model)
                upd_keys = rng.sample(pool, min(6, len(pool)))
                rows = [(k, rng.randrange(1000)) for k in upd_keys]
                rows += fresh_rows(rng.randrange(1, 4))
                thr = rng.randrange(1000)
                delta_merge(
                    spark,
                    path,
                    _df(spark, rows),
                    on=["k"],
                    matched_delete=f"v < {thr}",
                    matched_condition="__src_v > v",
                )
                for k, nv in rows:
                    if k in model:
                        if model[k] < thr:
                            del model[k]
                        elif nv > model[k]:
                            model[k] = nv
                    else:
                        model[k] = nv
                version += 1
            elif op == "replace_where":
                lo = rng.randrange(0, max(next_key, 1))
                hi = lo + rng.randrange(1, 30)
                in_range = sorted(k for k in model if lo <= k < hi)
                repl = [
                    (k, rng.randrange(1000))
                    for k in rng.sample(
                        in_range, min(len(in_range), rng.randrange(0, 6))
                    )
                ]
                batch = (
                    _df(spark, repl)
                    if repl
                    else spark.createDataFrame([], "k long, v long")
                )
                version = delta_replace_where(
                    spark, path, f"k >= {lo} AND k < {hi}", batch
                )
                for k in in_range:
                    del model[k]
                model.update(repl)
            elif op == "optimize":
                # empty-scope OPTIMIZE is a no-op commit-wise — trust the
                # returned version either way
                version = delta_optimize(spark, path, target_files=2)
            elif op == "zorder":
                delta_optimize_zorder(spark, path, ["k", "v"], target_files=2)
                version += 1
            elif op == "hilbert":
                delta_optimize_zorder(
                    spark, path, ["k", "v"], target_files=2, curve="hilbert"
                )
                version += 1
            elif op == "vacuum_lite":
                # LITE reclaims files only the pre-retention history needs;
                # the model's contract follows: versions outside the
                # retained window stop being time-travelable
                keep = rng.randrange(1, 4)
                cut = _list_versions(spark, path)[-keep:][0]
                delta_vacuum(spark, path, keep_versions=keep, lite=True)
                history = {v: s for v, s in history.items() if v >= cut}
                # no new version; fall through so the snapshot-vs-model
                # assertion proves the reclaim touched no live file
            elif op == "vacuum_inventory":
                # inventory-driven FULL vacuum at a random state: an
                # os.walk inventory (absolute paths) must reclaim exactly
                # the out-of-retention files and never a live one — the
                # fall-through assertion proves it; same history trim as
                # any retention cut
                import os as _os

                keep = rng.randrange(1, 4)
                cut = _list_versions(spark, path)[-keep:][0]
                inv_rows = []
                for root, dirs, files in _os.walk(path):
                    for d in dirs:
                        inv_rows.append((_os.path.join(root, d), 0, True, 0))
                    for fnm in files:
                        p_ = _os.path.join(root, fnm)
                        inv_rows.append(
                            (p_, _os.stat(p_).st_size, False, 0)
                        )
                inv = spark.createDataFrame(
                    inv_rows,
                    "path string, length long, isDir boolean,"
                    " modificationTime long",
                )
                delta_vacuum(spark, path, keep_versions=keep, inventory=inv)
                history = {v: s for v, s in history.items() if v >= cut}
            elif op == "describe":
                # state-neutral probe: the detail row's accounting must
                # match the live add set exactly, at every random point
                d = delta_describe_detail(spark, path)
                live_adds = delta_live_adds(spark, path)
                assert d["numFiles"] == len(live_adds)
                assert d["sizeInBytes"] == sum(
                    int(a.get("size") or 0) for _, a in live_adds
                )
                continue  # no new version
            elif op == "purge":
                # REORG PURGE: layout-only DV materialization — model rows
                # unchanged; a DV-free snapshot makes it a version no-op
                version = delta_reorg_purge(spark, path)
            elif op == "restore":
                target = rng.choice(sorted(history))
                delta_restore(spark, path, target)
                model = dict(history[target])
                version += 1
            elif op == "checkpoint":
                delta_checkpoint(spark, path)
                history[version] = dict(model)
                continue  # no new version
        except DeltaConcurrentModification:
            if race is None:
                raise
        if race is not None:
            assert race["fired"], f"seed {seed} step {step}: {op} never read"
            won = dict(base)
            hit = [k for k in base if k % wm == wr]
            if kind == "append":
                won.update(won_rows)
                model.update(won_rows)
            elif kind == "update":
                for k in hit:
                    won[k] = base[k] + wbump
                    model[k] = model[k] + wbump
            else:
                for k in hit:
                    del won[k]
                    model.pop(k, None)
            history[landed["v"]] = won
            version = _list_versions(spark, path)[-1]
        history[version] = dict(model)
        got = _snapshot(spark, path)
        assert got == model, (
            f"seed {seed} step {step} op {op}: snapshot diverged "
            f"(extra={set(got) - set(model)}, "
            f"missing={set(model) - set(got)}, "
            f"wrong={[k for k in got.keys() & model.keys() if got[k] != model[k]][:5]})"
        )
        assert_protocol_rule(spark, path)

    # every recorded version must still time-travel to its model state
    for v, state in history.items():
        got = {
            r["k"]: r["v"]
            for r in delta_read(spark, path, version=v).collect()
        }
        assert got == state, f"seed {seed}: version {v} diverged in history"


@pytest.mark.parametrize("seed", [13, 57])
def test_delta_model_fuzz_row_tracked(spark, seed):
    """The same randomized lifecycle on a row-TRACKED table — created
    with identity columns AND Change Data Feed enabled, with occasional
    schema-evolution appends mixed in, so row tracking is fuzzed in
    COMPOSITION with the features it must ride alongside (the merge
    insert piece flows through identity allocation; every DML stages
    CDF images; evolution widens the schema under the id machinery).
    Two extra invariants check after every step: row ids stay unique,
    and every key surviving from the prior step keeps its id (updates
    and rewrites must never change a row's identity; restore reverts
    ids to exactly the target version's mapping)."""
    rng = random.Random(seed)
    path = tempfile.mkdtemp(prefix=f"ls_rtfuzz_{seed}_")
    next_key = 0

    def fresh_rows(n: int) -> list[tuple[int, int]]:
        nonlocal next_key
        rows = [(next_key + i, rng.randrange(1000)) for i in range(n)]
        next_key += n
        return rows

    def _ids(spark_, p) -> dict[int, int]:
        return {
            r["k"]: r["_row_id"]
            for r in delta_read(spark_, p, row_ids=True).collect()
        }

    model: dict[int, int] = dict(fresh_rows(30))
    delta_write(
        _df(spark, list(model.items())).repartition(3),
        path,
        stats_cols=["k"],
        configuration={
            "delta.enableRowTracking": "true",
            "delta.enableChangeDataFeed": "true",
        },
        identity_columns={"rid": {"start": 1000, "step": 1}},
    )
    version = 0
    history: dict[int, dict[int, int]] = {0: dict(model)}
    ids = _ids(spark, path)
    assert len(set(ids.values())) == len(ids)
    id_history: dict[int, dict[int, int]] = {0: dict(ids)}

    for step in range(12):
        op = rng.choice(
            ["append", "delete", "delete_dv", "update", "update_dv",
             "merge", "optimize", "zorder", "restore", "checkpoint",
             "evolve", "purge"]
        )
        prev_ids = ids
        if op == "append":
            rows = fresh_rows(rng.randrange(1, 10))
            # merge_schema so the narrow (k, v) batch conforms after an
            # earlier evolution widened the table (typed nulls)
            delta_write(
                _df(spark, rows), path, mode="append", merge_schema=True
            )
            model.update(rows)
            version += 1
        elif op == "evolve":
            # schema-evolution append: a brand-new column rides in via
            # mergeSchema while row tracking + identity keep allocating
            rows = fresh_rows(rng.randrange(1, 5))
            extra = spark.createDataFrame(
                [(k, v, v * 7) for k, v in rows],
                f"k long, v long, x{step} long",
            )
            delta_write(extra, path, mode="append", merge_schema=True)
            model.update(rows)
            version += 1
        elif op in ("delete", "delete_dv"):
            m = rng.choice([2, 3, 5, 7])
            r = rng.randrange(m)
            fn = delta_delete if op == "delete" else delta_delete_dv
            new_v = fn(spark, path, f"k % {m} = {r}")
            for k in [k for k in model if k % m == r]:
                del model[k]
            version = new_v
        elif op in ("update", "update_dv"):
            m = rng.choice([2, 3, 5])
            r = rng.randrange(m)
            bump = rng.randrange(1, 50)
            ufn = delta_update if op == "update" else delta_update_dv
            version = ufn(
                spark, path, f"k % {m} = {r}", {"v": F.col("v") + bump}
            )
            for k in list(model):
                if k % m == r:
                    model[k] = model[k] + bump
        elif op == "merge":
            upd_keys = rng.sample(sorted(model), min(4, len(model)))
            rows = [(k, rng.randrange(1000)) for k in upd_keys]
            rows += fresh_rows(rng.randrange(1, 5))
            delta_merge(spark, path, _df(spark, rows), on=["k"])
            model.update(rows)
            version += 1
        elif op == "optimize":
            # empty-scope OPTIMIZE is a no-op commit-wise — trust the
            # returned version either way
            version = delta_optimize(spark, path, target_files=2)
        elif op == "zorder":
            # the OTHER id-materializing rewrite path — clustered layout
            # must preserve row identity exactly like plain compaction
            delta_optimize_zorder(spark, path, ["k", "v"], target_files=2)
            version += 1
        elif op == "purge":
            # layout-only DV materialization: rows AND ids must survive
            version = delta_reorg_purge(spark, path)
        elif op == "restore":
            target = rng.choice(sorted(history))
            delta_restore(spark, path, target)
            model = dict(history[target])
            prev_ids = id_history[target]
            version += 1
        elif op == "checkpoint":
            delta_checkpoint(spark, path)
            history[version] = dict(model)
            id_history[version] = dict(ids)
            continue
        history[version] = dict(model)
        got = _snapshot(spark, path)
        assert got == model, f"seed {seed} step {step} op {op}: data diverged"
        assert_protocol_rule(spark, path)
        ids = _ids(spark, path)
        assert len(set(ids.values())) == len(ids), (
            f"seed {seed} step {step} op {op}: duplicate row ids"
        )
        changed = {
            k: (prev_ids[k], ids[k])
            for k in ids.keys() & prev_ids.keys()
            if ids[k] != prev_ids[k]
        }
        assert not changed, (
            f"seed {seed} step {step} op {op}: rows renumbered {changed}"
        )
        id_history[version] = dict(ids)
