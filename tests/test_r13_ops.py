"""Round-13 regressions + invariants: the four r12-advice DML/repair
fixes (NULL-condition MERGE clauses, NULL-predicate replaceWhere
refusal, FSCK on URI-encoded partition paths, DEEP CLONE basename
collisions) plus the new r13 operator properties."""

from __future__ import annotations

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
    delta_deep_clone,
    delta_fsck,
    delta_live_files,
    delta_merge,
    delta_read,
    delta_read_cdf,
    delta_replace_where,
    delta_write,
)


def test_merge_null_delete_condition_row_passes_through(spark):
    """A whenMatchedDelete condition that evaluates NULL is NOT taken
    (delta-spark semantics): the matched row must survive unchanged —
    before the fix it vanished from BOTH the survivors and the delete
    CDF images (NULL __del fails where(~__del) and where(__del))."""
    p = tempfile.mkdtemp(prefix="ls_merge_nullcond_")
    delta_write(
        spark.sql(
            "SELECT * FROM VALUES (1, 10), (2, CAST(NULL AS INT)),"
            " (3, -5) AS t(k, cents)"
        ),
        p,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    v = delta_merge(
        spark,
        p,
        spark.sql(
            "SELECT * FROM VALUES (1, 100), (2, 200), (3, 300)"
            " AS s(k, cents)"
        ),
        on=["k"],
        matched_delete="cents < 0",
        insert_unmatched=False,
    )
    got = {(r.k, r.cents) for r in delta_read(spark, p).collect()}
    # k=3 deleted (cents -5 < 0); k=2 has NULL cents → clause NOT
    # taken → row UPDATES normally (the unconditional-update clause)
    assert got == {(1, 100), (2, 200)}
    feed = delta_read_cdf(spark, p, v, v)
    dels = {r.k for r in feed.where("_change_type = 'delete'").collect()}
    assert dels == {3}
    post = {
        r.k
        for r in feed.where("_change_type = 'update_postimage'").collect()
    }
    assert post == {1, 2}, "NULL-condition row must emit update images"


def test_merge_null_update_condition_row_unchanged(spark):
    """A whenMatchedUpdate condition evaluating NULL is not taken: the
    matched row passes through with its OLD values and emits no
    change images."""
    p = tempfile.mkdtemp(prefix="ls_merge_nullupd_")
    delta_write(
        spark.sql(
            "SELECT * FROM VALUES (1, 10), (2, CAST(NULL AS INT))"
            " AS t(k, cents)"
        ),
        p,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    v = delta_merge(
        spark,
        p,
        spark.sql("SELECT * FROM VALUES (1, 100), (2, 200) AS s(k, cents)"),
        on=["k"],
        matched_condition="cents > 5",
        insert_unmatched=False,
    )
    got = {(r.k, r.cents) for r in delta_read(spark, p).collect()}
    assert got == {(1, 100), (2, None)}
    feed = delta_read_cdf(spark, p, v, v)
    touched = {
        r.k
        for r in feed.where("_change_type = 'update_postimage'").collect()
    }
    assert touched == {1}


def test_replace_where_null_predicate_incoming_refused(spark):
    """An incoming row where the replaceWhere predicate evaluates NULL
    is OUTSIDE the declared region and must refuse the whole batch
    (before the fix ~NULL slipped the check and the row committed
    where a re-run's scan could never remove it)."""
    p = tempfile.mkdtemp(prefix="ls_rw_nullin_")
    # v nullable, so the write rule admits the batch's NULL
    delta_write(spark.createDataFrame([(1, 5), (2, 50)], "k int, v int"), p)
    with pytest.raises(ValueError, match="outside"):
        delta_replace_where(
            spark,
            p,
            "v > 10",
            spark.sql(
                "SELECT * FROM VALUES (9, 99),"
                " (10, CAST(NULL AS INT)) AS s(k, v)"
            ),
        )
    # nothing committed — idempotent-backfill convergence intact
    got = {(r.k, r.v) for r in delta_read(spark, p).collect()}
    assert got == {(1, 5), (2, 50)}


def test_fsck_uri_encoded_partition_values(spark):
    """Partition values needing URI encoding (space, ':', and a literal
    '%' that hive-escapes to %25 then URI-encodes again) must NOT look
    missing to FSCK — a false positive here makes a non-dry-run repair
    commit dataChange removes for files that exist: data loss."""
    p = tempfile.mkdtemp(prefix="ls_fsck_enc_")
    delta_write(
        spark.sql(
            "SELECT * FROM VALUES (1, 'part a'), (2, 'b:c'),"
            " (3, 'p%25q'), (4, 'plain') AS t(k, g)"
        ),
        p,
        partition_by=["g"],
    )
    assert delta_fsck(spark, p, dry_run=True) == []
    # and the repair path agrees (no commit when nothing is missing)
    assert delta_fsck(spark, p) == []
    got = {(r.k, r.g) for r in delta_read(spark, p).collect()}
    assert got == {(1, "part a"), (2, "b:c"), (3, "p%25q"), (4, "plain")}
    # a REAL loss on an encoded partition is still caught + repaired
    lost = [
        f
        for f in delta_live_files(spark, p)
        if f.startswith("g=part a/") or f.startswith("g=part%20a/")
    ]
    assert len(lost) == 1
    os.remove(os.path.join(p, lost[0]))
    assert delta_fsck(spark, p, dry_run=True) == lost
    assert delta_fsck(spark, p) == lost
    assert delta_fsck(spark, p, dry_run=True) == []
    assert delta_read(spark, p).count() == 3


def test_deep_clone_disambiguates_colliding_basenames(spark):
    """Two absolute refs from different source dirs sharing a basename
    must land as DISTINCT clone files (hash-prefixed), not collide on
    one destination copy."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tempfile.mkdtemp(prefix="ls_clone_collide_")
    src = os.path.join(root, "tbl")
    dirs = [os.path.join(root, d) for d in ("ext_a", "ext_b")]
    refs = []
    for i, d in enumerate(dirs):
        os.makedirs(d)
        f = os.path.join(d, "data.parquet")
        pq.write_table(
            pa.table({"k": pa.array([i], pa.int64())}), f,
            compression="snappy",
        )
        refs.append((f, os.path.getsize(f)))
    os.makedirs(os.path.join(src, "_delta_log"))
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "k",
                    "type": "long",
                    "nullable": True,
                    "metadata": {},
                }
            ],
        },
        separators=(",", ":"),
    )
    actions = [
        {
            "protocol": {"minReaderVersion": 1, "minWriterVersion": 2}
        },
        {
            "metaData": {
                "id": "collide-src",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema,
                "partitionColumns": [],
                "configuration": {},
                "createdTime": 1700000000000,
            }
        },
    ] + [
        {
            "add": {
                "path": "file://" + f,
                "partitionValues": {},
                "size": sz,
                "modificationTime": 1700000000000,
                "dataChange": True,
            }
        }
        for f, sz in refs
    ]
    with open(
        os.path.join(src, "_delta_log", f"{0:020d}.json"), "w"
    ) as fh:
        for a in actions:
            fh.write(json.dumps(a, separators=(",", ":")) + "\n")
    dst = os.path.join(root, "clone")
    delta_deep_clone(spark, src, dst)
    live = sorted(delta_live_files(spark, dst))
    assert len(live) == 2, f"one copy clobbered the other: {live}"
    assert len({f.rsplit("/", 1)[-1] for f in live}) == 2
    assert not any(f.startswith(("file:", "/")) for f in live), (
        "deep clone must own its bytes via relative refs"
    )
    got = sorted(r.k for r in delta_read(spark, dst).collect())
    assert got == [0, 1]


# --- r13 operator invariants -------------------------------------------------


def _duck(sf_dir, sql):
    import duckdb

    con = duckdb.connect()
    for t in ("orders", "lineitem", "part", "events", "documents"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT *"
            f" FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con.execute(sql).fetchall()


def test_hll_sketch_matches_sequential_reference(spark, sf_smoke):
    """The distributed register state must equal a sequential hashlib
    HLL over the same keys, and the estimate must land within the
    p=8 error envelope of the true cardinality."""
    import hashlib

    from lakesail_hdfs_deltalake_guide_spark.operators.stats import (
        HLL_K,
        HLL_M,
        HLL_WBITS,
        stats_hll_sketch,
    )

    keys = [r[0] for r in _duck(sf_smoke, "SELECT o_custkey FROM orders")]
    regs: dict[int, int] = {}
    for k in keys:
        h = int(hashlib.md5(f"h:{k}".encode()).hexdigest()[:10], 16)
        reg, w = h >> HLL_WBITS, h % (1 << HLL_WBITS)
        rho = HLL_WBITS + 1 - w.bit_length()
        regs[reg] = max(regs.get(reg, 0), rho)
    sum_inv = sum(1 << (HLL_WBITS + 1 - r) for r in regs.values()) + (
        HLL_M - len(regs)
    ) * (1 << (HLL_WBITS + 1))
    row = stats_hll_sketch(spark, sf_smoke).collect()[0]
    assert row.zero_registers == HLL_M - len(regs)
    assert row.sum_rho == sum(regs.values())
    assert row.sum_inv_x2p33 == sum_inv
    assert row.est_x1000 == HLL_K * (1 << (HLL_WBITS + 1)) // sum_inv
    true_n = len(set(keys))
    assert row.true_distinct == true_n
    # 150 distinct over 256 registers is the SMALL-RANGE regime: the
    # raw estimator is known-biased there and the linear-counting
    # branch must kick in and land inside the error envelope
    assert row.est_corrected_x1000 != row.est_x1000
    assert abs(row.est_corrected_x1000 / 1000 - true_n) < 0.2 * true_n


def test_hll_sketch_raw_regime_accuracy(spark, sf_oracle):
    """At sf0.01 (1500 distinct >> 2.5m) the raw harmonic estimator is
    in its own regime: no correction applies and the estimate lands
    within the 3-sigma envelope (1.04/sqrt(256) per sigma)."""
    from lakesail_hdfs_deltalake_guide_spark.operators.stats import (
        stats_hll_sketch,
    )

    row = stats_hll_sketch(spark, sf_oracle).collect()[0]
    assert row.est_corrected_x1000 == row.est_x1000
    assert (
        abs(row.est_x1000 / 1000 - row.true_distinct)
        < 0.2 * row.true_distinct
    )


def test_bh_fdr_stepup_properties(spark, sf_smoke):
    """BH step-up invariants: the rejected set is exactly ranks
    1..k_star where k_star is the LAST rank whose statistic clears its
    slot's critical value — and a sequential Python BH on the same
    statistics agrees."""
    from lakesail_hdfs_deltalake_guide_spark.operators.stats import (
        BH_CRIT_MICRO,
        stats_bh_fdr,
    )

    rows = stats_bh_fdr(spark, sf_smoke).collect()
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    z2 = [r.z2_micro for r in rows]
    assert z2 == sorted(z2, reverse=True)
    k_star = max(
        (r for r, z in enumerate(z2, 1) if z >= BH_CRIT_MICRO[r - 1]),
        default=0,
    )
    for r in rows:
        assert r.crit_micro == BH_CRIT_MICRO[r.rank - 1]
        assert r.rejected == (1 if r.rank <= k_star else 0)
    # step-up, not step-down: a rank below k_star is rejected even if
    # its own statistic missed its slot (when such a gap exists)
    assert all(
        rows[i].rejected >= rows[i + 1].rejected
        for i in range(len(rows) - 1)
    ), "rejections must be a prefix of the ranking"


def test_horvitz_thompson_matches_sequential_reference(spark, sf_smoke):
    """Membership and per-item y/pi terms recomputed sequentially from
    the raw table must reproduce the distributed ledger exactly; the
    HT count estimate should land near the true count."""
    import hashlib

    from lakesail_hdfs_deltalake_guide_spark.operators.sampling import (
        HT_TARGET,
        sample_horvitz_thompson,
    )

    raw = _duck(
        sf_smoke,
        "SELECT o_orderkey, o_orderpriority,"
        " CAST(round(o_totalprice * 100) AS BIGINT) FROM orders",
    )
    s_all = sum(r[2] for r in raw)
    per: dict[str, list[int]] = {}
    for key, prio, s in raw:
        u = int(hashlib.md5(f"ht:{key}".encode()).hexdigest()[:8], 16) % 10**6
        st = per.setdefault(prio, [0, 0, 0, 0, 0])
        st[0] += 1
        st[1] += s
        if u * s_all < HT_TARGET * s * 10**6:
            st[2] += 1
            st[3] += max(1000, s_all * 1000 // (HT_TARGET * s))
            st[4] += max(s * 1000, s * s_all * 1000 // (HT_TARGET * s))
    for r in sample_horvitz_thompson(spark, sf_smoke).collect():
        st = per[r.o_orderpriority]
        assert (
            r.true_count,
            r.true_cents,
            r.n_sampled,
            r.ht_count_x1000,
            r.ht_cents_x1000,
        ) == tuple(st)
    total_est = sum(st[3] for st in per.values()) / 1000
    total_true = sum(st[0] for st in per.values())
    assert abs(total_est - total_true) < 0.35 * total_true


def test_neyman_allocation_exact_and_sums_to_budget(spark, sf_smoke):
    """Weights must equal math.isqrt of the exact variance numerator
    (no float-sqrt drift), and both allocations must sum to the budget
    exactly with every part non-negative."""
    import math

    from lakesail_hdfs_deltalake_guide_spark.operators.sampling import (
        NEYMAN_N,
        sample_neyman_allocation,
    )

    raw = _duck(
        sf_smoke,
        "SELECT o_orderpriority,"
        " CAST(round(o_totalprice * 100) AS BIGINT) FROM orders",
    )
    strata: dict[str, list[int]] = {}
    for prio, x in raw:
        st = strata.setdefault(prio, [0, 0, 0])
        st[0] += 1
        st[1] += x
        st[2] += x * x
    rows = sample_neyman_allocation(spark, sf_smoke).collect()
    for r in rows:
        n, s1, s2 = strata[r.o_orderpriority]
        assert r.n_h == n
        assert r.weight == math.isqrt(n * s2 - s1 * s1)
        assert r.n_neyman >= 0 and r.n_proportional >= 0
    assert sum(r.n_neyman for r in rows) == NEYMAN_N
    assert sum(r.n_proportional for r in rows) == NEYMAN_N


def test_attribution_credit_conservation(spark, sf_smoke):
    """Every converting user with >=1 pre-conversion touch hands out
    exactly one first-touch and one last-touch credit; linear and
    position credit per user never exceeds one million micro and the
    truncation shortfall is bounded by the journey length."""
    from lakesail_hdfs_deltalake_guide_spark.operators.sessions import (
        session_attribution_models,
    )

    rows = session_attribution_models(spark, sf_smoke).collect()
    (n_users,) = _duck(
        sf_smoke,
        """
        WITH conv AS (
          SELECT user_id, MIN(epoch_ns(ts)) AS t
          FROM events WHERE event_type = 'purchase' GROUP BY user_id)
        SELECT COUNT(DISTINCT e.user_id) FROM events e
        JOIN conv c ON e.user_id = c.user_id
        WHERE e.event_type <> 'purchase' AND epoch_ns(e.ts) < c.t
        """,
    )[0]
    assert sum(r.n_first for r in rows) == n_users
    assert sum(r.n_last for r in rows) == n_users
    n_touches = sum(r.n_touches for r in rows)
    for col in ("linear_micro", "position_micro"):
        total = sum(getattr(r, col) for r in rows)
        assert total <= 1_000_000 * n_users
        # each touch truncates away < 1 micro-unit times its divisor
        assert total > 1_000_000 * n_users - n_touches * 1000


def test_optimize_where_arbitrary_predicates(spark):
    """The general predicate scope: range and IN predicates resolve at
    metadata scale; NULL partition values are out of scope for a
    comparison but selectable via IS NULL; non-partition columns and
    unpartitioned tables refuse."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_live_adds,
        delta_optimize,
        delta_read,
        delta_write,
    )

    def live(p):
        return {f for f, _ in delta_live_adds(spark, p)}

    p = tempfile.mkdtemp(prefix="ls_optw_")
    base = spark.sql(
        "SELECT * FROM VALUES (1, 1), (2, 1), (3, 2), (4, 2), (5, 3),"
        " (6, CAST(NULL AS INT)) AS t(k, part)"
    )
    delta_write(base.repartition(1), p, partition_by=["part"])
    delta_write(base.repartition(1), p, mode="append")
    before = live(p)

    # IN predicate: parts 1 and 3 compact, part 2 + null untouched
    delta_optimize(spark, p, where="part IN (1, 3)")
    after = live(p)
    untouched = {f for f in before if "part=2" in f or "__HIVE" in f}
    assert untouched <= after
    assert not any("part=1" in f for f in before & after)
    # a comparison never matches the NULL partition (3VL)
    before2 = live(p)
    delta_optimize(spark, p, where="part >= 2")
    assert {f for f in before2 if "__HIVE" in f} <= live(p)
    # IS NULL selects exactly the null partition
    before3 = live(p)
    delta_optimize(spark, p, where="part IS NULL")
    after3 = live(p)
    assert not any("__HIVE" in f for f in before3 & after3)
    assert {f for f in before3 if "part=" in f and "__HIVE" not in f} <= after3
    # rows never change through any of it
    assert sorted(r.k for r in delta_read(spark, p).collect()) == sorted(
        [1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6]
    )
    with pytest.raises(Exception, match="k|resolve|COLUMN"):
        delta_optimize(spark, p, where="k > 1")
    with pytest.raises(ValueError, match="both"):
        delta_optimize(
            spark, p, where="part = 1", partition_filter={"part": "1"}
        )
    p2 = tempfile.mkdtemp(prefix="ls_optw_flat_")
    delta_write(base, p2)
    with pytest.raises(ValueError, match="partitioned"):
        delta_optimize(spark, p2, where="part = 1")


def test_restore_timestamp_argument_contract(spark):
    """delta_restore demands exactly one of version/timestamp, and the
    timestamp form refuses instants before the first commit."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_restore,
        delta_write,
    )

    p = tempfile.mkdtemp(prefix="ls_rts_args_")
    delta_write(spark.sql("SELECT 1 AS k"), p)
    with pytest.raises(ValueError, match="exactly one"):
        delta_restore(spark, p)
    with pytest.raises(ValueError, match="exactly one"):
        delta_restore(spark, p, version=0, timestamp=1)
    with pytest.raises(Exception):
        delta_restore(spark, p, timestamp=0)


def test_curation_incremental_equals_batch(spark, sf_smoke):
    """The CDF-driven incremental capstone must produce the EXACT
    ledger of the batch capstone (the 'maintenance never changes
    answers' bar) — engine-internal equivalence, independent of the
    shared DuckDB oracle."""
    from lakesail_hdfs_deltalake_guide_spark.pipelines import (
        pipeline_curation_e2e,
        pipeline_curation_incremental,
    )

    batch = {
        r.stage_id: r.asDict()
        for r in pipeline_curation_e2e(spark, sf_smoke).collect()
    }
    incr = {
        r.stage_id: r.asDict()
        for r in pipeline_curation_incremental(spark, sf_smoke).collect()
    }
    assert batch == incr
    # the batch count is immaterial: 3 id-ordered increments produce
    # the identical ledger (the generalization knob)
    incr3 = {
        r.stage_id: r.asDict()
        for r in pipeline_curation_incremental(
            spark, sf_smoke, n_batches=3
        ).collect()
    }
    assert batch == incr3


@pytest.mark.parametrize(
    "pipeline, prefix",
    [
        ("pipeline_curation_incremental", "ls_cur_incr_"),
        ("pipeline_incremental_dedup", "ls_dedup_state_"),
        ("pipeline_incremental_minhash", "ls_minhash_state_"),
    ],
    ids=["curation", "dedup", "minhash"],
)
def test_curation_incremental_removes_its_temp_root(
    spark, sf_smoke, tmp_path, monkeypatch, pipeline, prefix
):
    """The incremental pipelines keep their Delta tables under one temp
    root, which the query removes once the ledger rows are in Python."""
    import tempfile

    from lakesail_hdfs_deltalake_guide_spark import pipelines

    made = []
    mkdtemp = tempfile.mkdtemp

    def spy(*args, **kwargs):
        made.append(mkdtemp(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(tempfile, "mkdtemp", spy)
    getattr(pipelines, pipeline)(spark, sf_smoke).collect()
    assert any(prefix in p for p in made)
    assert not list(tmp_path.glob(f"{prefix}*"))


def test_sq_perdim_recall_and_reconstruction(spark, sf_smoke):
    """Per-dim SQ8: recall@5 vs exact brute force must clear the floor
    an 8-bit/dim code promises (it should be near-lossless), and a
    sequential Python reimplementation of the trained ranges, codes,
    and ADC dot must agree exactly."""
    from lakesail_hdfs_deltalake_guide_spark.operators.similarity import (
        NUM_QUERIES,
        SQ_DIM,
        TOP_K,
        similarity_bruteforce_topk,
        similarity_sq_perdim_topk,
    )

    sq = similarity_sq_perdim_topk(spark, sf_smoke).toPandas()
    bf = similarity_bruteforce_topk(spark, sf_smoke).toPandas()
    per_q = sq.groupby("query_id").size()
    assert (per_q == TOP_K).all()
    recalls = []
    for q in sorted(bf.query_id.unique()):
        exact = set(bf[bf.query_id == q].vec_id)
        got = set(sq[sq.query_id == q].vec_id)
        recalls.append(len(exact & got) / len(exact))
    assert sum(recalls) / len(recalls) >= 0.8, recalls
    # sequential reference of the full quantize→reconstruct→ADC chain
    import duckdb

    vm = {
        vid: [round(x * 1000) for x in emb]
        for vid, emb in duckdb.connect()
        .execute(
            "SELECT vec_id, CAST(embedding AS DOUBLE[]) FROM"
            f" read_parquet('{sf_smoke}/embeddings.parquet')"
        )
        .fetchall()
    }
    lo = [min(m[d] for m in vm.values()) for d in range(SQ_DIM)]
    hi = [max(m[d] for m in vm.values()) for d in range(SQ_DIM)]
    span = [max(hi[d] - lo[d], 1) for d in range(SQ_DIM)]
    centers = {
        vid: [
            lo[d] + ((m[d] - lo[d]) * 255 // span[d]) * span[d] // 255
            for d in range(SQ_DIM)
        ]
        for vid, m in vm.items()
    }
    for row in sq.itertuples():
        qm = vm[row.query_id]
        c = centers[row.vec_id]
        assert row.query_id < NUM_QUERIES
        assert row.adc_dot == sum(a * b for a, b in zip(qm, c))


def test_hll_rolling_matches_sequential_reference(spark, sf_smoke):
    """Every day's merged register state and corrected estimate must
    equal a sequential hashlib HLL over the exact 7-day user union,
    and the estimate must track the true rolling distinct."""
    import hashlib

    from lakesail_hdfs_deltalake_guide_spark.operators.stats import (
        HLL_K,
        HLL_LC_MILLI,
        HLL_M,
        HLL_RAW_CUT_X1000,
        HLL_ROLL_DAYS,
        HLL_WBITS,
        stats_hll_rolling,
    )

    pairs = _duck(
        sf_smoke,
        "SELECT DISTINCT epoch_ns(ts) // 86400000000000, user_id"
        " FROM events",
    )
    by_day: dict[int, set] = {}
    for day, uid in pairs:
        by_day.setdefault(day, set()).add(uid)
    rows = stats_hll_rolling(spark, sf_smoke).collect()
    assert len(rows) == len(by_day)
    for r in rows:
        users = set()
        for d in range(r.day - HLL_ROLL_DAYS + 1, r.day + 1):
            users |= by_day.get(d, set())
        regs: dict[int, int] = {}
        for u in users:
            h = int(hashlib.md5(f"u:{u}".encode()).hexdigest()[:10], 16)
            reg, w = h >> HLL_WBITS, h % (1 << HLL_WBITS)
            regs[reg] = max(regs.get(reg, 0), HLL_WBITS + 1 - w.bit_length())
        assert r.true_distinct == len(users)
        assert r.zero_registers == HLL_M - len(regs)
        assert r.sum_rho == sum(regs.values())
        sum_inv = sum(
            1 << (HLL_WBITS + 1 - x) for x in regs.values()
        ) + (HLL_M - len(regs)) * (1 << (HLL_WBITS + 1))
        raw = HLL_K * (1 << (HLL_WBITS + 1)) // sum_inv
        want = (
            HLL_LC_MILLI[HLL_M - len(regs) - 1]
            if (len(regs) < HLL_M and raw <= HLL_RAW_CUT_X1000)
            else raw
        )
        assert r.est_corrected_x1000 == want
        assert abs(r.est_corrected_x1000 / 1000 - len(users)) <= max(
            0.2 * len(users), 5
        )


def test_priority_sampling_matches_sequential_reference(spark, sf_smoke):
    """Sample membership, tau, and subset-sum estimates recomputed
    sequentially must agree exactly; the total estimate must land near
    the true total (DLT near-optimal variance)."""
    import hashlib

    from lakesail_hdfs_deltalake_guide_spark.operators.sampling import (
        PRIORITY_K,
        sample_priority_topk,
    )

    raw = _duck(
        sf_smoke,
        "SELECT o_orderkey, o_orderpriority,"
        " CAST(round(o_totalprice * 100) AS BIGINT) FROM orders",
    )
    pri = []
    for key, cls, w in raw:
        u = int(hashlib.md5(f"pr:{key}".encode()).hexdigest()[:8], 16) % 10**6 + 1
        pri.append((w * 10**6 // u, key, cls, w))
    pri.sort(key=lambda t: (-t[0], t[1]))
    tau = pri[PRIORITY_K][0]
    per: dict[str, list[int]] = {}
    for q, key, cls, w in pri[:PRIORITY_K]:
        st = per.setdefault(cls, [0, 0])
        st[0] += 1
        st[1] += max(w, tau)
    total_true = total_est = 0
    for r in sample_priority_topk(spark, sf_smoke).collect():
        st = per.get(r.o_orderpriority, [0, 0])
        assert (r.n_sampled, r.est_cents) == tuple(st)
        total_true += r.true_cents
        total_est += r.est_cents
    assert sum(v[0] for v in per.values()) == PRIORITY_K
    assert abs(total_est - total_true) < 0.25 * total_true


def test_fof_recommendations_properties(spark, sf_smoke):
    """No recommended pair may be an existing edge; counts must equal a
    sequential wedge count over the capped graph; ordering is
    (count desc, part_a, part_b)."""
    from lakesail_hdfs_deltalake_guide_spark.operators.graph import (
        BASKET_CAP,
        FOF_MIDDLE_CAP,
        FOF_TOP,
        graph_fof_recommendations,
    )

    raw = _duck(
        sf_smoke, "SELECT DISTINCT l_orderkey, l_partkey FROM lineitem"
    )
    baskets: dict[int, set] = {}
    for ok, pk in raw:
        baskets.setdefault(ok, set()).add(pk)
    edges = set()
    for parts in baskets.values():
        if len(parts) > BASKET_CAP:
            continue
        sp = sorted(parts)
        for i, u in enumerate(sp):
            for v in sp[i + 1 :]:
                edges.add((u, v))
    adj: dict[int, set] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    counts: dict[tuple, int] = {}
    for b, nbrs in adj.items():
        if len(nbrs) > FOF_MIDDLE_CAP:
            continue
        sn = sorted(nbrs)
        for i, x in enumerate(sn):
            for y in sn[i + 1 :]:
                counts[(x, y)] = counts.get((x, y), 0) + 1
    rows = graph_fof_recommendations(spark, sf_smoke).collect()
    assert len(rows) <= FOF_TOP
    prev = None
    for r in rows:
        pair = (r.part_a, r.part_b)
        assert pair not in edges, "recommended an existing edge"
        assert counts[pair] == r.common_neighbors
        key = (-r.common_neighbors, r.part_a, r.part_b)
        if prev is not None:
            assert prev < key
        prev = key


def test_hilbert_key_matches_sequential_xy2d(spark):
    """The unrolled column-arithmetic Hilbert key must equal the
    textbook sequential xy2d on a grid sample, cover every cell of a
    small curve exactly once, and step through ADJACENT cells only
    (|dx|+|dy| = 1) — the locality property Morton lacks."""
    from lakesail_hdfs_deltalake_guide_spark.sources.layout import (
        with_hilbert_key,
    )

    def xy2d(order, x, y):
        d = 0
        s = order // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    n = 16  # 4-bit curve: exhaustive 256-cell check
    pts = [(x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r.x, r.y): r.d
        for r in with_hilbert_key(df, "x", "y", 4, out="d").collect()
    }
    assert got == {(x, y): xy2d(n, x, y) for x, y in pts}
    # bijective on the grid + unit-step adjacency
    by_d = sorted(((d, xy) for xy, d in got.items()))
    assert [d for d, _ in by_d] == list(range(n * n))
    for (_, (x1, y1)), (_, (x2, y2)) in zip(by_d, by_d[1:]):
        assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_hilbert_locality_beats_morton(spark, sf_oracle):
    """The measured claim: per-file key-span sum under the Hilbert
    layout must be no worse than under the Morton layout on the same
    data and file count (it is strictly better on real grids)."""
    import tempfile as tf

    from lakesail_hdfs_deltalake_guide_spark.sources.layout import (
        write_hilbert,
        write_zordered,
    )
    from lakesail_hdfs_deltalake_guide_spark.tables import load_table

    orders = load_table(spark, sf_oracle, "orders").select(
        "o_orderkey", "o_custkey"
    )

    def span_sum(path):
        per_file = (
            spark.read.parquet(path)
            .withColumn("f", F.input_file_name())
            .groupBy("f")
            .agg(
                (F.max("o_custkey") - F.min("o_custkey")).alias("sa"),
                (F.max("o_orderkey") - F.min("o_orderkey")).alias("sb"),
            )
        )
        r = per_file.agg(F.sum(F.col("sa") + F.col("sb")).alias("s"))
        return r.collect()[0]["s"]

    pz = tf.mkdtemp(prefix="ls_loc_z_")
    ph = tf.mkdtemp(prefix="ls_loc_h_")
    write_zordered(orders, pz, "o_custkey", "o_orderkey")
    write_hilbert(orders, ph, "o_custkey", "o_orderkey")
    z, h = span_sum(pz), span_sum(ph)
    assert h <= z, f"hilbert span {h} worse than morton {z}"


def test_cuped_matches_sequential_reference(spark, sf_smoke):
    """Every emitted milli value recomputed with Python bignum
    rationals (floor-free sign-magnitude) must agree exactly, and the
    adjusted delta must equal delta_raw - theta*delta_x in rational
    arithmetic (the CUPED identity)."""
    from fractions import Fraction

    from lakesail_hdfs_deltalake_guide_spark.operators.stats import (
        CUPED_SPLIT_DAY,
        stats_cuped_adjustment,
    )

    rows = _duck(
        sf_smoke,
        f"""
        SELECT user_id,
               SUM(CASE WHEN epoch_ns(ts) // 86400000000000
                        < {CUPED_SPLIT_DAY} THEN
                   CAST(round(value * 100) AS BIGINT) ELSE 0 END),
               SUM(CASE WHEN epoch_ns(ts) // 86400000000000
                        >= {CUPED_SPLIT_DAY} THEN
                   CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        FROM events GROUP BY user_id
        """,
    )
    n = len(rows)
    sx = sum(r[1] for r in rows)
    sy = sum(r[2] for r in rows)
    sxy = sum(r[1] * r[2] for r in rows)
    sxx = sum(r[1] * r[1] for r in rows)
    t = [r for r in rows if r[0] % 2 == 0]
    c = [r for r in rows if r[0] % 2 == 1]
    C = n * sxy - sx * sy
    V = n * sxx - sx * sx

    def milli(num, den):
        s = -1 if num < 0 else 1
        return s * (abs(num) * 1000 // den)

    got = stats_cuped_adjustment(spark, sf_smoke).collect()[0]
    assert (got.n_t, got.n_c) == (len(t), len(c))
    assert got.theta_milli == milli(C, V)
    dy_num = sum(r[2] for r in t) * len(c) - sum(r[2] for r in c) * len(t)
    dx_num = sum(r[1] for r in t) * len(c) - sum(r[1] for r in c) * len(t)
    assert got.delta_raw_milli == milli(dy_num, len(t) * len(c))
    assert got.delta_adj_milli == milli(
        V * dy_num - C * dx_num, V * len(t) * len(c)
    )
    # the CUPED identity in exact rationals
    adj = Fraction(dy_num, len(t) * len(c)) - Fraction(C, V) * Fraction(
        dx_num, len(t) * len(c)
    )
    assert abs(Fraction(got.delta_adj_milli, 1000) - adj) < Fraction(1, 500)


def test_hilbert_optimize_on_delta_log(spark):
    """OPTIMIZE with curve='hilbert': range predicates on BOTH keys
    prune files, per-file span sum beats-or-ties the Morton rewrite of
    the same table, the ZCube spec records the curve (so incremental
    re-clustering never treats Morton cubes as Hilbert-clustered), and
    rows are unchanged; 2-column contract enforced."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_live_adds,
        delta_optimize_zorder,
        delta_read,
        delta_write,
    )

    df = spark.range(4096).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / F.lit(64)).cast("long").alias("y"),
        F.col("id").alias("payload"),
    )

    def span_sum(path):
        tot = 0
        for _, a in delta_live_adds(spark, path):
            st = json.loads(a["stats"])
            tot += st["maxValues"]["x"] - st["minValues"]["x"]
            tot += st["maxValues"]["y"] - st["minValues"]["y"]
        return tot

    ph = tempfile.mkdtemp(prefix="ls_ho_")
    delta_write(df.repartition(8), ph, stats_cols=["x", "y"])
    delta_optimize_zorder(
        spark, ph, ["x", "y"], target_files=8, curve="hilbert"
    )
    pz = tempfile.mkdtemp(prefix="ls_zo2_")
    delta_write(df.repartition(8), pz, stats_cols=["x", "y"])
    delta_optimize_zorder(spark, pz, ["x", "y"], target_files=8)
    assert span_sum(ph) <= span_sum(pz)
    adds = delta_live_adds(spark, ph)
    spec = json.loads(adds[0][1]["tags"]["ZCUBE_ZORDER_BY"])
    assert spec == {"curve": "hilbert", "cols": ["x", "y"]}
    # both dims prune
    for col in ("x", "y"):
        keep = 0
        for _, a in adds:
            st = json.loads(a["stats"])
            if not (st["minValues"][col] > 15 or st["maxValues"][col] < 0):
                keep += 1
        assert keep < len(adds), f"{col}-range must skip files"
    got = delta_read(spark, ph, range_filter={"x": (0, 15)}).where(
        "x BETWEEN 0 AND 15"
    )
    assert sorted(r["payload"] for r in got.collect()) == [
        i for i in range(4096) if i % 64 <= 15
    ]
    # a hilbert pass over a morton-clustered table is NOT a no-op for
    # incremental (different cube spec) ...
    v = delta_optimize_zorder(
        spark, pz, ["x", "y"], curve="hilbert", incremental=True
    )
    assert v > 1
    # ... and re-running hilbert incrementally IS a no-op
    assert (
        delta_optimize_zorder(
            spark, pz, ["x", "y"], curve="hilbert", incremental=True
        )
        == v
    )
    with pytest.raises(ValueError, match="exactly 2"):
        delta_optimize_zorder(spark, ph, ["x"], curve="hilbert")
    with pytest.raises(ValueError, match="curve"):
        delta_optimize_zorder(spark, ph, ["x", "y"], curve="peano")


def test_qdigest_sequential_reference_and_mergeability(spark, sf_smoke):
    """The distributed query's flags must come from the SAME digest a
    sequential build produces; compressed nodes obey the q-digest
    size/count contracts; and MERGING two shards' histograms then
    recompressing keeps every quantile inside the same rank-error
    bound (the mergeable-sketch property)."""
    from lakesail_hdfs_deltalake_guide_spark.operators.stats import (
        QD_L,
        QD_QUANTILES,
        QD_SIGMA,
        QD_WIDTH,
        _qdigest_compress,
        _qdigest_rank_query,
        stats_qdigest_quantiles,
    )

    cents = [
        r[0]
        for r in _duck(
            sf_smoke,
            "SELECT CAST(round(o_totalprice * 100) AS BIGINT) FROM orders",
        )
    ]
    hist: dict[int, int] = {}
    for c in cents:
        leaf = min(c // QD_WIDTH, (1 << QD_L) - 1)
        hist[leaf] = hist.get(leaf, 0) + 1
    n = len(cents)
    digest = _qdigest_compress(hist, n)
    thr = max(1, n // QD_SIGMA)
    assert sum(digest.values()) == n, "compression must conserve mass"
    assert len(digest) <= 3 * QD_SIGMA + 1
    # every merge the canonical pass performed respected the threshold:
    # any surviving INTERNAL node's count came from merged subtrees
    for v, c in digest.items():
        if v < (1 << QD_L):
            assert c <= thr
    bound = QD_L * thr
    srt = sorted(cents)

    def exact_rank(val):
        import bisect

        return bisect.bisect_right(srt, val)

    rows = stats_qdigest_quantiles(spark, sf_smoke).collect()
    assert [r.q_pct for r in rows] == list(QD_QUANTILES)
    for r in rows:
        assert r.within_bound == 1
        assert r.exact_cents == srt[r.target_rank - 1]
        est_leaf = _qdigest_rank_query(digest, r.target_rank)
        est_val = min((est_leaf + 1) * QD_WIDTH - 1, 60_000_000)
        assert abs(exact_rank(est_val) - r.target_rank) <= bound
    # mergeability: split rows into two shards, merge leaf histograms
    # (the digest union-merge), recompress — bound still holds
    h1: dict[int, int] = {}
    h2: dict[int, int] = {}
    for i, c in enumerate(cents):
        leaf = min(c // QD_WIDTH, (1 << QD_L) - 1)
        h = h1 if i % 2 == 0 else h2
        h[leaf] = h.get(leaf, 0) + 1
    merged = dict(h1)
    for k, v in h2.items():
        merged[k] = merged.get(k, 0) + v
    assert merged == hist
    d2 = _qdigest_compress(merged, n)
    for q in QD_QUANTILES:
        target = (q * n + 99) // 100
        est_leaf = _qdigest_rank_query(d2, target)
        est_val = min((est_leaf + 1) * QD_WIDTH - 1, 60_000_000)
        assert abs(exact_rank(est_val) - target) <= bound


def test_vacuum_lite_respects_restore_and_skips_dv_units(spark, sf_smoke):
    """LITE must not reclaim a file an earlier remove retired but a
    later RESTORE re-added (candidates minus the retained live set),
    and DV storage units — never remove-action paths — are untouched."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_delete_dv,
        delta_live_files,
        delta_read,
        delta_restore,
        delta_vacuum,
        delta_write,
    )
    from lakesail_hdfs_deltalake_guide_spark.tables import load_table

    r = load_table(spark, sf_smoke, "region").select("r_regionkey")
    p = tempfile.mkdtemp(prefix="ls_vlite_restore_")
    delta_write(r, p)
    gen1 = set(delta_live_files(spark, p))
    delta_write(r.where("r_regionkey < 2"), p, mode="overwrite")
    gen2 = set(delta_live_files(spark, p)) - gen1
    delta_restore(spark, p, version=0)
    # gen1 was removed by the overwrite BUT re-added by the restore:
    # LITE must reclaim only gen2 (retired by the restore), never the
    # re-added generation
    assert set(delta_vacuum(spark, p, keep_versions=1, lite=True)) == gen2
    assert set(delta_live_files(spark, p)) == gen1
    assert delta_read(spark, p).count() == 5
    # DV table: LITE after a DV delete reclaims nothing (no remove
    # actions were committed; the DV unit must survive)
    p2 = tempfile.mkdtemp(prefix="ls_vlite_dv_")
    delta_write(r, p2)
    delta_delete_dv(spark, p2, "r_regionkey = 0")
    assert delta_vacuum(spark, p2, keep_versions=1, lite=True) == []
    assert delta_read(spark, p2).count() == 4


def test_describe_detail_fields(spark, sf_smoke):
    """DESCRIBE DETAIL over a clustered table must surface clustering
    columns, live accounting that tracks DML, and the declared
    features."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_cluster_by,
        delta_delete,
        delta_describe_detail,
        delta_write,
    )
    from lakesail_hdfs_deltalake_guide_spark.tables import load_table

    r = load_table(spark, sf_smoke, "region").select("r_regionkey")
    p = tempfile.mkdtemp(prefix="ls_detail_")
    delta_write(r.repartition(2), p)
    delta_cluster_by(spark, p, ["r_regionkey"])
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_live_adds,
    )

    d = delta_describe_detail(spark, p)
    assert d["clusteringColumns"] == ["r_regionkey"]
    assert d["numFiles"] == 2 and d["sizeInBytes"] > 0
    delta_delete(spark, p, "r_regionkey >= 3")  # partial CoW delete
    d2 = delta_describe_detail(spark, p)
    live = delta_live_adds(spark, p)
    assert d2["numFiles"] == len(live)
    assert d2["sizeInBytes"] == sum(
        int(a.get("size") or 0) for _, a in live
    )
    assert d2["id"] == d["id"]
    assert "lakesailClustering" in d2["tableFeatures"]


def test_adamic_adar_matches_sequential_reference(spark, sf_smoke):
    """AA scores recomputed sequentially from the capped graph with the
    same LUT must match exactly; hub-weighted ordering may differ from
    raw counting (that's the point), but no recommended pair may be an
    edge."""
    import math

    from lakesail_hdfs_deltalake_guide_spark.operators.graph import (
        BASKET_CAP,
        FOF_MIDDLE_CAP,
        FOF_MIN_COMMON,
        graph_adamic_adar,
    )

    raw = _duck(
        sf_smoke, "SELECT DISTINCT l_orderkey, l_partkey FROM lineitem"
    )
    baskets: dict[int, set] = {}
    for ok, pk in raw:
        baskets.setdefault(ok, set()).add(pk)
    edges = set()
    for parts in baskets.values():
        if len(parts) > BASKET_CAP:
            continue
        sp = sorted(parts)
        for i, u in enumerate(sp):
            for v in sp[i + 1 :]:
                edges.add((u, v))
    adj: dict[int, set] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    lut = {
        d: round(1_000_000 / math.log(d))
        for d in range(2, FOF_MIDDLE_CAP + 1)
    }
    scores: dict[tuple, list[int]] = {}
    for b, nbrs in adj.items():
        d = len(nbrs)
        if d > FOF_MIDDLE_CAP or d < 2:
            continue
        sn = sorted(nbrs)
        for i, x in enumerate(sn):
            for y in sn[i + 1 :]:
                st = scores.setdefault((x, y), [0, 0])
                st[0] += lut[d]
                st[1] += 1
    for r in graph_adamic_adar(spark, sf_smoke).collect():
        pair = (r.part_a, r.part_b)
        assert pair not in edges
        st = scores[pair]
        assert st[1] >= FOF_MIN_COMMON
        assert (r.aa_micro, r.n_common) == tuple(st)


def test_stickiness_bounds_and_reference(spark, sf_smoke):
    """Stickiness is DAU/MAU in ppm with DAU <= MAU always; a
    sequential recomputation over (day, user) pairs agrees exactly."""
    from lakesail_hdfs_deltalake_guide_spark.operators.sessions import (
        MAU_WINDOW_DAYS,
        session_dau_mau_stickiness,
    )

    pairs = _duck(
        sf_smoke,
        "SELECT DISTINCT epoch_ns(ts) // 86400000000000, user_id"
        " FROM events",
    )
    by_day: dict[int, set] = {}
    for day, uid in pairs:
        by_day.setdefault(day, set()).add(uid)
    rows = session_dau_mau_stickiness(spark, sf_smoke).collect()
    assert len(rows) == len(by_day)
    for r in rows:
        mau = set()
        for d in range(r.day - MAU_WINDOW_DAYS + 1, r.day + 1):
            mau |= by_day.get(d, set())
        assert r.dau == len(by_day[r.day])
        assert r.mau_28d == len(mau)
        assert r.dau <= r.mau_28d
        assert r.stickiness_ppm == r.dau * 1_000_000 // r.mau_28d
