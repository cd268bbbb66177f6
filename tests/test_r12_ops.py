"""Round-12 operator invariants: the curation-capstone ledger, the
Luhn PII sweep, the l-diversity audit, MaxSim-vs-cross-encoder
agreement on the shared pool, and foreign-table CHECK-constraint
enforcement (the oracle-parity suite checks values; these check the
properties the values must satisfy)."""

from __future__ import annotations

import json
import tempfile

import pytest
from pyspark.sql import functions as F

from lakesail_hdfs_deltalake_guide_spark.operators.chunking import PACK_WINDOW
from lakesail_hdfs_deltalake_guide_spark.operators.cleaning import (
    L_DIVERSITY,
    _luhn_sql,
    clean_l_diversity_audit,
    clean_pii_luhn_sweep,
)
from lakesail_hdfs_deltalake_guide_spark.operators.text import (
    text_colbert_maxsim_rerank,
    text_crossencoder_rerank,
)
from lakesail_hdfs_deltalake_guide_spark.pipelines import (
    pipeline_curation_e2e,
)


def test_curation_ledger_invariants(spark, sf_oracle):
    """The attrition ledger must be internally consistent: 7 stages,
    monotone non-increasing docs/tokens through the gates, every
    dropped/kept column derivable from its neighbors, and the packing
    row's capacity arithmetic exact."""
    rows = {
        r["stage_id"]: r
        for r in pipeline_curation_e2e(spark, sf_oracle).collect()
    }
    assert sorted(rows) == [0, 1, 2, 3, 4, 5, 6]
    assert [rows[i]["stage"] for i in range(7)] == [
        "raw",
        "quality_gate",
        "exact_dedup",
        "minhash_neardup",
        "decontaminate",
        "mix_sample",
        "pack_sequences",
    ]
    for i in range(1, 6):  # gates: monotone + ledger arithmetic
        prev, cur = rows[i - 1], rows[i]
        assert 0 <= cur["n_docs"] <= prev["n_docs"]
        assert 0 <= cur["n_tokens"] <= prev["n_tokens"]
        assert cur["dropped_docs"] == prev["n_docs"] - cur["n_docs"]
        assert cur["dropped_tokens"] == prev["n_tokens"] - cur["n_tokens"]
        assert (
            cur["kept_ppm"] == cur["n_docs"] * 1_000_000 // prev["n_docs"]
        )
    assert rows[0]["dropped_docs"] == 0 and rows[0]["kept_ppm"] == 1_000_000
    # the pipeline demonstrably gates: SOMETHING must drop overall
    assert rows[5]["n_docs"] < rows[0]["n_docs"]
    pk, mix = rows[6], rows[5]
    n_seq = (mix["n_tokens"] + PACK_WINDOW - 1) // PACK_WINDOW
    assert pk["n_docs"] == n_seq
    assert pk["n_tokens"] == mix["n_tokens"]
    assert pk["dropped_tokens"] == n_seq * PACK_WINDOW - mix["n_tokens"]
    assert (
        pk["kept_ppm"]
        == mix["n_tokens"] * 1_000_000 // (n_seq * PACK_WINDOW)
    )


def test_luhn_expression_and_sweep(spark, sf_oracle):
    """The unrolled Luhn fold validates known-good card numbers and
    rejects off-by-one forgeries; the sweep counts candidates vs valid
    cards separately (the decoy is detected but never redacted)."""
    cases = spark.createDataFrame(
        [
            ("4539578763621486", 0),  # valid (planted in the sweep)
            ("4539578763621487", 1),  # the planted decoy
            ("4111111111111111", 0),  # canonical test PAN
            ("4111111111111112", 1),
        ],
        "c string, expected int",
    )
    got = cases.select(
        "expected", F.expr(f"{_luhn_sql('c')}").alias("luhn")
    ).collect()
    for r in got:
        assert (r["luhn"] == 0) == (r["expected"] == 0)
    out = clean_pii_luhn_sweep(spark, sf_oracle).collect()
    assert len(out) > 0
    tot = {
        k: sum(r[k] for r in out)
        for k in (
            "n_docs",
            "n_card_candidates",
            "n_cards_valid",
            "n_phones",
            "n_ipv4",
            "chars_redacted",
        )
    }
    # planted densities: 1/7 valid cards, 1/11 decoys, 1/5 phones, 1/13 IPs
    assert tot["n_cards_valid"] > 0
    assert tot["n_card_candidates"] > tot["n_cards_valid"]  # decoys counted
    assert tot["n_phones"] > 0 and tot["n_ipv4"] > 0
    # every redaction shrinks: phones 18→7 (11), IPs ≥7→4, cards 16→6
    expected_min = (
        tot["n_cards_valid"] * 10 + tot["n_phones"] * 5 + tot["n_ipv4"] * 3
    )
    assert tot["chars_redacted"] >= expected_min


def test_luhn_sql_property():
    """Property check of the shared Luhn SQL text (identical string runs
    in Spark and DuckDB) against an independent Python implementation,
    over random 16-digit strings — evaluated in DuckDB so hypothesis can
    afford hundreds of examples."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    con = duckdb.connect()

    def luhn_py(c: str) -> int:
        tot = 0
        for i, ch in enumerate(c):  # 1-based pos = i + 1
            d = int(ch)
            if (i + 1) % 2 == 1:
                d = 2 * d
                if d > 9:
                    d -= 9
            tot += d
        return tot % 10

    @settings(max_examples=200, deadline=None)
    @given(st.text(alphabet="0123456789", min_size=16, max_size=16))
    def check(c):
        got = con.execute(
            f"SELECT {_luhn_sql('c')} FROM (SELECT ? AS c)", [c]
        ).fetchone()[0]
        assert got == luhn_py(c), c

    check()


def test_l_diversity_invariants(spark, sf_oracle):
    out = clean_l_diversity_audit(spark, sf_oracle).collect()
    assert len(out) > 0
    for r in out:
        assert 0 <= r["n_violations"] <= r["n_cohorts"]
        assert 0 <= r["rows_at_risk"] <= r["n_rows"]
        assert r["min_diversity"] >= 1
        # a source with zero violations must have min diversity >= L
        if r["n_violations"] == 0:
            assert r["min_diversity"] >= L_DIVERSITY
        # violating cohorts have < L langs each, so the rows they expose
        # exist only if there are violations
        if r["rows_at_risk"] > 0:
            assert r["n_violations"] > 0


def test_t_closeness_invariants(spark, sf_oracle):
    """TV distance is a metric on [0, 1]: every tv-derived field within
    ppm bounds, violation accounting consistent, and the ladder
    coherent with k-anonymity's cohort counts (same QI key)."""
    from lakesail_hdfs_deltalake_guide_spark.operators.cleaning import (
        clean_k_anonymity_audit,
        clean_t_closeness_audit,
    )

    out = clean_t_closeness_audit(spark, sf_oracle).collect()
    assert len(out) > 0
    for r in out:
        assert 0 <= r["mean_tv_ppm"] <= r["max_tv_ppm"] <= 1_000_000
        assert 0 <= r["n_violations"] <= r["n_cohorts"]
        if r["n_violations"] == 0:
            assert r["rows_at_risk"] == 0
    # same QI → per-source cohort counts agree with the k-anon audit
    kan = clean_k_anonymity_audit(spark, sf_oracle).collect()
    k_cohorts = {}
    for r in kan:  # k-anon cohorts are (lang, source, bucket) — sum langs'
        k_cohorts[r["source"]] = k_cohorts.get(r["source"], 0) + r["n_buckets"]
    t_cohorts = {r["source"]: r["n_cohorts"] for r in out}
    # t-closeness cohorts collapse lang, so counts are <= the k-anon sum
    for s, n in t_cohorts.items():
        assert n <= k_cohorts[s]


def test_maxsim_agrees_with_crossencoder_pool(spark, sf_oracle):
    """MaxSim and the cross-encoder rerank the SAME RRF pool with the
    SAME stub weights; per (query, doc): sum-of-per-token-maxima >=
    n_qtoks * floor-mean (max >= mean per query token), and each
    reranker's ranks are a permutation of 1..pool_size."""
    mm = {
        (r["query_id"], r["doc_id"]): r
        for r in text_colbert_maxsim_rerank(spark, sf_oracle).collect()
    }
    ce = {
        (r["query_id"], r["doc_id"]): r
        for r in text_crossencoder_rerank(spark, sf_oracle).collect()
    }
    assert set(mm) == set(ce) and len(mm) > 0  # shared pool, row for row
    by_q: dict[int, list] = {}
    for (q, _), r in mm.items():
        by_q.setdefault(q, []).append(r)
        cer = ce[(q, r["doc_id"])]
        assert r["rrf_rank"] == cer["rrf_rank"]
        assert r["maxsim_milli"] >= r["n_qtoks"] * cer["ce_milli"]
    for q, rs in by_q.items():
        assert sorted(r["colbert_rank"] for r in rs) == list(
            range(1, len(rs) + 1)
        )


def test_convert_requires_partition_schema(spark, tmp_path):
    """CONVERT TO DELTA of a hive-partitioned directory WITHOUT the
    declared partition columns must refuse (delta-spark errors the same
    way) — silently converting would author adds whose partition
    columns live in neither partitionValues nor the data files."""
    from pyspark.sql import functions as F

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_convert_parquet,
        delta_read,
    )

    raw = str(tmp_path / "hive_parquet")
    (
        spark.range(0, 40)
        .select(F.col("id").alias("k"), (F.col("id") % 3).alias("p"))
        .write.partitionBy("p")
        .parquet(raw)
    )
    with pytest.raises(ValueError, match="partition"):
        delta_convert_parquet(spark, raw)
    # declared correctly it converts, and the partition column reads back
    delta_convert_parquet(spark, raw, partition_by=["p"])
    got = delta_read(spark, raw)
    assert got.count() == 40
    assert sorted(
        r["p"] for r in got.select("p").distinct().collect()
    ) == [0, 1, 2]


def test_foreign_check_constraints_enforced(spark):
    """A foreign writer-v3 table carrying delta.constraints.* in its
    metaData configuration: this engine's appends must enforce the
    CHECK (writer v3 is accepted exactly because checks are honored) —
    a violating batch refuses atomically, NULL PASSES (CHECK semantics,
    unlike invariants), and a passing batch commits."""
    from lakesail_hdfs_deltalake_guide_spark.sources import delta_log
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_metadata,
        delta_read,
        delta_write,
    )

    p = tempfile.mkdtemp(prefix="ls_foreign_ck_")
    df = spark.range(1, 50).select(
        F.expr("CASE WHEN id > 0 THEN id END").alias("k")
    )
    delta_write(df, p)
    # forge the foreign constraint + writer-v3 protocol into the log
    meta = dict(delta_metadata(spark, p))
    meta["configuration"] = {
        **meta.get("configuration", {}),
        "delta.constraints.positive_k": "k > 0",
    }
    delta_log._write_commit(
        spark,
        p,
        1,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 3}},
            {"metaData": meta},
        ],
    )
    with pytest.raises(ValueError, match="CHECK constraint"):
        delta_write(
            spark.range(-3, 2).select(F.col("id").alias("k")),
            p,
            mode="append",
        )
    assert delta_read(spark, p).count() == 49  # nothing leaked
    # NULL passes a CHECK (SQL semantics) and clean rows commit
    delta_write(
        spark.sql("SELECT CAST(NULL AS BIGINT) AS k"), p, mode="append"
    )
    delta_write(
        spark.range(50, 60).select(F.col("id").alias("k")), p, mode="append"
    )
    assert delta_read(spark, p).count() == 60
    # the forged log survives a JSON round-trip (commit really on disk)
    with open(f"{p}/_delta_log/{1:020d}.json") as fh:
        lines = [json.loads(line) for line in fh]
    assert any(
        "delta.constraints.positive_k"
        in (a.get("metaData", {}).get("configuration") or {})
        for a in lines
    )


# ---------------------------------------------------------------------------
# replaceWhere (delta_replace_where): the oracle-parity row pins values;
# these pin the mechanics — partition fast path, NULL-predicate rows as
# remainder, CDF change types, identity allocation, empty-batch delete.


def _rw_live_paths(spark, path):
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_live_adds,
    )

    return {f for f, _ in delta_live_adds(spark, path)}


def test_replace_where_partition_fast_path(spark):
    """A partition-aligned predicate must not rewrite foreign
    partitions: their add paths survive the commit verbatim."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_read,
        delta_replace_where,
        delta_write,
    )

    p = tempfile.mkdtemp(prefix="ls_rw_part_")
    base = spark.range(0, 40).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("part")
    )
    delta_write(base, p, partition_by=["part"])
    before = _rw_live_paths(spark, p)
    keep = {f for f in before if "part=1" not in f}
    delta_replace_where(
        spark,
        p,
        "part = 1",
        spark.range(100, 105).select(
            F.col("id").alias("k"), F.lit(1).cast("long").alias("part")
        ),
    )
    after = _rw_live_paths(spark, p)
    assert keep <= after, "foreign partitions were rewritten"
    assert not any("part=1" in f for f in before & after), (
        "old region files must all be removed"
    )
    got = sorted(
        r.k for r in delta_read(spark, p).where("part = 1").collect()
    )
    assert got == [100, 101, 102, 103, 104]
    assert delta_read(spark, p).count() == 35


def test_replace_where_null_predicate_is_remainder(spark):
    """Rows where the predicate evaluates NULL are outside the region:
    they must survive the swap (SQL three-valued logic)."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_read,
        delta_replace_where,
        delta_write,
    )

    p = tempfile.mkdtemp(prefix="ls_rw_null_")
    delta_write(
        spark.sql(
            "SELECT * FROM VALUES (1, 5), (2, 50), (3, CAST(NULL AS INT))"
            " AS t(k, v)"
        ),
        p,
    )
    delta_replace_where(
        spark, p, "v > 10", spark.sql("SELECT 9 AS k, 99 AS v")
    )
    got = {(r.k, r.v) for r in delta_read(spark, p).collect()}
    assert got == {(1, 5), (3, None), (9, 99)}


def test_replace_where_cdf_and_empty_batch(spark):
    """CDF: the swap emits 'delete' pre-images for the replaced region
    and 'insert' rows for the batch; an EMPTY batch is a pure region
    delete (the idempotent 'retract this region' form)."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_read,
        delta_read_cdf,
        delta_replace_where,
        delta_write,
    )

    p = tempfile.mkdtemp(prefix="ls_rw_cdf_")
    base = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("g")
    )
    delta_write(
        base, p, configuration={"delta.enableChangeDataFeed": "true"}
    )
    v1 = delta_replace_where(
        spark,
        p,
        "g = 1",
        spark.range(100, 103).select(
            F.col("id").alias("k"), F.lit(1).cast("long").alias("g")
        ),
    )
    feed = delta_read_cdf(spark, p, v1, v1)
    dels = {r.k for r in feed.where("_change_type = 'delete'").collect()}
    ins = {r.k for r in feed.where("_change_type = 'insert'").collect()}
    assert dels == {k for k in range(20) if k % 2 == 1}
    assert ins == {100, 101, 102}
    # empty batch: pure delete of the region
    v2 = delta_replace_where(spark, p, "g = 1", base.limit(0))
    assert delta_read(spark, p).where("g = 1").count() == 0
    feed2 = delta_read_cdf(spark, p, v2, v2)
    assert feed2.where("_change_type = 'insert'").count() == 0
    assert feed2.where("_change_type = 'delete'").count() == 3


def test_replace_where_identity_allocation(spark):
    """On an identity table the batch must NOT carry the id column
    (refused); allocated ids land above the pre-swap watermark and stay
    table-unique."""
    import pytest as _pytest

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_read,
        delta_replace_where,
        delta_write,
    )

    p = tempfile.mkdtemp(prefix="ls_rw_id_")
    delta_write(
        spark.range(0, 10).select((F.col("id") % 3).alias("g")),
        p,
        identity_columns={"row_id": {"start": 1, "step": 1}},
    )
    with _pytest.raises(ValueError, match="identity"):
        delta_replace_where(
            spark,
            p,
            "g = 0",
            spark.sql("SELECT 0 AS g, 999 AS row_id"),
        )
    high = delta_read(spark, p).agg(F.max("row_id")).collect()[0][0]
    delta_replace_where(
        spark,
        p,
        "g = 0",
        spark.sql("SELECT 0L AS g UNION ALL SELECT 0L"),
    )
    back = delta_read(spark, p)
    ids = [r.row_id for r in back.collect()]
    assert len(ids) == len(set(ids)), "identity collision through the swap"
    new_ids = [r.row_id for r in back.where("g = 0").collect()]
    assert len(new_ids) == 2 and min(new_ids) > high


def test_replace_where_follows_the_write_rule(spark):
    """replaceWhere accepts exactly the batches an append accepts: a
    batch column the table lacks and a generated value that contradicts
    its expression are refused by both, with nothing committed."""
    import pytest as _pytest

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        _list_versions,
        delta_replace_where,
        delta_write,
    )

    p = tempfile.mkdtemp(prefix="ls_rw_rule_")
    delta_write(
        spark.range(0, 10).select(F.col("id").alias("v")),
        p,
        generated_columns={"g": "v * 2"},
    )
    extra = spark.range(1, 3).select(F.col("id").alias("v"), F.lit(1).alias("x"))
    bad_gen = spark.range(1, 3).select(
        F.col("id").alias("v"), F.lit(999).cast("long").alias("g")
    )
    for batch, match in [(extra, "schema mismatch"), (bad_gen, "contradicts")]:
        with _pytest.raises(ValueError, match=match):
            delta_write(batch, p, mode="append")
        with _pytest.raises(ValueError, match=match):
            delta_replace_where(spark, p, "v < 3", batch)
        assert _list_versions(spark, p) == [0]


def test_secret_entropy_gate(spark, sf_smoke):
    """The entropy gate must separate the plants: the repeated-pattern
    decoy is a candidate but never a secret (1000 mb), the planted key
    passes (3906 mb), and the integer-millibit entropy agrees with a
    sequential-Python Shannon reference on both."""
    import math

    from lakesail_hdfs_deltalake_guide_spark.operators.cleaning import (
        SECRET_ENTROPY_MB,
        _hex_entropy_mb,
        clean_secret_entropy_scan,
    )

    def py_entropy_mb(tok: str) -> int:
        counts = [tok.count(c) for c in "0123456789abcdef"]
        total = sum(c * round(math.log2(c) * 1000) for c in counts if c > 1)
        return 5000 - total // 32

    key = "3f7a9c2e8b1d4f6a0c5e7b9d2f4a6c8e"
    decoy = "ab" * 16
    assert py_entropy_mb(decoy) == 1000 < SECRET_ENTROPY_MB
    assert py_entropy_mb(key) >= SECRET_ENTROPY_MB
    got = {
        r.tok: r.ent
        for r in spark.createDataFrame(
            [(key,), (decoy,)], "tok string"
        ).select("tok", _hex_entropy_mb(F.col("tok")).alias("ent")).collect()
    }
    assert got == {key: py_entropy_mb(key), decoy: py_entropy_mb(decoy)}
    out = clean_secret_entropy_scan(spark, sf_smoke).toPandas()
    assert (out.n_hex_secrets < out.n_hex_candidates).any(), (
        "the decoy must be a candidate somewhere without being a secret"
    )
    assert (out.n_hex_secrets > 0).any() and (out.n_akia_keys > 0).any()
    assert (out.min_entropy_mb >= 0).all()
    assert (out.max_entropy_mb <= 4000).all()  # 32 chars / 16 symbols cap
    assert (
        out.chars_redacted == out.n_hex_secrets * 24 + out.n_akia_keys * 15
    ).all()


def test_unimax_waterfill_properties():
    """The closed-form water-fill (one window pass) must agree with the
    sequential greedy reference on random capacity profiles: identical
    per-language allocations and saturation flags, allocations summing
    exactly to the budget, nothing over its cap."""
    import duckdb
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from lakesail_hdfs_deltalake_guide_spark.operators.sampling import (
        UNIMAX_BUDGET_PCT,
        UNIMAX_EPOCHS,
        _unimax_sql,
    )

    def greedy(masses: list[int]):
        caps = sorted(
            (m * UNIMAX_EPOCHS, f"L{i:02d}") for i, m in enumerate(masses)
        )
        budget = sum(masses) * UNIMAX_BUDGET_PCT // 100
        alloc: dict[str, int] = {}
        sat: dict[str, bool] = {}
        rem, free, i = budget, len(caps), 0
        while i < len(caps) and caps[i][0] * free <= rem:
            cap, lang = caps[i]
            alloc[lang], sat[lang] = cap, True
            rem -= cap
            free -= 1
            i += 1
        base, extra = (rem // free, rem % free) if free else (0, 0)
        for j, (cap, lang) in enumerate(caps[i:]):
            alloc[lang] = base + (1 if j < extra else 0)
            sat[lang] = False
        return alloc, sat, budget

    @settings(max_examples=40, deadline=None)
    @given(st.lists(st.integers(1, 10_000), min_size=1, max_size=12))
    def run(masses):
        docs = pd.DataFrame(
            {
                "lang": [f"L{i:02d}" for i in range(len(masses))],
                "n_chars": masses,
            }
        )
        con = duckdb.connect()
        con.register("documents", docs)
        got = con.execute(_unimax_sql()).df().set_index("lang")
        alloc, sat, budget = greedy(masses)
        assert got.alloc_chars.sum() == budget
        for lang in alloc:
            row = got.loc[lang]
            assert row.alloc_chars == alloc[lang], (masses, lang)
            assert bool(row.saturated) == sat[lang], (masses, lang)
            assert row.alloc_chars <= row.cap

    run()


# ---------------------------------------------------------------------------
# Deep clone: the parity row pins the partitioned+DV+source-destroyed
# lifecycle; these pin the two remaining dialects — materializing a
# shallow clone's absolute refs, and carrying wire-format DV .bin files.


def test_deep_clone_materializes_shallow_clone(spark):
    """Deep-cloning a SHALLOW clone must materialize the absolute
    references: destroy both the original source and the shallow clone,
    and the deep clone still reads with only relative add paths."""
    import shutil

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        _is_absolute_ref,
        _snapshot_state,
        delta_clone,
        delta_deep_clone,
        delta_read,
        delta_write,
    )

    src = tempfile.mkdtemp(prefix="ls_dcs_src_")
    delta_write(
        spark.range(0, 30).select(F.col("id").alias("k")), src
    )
    shallow = tempfile.mkdtemp(prefix="ls_dcs_sh_")
    shutil.rmtree(shallow)
    delta_clone(spark, src, shallow)
    deep = tempfile.mkdtemp(prefix="ls_dcs_dp_")
    shutil.rmtree(deep)
    delta_deep_clone(spark, shallow, deep)
    _, _, live, _ = _snapshot_state(spark, deep)
    assert live and not any(_is_absolute_ref(f) for f in live)
    shutil.rmtree(src)
    shutil.rmtree(shallow)
    assert delta_read(spark, deep).count() == 30


def test_deep_clone_wire_format_dv(spark):
    """A table whose deletes live in wire-format .bin deletion vectors
    deep-clones with the .bin files copied alongside: source destroyed,
    clone still excludes the deleted rows."""
    import shutil

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_deep_clone,
        delta_delete_dv,
        delta_read,
        delta_write,
    )

    src = tempfile.mkdtemp(prefix="ls_dcw_src_")
    delta_write(spark.range(0, 40).select(F.col("id").alias("k")), src)
    delta_delete_dv(spark, src, "k % 4 = 0", wire_format="standard")
    dst = tempfile.mkdtemp(prefix="ls_dcw_dst_")
    shutil.rmtree(dst)
    delta_deep_clone(spark, src, dst)
    shutil.rmtree(src)
    got = sorted(r.k for r in delta_read(spark, dst).collect())
    assert got == [k for k in range(40) if k % 4 != 0]


def test_merge_clauses_row_tracking_and_images(spark):
    """Clause-aware MERGE on a row-tracked CDF table: delete-clause rows
    vanish, stale-guard-skipped rows keep their _row_id AND emit no
    change images, updated rows keep their _row_id through the
    rewrite."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_merge,
        delta_read,
        delta_read_cdf,
        delta_write,
    )

    p = tempfile.mkdtemp(prefix="ls_mcl_rt_")
    delta_write(
        spark.sql(
            "SELECT * FROM VALUES (1, 10), (2, -5), (3, 0), (4, 7)"
            " AS t(k, v)"
        ),
        p,
        configuration={
            "delta.enableChangeDataFeed": "true",
            "delta.enableRowTracking": "true",
        },
    )
    ids_before = {
        r.k: r._row_id
        for r in delta_read(spark, p, row_ids=True).collect()
    }
    src = spark.sql(
        "SELECT * FROM VALUES (1, 99), (2, 99), (3, -1), (5, 50)"
        " AS t(k, v)"
    )
    v = delta_merge(
        spark,
        p,
        src,
        on=["k"],
        matched_delete="v < 0",
        matched_condition="__src_v > v",
    )
    back = {r.k: r.v for r in delta_read(spark, p).collect()}
    # k=1 updated (99>10), k=2 deleted (v=-5<0), k=3 skipped (-1>0
    # false), k=4 untouched (unmatched), k=5 inserted
    assert back == {1: 99, 3: 0, 4: 7, 5: 50}
    ids_after = {
        r.k: r._row_id
        for r in delta_read(spark, p, row_ids=True).collect()
    }
    assert ids_after[1] == ids_before[1]  # updated row: stable id
    assert ids_after[3] == ids_before[3]  # skipped row: stable id
    assert ids_after[4] == ids_before[4]
    feed = delta_read_cdf(spark, p, v, v)
    kinds = {
        (r.k, r._change_type) for r in feed.select("k", "_change_type").collect()
    }
    assert (2, "delete") in kinds
    assert (1, "update_preimage") in kinds and (1, "update_postimage") in kinds
    assert (5, "insert") in kinds
    assert not any(k == 3 for k, _ in kinds), "skipped row leaked images"


def test_metadata_count_refuses_without_stats(spark):
    """A live add without numRecords stats must make the metadata-only
    count refuse loudly (the caller's cue to scan), never guess."""
    import json as _json

    import pytest as _pytest

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        _list_versions,
        _snapshot_state,
        _write_commit,
        delta_count_from_stats,
        delta_write,
    )

    p = tempfile.mkdtemp(prefix="ls_mc_nostats_")
    delta_write(spark.range(0, 10).select(F.col("id").alias("k")), p)
    assert delta_count_from_stats(spark, p) == 10
    # strip stats from one add via a re-add commit (foreign writers may
    # omit stats entirely)
    _, _, live, _ = _snapshot_state(spark, p)
    f, a = next(iter(live.items()))
    bare = {k: v for k, v in a.items() if k != "stats"}
    v = _list_versions(spark, p)[-1] + 1
    _write_commit(spark, p, v, [{"add": {**bare, "dataChange": False}}])
    with _pytest.raises(ValueError, match="numRecords"):
        delta_count_from_stats(spark, p)


def test_expectations_audit_planted_violations(spark, sf_smoke):
    """Each of the five expectations must fail on exactly its ONE
    planted violation (the clean fixture contributes zero)."""
    from lakesail_hdfs_deltalake_guide_spark.operators.profiling import (
        profile_expectations_audit,
    )

    out = profile_expectations_audit(spark, sf_smoke).toPandas()
    assert len(out) == 5
    assert (out.n_violations == 1).all() and (~out.passed).all()
    n_orders = spark.read.parquet(f"{sf_smoke}/orders.parquet").count()
    total = out.set_index("expectation").n_checked
    assert total["not_null_orderkey"] == n_orders + 5
    assert total["unique_orderkey"] == n_orders + 4  # null key excluded


def test_flesch_punctuated_reference(spark):
    """On hand-built punctuated docs the integer Flesch must equal the
    sequential-Python reference (same floor-division order)."""
    from lakesail_hdfs_deltalake_guide_spark.operators.text import (
        text_readability_flesch,
    )
    import re

    docs = [
        (0, "s0", "the cat sat on the mat. it was flat!"),
        (1, "s0", "reading ease should reward short words. yes?"),
        (2, "s1", "zh only chars"),
    ]

    def ref(text):
        words = len(text.split(" "))
        sentences = max(len(re.findall(r"[.!?]+", text)), 1)
        syll = len(re.findall(r"[aeiouy]+", text.lower()))
        return 206835 - (1015000 * words) // (1000 * sentences) - (
            84600 * syll
        ) // words

    import tempfile as _tf

    d = _tf.mkdtemp(prefix="ls_flesch_")
    spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, s, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = text_readability_flesch(spark, d).toPandas().set_index("source")
    assert out.loc["s0"].sum_flesch_milli == ref(docs[0][2]) + ref(docs[1][2])
    assert out.loc["s1"].min_flesch_milli == ref(docs[2][2])


def test_invariant_declaration_roundtrip(spark):
    """delta_write(invariants=...) must author byte-parseable
    delta.invariants field metadata (delta-spark wire shape), refuse
    unknown columns, and keep enforcing through DML rewrites."""
    import json as _json

    import pytest as _pytest

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        _snapshot_state,
        delta_update,
        delta_write,
    )

    p = tempfile.mkdtemp(prefix="ls_inv_rt_")
    with _pytest.raises(ValueError, match="not a batch column"):
        delta_write(
            spark.range(3).select(F.col("id").alias("k")),
            tempfile.mkdtemp(prefix="ls_inv_bad_"),
            invariants={"nope": "nope > 0"},
        )
    delta_write(
        spark.range(1, 6).select(F.col("id").alias("k")),
        p,
        invariants={"k": "k > 0"},
    )
    _, meta, _, _ = _snapshot_state(spark, p)
    fld = next(
        f
        for f in _json.loads(meta["schemaString"])["fields"]
        if f["name"] == "k"
    )
    assert _json.loads(fld["metadata"]["delta.invariants"]) == {
        "expression": {"expression": "k > 0"}
    }
    # an UPDATE whose assignments would break the invariant must refuse
    with _pytest.raises(ValueError, match="invariant"):
        delta_update(spark, p, "k = 3", {"k": F.lit(-7)})
    # creation batch itself is validated
    with _pytest.raises(ValueError, match="invariant"):
        delta_write(
            spark.range(-2, 2).select(F.col("id").alias("k")),
            tempfile.mkdtemp(prefix="ls_inv_c_"),
            invariants={"k": "k > 0"},
        )


def test_streaming_curation_gate_matches_batch(spark, sf_smoke):
    """The streaming curation gate must emit exactly the batch
    DISTINCT-text survivor set — including doc_id 0, whose derived
    event time sat AT the initial watermark before the +1h offset and
    was silently dropped as late (the regression this pins)."""
    from lakesail_hdfs_deltalake_guide_spark.streaming.joins import (
        streaming_document_curation_gate,
    )

    out = streaming_document_curation_gate(spark, sf_smoke).toPandas()
    batch = (
        spark.read.parquet(f"{sf_smoke}/documents.parquet")
        .selectExpr(
            "text",
            "CAST(size(split(text, ' ')) AS BIGINT) AS words",
            "CAST(size(array_distinct(split(text, ' '))) AS BIGINT)"
            " AS uniq",
        )
        .where("words >= 20 AND uniq * 100 >= 30 * words")
        .select("text", "words")
        .distinct()
    )
    assert out.n_docs.sum() == batch.count()
    assert out.n_words.sum() == batch.groupBy().sum("words").collect()[0][0]


def test_label_propagation_properties(spark, sf_smoke):
    """LPA must produce a real partition: every nation labeled, labels
    drawn from nation keys, more than one community on the sparsified
    graph (the dense clique collapsed to 1 before kNN sparsification —
    the regression this pins), and the synchronous sweep is
    deterministic (two runs agree exactly; labels themselves are mere
    identifiers — the label's origin node can legitimately migrate to
    another community)."""
    from lakesail_hdfs_deltalake_guide_spark.operators.graph import (
        graph_label_propagation,
    )

    out = graph_label_propagation(spark, sf_smoke).toPandas()
    nations = {
        r.n_nationkey: r.n_name
        for r in spark.read.parquet(f"{sf_smoke}/nation.parquet").collect()
    }
    assert len(out) == len(nations)
    assert out.community.nunique() >= 2
    assert set(out.community) <= set(nations.keys())
    again = graph_label_propagation(spark, sf_smoke).toPandas()
    assert out.equals(again), "synchronous LPA must be deterministic"


def test_cohort_retention_structure(spark, sf_smoke):
    """Week-0 retention is structurally 1e6 for every cohort, cells are
    monotone-bounded by cohort size, and cohort sizes sum to the
    distinct-user count."""
    from lakesail_hdfs_deltalake_guide_spark.operators.sessions import (
        session_cohort_retention,
    )

    out = session_cohort_retention(spark, sf_smoke).toPandas()
    week0 = out[out.weeks_since == 0]
    assert (week0.retention_ppm == 1_000_000).all()
    assert (week0.active_users == week0.cohort_users).all()
    assert (out.active_users <= out.cohort_users).all()
    n_users = (
        spark.read.parquet(f"{sf_smoke}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    assert week0.cohort_users.sum() == n_users


def test_ivf_binary_is_subset_of_probed_cells(spark, sf_smoke):
    """Every IVF-binary result must come from the plain-IVF probed
    cells: its (query, vec) pairs are a subset of the IVF candidate
    pool universe, and per-query output is exactly TOP_K."""
    from lakesail_hdfs_deltalake_guide_spark.operators.similarity import (
        TOP_K,
        ivf_candidate_pool,
        similarity_ivf_binary_topk,
    )

    out = similarity_ivf_binary_topk(spark, sf_smoke).toPandas()
    assert (out.groupby("query_id").size() == TOP_K).all()
    pool = ivf_candidate_pool(spark, sf_smoke, 10**6).toPandas()
    universe = set(zip(pool.query_id, pool.vec_id))
    assert set(zip(out.query_id, out.vec_id)) <= universe


def test_license_scan_flag_algebra(spark, sf_smoke):
    """The flagged set must be exactly the all-rights-reserved plants
    not covered by an SPDX or permissive plant (doc % 14 minus
    doc % 6 / % 15 overlaps)."""
    from lakesail_hdfs_deltalake_guide_spark.operators.cleaning import (
        clean_license_notice_scan,
    )

    out = clean_license_notice_scan(spark, sf_smoke).toPandas()
    ids = [
        r.doc_id
        for r in spark.read.parquet(
            f"{sf_smoke}/documents.parquet"
        ).select("doc_id").collect()
    ]
    expect = sum(
        1 for i in ids if i % 14 == 0 and i % 6 != 0 and i % 15 != 0
    )
    assert out.n_flagged_docs.sum() == expect
    assert out.n_spdx_docs.sum() == sum(1 for i in ids if i % 6 == 0)


def test_deep_clone_isolation_fuzz(spark):
    """Randomized lifecycle with a mid-sequence DEEP CLONE: the clone
    snapshots the model exactly at clone time, stays frozen while the
    source keeps mutating, and accepts divergent writes the source
    never sees — the isolation contract, fuzzed."""
    import random
    import shutil

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_deep_clone,
        delta_delete,
        delta_read,
        delta_update,
        delta_write,
    )

    rng = random.Random(31)
    src = tempfile.mkdtemp(prefix="ls_dci_src_")
    model = {k: rng.randrange(100) for k in range(30)}
    delta_write(
        spark.createDataFrame(list(model.items()), "k long, v long")
        .repartition(3),
        src,
    )

    def mutate(path, m):
        op = rng.choice(["append", "delete", "update"])
        if op == "append":
            rows = {max(m, default=-1) + 1 + i: rng.randrange(100)
                    for i in range(rng.randrange(1, 5))}
            delta_write(
                spark.createDataFrame(list(rows.items()), "k long, v long"),
                path, mode="append",
            )
            m.update(rows)
        elif op == "delete":
            r = rng.randrange(3)
            delta_delete(spark, path, f"k % 3 = {r}")
            for k in [k for k in m if k % 3 == r]:
                del m[k]
        else:
            r, bump = rng.randrange(4), rng.randrange(1, 9)
            delta_update(spark, path, f"k % 4 = {r}", {"v": F.col("v") + bump})
            for k in m:
                if k % 4 == r:
                    m[k] += bump

    for _ in range(4):
        mutate(src, model)
    frozen = dict(model)
    dst = tempfile.mkdtemp(prefix="ls_dci_dst_")
    shutil.rmtree(dst)
    delta_deep_clone(spark, src, dst)

    def snap(path):
        return {r.k: r.v for r in delta_read(spark, path).collect()}

    assert snap(dst) == frozen
    for _ in range(4):
        mutate(src, model)
    assert snap(src) == model
    assert snap(dst) == frozen, "source mutations leaked into the clone"
    clone_model = dict(frozen)
    mutate(dst, clone_model)
    assert snap(dst) == clone_model
    assert snap(src) == model, "clone mutations leaked into the source"


def test_label_propagation_python_reference(spark, sf_smoke):
    """The unrolled Spark LPA must equal a sequential pure-Python
    implementation of the same spec (kNN top-3 sparsify -> 3 sync
    rounds, weight-majority, smaller-label ties) run on the collected
    25x25 edge table."""
    from collections import defaultdict

    from lakesail_hdfs_deltalake_guide_spark.operators.graph import (
        LPA_ITERS,
        LPA_KNN,
        graph_label_propagation,
        trade_edges,
    )

    edges = [
        (r.src, r.dst, r.w)
        for r in trade_edges(spark, sf_smoke).collect()
    ]
    dense: dict[tuple[int, int], int] = defaultdict(int)
    for s, d, w in edges:
        if s != d:
            dense[(s, d)] += w
            dense[(d, s)] += w
    by_src: dict[int, list[tuple[int, int]]] = defaultdict(list)
    for (s, d), w in dense.items():
        by_src[s].append((d, w))
    knn = {}
    for s, nbrs in by_src.items():
        for d, w in sorted(nbrs, key=lambda x: (-x[1], x[0]))[:LPA_KNN]:
            knn[(s, d)] = w
    sym: dict[tuple[int, int], int] = {}
    for (s, d), w in knn.items():
        sym[(s, d)] = max(sym.get((s, d), 0), w)
        sym[(d, s)] = max(sym.get((d, s), 0), w)
    nations = sorted(
        r.n_nationkey
        for r in spark.read.parquet(f"{sf_smoke}/nation.parquet").collect()
    )
    labels = {v: v for v in nations}
    for _ in range(LPA_ITERS):
        votes: dict[int, dict[int, int]] = defaultdict(lambda: defaultdict(int))
        for (s, d), w in sym.items():
            votes[s][labels[d]] += w
        labels = {
            v: (
                min(
                    (l for l, ws in votes[v].items()
                     if ws == max(votes[v].values()))
                )
                if v in votes
                else labels[v]
            )
            for v in nations
        }
    names = {
        r.n_nationkey: r.n_name
        for r in spark.read.parquet(f"{sf_smoke}/nation.parquet").collect()
    }
    expected = {names[v]: labels[v] for v in nations}
    got = {
        r.n_name: r.community
        for r in graph_label_propagation(spark, sf_smoke).collect()
    }
    assert got == expected


def test_optimize_preserves_partition_layout(spark):
    """OPTIMIZE and ZORDER on a PARTITIONED table must re-stage with
    partitionValues intact — the regression where a compacted file lost
    its hive identity and every partition-pruned read came back empty."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_live_adds,
        delta_optimize,
        delta_optimize_zorder,
        delta_read,
        delta_write,
    )

    p = tempfile.mkdtemp(prefix="ls_optp_")
    delta_write(
        spark.range(0, 40).select(
            F.col("id").alias("k"), (F.col("id") % 4).alias("part")
        ),
        p,
        partition_by=["part"],
        stats_cols=["k"],
    )
    delta_optimize(spark, p, target_files=2)
    assert delta_read(spark, p, partition_filter={"part": "1"}).count() == 10
    assert all(
        a.get("partitionValues")
        for _, a in delta_live_adds(spark, p)
    )
    delta_optimize_zorder(spark, p, ["k", "part"])
    assert delta_read(spark, p, partition_filter={"part": "2"}).count() == 10


def test_optimize_partition_scope(spark):
    """Scoped OPTIMIZE (delta-spark's OPTIMIZE ... WHERE part = x):
    out-of-scope partitions' files survive verbatim, the scoped
    partition compacts to one file, an empty scope is a commit-free
    no-op, and non-partition scope columns refuse."""
    import pytest as _pytest

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        _list_versions,
        delta_live_adds,
        delta_optimize,
        delta_read,
        delta_write,
    )

    p = tempfile.mkdtemp(prefix="ls_opts_")
    delta_write(
        spark.range(0, 40)
        .select(F.col("id").alias("k"), (F.col("id") % 4).alias("part"))
        .repartition(8),
        p,
        partition_by=["part"],
    )
    before = {f for f, _ in delta_live_adds(spark, p)}
    delta_optimize(spark, p, target_files=1, partition_filter={"part": "1"})
    after = {f for f, _ in delta_live_adds(spark, p)}
    assert {f for f in before if "part=1" not in f} <= after
    assert len([f for f in after if "part=1" in f]) == 1
    assert delta_read(spark, p).count() == 40
    v = _list_versions(spark, p)[-1]
    assert (
        delta_optimize(spark, p, partition_filter={"part": "99"}) == v
    ), "empty scope must be a commit-free no-op"
    with _pytest.raises(ValueError, match="non-partition"):
        delta_optimize(spark, p, partition_filter={"k": "1"})


def test_optimize_restamps_skipping_stats(spark):
    """OPTIMIZE and auto-compact must re-stamp the SAME min/max stats
    surface the pre-compaction adds carried — a layout rewrite that
    drops them silently disables range skipping on every later read."""
    import json as _json

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_live_adds,
        delta_optimize,
        delta_optimize_small,
        delta_write,
    )

    p = tempfile.mkdtemp(prefix="ls_opt_stats_")
    delta_write(
        spark.range(0, 400)
        .select(F.col("id").alias("k"))
        .repartition(5),
        p,
        stats_cols=["k"],
    )
    delta_optimize(spark, p, target_files=2)
    assert all(
        "k" in _json.loads(a["stats"]).get("minValues", {})
        for _, a in delta_live_adds(spark, p)
    )
    p2 = tempfile.mkdtemp(prefix="ls_ac_stats_")
    delta_write(
        spark.range(0, 400).select(F.col("id").alias("k")).repartition(6),
        p2,
        stats_cols=["k"],
    )
    assert delta_optimize_small(spark, p2, max_file_size=10**9) is not None
    assert all(
        "k" in _json.loads(a["stats"]).get("minValues", {})
        for _, a in delta_live_adds(spark, p2)
    )


def test_zorder_keeps_table_stats_surface(spark):
    """Z-order stamps the table's stats surface plus its clustering
    keys: a table with stats on ``k`` clustered on ``v, x`` keeps range
    skipping on ``k``."""
    import json as _json

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_live_adds,
        delta_optimize_zorder,
        delta_read,
        delta_write,
    )

    p = tempfile.mkdtemp(prefix="ls_z_stats_")
    delta_write(
        spark.range(0, 400, 1, 4).select(
            F.col("id").alias("k"),
            (F.col("id") / 100).cast("long").alias("v"),
            (F.col("id") / 2).alias("x"),
        ),
        p,
        stats_cols=["k"],
    )
    delta_optimize_zorder(spark, p, ["v", "x"], target_files=4)
    adds = delta_live_adds(spark, p)
    assert all(
        {"k", "v", "x"} <= set(_json.loads(a["stats"])["minValues"])
        for _, a in adds
    )
    read = delta_read(spark, p, range_filter={"k": (0, 10)})
    assert read.select(F.input_file_name()).distinct().count() < len(adds)


def test_dml_rewrites_restamp_skipping_stats(spark):
    """Every copy-on-write rewrite path (DELETE, UPDATE, MERGE,
    REPLACE WHERE, DV-update post-image, REORG PURGE) must carry the
    live adds' min/max stats surface through to its replacement files —
    one un-stamped rewrite and range skipping silently dies for that
    slice of the table."""
    import json as _json

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_delete,
        delta_delete_dv,
        delta_live_adds,
        delta_merge,
        delta_read,
        delta_reorg_purge,
        delta_replace_where,
        delta_update,
        delta_update_dv,
        delta_write,
    )

    def ok(p):
        return all(
            "k" in _json.loads(a["stats"]).get("minValues", {})
            for _, a in delta_live_adds(spark, p)
        )

    p = tempfile.mkdtemp(prefix="ls_dml_stats_")
    delta_write(
        spark.range(0, 100)
        .select(F.col("id").alias("k"), (F.col("id") % 3).alias("v"))
        .repartition(4),
        p,
        stats_cols=["k"],
    )
    delta_delete(spark, p, "k % 7 = 0")
    assert ok(p), "DELETE rewrite lost stats"
    delta_update(spark, p, "k % 5 = 0", {"v": F.lit(9)})
    assert ok(p), "UPDATE rewrite lost stats"
    delta_merge(
        spark,
        p,
        spark.range(200, 210).select(F.col("id").alias("k"), F.lit(1).alias("v")),
        on=["k"],
    )
    assert ok(p), "MERGE rewrite lost stats"
    delta_replace_where(
        spark,
        p,
        "v = 9",
        spark.range(0).select(F.col("id").alias("k"), F.col("id").alias("v")),
    )
    assert ok(p), "REPLACE WHERE rewrite lost stats"
    delta_delete_dv(spark, p, "k % 11 = 0")
    delta_update_dv(spark, p, "k % 13 = 1", {"v": F.lit(8)})
    delta_reorg_purge(spark, p)
    assert ok(p), "REORG PURGE rewrite lost stats"
    assert delta_read(spark, p).count() == 70


def test_append_inherits_stats_surface(spark):
    """An append WITHOUT stats_cols to a table whose adds carry min/max
    stats must keep stamping the established surface (delta-spark
    stamps stats on every write); a table created without stats stays
    stats-light."""
    import json as _json

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_live_adds,
        delta_write,
    )

    p = tempfile.mkdtemp(prefix="ls_inh_stats_")
    delta_write(
        spark.range(0, 50).select(F.col("id").alias("k")), p,
        stats_cols=["k"],
    )
    delta_write(
        spark.range(50, 80).select(F.col("id").alias("k")), p,
        mode="append",
    )
    assert all(
        "k" in _json.loads(a["stats"]).get("minValues", {})
        for _, a in delta_live_adds(spark, p)
    )
    p2 = tempfile.mkdtemp(prefix="ls_inh_none_")
    delta_write(spark.range(0, 10).select(F.col("id").alias("k")), p2)
    delta_write(
        spark.range(10, 20).select(F.col("id").alias("k")), p2,
        mode="append",
    )
    assert all(
        not _json.loads(a["stats"]).get("minValues")
        for _, a in delta_live_adds(spark, p2)
    )
