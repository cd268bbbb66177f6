"""Round-8 operator invariants (structural checks independent of the
DuckDB oracle twins in test_oracle_parity)."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F


def test_unigram_segmentation_matches_sequential_dp(spark, sf_smoke):
    """The relational Viterbi (one higher-order expression per word)
    must agree with a sequential Python DP applying the same integer
    piece costs — the classic pseudocode as the reference, same
    doctrine as the BPE sequential-reference test."""
    import duckdb

    from lakesail_hdfs_deltalake_guide_spark.operators.text import (
        LOG2_MB_TABLE,
        UNI_BASE,
        UNI_MAX_PIECE,
        UNI_MAX_WORD,
        text_unigram_segmentation,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_smoke}/documents.parquet')"
    )
    words = dict(
        con.execute(
            "SELECT word, COUNT(*) FROM "
            "(SELECT unnest(string_split(text, ' ')) AS word FROM documents) "
            f"WHERE len(word) <= {UNI_MAX_WORD} GROUP BY word"
        ).fetchall()
    )
    sfreq: Counter = Counter()
    for w, f in words.items():
        for i in range(len(w)):
            for ln in range(1, min(UNI_MAX_PIECE, len(w) - i) + 1):
                sfreq[w[i : i + ln]] += f
    total = sum(sfreq.values())

    def mb(num: int, den: int) -> int:
        r = num * 1048576 // den
        e = r.bit_length() - 1
        m6 = r >> (e - 6)
        # engines index the mantissa table 1-based (element_at / DuckDB
        # list indexing); python is 0-based
        return (e - 20) * 1000 + LOG2_MB_TABLE[m6 - 64]

    comb = {s: mb(total, f) * UNI_BASE + 1 for s, f in sfreq.items()}

    def best(w: str) -> int:
        dp = [0]
        for j in range(1, len(w) + 1):
            dp.append(
                min(
                    dp[i] + comb[w[i:j]]
                    for i in range(max(0, j - UNI_MAX_PIECE), j)
                )
            )
        return dp[-1]

    agg: dict[int, list[int]] = {}
    for w, f in words.items():
        b = best(w)
        a = agg.setdefault(b % UNI_BASE, [0, 0, 1 << 62, 0])
        a[0] += 1
        a[1] += f
        a[2] = min(a[2], b // UNI_BASE)
        a[3] += b // UNI_BASE
    want = sorted(
        (p, a[0], a[1], a[2], a[3] // a[0]) for p, a in agg.items()
    )
    got = sorted(
        tuple(int(x) for x in r)
        for r in text_unigram_segmentation(spark, sf_smoke).collect()
    )
    assert got == want

    # EM E-step: sequential backtrack (argmin ties to the smallest
    # split point) must reproduce the engine's expected piece counts
    from lakesail_hdfs_deltalake_guide_spark.operators.text import (
        text_unigram_em_counts,
    )

    def pieces_of(w: str) -> list[str]:
        dp = [0]
        for j in range(1, len(w) + 1):
            dp.append(
                min(
                    dp[i] + comb[w[i:j]]
                    for i in range(max(0, j - UNI_MAX_PIECE), j)
                )
            )
        out, j = [], len(w)
        while j > 0:
            i = next(
                i
                for i in range(max(0, j - UNI_MAX_PIECE), j)
                if dp[i] + comb[w[i:j]] == dp[j]
            )
            out.append(w[i:j])
            j = i
        return out

    em: dict[str, int] = {}
    nw: dict[str, set] = {}
    for w, f in words.items():
        for p in pieces_of(w):
            em[p] = em.get(p, 0) + f
            nw.setdefault(p, set()).add(w)
    ranked = sorted(em.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    want_em = [
        (p, c, len(nw[p]), (comb[p] - 1) // UNI_BASE) for p, c in ranked
    ]
    got_em = [
        (r.piece, int(r.em_count), int(r.n_words), int(r.cost_mb))
        for r in text_unigram_em_counts(spark, sf_smoke).collect()
    ]
    assert got_em == want_em


def test_hybrid_rrf_pools_and_scores(spark, sf_smoke):
    """RRF output invariants: every fused row carries at least one
    signal rank, scores decompose exactly into the two reciprocal
    contributions, and per-query ranks are 1..TOP without gaps."""
    from lakesail_hdfs_deltalake_guide_spark.operators.text import (
        RRF_K,
        RRF_TOP,
        text_hybrid_rrf_retrieval,
    )

    rows = text_hybrid_rrf_retrieval(spark, sf_smoke).collect()
    assert rows, "retriever returned nothing"
    by_query: dict[int, list] = {}
    for r in rows:
        assert r.lex_rank > 0 or r.vec_rank > 0
        want = (1_000_000 // (RRF_K + r.lex_rank) if r.lex_rank else 0) + (
            1_000_000 // (RRF_K + r.vec_rank) if r.vec_rank else 0
        )
        assert r.rrf_ppm == want
        by_query.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in by_query.items():
        assert sorted(ranks) == list(range(1, RRF_TOP + 1)), q


def test_vacuum_reclaims_only_unreferenced(spark, sf_smoke):
    """VACUUM must never touch a file the retained snapshot references:
    after reclaim, every live add still opens, and re-running VACUUM is
    a no-op."""
    import tempfile

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_read,
        delta_vacuum,
        delta_write,
    )
    from lakesail_hdfs_deltalake_guide_spark.tables import load_table

    n = load_table(spark, sf_smoke, "nation")
    path = tempfile.mkdtemp(prefix="ls_vacuum_inv_")
    delta_write(n.repartition(2), path)
    delta_write(n.repartition(2), path, mode="append")
    delta_write(n.where(F.col("n_nationkey") < 5), path, mode="overwrite")
    first = delta_vacuum(spark, path, keep_versions=1)
    assert len(first) == 4
    assert delta_read(spark, path).count() == 5
    assert delta_vacuum(spark, path, keep_versions=1) == []


def _dm_table(spark, sf_smoke, prefix):
    import tempfile

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_set_domain_metadata,
        delta_write,
    )
    from lakesail_hdfs_deltalake_guide_spark.tables import load_table

    n = load_table(spark, sf_smoke, "nation")
    path = tempfile.mkdtemp(prefix=prefix)
    delta_write(n, path)
    delta_set_domain_metadata(spark, path, "app.a", "one")
    delta_set_domain_metadata(spark, path, "app.b", "two")
    return path


def test_domain_metadata_survives_distributed_checkpoint(spark, sf_smoke):
    """Domains are restated in the multi-part checkpoint's metadata part
    and resolve after the JSON tail is expired."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_checkpoint,
        delta_cleanup_log,
        delta_domain_metadata,
    )

    path = _dm_table(spark, sf_smoke, "ls_dm_dist_")
    delta_checkpoint(spark, path, distributed=True, part_files=3)
    assert delta_cleanup_log(spark, path)
    assert delta_domain_metadata(spark, path) == {
        "app.a": "one",
        "app.b": "two",
    }


def test_domain_metadata_survives_v2_checkpoint(spark, sf_smoke):
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_checkpoint,
        delta_cleanup_log,
        delta_domain_metadata,
        delta_enable_v2_checkpoints,
    )

    path = _dm_table(spark, sf_smoke, "ls_dm_v2_")
    delta_enable_v2_checkpoints(spark, path)
    delta_checkpoint(spark, path, format="v2")
    assert delta_cleanup_log(spark, path)
    assert delta_domain_metadata(spark, path) == {
        "app.a": "one",
        "app.b": "two",
    }


def test_domain_metadata_compaction_keeps_tombstones(spark, sf_smoke):
    """Log compaction reconciles to the LAST action per domain and keeps
    removed=true tombstones, so a fold that starts from a checkpoint
    OLDER than the removal still retracts the domain."""
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_checkpoint,
        delta_compact_log,
        delta_domain_metadata,
        delta_remove_domain_metadata,
        delta_set_domain_metadata,
        delta_write,
    )
    from lakesail_hdfs_deltalake_guide_spark.tables import load_table

    path = _dm_table(spark, sf_smoke, "ls_dm_compact_")  # v0..v2
    ck = delta_checkpoint(spark, path)  # checkpoint holds a AND b
    n = load_table(spark, sf_smoke, "nation")
    delta_write(n.limit(1), path, mode="append")  # v3
    delta_remove_domain_metadata(spark, path, "app.b")  # v4
    delta_set_domain_metadata(spark, path, "app.c", "three")  # v5
    delta_compact_log(spark, path, ck + 1, 5)
    # fold = checkpoint(a, b) + compacted tail: b must retract, c appear
    assert delta_domain_metadata(spark, path) == {
        "app.a": "one",
        "app.c": "three",
    }


def test_bench_headline_plans_have_no_cartesian_product(spark, sf_smoke):
    """Sweep contract over every bench-tagged analytical query: the
    physical plan must never contain a true CartesianProduct (both
    sides multi-row, no broadcast). BroadcastNestedLoopJoin of a
    1-row/tiny broadcast side (totals, spans, codebooks) is the
    deliberate pattern and stays allowed. Lifecycle queries (delta /
    streaming / pipeline writes) are excluded — building their
    DataFrame executes the lifecycle."""
    from lakesail_hdfs_deltalake_guide_spark.registry import build_registry

    reg = build_registry()
    skip_tags = {"delta", "streaming"}
    checked = 0
    for name, q in reg.defs.items():
        if "bench" not in q.tags or (skip_tags & set(q.tags)):
            continue
        if name.startswith("pipeline_"):  # multi-commit write lifecycles
            continue
        phys = (
            q.fn(spark, sf_smoke)
            ._jdf.queryExecution()  # noqa: SLF001
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in phys, name
        checked += 1
    assert checked >= 30, f"sweep shrank unexpectedly: {checked} queries"


def test_vacuum_refuses_unknown_writer_features(spark, sf_smoke):
    """vacuumProtocolCheck: a foreign table declaring a writer feature
    this engine doesn't implement must refuse VACUUM (the feature may
    reference files outside the add actions), while our own tables
    vacuum normally."""
    import json
    import tempfile

    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        _read_text,
        _version_file,
        delta_vacuum,
        delta_write,
    )
    from lakesail_hdfs_deltalake_guide_spark.tables import load_table

    n = load_table(spark, sf_smoke, "nation")
    path = tempfile.mkdtemp(prefix="ls_vacuum_proto_")
    delta_write(n, path)
    # forge a foreign protocol upgrade with an unknown writer feature
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        _write_commit,
    )

    proto = None
    for line in _read_text(spark, _version_file(path, 0)).splitlines():
        a = json.loads(line)
        if "protocol" in a:
            proto = a["protocol"]
    new_proto = {
        "minReaderVersion": int(proto.get("minReaderVersion", 1)),
        "minWriterVersion": 7,
        "writerFeatures": ["someFutureVacuumHazard"],
    }
    _write_commit(spark, path, 1, [{"protocol": new_proto}])
    with pytest.raises(ValueError, match="someFutureVacuumHazard"):
        delta_vacuum(spark, path, keep_versions=1)


def test_ann_index_append_is_idempotent(spark, sf_smoke):
    """Replaying a batch (or shipping an overlapping crawl) into the
    IVF postings state must be a no-op: the vec_id anti-join keeps the
    state one row per vector."""
    import tempfile

    from lakesail_hdfs_deltalake_guide_spark.functions.vectors import (
        as_double,
    )
    from lakesail_hdfs_deltalake_guide_spark.operators.similarity import (
        _assign_centroids,
        _load_codebook,
    )
    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_read,
        delta_write,
    )
    from lakesail_hdfs_deltalake_guide_spark.tables import load_table

    e = load_table(spark, sf_smoke, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    coarse = _load_codebook(spark, sf_smoke)
    path = tempfile.mkdtemp(prefix="ls_ann_idem_")
    assigned = _assign_centroids(e, "v", coarse, 1).select(
        "vec_id", "centroid_id"
    )
    delta_write(assigned, path)
    n = e.count()
    assert delta_read(spark, path).count() == n
    for _ in range(2):  # replay the full corpus twice
        state_ids = delta_read(spark, path).select("vec_id")
        fresh = assigned.join(state_ids, "vec_id", "left_anti")
        delta_write(fresh, path, mode="append")
        assert delta_read(spark, path).count() == n


def test_merge_schema_evolution_contracts(spark, sf_smoke):
    """MERGE schema evolution: [1] type conflicts on existing columns
    refuse (MERGE never widens), [2] evolution composes with CDF — the
    change feed's pre-images conform to the evolved schema (null new
    column), [3] time travel to the pre-merge version shows the OLD
    schema."""
    import tempfile

    import pytest

    from lakesail_hdfs_deltalake_guide_spark.sources.delta_log import (
        delta_merge,
        delta_read,
        delta_read_cdf,
        delta_write,
    )
    from lakesail_hdfs_deltalake_guide_spark.tables import load_table

    n = load_table(spark, sf_smoke, "nation").select(
        F.col("n_nationkey").alias("k"), F.col("n_name").alias("name")
    )
    path = tempfile.mkdtemp(prefix="ls_mergevo_cdf_")
    delta_write(
        n, path, configuration={"delta.enableChangeDataFeed": "true"}
    )
    src = n.where(F.col("k") < 5).select(
        "k", "name", F.lit(7).cast("long").alias("score")
    )
    v = delta_merge(spark, path, src, on=["k"], schema_evolution=True)
    back = delta_read(spark, path)
    assert "score" in back.columns
    assert back.where(F.col("score").isNotNull()).count() == 5
    # pre-merge snapshot keeps the old schema
    assert "score" not in delta_read(spark, path, version=v - 1).columns
    # CDF pre-images carry the evolved schema with null score
    feed = delta_read_cdf(spark, path, from_version=v)
    pre = feed.where(F.col("_change_type") == "update_preimage")
    assert pre.count() == 5
    assert pre.where(F.col("score").isNull()).count() == 5
    # type conflict on an existing column refuses
    bad = n.where(F.col("k") < 3).select(
        "k",
        F.col("k").cast("double").alias("name"),  # conflicts with string
        F.lit(1).cast("long").alias("extra"),  # triggers evolution
    )
    with pytest.raises(ValueError, match="cannot change column"):
        delta_merge(spark, path, bad, on=["k"], schema_evolution=True)


def test_unigram_em_round_improves_model(spark, sf_smoke):
    """The hard-EM guarantee, observed: re-estimating piece counts from
    the optimal segmentations concentrates probability mass on pieces
    actually used, so round 2's corpus Viterbi cost must not exceed
    round 1's and the vocabulary must prune (used ∪ singles ⊆ all
    candidate substrings)."""
    from lakesail_hdfs_deltalake_guide_spark.operators.text import (
        text_unigram_em_round,
    )

    rows = {
        r["round"]: r
        for r in text_unigram_em_round(spark, sf_smoke).collect()
    }
    assert rows[1]["corpus_cost_mb"] > 0
    assert rows[2]["corpus_cost_mb"] <= rows[1]["corpus_cost_mb"]
    assert 0 < rows[2]["vocab_size"] <= rows[1]["vocab_size"]
    assert rows[2]["corpus_pieces"] > 0


def test_wordpiece_matches_sequential_greedy(spark, sf_smoke):
    """The relational greedy walk (one higher-order expression per
    word) must agree with a sequential Python longest-match-first
    WordPiece encoder over the same corpus-derived vocabulary — the
    BERT tokenizer pseudocode as the reference, same doctrine as the
    BPE and unigram sequential-reference tests."""
    import duckdb

    from lakesail_hdfs_deltalake_guide_spark.operators.text import (
        WP_MAX_PIECE,
        WP_MAX_WORD,
        WP_MIN_COUNT,
        WP_TOP,
        text_wordpiece_encode,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_smoke}/documents.parquet')"
    )
    words = dict(
        con.execute(
            "SELECT word, COUNT(*) FROM "
            "(SELECT unnest(string_split(text, ' ')) AS word FROM documents) "
            f"WHERE len(word) BETWEEN 1 AND {WP_MAX_WORD} "
            "AND word NOT LIKE '%#%' GROUP BY word"
        ).fetchall()
    )

    def key(w: str, i: int, ln: int) -> str:
        sub = w[i : i + ln]
        return sub if i == 0 else "##" + sub

    occ: dict[str, int] = {}
    for w, f in words.items():
        for i in range(len(w)):
            for ln in range(1, min(WP_MAX_PIECE, len(w) - i) + 1):
                k = key(w, i, ln)
                occ[k] = occ.get(k, 0) + f
    vocab = {
        k
        for k, c in occ.items()
        if c >= WP_MIN_COUNT or len(k.replace("##", "", 1)) == 1
    }

    enc_count: dict[str, int] = {}
    n_words: dict[str, set] = {}
    for w, f in words.items():
        i = 0
        while i < len(w):
            for ln in range(min(WP_MAX_PIECE, len(w) - i), 0, -1):
                k = key(w, i, ln)
                if k in vocab:
                    enc_count[k] = enc_count.get(k, 0) + f
                    n_words.setdefault(k, set()).add(w)
                    i += ln
                    break
    want = sorted(
        ((-c, p) for p, c in enc_count.items())
    )[:WP_TOP]
    want = [(p, -nc, len(n_words[p])) for nc, p in want]

    got = [
        (r["piece"], int(r["encoded_count"]), int(r["n_words"]))
        for r in text_wordpiece_encode(spark, sf_smoke).collect()
    ]
    assert got == want


def test_mmr_rerank_diversifies(spark, sf_smoke):
    """Structural MMR invariants independent of the oracle: pick 1 is
    the pure-relevance argmax, picks are distinct, and the diversity
    term actually binds on this corpus (the MMR set differs from the
    pure top-k for at least one query — with redundancy-heavy
    synthetic embeddings it should, for all of them)."""
    from lakesail_hdfs_deltalake_guide_spark.operators.similarity import (
        MMR_SELECT,
        similarity_bruteforce_topk,
        similarity_mmr_rerank,
    )

    mmr = similarity_mmr_rerank(spark, sf_smoke).collect()
    top = similarity_bruteforce_topk(spark, sf_smoke).collect()
    by_q: dict[int, list] = {}
    for r in mmr:
        by_q.setdefault(r["query_id"], []).append(r)
    top1 = {r["query_id"]: r["vec_id"] for r in top if r["rank"] == 1}
    topk = {}
    for r in top:
        topk.setdefault(r["query_id"], set()).add(r["vec_id"])
    assert set(by_q) == set(top1)
    n_diff = 0
    for q, rows in by_q.items():
        picks = [r["vec_id"] for r in sorted(rows, key=lambda r: r["pick"])]
        assert len(picks) == MMR_SELECT == len(set(picks))
        assert picks[0] == top1[q], "pick 1 must be the relevance argmax"
        if set(picks) != topk[q]:
            n_diff += 1
    assert n_diff >= 1, "diversity never bound — MMR degenerated to top-k"


def test_kneser_ney_fits_better_than_addone(spark, sf_smoke):
    """The point of KN smoothing, observed: on the corpus the model
    was estimated from, the interpolated-KN cross-entropy must beat
    (or tie) add-one for every language — add-one bleeds probability
    mass to the V-sized unseen space, KN only discounts D=3/4 per
    seen type."""
    from lakesail_hdfs_deltalake_guide_spark.operators.text import (
        text_kneser_ney_bigram,
    )

    rows = text_kneser_ney_bigram(spark, sf_smoke).collect()
    assert len(rows) >= 2
    for r in rows:
        assert r["kn_xent_mb"] <= r["addone_xent_mb"], r["lang"]
        assert r["n_bigram_types"] <= r["n_bigram_tokens"]
