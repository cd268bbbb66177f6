"""Round-16 optimization contracts.

These pin the r16 plan/layout decisions so a later refactor cannot
silently undo them: the tfidf rescore must stay join-emitted (the
map-vector HOF aggregate measured 2.1x slower), the RRF corpus pass
must stay materialized-once (its pre-r16 plan re-planned the corpus
scan 16 times), and the incremental-curation signature state must
keep persisting band keys alongside signatures (the state-side band
recompute was the last O(history) work per increment)."""

from __future__ import annotations

from pyspark.sql import functions as F

from lakesail_hdfs_deltalake_guide_spark.operators.text import (
    text_hybrid_rrf_retrieval,
    text_tfidf_doc_cosine,
)
from lakesail_hdfs_deltalake_guide_spark.plans.inspect import explain_str


def test_tfidf_rescore_is_join_emitted_not_hof(spark, sf_smoke):
    plan = explain_str(text_tfidf_doc_cosine(spark, sf_smoke))
    # the r14 map-vector formulation shows up as aggregate(map_entries(...)
    # / map_filter(... in the final projection — the r16 rescore must not
    assert "map_entries" not in plan
    assert "map_filter" not in plan


def test_rrf_corpus_pass_materialized_once(spark, sf_smoke):
    plan = explain_str(text_hybrid_rrf_retrieval(spark, sf_smoke))
    # the tf/qterms subtrees are localCheckpointed: the executed plan
    # reads them as in-memory scans, and the only parquet scans left
    # are the vector side's two embeddings reads (+ none of documents:
    # totals are collected scalars, tf/qterms are checkpointed)
    n_parquet = plan.count("Scan parquet")
    assert n_parquet <= 4, f"RRF re-plans the corpus scan: {n_parquet} scans"


def test_curation_sig_state_persists_band_keys(spark, sf_smoke):
    # the stored bands column must explode to EXACTLY the recomputed
    # band keys — the state scan replaces the recompute subtree only
    # if the persisted keys are bit-identical
    from lakesail_hdfs_deltalake_guide_spark.functions.hashing import band_keys
    from lakesail_hdfs_deltalake_guide_spark.operators.dedup import (
        NUM_BANDS,
        ROWS_PER_BAND,
    )
    from lakesail_hdfs_deltalake_guide_spark.pipelines import (
        _curation_band_keys,
        _curation_band_rows,
        _curation_sig,
    )
    from lakesail_hdfs_deltalake_guide_spark.tables import load_table

    docs = (
        load_table(spark, sf_smoke, "documents")
        .where(F.col("doc_id") < 60)
        .select("doc_id", "text")
    )
    sigs = docs.select("doc_id", _curation_sig().alias("sig"))
    stored = (
        sigs.withColumn(
            "bands", band_keys(F.col("sig"), NUM_BANDS, ROWS_PER_BAND)
        )
        .select("doc_id", F.explode("bands").alias("band"))
        .select("doc_id", "band.band_id", "band.band_hash")
    )
    recomputed = _curation_band_rows(
        sigs.withColumn("bands", _curation_band_keys())
    )
    assert stored.exceptAll(recomputed).count() == 0
    assert recomputed.exceptAll(stored).count() == 0
