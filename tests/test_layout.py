"""Layout-optimization contracts: Z-order locality."""

from __future__ import annotations

from pyspark.sql import functions as F

from lakesail_hdfs_deltalake_guide_spark.sources.layout import (
    ZBITS,
    write_zordered,
    zorder_key,
)
from lakesail_hdfs_deltalake_guide_spark.tables import load_table


def test_zorder_key_is_bounded_and_monotone_on_diagonal(spark):
    df = spark.range(0, 1 << ZBITS).select(
        F.col("id"), zorder_key(F.col("id"), F.col("id")).alias("z")
    )
    rows = df.orderBy("id").collect()
    zs = [r["z"] for r in rows]
    assert all(0 <= z < 1 << (2 * ZBITS) for z in zs)
    # On the diagonal a==b, the z-curve is strictly increasing.
    assert all(x < y for x, y in zip(zs, zs[1:]))


def test_zorder_files_are_local_in_both_dimensions(spark, sf_smoke, tmp_path):
    # Two comparable-cardinality keys (Z-order needs both dims populated;
    # a 10-value minor key can't subdivide) on a 32×32 grid.
    bits = 5
    li = load_table(spark, sf_smoke, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    out = str(tmp_path / "z")
    write_zordered(li, out, "l_orderkey", "l_partkey", num_files=8, bits=bits)

    back = spark.read.parquet(out).withColumn("f", F.input_file_name())
    dim = 1 << bits
    spans = (
        back.select(
            "f",
            (F.col("l_orderkey") % dim).alias("a"),
            (F.col("l_partkey") % dim).alias("b"),
        )
        .groupBy("f")
        .agg(
            (F.max("a") - F.min("a")).alias("span_a"),
            (F.max("b") - F.min("b")).alias("span_b"),
        )
        .collect()
    )
    assert len(spans) >= 4  # actually split into multiple files
    g = dim - 1
    # Locality metric: average per-file bounding RECTANGLE area. A
    # single-key sort localizes one dim and leaves the other at ~global
    # span (area ≈ g²/files·…); the z-curve bounds BOTH, so the average
    # rectangle is a small fraction of the g×g domain. Range boundaries
    # come from sampling and aren't power-of-two aligned, hence an area
    # bound rather than brittle per-dimension thresholds.
    avg_area = sum((r["span_a"] + 1) * (r["span_b"] + 1) for r in spans) / len(spans)
    assert avg_area < 0.3 * (g + 1) * (g + 1)
    # And neither dimension degenerates to the full global span on
    # average (which is what a sort on the other key alone would give).
    assert sum(r["span_a"] for r in spans) / len(spans) < 0.8 * g
    assert sum(r["span_b"] for r in spans) / len(spans) < 0.8 * g
