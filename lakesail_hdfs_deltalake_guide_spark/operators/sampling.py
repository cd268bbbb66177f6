"""Deterministic sampling / dataset-split operators (training-pipeline tier).

A 100 TB corpus is never trained on raw: it gets split train/val/test,
rebalanced across languages/sources, and subsampled per group. Random
``df.sample()`` is useless for that at scale — resampling on every retry,
no lineage, no oracle. These operators derive membership from a
**deterministic content-key hash** (Lehmer LCG on the stable id), which:

- is reproducible across runs, engines and partitionings (pure arithmetic
  — the same rows land in the same split on any cluster);
- is a map-only *scan-side filter*: no shuffle, no sort, no sample pass —
  the predicate pushes into the scan projection and the 100 TB read is the
  only cost;
- makes splits disjoint and exhaustive by construction (bucket ranges of
  one hash), unlike independent Bernoulli draws.

The per-group top-k sampler is the one shuffle-bearing operator here
(window over the group key) — the deterministic replacement for "reservoir
sample k per group".

Hash: ``h = (id * 48271 + 11) mod 2147483647`` (Lehmer/MINSTD constants) —
chosen because it is exactly expressible in BIGINT arithmetic in both
Spark and ANSI SQL (no 64-bit overflow for any fixture id), so every query
below has a bit-exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..querydef import QueryDef
from ..tables import load_table

_M = 2147483647
_A = 48271
_C = 11


def lehmer_hash(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return (c.cast("bigint") * F.lit(_A) + F.lit(_C)) % F.lit(_M)


def sql_lehmer_hash(expr: str) -> str:
    return f"((CAST({expr} AS BIGINT) * {_A} + {_C}) % {_M})"


def split_column(col: Column | str, train: int = 80, val: int = 10) -> Column:
    """train/val/test label from disjoint bucket ranges of one hash."""
    bucket = lehmer_hash(col) % 100
    return (
        F.when(bucket < train, "train")
        .when(bucket < train + val, "val")
        .otherwise("test")
    )


def sample_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 deterministic split of `documents` with per-split size
    stats — the sanity dashboard every dataset build starts with."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn("split", split_column("doc_id"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("split")
    )


def sample_stratified_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum rate sampling: downsample dominant 'en' to 10%, keep
    30% of every other language — corpus rebalancing as a pure scan-side
    filter (zero shuffles before the final count)."""
    d = load_table(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", F.lit(100)).otherwise(F.lit(300))
    kept = d.where(lehmer_hash("doc_id") % 1000 < rate)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").alias("sampled_chars"),
        )
        .orderBy("lang")
    )


def sample_per_source_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sample (reservoir replacement): the 5
    lowest-hash docs per source. One shuffle (window on source); at scale
    the rank predicate cuts the output to k×groups rows immediately."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        lehmer_hash("doc_id").asc(), F.col("doc_id").asc()
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("source", "doc_id", F.col("rn").cast("bigint").alias("sample_rank"))
        .orderBy("source", "sample_rank")
    )


def sample_weighted_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted Bernoulli: keep probability ∝ document
    length (capped) — the 'prefer long documents' corpus-shaping pass.
    Keep iff hash-bucket < weight, entirely scan-side arithmetic."""
    d = load_table(spark, sf_dir, "documents")
    # weight per mille: clamp(n_chars, 0, 500) → 0..500 ⇒ p in [0, 0.5]
    weight = F.least(F.col("n_chars"), F.lit(500))
    kept = d.where(lehmer_hash("doc_id") % 1000 < weight)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
            F.min("n_chars").alias("min_chars"),
        )
        .orderBy("lang")
    )


def sample_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing to a per-source token budget (Pile/Dolma-style).

    The budget is the smallest source's total chars (a uniform cap no
    source can exceed); every source gets a deterministic Bernoulli rate
    ``budget/total`` expressed as exact integer ppm, and membership is the
    usual scan-side hash predicate. The rate table is one tiny broadcast
    (|sources| rows) — the 100 TB corpus is read once, filtered in the
    scan, never shuffled. At >TB-per-source scale, normalize char totals
    to KB before the ppm ratio so ``budget * 1e6`` stays in BIGINT.
    """
    d = load_table(spark, sf_dir, "documents")
    tot = d.groupBy("source").agg(F.sum("n_chars").alias("total_chars"))
    budget = tot.agg(F.min("total_chars").alias("budget_chars"))
    rates = tot.crossJoin(F.broadcast(budget)).select(
        "source",
        "total_chars",
        F.expr("budget_chars * 1000000 div total_chars").alias("rate_ppm"),
    )
    kept = d.join(F.broadcast(rates), "source").where(
        lehmer_hash("doc_id") % 1000000 < F.col("rate_ppm")
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_chars").alias("kept_chars"),
            F.max("total_chars").alias("total_chars"),
            F.max("rate_ppm").alias("rate_ppm"),
        )
        .orderBy("source")
    )


_H = sql_lehmer_hash("doc_id")

def sample_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe TEMPORAL train/eval split: everything before the
    cutoff trains, everything after evaluates — the split protocol for
    forecasting/recommendation data, where hash splits leak the future
    into training. The cutoff is data-derived in exact integer
    arithmetic (min + 80% of the observed span) so both engines compute
    the identical boundary; outputs include the per-split user overlap
    ingredient (n_users) that a leakage audit would check."""
    from ..tables import load_table

    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("ts_ns").alias("lo"), F.max("ts_ns").alias("hi")
    ).collect()[0]
    cutoff = bounds.lo + (bounds.hi - bounds.lo) * 8 // 10
    tagged = ev.select(
        F.when(F.col("ts_ns") < cutoff, "train").otherwise("eval").alias("split"),
        "user_id",
        "ts_ns",
    )
    return (
        tagged.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("ts_ns").alias("min_ts_ns"),
            F.max("ts_ns").alias("max_ts_ns"),
        )
        .orderBy("split")
    )


MIX_TEMP_BUDGET = 10_000  # documents to allocate across sources


def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (the multilingual-corpus
    rebalancer: T5/mC4-style ``p_i ∝ n_i^(1/T)`` with T = 2, which damps
    head sources and boosts tail sources relative to proportional
    sampling).

    Everything is integer so the oracle is bit-exact: the weight is
    ``isqrt(n_docs)`` (floor of an IEEE sqrt — correctly rounded, hence
    identical on both engines for any count < 2^52), the share is ppm
    integer division, and the final allocation uses the
    **largest-remainder (Hamilton) method** so the per-source
    allocations sum to the budget EXACTLY — no float drift, no ±1
    off-by-rounding, the property a token-budget scheduler actually
    needs. Deterministic tie-break on (remainder desc, source asc).

    Scale posture: one aggregate over the corpus → |sources| rows; the
    apportionment windows run over that tiny aggregate, never the
    facts. The output is the sampling *plan*; applying it composes with
    the deterministic hash samplers above (weighted_by_length /
    per_source_topk)."""
    d = load_table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return _temperature_alloc(per_src, F.lit(MIX_TEMP_BUDGET)).select(
        "source",
        "n_docs",
        "weight",
        "share_ppm",
        F.col("alloc").cast("long").alias("alloc_docs"),
    ).orderBy("source")


def _temperature_alloc(per_src: DataFrame, budget: Column) -> DataFrame:
    """``per_src`` (one row per ``source`` with its ``n_docs``) plus the
    T=2 weight ``weight = isqrt(n_docs)``, its ``share_ppm``, and
    ``alloc``: the Hamilton apportionment of ``budget`` documents over
    the weights, ties on (remainder desc, source). ``budget`` may be a
    window over ``per_src``, such as a share of its total."""
    x = per_src.select(
        "*",
        F.floor(F.sqrt(F.col("n_docs"))).cast("long").alias("weight"),
        budget.alias("budget"),
    )
    y = x.select(
        "*",
        F.expr("weight * 1000000 div sum(weight) over ()").alias("share_ppm"),
        F.expr("weight * budget div sum(weight) over ()").alias("base"),
        F.expr("(weight * budget) % sum(weight) over ()").alias("rem"),
    )
    r = y.select(
        "*",
        F.expr("row_number() over (order by rem desc, source)").alias("rk"),
        F.expr("budget - sum(base) over ()").alias("deficit"),
    )
    return r.select(
        *per_src.columns,
        "weight",
        "share_ppm",
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("deficit"), F.lit(1)).otherwise(
                F.lit(0)
            )
        ).alias("alloc"),
    )


SHUFFLE_SHARDS = 8


def sample_global_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into training shards — the step
    between a curated corpus and a dataloader: break source/time
    locality so each shard (and each position within a shard) is an
    unbiased sample. Randomness is the same Lehmer hash as the splits:
    shard = h(id) mod S, within-shard order = (h(id), id) — fully
    reproducible on any cluster and any input partitioning, no RNG
    state, no driver coordination.

    Output pins BOTH assignments and order: per-shard doc/token counts,
    the first doc in shard order, and an order-sensitive checksum
    sum(position * doc_id) — any engine that shuffles differently
    breaks the checksum even with identical membership.

    Plan: ONE hash exchange on shard_id with an in-partition sort —
    exactly `repartitionByRange`-style shard writing at scale (each
    shard streams to its own file in sorted order); the aggregate rides
    the same exchange. At 100 TB: one pass, one shuffle of (ids,
    counts), never text."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    h = lehmer_hash("doc_id")
    sharded = d.select(
        (h % SHUFFLE_SHARDS).alias("shard_id"),
        "doc_id",
        "n_chars",
        h.alias("h"),
    )
    w = Window.partitionBy("shard_id").orderBy("h", "doc_id")
    pos = sharded.withColumn("pos", F.row_number().over(w))
    return (
        pos.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("shard_chars"),
            F.min(F.when(F.col("pos") == 1, F.col("doc_id"))).alias(
                "first_doc"
            ),
            F.sum(F.col("pos") * F.col("doc_id")).alias("order_checksum"),
        )
        .orderBy("shard_id")
    )


def sample_group_disjoint_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-disjoint train/val/test split: every document of a source
    lands in the SAME split. Row-level hash splits (``sample_split_counts``)
    leak near-duplicates across the train/eval boundary whenever a
    crawl re-fetches the same site — the standard fix (C4, RefinedWeb,
    The Pile all do this for eval decontamination) is to split on the
    *provenance group* (domain / source), not the row.

    Membership is ``md5(source)`` bucketed mod 100 (80/10/10): the one
    hash both engines compute bit-identically, so split assignment is
    reproducible across runs, engines, partitionings — and disjoint by
    construction (a function of the group key alone cannot straddle
    splits).

    Plan shape: the FIRST aggregate rolls docs up to per-source rows
    (map-side combine on a low-cardinality key), the split tag is then
    derived on O(sources) rows, and the per-split rollup is O(sources)
    → O(3). At 100 TB the only exchange is the source rollup; the text
    column is never shuffled. Output pins per-split source/doc/token
    counts; disjointness is structural (split = f(source)), so
    sum(n_sources) over splits == countDistinct(source) — which the
    oracle's value hash checks exactly."""
    d = load_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("source")), 1, 8), 16, 10).cast(
            "bigint"
        )
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        per_source.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_sources"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("total_chars").alias("total_chars"),
        )
        .orderBy("split")
    )


def sample_split_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-drift report: per language, its share of each split (ppm
    of that split's size) and the max−min share spread across splits —
    the QA check run right after any dataset split. A row-hash split
    keeps every language's spread near zero; a GROUP-disjoint split
    (``sample_group_disjoint_split``) can legitimately skew the mix
    when a language concentrates in few sources, and this report is
    how that skew is caught before training. Shares are exact integer
    ppm (count·1e6 div split_size), so the drift number is bit-stable.

    Plan: one (split, lang) aggregate off the scan (split derives from
    the same md5(source) expression — map-side), split totals via a
    window over the O(splits × langs) aggregate, conditional-aggregate
    pivot to one row per language. No second scan, no join back to
    facts."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("source")), 1, 8), 16, 10).cast(
            "bigint"
        )
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    cells = (
        d.select(split.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    shares = cells.withColumn(
        "share_ppm",
        F.expr(
            "n * 1000000 DIV SUM(n) OVER (PARTITION BY split)"
        ),
    )
    # a language ABSENT from a split is share 0 there — the most
    # extreme drift, not a row to skip — so the pivot coalesces missing
    # cells to 0 and the spread runs over all three coalesced values
    pivoted = shares.groupBy("lang").agg(
        F.sum("n").alias("n_docs"),
        F.coalesce(
            F.max(F.when(F.col("split") == "train", F.col("share_ppm"))),
            F.lit(0),
        ).alias("train_ppm"),
        F.coalesce(
            F.max(F.when(F.col("split") == "val", F.col("share_ppm"))),
            F.lit(0),
        ).alias("val_ppm"),
        F.coalesce(
            F.max(F.when(F.col("split") == "test", F.col("share_ppm"))),
            F.lit(0),
        ).alias("test_ppm"),
    )
    return pivoted.select(
        "lang",
        "n_docs",
        "train_ppm",
        "val_ppm",
        "test_ppm",
        (
            F.greatest("train_ppm", "val_ppm", "test_ppm")
            - F.least("train_ppm", "val_ppm", "test_ppm")
        ).alias("drift_ppm"),
    ).orderBy("lang")


DSIR_BUCKETS = 64  # hashed-unigram feature buckets
DSIR_TOP = 20
DSIR_TARGET_LANG = "en"


def sample_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (the published
    hashed-n-gram recipe): score every RAW-pool document by how much
    more likely its tokens are under the TARGET domain's hashed-feature
    distribution than under the raw pool's own, and select the top
    scorers. Here target = ``lang = 'en'`` documents, raw pool = the
    rest; features are unigrams hashed into DSIR_BUCKETS md5 buckets.

    log importance weight(doc) = Σ_tokens log2 p̂(b) − log2 q̂(b) with
    add-one-smoothed bucket probabilities p̂ = (t_b+1)/(T+B) (target)
    and q̂ = (r_b+1)/(R+B) (raw). Both logs are EXACT integer millibits
    via the shared LOG2_MB_TABLE mantissa constants (each ratio is ≥ 1
    by construction, so the perplexity op's machinery applies verbatim);
    the weight is their difference summed with integer bucket counts —
    bit-identical on any engine. Selection is deterministic top-k by
    weight (the Gumbel-noise variant replaces the ORDER BY with
    weight + planted noise; ranking is the substance).

    Plan shape: ONE token explosion feeds the per-doc bucket counts
    (the only data-sized shuffle, keyed (doc, bucket)) and both LM
    tables (B-row re-aggregations — broadcast); totals are a 1-row
    broadcast. BIGINT headroom: (T+B)·2^20 caps corpus tokens at ~2^43
    (~8·10^12 tokens) before the ratio overflows — beyond any single
    training corpus."""
    from .text import LOG2_MB_TABLE

    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("bigint")
        % DSIR_BUCKETS
    )
    occ = d.select(
        "doc_id", "lang", "source", F.explode(F.split("text", " ")).alias("tok")
    ).select("doc_id", "lang", "source", bucket.alias("b"))
    doc_b = occ.groupBy("doc_id", "lang", "source", "b").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    t_b = (
        occ.where(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("t_b"))
    )
    r_b = (
        occ.where(F.col("lang") != DSIR_TARGET_LANG)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("r_b"))
    )
    totals = occ.groupBy().agg(
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
        ).alias("t_total"),
        F.sum(
            F.when(F.col("lang") != DSIR_TARGET_LANG, 1).otherwise(0)
        ).alias("r_total"),
    )
    arr = F.array(*[F.lit(int(x)) for x in LOG2_MB_TABLE])

    def mb(num: str, den: str) -> F.Column:
        e = (F.length(F.expr(f"bin(({num}) * 1048576 DIV ({den}))")) - 1).cast(
            "int"
        )
        m6 = F.expr(
            f"(({num}) * 1048576 DIV ({den})) DIV "
            f"shiftleft(CAST(1 AS BIGINT), "
            f"length(bin(({num}) * 1048576 DIV ({den}))) - 1 - 6)"
        )
        return (e - 20) * 1000 + F.element_at(arr, (m6 - 63).cast("int"))

    grid = spark.range(DSIR_BUCKETS).select(F.col("id").alias("b"))
    tabs = (
        grid.join(t_b, "b", "left")
        .join(r_b, "b", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "b",
            mb(
                f"t_total + {DSIR_BUCKETS}", "coalesce(t_b, 0) + 1"
            ).alias("nll_p"),
            mb(
                f"r_total + {DSIR_BUCKETS}", "coalesce(r_b, 0) + 1"
            ).alias("nll_q"),
        )
    )
    raw_docs = doc_b.where(F.col("lang") != DSIR_TARGET_LANG)
    weighted = (
        raw_docs.join(F.broadcast(tabs), "b")
        .groupBy("doc_id", "lang", "source")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.sum(F.expr("cnt * (nll_q - nll_p)")).alias("weight_mbits"),
        )
    )
    # global top-k as orderBy().limit(k) — compiles to
    # TakeOrderedAndProject (per-partition heaps + driver merge of k
    # rows), not a row_number over a single-task sort of every doc;
    # the rank window below runs over only the k survivors
    order = [F.desc("weight_mbits"), F.asc("doc_id")]
    w = Window.orderBy(*order)
    return (
        weighted.orderBy(*order)
        .limit(DSIR_TOP)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .orderBy("rank")
    )


def _dsir_nll_sql(num: str, den: str) -> str:
    """DuckDB twin of the integer-millibit log2: same mantissa table,
    same bin()-length exponent, same truncating divisions."""
    from .text import LOG2_MB_TABLE

    r = f"(({num}) * 1048576 // ({den}))"
    table = ", ".join(str(int(x)) for x in LOG2_MB_TABLE)
    return (
        f"(length(bin({r})) - 1 - 20) * 1000 + "
        f"([{table}])[CAST({r} // (1::BIGINT << (length(bin({r})) - 1 - 6)) "
        f"AS INT) - 63]"
    )




def sample_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate LEAKAGE audit across the train/eval boundary —
    the eval-hygiene check behind the group-disjoint split: take the
    MinHash-LSH near-duplicate pairs (est_jaccard ≥ 0.5 over the
    planted corpus) and count, under BOTH split policies, how many
    pairs straddle splits. A row-hash split scatters near-duplicate
    pairs across train/eval (memorized eval answers); the
    group-disjoint split keeps every pair within one split by
    construction (plants inherit their source), so its leak count is
    structurally zero — the audit proves it rather than asserting it.

    Plan shape: the pair set is the existing banded-LSH candidate join
    (digest-sized shuffles); split tags are scan-side hash arithmetic
    on a doc-id-sized table; the audit join ships (doc_id, split)
    pairs only."""
    from .dedup import minhash_candidate_pairs, near_duplicate_corpus

    corpus = near_duplicate_corpus(spark, sf_dir)
    pairs = (
        minhash_candidate_pairs(corpus)
        .where(F.col("est_jaccard") >= 0.5)
        .select("doc_a", "doc_b")
    )
    grp_bucket = (
        F.conv(F.substring(F.md5(F.col("source")), 1, 8), 16, 10).cast(
            "bigint"
        )
        % 100
    )
    grp_split = (
        F.when(grp_bucket < 80, "train")
        .when(grp_bucket < 90, "val")
        .otherwise("test")
    )
    tagged = corpus.select(
        "doc_id",
        split_column("doc_id").alias("row_split"),
        grp_split.alias("grp_split"),
    )
    a, b = tagged.alias("a"), tagged.alias("b")
    j = pairs.join(a, F.col("doc_a") == F.col("a.doc_id")).join(
        b, F.col("doc_b") == F.col("b.doc_id")
    )
    agg = j.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            (F.col("a.row_split") != F.col("b.row_split")).cast("long")
        ).alias("row_cross"),
        F.sum(
            (F.col("a.grp_split") != F.col("b.grp_split")).cast("long")
        ).alias("grp_cross"),
    )
    return (
        agg.selectExpr(
            "stack(2, 'group_disjoint', n_pairs, grp_cross, "
            "'row_hash', n_pairs, row_cross) "
            "AS (policy, n_pairs, n_cross_split)"
        )
        .withColumn(
            "leak_ppm", F.expr("n_cross_split * 1000000 DIV n_pairs")
        )
        .orderBy("policy")
    )


def _minhash_cand_sql() -> str:
    """Deferred import of the dedup tier's bit-exact MinHash CTE
    prefix (corpus + cand), shared by the leakage audit oracle."""
    from .dedup import _sql_minhash_cand

    return _sql_minhash_cand()


_MINHASH_CAND = _minhash_cand_sql()


KFOLD_K = 5


def sample_kfold_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment with a balance
    audit — the eval-protocol sibling of the 80/10/10 split: fold =
    lehmer(doc_id) mod K (stable across runs and engines, no RNG
    state), and per (fold, lang) the document count plus the fold's
    language share vs the corpus share in exact ppm — the drift number
    that tells you whether per-fold metrics are comparable before you
    average them.

    One scan assigns folds map-side; both rollups are K×lang-sized."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", (lehmer_hash("doc_id") % KFOLD_K).alias("fold")
    )
    per = d.groupBy("fold", "lang").agg(F.count(F.lit(1)).alias("n_docs"))
    fold_tot = per.groupBy("fold").agg(F.sum("n_docs").alias("fold_total"))
    lang_tot = per.groupBy("lang").agg(F.sum("n_docs").alias("lang_total"))
    all_tot = per.agg(F.sum("n_docs").alias("n_total"))
    return (
        per.join(F.broadcast(fold_tot), "fold")
        .join(F.broadcast(lang_tot), "lang")
        .crossJoin(F.broadcast(all_tot))
        .select(
            F.col("fold").cast("long").alias("fold"),
            "lang",
            "n_docs",
            F.expr("n_docs * 1000000 DIV fold_total").alias(
                "fold_share_ppm"
            ),
            F.expr("lang_total * 1000000 DIV n_total").alias(
                "corpus_share_ppm"
            ),
            F.expr(
                "abs(n_docs * 1000000 DIV fold_total"
                " - lang_total * 1000000 DIV n_total)"
            ).alias("drift_ppm"),
        )
        .orderBy("fold", "lang")
    )


PPS_TARGET = 100  # systematic draws (large docs can absorb several)


def sample_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-size SYSTEMATIC sampling — the
    weighted-draw design survey statistics uses when big units must be
    likelier picks (here: sample documents ∝ length, so a token-mass-
    representative audit sample): lay every document's weight on a line
    (running char-count offsets), then take every ``step = total DIV
    target``-th point; a document is hit once per multiple of ``step``
    inside its (start, end] interval — hits = end DIV step − start DIV
    step, so a document longer than ``step`` absorbs several draws
    (textbook PPS-with-replacement behavior, kept deliberately).

    Deterministic (anchor at step, not a random start) and exact; the
    line offsets come from the distributed exact prefix sum
    (operators/ranks.py) over the pinned doc_id order — two parallel
    exchanges, no single-task window. Output: the per-source draw
    ledger (docs, draws, drawn weight, draw share vs weight share)."""
    from .ranks import exact_prefix_sum

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("w")
    )
    summed, total = exact_prefix_sum(d, ["doc_id"], "w", out="cum")
    step = max(total // PPS_TARGET, 1)
    hits = summed.select(
        "source",
        "w",
        F.expr(f"cum DIV {step} - (cum - w) DIV {step}").alias("n_hits"),
    )
    return (
        hits.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("w").alias("source_chars"),
            F.sum("n_hits").cast("long").alias("n_draws"),
            F.sum(F.when(F.col("n_hits") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_drawn_docs"),
            F.sum(
                F.when(F.col("n_hits") > 0, F.col("w")).otherwise(0)
            ).alias("drawn_chars"),
        )
        .select(
            "source",
            "n_docs",
            "source_chars",
            "n_draws",
            "n_drawn_docs",
            "drawn_chars",
            F.lit(total).cast("long").alias("total_chars"),
            F.expr(f"source_chars * 1000000 DIV {total}").alias(
                "weight_share_ppm"
            ),
        )
        .orderBy("source")
    )


# --- DoReMi-style domain reweighting (r11) ----------------------------------
#
# One multiplicative-weights update of training-mixture domain weights
# (Xie et al., "DoReMi: Optimizing Data Mixtures Speeds Up Language
# Model Pretraining", 2023): domains whose proxy loss exceeds the
# reference get UP-weighted, w ∝ w₀·exp(η·excess_loss). Two published-
# faithful substitutions keep the round exactly replayable by the
# oracle: (a) the proxy/reference loss gap is stood in by a lexical
# hardness signal computable from the corpus alone — the complement of
# the per-doc type-token ratio, averaged per source (repetitive
# domains = low hardness; the fixtures ship no model losses, and a real
# run swaps one column); (b) exp(η·L) becomes the hedge/multiplicative-
# weights form (1+η)^k with η=1/10 and k = the domain's hardness RANK —
# (11/10)^k is an exact BIGINT rational (11^k·10^(S−1−k) over a common
# 10^(S−1) denominator), so normalized weights are integer-exact where
# float exp would drift between engines' libm in the last ulp.
#
# Scale shape: one aggregate over the corpus (per-source token sums +
# mean TTR), then S-row arithmetic. The 100 TB cost is the single scan.

DOREMI_ETA_NUM = 11  # 1 + η as the exact rational 11/10
DOREMI_ETA_DEN = 10
DOREMI_BUCKETS = 10  # hardness-rank deciles: k ∈ 0..9, so 11^k·10^(9-k)
#                      stays ≤ 11^9 ≈ 2.4e9 — BIGINT-safe at ANY domain
#                      count (20 raw ranks would need 11^19 > 2^63)


def sample_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One hedge update of per-source mixture weights from lexical
    hardness: (source, n_docs, total_tokens, hardness_ppm, k,
    weight_ppm, alloc_tokens)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    per_doc = d.select(
        "source",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.expr(
            "CAST(size(array_distinct(split(text, ' '))) AS BIGINT)"
            " * 1000000 DIV size(split(text, ' '))"
        ).alias("ttr_ppm"),
    )
    per_src = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.expr("1000000 - SUM(ttr_ppm) DIV COUNT(*)").alias("hardness_ppm"),
    )
    n_src = per_src.count()
    total_tokens = per_src.agg(F.sum("total_tokens")).collect()[0][0]
    # exact integer 11^k · 10^(9-k): aggregate over a bounded sequence
    # (double pow() could land at x.999… and floor wrong); the k=0 guard
    # matters because Spark's sequence(1, 0) DESCENDS instead of
    # returning empty
    int_pow = (
        "CASE WHEN {e} <= 0 THEN CAST(1 AS BIGINT)"
        " ELSE aggregate(sequence(1, CAST({e} AS INT)),"
        " CAST(1 AS BIGINT), (acc, i) -> acc * {base}) END"
    )
    ranked = per_src.withColumn(
        "k",
        F.expr(
            f"(rank() OVER (ORDER BY hardness_ppm, source) - 1)"
            f" * {DOREMI_BUCKETS} DIV {n_src}"
        ).cast("bigint"),
    ).withColumn(
        "w_scaled",
        F.expr(
            int_pow.format(e="k", base=DOREMI_ETA_NUM)
            + " * "
            + int_pow.format(e=f"{DOREMI_BUCKETS - 1} - k", base=DOREMI_ETA_DEN)
        ),
    )
    denom = ranked.agg(F.sum("w_scaled")).collect()[0][0]
    return (
        ranked.select(
            "source",
            "n_docs",
            "total_tokens",
            "hardness_ppm",
            "k",
            F.expr(f"w_scaled * 1000000 DIV {denom}").alias("weight_ppm"),
            F.expr(
                f"CAST({total_tokens} AS BIGINT)"
                f" * (w_scaled * 1000000 DIV {denom}) DIV 1000000"
            ).alias("alloc_tokens"),
        )
        .orderBy("source")
    )


def _doremi_sql() -> str:
    return f"""
        WITH per_doc AS (
          SELECT source,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                 CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                   * 1000000 // len(string_split(text, ' ')) AS ttr_ppm
          FROM documents),
        per_src AS (
          SELECT source, COUNT(*) AS n_docs,
                 CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                 CAST(1000000 - SUM(ttr_ppm) // COUNT(*) AS BIGINT)
                   AS hardness_ppm
          FROM per_doc GROUP BY source),
        meta AS (
          SELECT COUNT(*) AS n_src, SUM(total_tokens) AS grand
          FROM per_src),
        krank AS (
          SELECT p.*, m.n_src, m.grand,
                 (RANK() OVER (ORDER BY hardness_ppm, source) - 1)
                   * {DOREMI_BUCKETS} // m.n_src AS k
          FROM per_src p, meta m),
        ranked AS (
          SELECT *,
                 CASE WHEN k <= 0 THEN CAST(1 AS BIGINT)
                      ELSE list_reduce(list_transform(range(1, k + 1),
                             x -> CAST({DOREMI_ETA_NUM} AS BIGINT)),
                             (a, b) -> a * b) END
                 * CASE WHEN {DOREMI_BUCKETS - 1} - k <= 0
                        THEN CAST(1 AS BIGINT)
                        ELSE list_reduce(list_transform(
                               range(1, {DOREMI_BUCKETS} - k),
                               x -> CAST({DOREMI_ETA_DEN} AS BIGINT)),
                               (a, b) -> a * b) END AS w_scaled
          FROM krank),
        denom AS (SELECT SUM(w_scaled) AS s FROM ranked)
        SELECT source, n_docs, total_tokens, hardness_ppm,
               CAST(k AS BIGINT) AS k,
               CAST(w_scaled * 1000000 // d.s AS BIGINT) AS weight_ppm,
               CAST(grand * (w_scaled * 1000000 // d.s) // 1000000 AS BIGINT)
                 AS alloc_tokens
        FROM ranked, denom d ORDER BY source
        """


UNIMAX_EPOCHS = 1  # per-language repeat cap (UniMax's N)
UNIMAX_BUDGET_PCT = 70  # char budget as % of total corpus mass


def sample_unimax_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax language-budget allocation (Chung et al. 2023, "UniMax:
    Fairer and More Effective Language Sampling for Large-Scale
    Multilingual Pretraining"): spread a token budget UNIFORMLY across
    languages, capped at N epochs of each language's own mass — the
    successor to temperature mixing (sample_temperature_mix) that never
    over-repeats low-resource tails.

    The allocation is exact integer water-filling in CLOSED FORM: sort
    languages by capacity (cap = N * chars) ascending, and for each
    saturation count k test, by cross-multiplied BIGINT comparison (no
    floats), whether level t_k = (B - cum_k)/(L-k) sits between cap_k
    and cap_{k+1}. Exactly one k qualifies; saturated languages take
    their cap, the rest take the level with the remainder spread one
    char to each of the first (B - cum_k) mod (L-k) free languages in
    capacity order — allocations sum to B exactly (tested).

    At 100 TB: one |langs|-row aggregate leaves the scan; the
    water-fill runs as window functions over that L-row frame (L is
    dozens, a single tiny task). The output weight table then drives
    the usual scan-side hash-rate filter — the corpus itself is never
    shuffled."""
    d = load_table(spark, sf_dir, "documents")
    mass = d.groupBy("lang").agg(F.sum("n_chars").alias("chars"))
    tot = mass.agg(
        F.sum("chars").alias("total_chars"),
        F.count(F.lit(1)).alias("n_langs"),
    ).select(
        "total_chars",
        "n_langs",
        F.expr(
            f"total_chars * {UNIMAX_BUDGET_PCT} div 100"
        ).alias("budget_chars"),
    )
    w_ord = Window.orderBy("cap", "lang")
    caps = (
        mass.select(
            "lang",
            "chars",
            (F.col("chars") * UNIMAX_EPOCHS).alias("cap"),
        )
        .withColumn("rn", F.row_number().over(w_ord))
        .withColumn(
            "cum",
            F.sum("cap").over(
                w_ord.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn("cap_next", F.lead("cap").over(w_ord))
        .crossJoin(F.broadcast(tot))
    )
    # candidate saturation counts: k = rn per row, plus the k = 0 row
    # (no language saturated)
    cands = caps.select(
        F.col("rn").alias("k"),
        (F.col("budget_chars") - F.col("cum")).alias("rem"),
        (F.col("n_langs") - F.col("rn")).alias("nfree"),
        F.col("cap").alias("cap_k"),
        "cap_next",
    ).unionByName(
        caps.where(F.col("rn") == 1).select(
            F.lit(0).cast("int").alias("k"),
            F.col("budget_chars").alias("rem"),
            F.col("n_langs").alias("nfree"),
            F.lit(0).cast("bigint").alias("cap_k"),
            F.col("cap").alias("cap_next"),
        )
    )
    level = cands.where(
        F.when(F.col("nfree") == 0, F.col("rem") >= 0).otherwise(
            (F.col("cap_k") * F.col("nfree") <= F.col("rem"))
            & (F.col("cap_next") * F.col("nfree") > F.col("rem"))
        )
    ).select("k", "rem", "nfree")
    out = caps.crossJoin(F.broadcast(level)).select(
        "lang",
        "chars",
        "cap",
        F.when(F.col("rn") <= F.col("k"), F.col("cap"))
        .otherwise(
            F.expr("rem div greatest(nfree, 1)")
            + F.when(
                F.col("rn") - F.col("k")
                <= F.col("rem") % F.greatest(F.col("nfree"), F.lit(1)),
                F.lit(1),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("alloc_chars"),
        (F.col("rn") <= F.col("k")).alias("saturated"),
        "budget_chars",
    )
    return out.select(
        "lang",
        "chars",
        "cap",
        "alloc_chars",
        "saturated",
        F.expr("alloc_chars * 1000000 div chars").alias("epochs_ppm"),
        "budget_chars",
    ).orderBy("lang")


def _unimax_sql() -> str:
    return f"""
        WITH mass AS (
          SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS chars
          FROM documents GROUP BY lang),
        tot AS (
          SELECT CAST(SUM(chars) AS BIGINT) AS total_chars,
                 COUNT(*) AS n_langs,
                 CAST(SUM(chars) * {UNIMAX_BUDGET_PCT} // 100 AS BIGINT)
                   AS budget_chars
          FROM mass),
        caps AS (
          SELECT lang, chars, chars * {UNIMAX_EPOCHS} AS cap,
                 ROW_NUMBER() OVER (ORDER BY chars * {UNIMAX_EPOCHS}, lang)
                   AS rn,
                 SUM(chars * {UNIMAX_EPOCHS}) OVER (
                     ORDER BY chars * {UNIMAX_EPOCHS}, lang
                     ROWS UNBOUNDED PRECEDING) AS cum,
                 LEAD(chars * {UNIMAX_EPOCHS}) OVER (
                     ORDER BY chars * {UNIMAX_EPOCHS}, lang) AS cap_next
          FROM mass),
        cands AS (
          SELECT c.rn AS k, t.budget_chars - c.cum AS rem,
                 t.n_langs - c.rn AS nfree, c.cap AS cap_k, c.cap_next
          FROM caps c, tot t
          UNION ALL
          SELECT 0, t.budget_chars, t.n_langs, 0, c.cap
          FROM caps c, tot t WHERE c.rn = 1),
        level AS (
          SELECT k, rem, nfree FROM cands
          WHERE CASE WHEN nfree = 0 THEN rem >= 0
                     ELSE cap_k * nfree <= rem
                          AND cap_next * nfree > rem END)
        SELECT c.lang, c.chars, c.cap,
               CAST(CASE WHEN c.rn <= l.k THEN c.cap
                    ELSE l.rem // greatest(l.nfree, 1)
                         + CASE WHEN c.rn - l.k
                                     <= l.rem % greatest(l.nfree, 1)
                                THEN 1 ELSE 0 END END AS BIGINT)
                 AS alloc_chars,
               c.rn <= l.k AS saturated,
               CAST(CASE WHEN c.rn <= l.k THEN c.cap
                    ELSE l.rem // greatest(l.nfree, 1)
                         + CASE WHEN c.rn - l.k
                                     <= l.rem % greatest(l.nfree, 1)
                                THEN 1 ELSE 0 END END
                    * 1000000 // c.chars AS BIGINT) AS epochs_ppm,
               t.budget_chars
        FROM caps c, level l, tot t
        ORDER BY c.lang
    """


# --- Horvitz–Thompson estimation under Poisson-PPS (r13) --------------------
#
# The estimator that makes unequal-probability samples usable: sampling
# orders with inclusion probability proportional to their value
# (pi_i = min(1, n·s_i/S)) and then estimating population totals as
# sum(y_i/pi_i) over the sample. Deterministic "randomness" comes from
# the md5-derived uniform u_i in [0, 1e6) (include iff u_i/1e6 < pi_i,
# decided by DECIMAL/HUGEINT cross-multiplication — no float ever);
# each y_i/pi_i term is the scaled truncating division
# y_i·S·1000 DIV (n·s_i), applied per item identically in both engines.
#
# Scale shape: one scan computes S (1-row broadcast), a second map-only
# pass decides membership and accumulates per-stratum partial sums —
# no shuffle beyond the 5-group rollup. The sample never materializes.

HT_TARGET = 1000  # expected Poisson-PPS sample size


def sample_horvitz_thompson(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-priority HT estimates of order count and revenue cents from
    one deterministic Poisson-PPS draw (pi proportional to order
    value), next to the true totals."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("s"),
    )
    tot = o.agg(F.sum("s").alias("s_all"))
    drawn = o.crossJoin(F.broadcast(tot)).select(
        "o_orderpriority",
        "s",
        "s_all",
        F.expr(
            "CAST(conv(substring(md5(concat('ht:',"
            " CAST(o_orderkey AS STRING))), 1, 8), 16, 10) AS BIGINT)"
            " % 1000000"
        ).alias("u"),
    )
    incl = drawn.where(
        F.expr(
            "CAST(u AS DECIMAL(38,0)) * s_all"
            f" < CAST({HT_TARGET} AS DECIMAL(38,0)) * s * 1000000"
        )
    )
    per = incl.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        # y = 1 (count): 1/pi = max(1, S/(n·s)) per item, milli-scaled
        F.sum(
            F.expr(
                f"greatest(CAST(1000 AS BIGINT),"
                f" s_all * 1000 DIV (CAST({HT_TARGET} AS BIGINT) * s))"
            )
        )
        .cast("long")
        .alias("ht_count_x1000"),
        # y = s (cents): s/pi = max(s, S/n) per item, milli-scaled
        F.sum(
            F.expr(
                "greatest(CAST(s AS DECIMAL(38,0)) * 1000,"
                " CAST(s AS DECIMAL(38,0)) * s_all * 1000"
                f" DIV (CAST({HT_TARGET} AS BIGINT) * s))"
            )
        )
        .cast("long")
        .alias("ht_cents_x1000"),
    )
    truth = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("true_count"),
        F.sum("s").cast("long").alias("true_cents"),
    )
    return (
        truth.join(per, on="o_orderpriority", how="left")
        .select(
            "o_orderpriority",
            "true_count",
            "true_cents",
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
            F.coalesce("ht_count_x1000", F.lit(0)).alias(
                "ht_count_x1000"
            ),
            F.coalesce("ht_cents_x1000", F.lit(0)).alias(
                "ht_cents_x1000"
            ),
        )
        .orderBy("o_orderpriority")
    )


def _ht_sql() -> str:
    return f"""
        WITH o AS (
          SELECT o_orderkey, o_orderpriority,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS s
          FROM orders),
        tot AS (SELECT SUM(s) AS s_all FROM o),
        drawn AS (
          SELECT o_orderpriority, s, s_all,
                 CAST(('0x' || substring(md5('ht:'
                        || CAST(o_orderkey AS VARCHAR)), 1, 8))
                      AS BIGINT) % 1000000 AS u
          FROM o, tot),
        incl AS (
          SELECT * FROM drawn
          WHERE CAST(u AS HUGEINT) * s_all
                < CAST({HT_TARGET} AS HUGEINT) * s * 1000000),
        per AS (
          SELECT o_orderpriority,
                 COUNT(*) AS n_sampled,
                 SUM(greatest(CAST(1000 AS BIGINT),
                       s_all * 1000
                       // (CAST({HT_TARGET} AS BIGINT) * s)))
                   AS ht_count_x1000,
                 SUM(greatest(CAST(s AS HUGEINT) * 1000,
                       CAST(s AS HUGEINT) * s_all * 1000
                       // (CAST({HT_TARGET} AS HUGEINT) * s)))
                   AS ht_cents_x1000
          FROM incl GROUP BY o_orderpriority),
        truth AS (
          SELECT o_orderpriority,
                 COUNT(*) AS true_count, SUM(s) AS true_cents
          FROM o GROUP BY o_orderpriority)
        SELECT t.o_orderpriority,
               CAST(t.true_count AS BIGINT) AS true_count,
               CAST(t.true_cents AS BIGINT) AS true_cents,
               CAST(COALESCE(p.n_sampled, 0) AS BIGINT) AS n_sampled,
               CAST(COALESCE(p.ht_count_x1000, 0) AS BIGINT)
                 AS ht_count_x1000,
               CAST(COALESCE(p.ht_cents_x1000, 0) AS BIGINT)
                 AS ht_cents_x1000
        FROM truth t LEFT JOIN per p
          ON t.o_orderpriority = p.o_orderpriority
        ORDER BY t.o_orderpriority
        """


# --- Priority sampling (Duffield–Lund–Thorup, r13) --------------------------
#
# The weighted-sample-once, estimate-any-subset-later design (DLT,
# JACM 2007): each item draws priority q = w/u (u uniform), the sample
# is the top-k priorities, tau is the (k+1)-th, and any subset's weight
# sum is estimated by sum(max(w, tau)) over sampled subset members —
# near-optimal variance among all k-sample schemes. Deterministic
# md5-uniform u in (0, 1e6]; q = w·1e6 DIV u is exact (one truncating
# division, non-negative), so both engines agree on the sample, the
# threshold, and every estimate to the bit.
#
# Scale shape: one map computes priorities; top-(k+1) is declared
# bounded — orderBy().limit(K+1) compiles to TakeOrderedAndProject
# (per-partition heaps + driver merge of K+1 rows) and the rank window
# runs over only those survivors; the estimator is a 5-group rollup of
# the k sampled rows.

PRIORITY_K = 300  # sample size


def sample_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One DLT priority sample of orders (weight = order cents), then
    per-priority-class subset-sum estimates vs truth: (class, n_pop,
    true_cents, n_sampled, est_cents)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("w"),
        F.expr(
            "CAST(conv(substring(md5(concat('pr:',"
            " CAST(o_orderkey AS STRING))), 1, 8), 16, 10) AS BIGINT)"
            " % 1000000 + 1"
        ).alias("u"),
    )
    pri = o.select(
        "o_orderkey",
        "o_orderpriority",
        "w",
        F.expr("w * 1000000 DIV u").alias("q"),
    )
    # Declared-bounded top-(k+1) (DSIR pattern): limit to the K+1 rows
    # the sample + threshold need, THEN rank — TakeOrderedAndProject,
    # never a global window over the full orders frame.
    order = [F.desc("q"), F.asc("o_orderkey")]
    wq = Window.orderBy(*order)
    ranked = (
        pri.orderBy(*order)
        .limit(PRIORITY_K + 1)
        .withColumn("rk", F.row_number().over(wq))
    )
    tau = ranked.where(F.col("rk") == PRIORITY_K + 1).select(
        F.col("q").alias("tau")
    )
    sampled = (
        ranked.where(F.col("rk") <= PRIORITY_K)
        .crossJoin(F.broadcast(tau))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sampled"),
            F.sum(F.expr("greatest(w, tau)")).cast("long").alias(
                "est_cents"
            ),
        )
    )
    truth = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_pop"),
        F.sum("w").cast("long").alias("true_cents"),
    )
    return (
        truth.join(sampled, "o_orderpriority", "left")
        .select(
            "o_orderpriority",
            "n_pop",
            "true_cents",
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
            F.coalesce("est_cents", F.lit(0)).alias("est_cents"),
        )
        .orderBy("o_orderpriority")
    )


def _priority_sql() -> str:
    return f"""
        WITH o AS (
          SELECT o_orderkey, o_orderpriority,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS w,
                 CAST(('0x' || substring(md5('pr:'
                        || CAST(o_orderkey AS VARCHAR)), 1, 8))
                      AS BIGINT) % 1000000 + 1 AS u
          FROM orders),
        pri AS (
          SELECT *, w * 1000000 // u AS q FROM o),
        ranked AS (
          SELECT *, ROW_NUMBER()
                      OVER (ORDER BY q DESC, o_orderkey) AS rk
          FROM pri),
        tau AS (
          SELECT q AS tau FROM ranked WHERE rk = {PRIORITY_K + 1}),
        sampled AS (
          SELECT o_orderpriority,
                 COUNT(*) AS n_sampled,
                 SUM(greatest(w, tau)) AS est_cents
          FROM ranked, tau WHERE rk <= {PRIORITY_K}
          GROUP BY o_orderpriority),
        truth AS (
          SELECT o_orderpriority, COUNT(*) AS n_pop,
                 SUM(w) AS true_cents
          FROM o GROUP BY o_orderpriority)
        SELECT t.o_orderpriority,
               CAST(t.n_pop AS BIGINT) AS n_pop,
               CAST(t.true_cents AS BIGINT) AS true_cents,
               CAST(COALESCE(s.n_sampled, 0) AS BIGINT) AS n_sampled,
               CAST(COALESCE(s.est_cents, 0) AS BIGINT) AS est_cents
        FROM truth t LEFT JOIN sampled s
          ON t.o_orderpriority = s.o_orderpriority
        ORDER BY t.o_orderpriority
        """


# --- Neyman (optimal) stratified allocation (r13) ---------------------------
#
# Proportional allocation (n_h ∝ N_h) wastes budget on homogeneous
# strata; Neyman allocation n_h ∝ N_h·sigma_h minimizes the estimator
# variance for a fixed total n. Exactness route (this was blocked in
# r12 on BIGINT overflow of the raw second moment): the per-stratum
# sums Σx and Σx² accumulate in DECIMAL(38,0)/HUGEINT, the weight
# N_h·sigma_h is the guarded integer sqrt of the exact variance
# numerator N_h·Σx² − (Σx)² (= N_h²·Var_pop, so isqrt gives N_h·sigma
# directly — no division, no (N-1) correction to round), and the
# integer allocation uses largest-remainder so the parts sum to n
# EXACTLY. The float sqrt only seeds the guess; the ±1 guard compares
# squares in DECIMAL/HUGEINT, so the result is the true floor sqrt.
#
# Scale shape: one partial+final aggregate to 5 stratum rows, then
# S-row window arithmetic. The 100 TB cost is the single scan.

NEYMAN_N = 10_000  # total sample budget to allocate


def sample_neyman_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact Neyman allocation of a 10k-row sample budget across the
    five order-priority strata (weight = N_h·sigma_h via Newton-refined
    guarded integer sqrt — exact isqrt over the whole DECIMAL(38)/
    HUGEINT domain, not just where the double seed is within 1),
    next to proportional allocation — both
    largest-remainder rounded to sum to the budget exactly."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("x"),
    )
    per = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0))")).alias("s1"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("s2"),
    )
    # var_num = N·Σx² − (Σx)² = N²·Var_pop ; weight = isqrt(var_num)
    w = per.select(
        "o_orderpriority",
        "n_h",
        F.expr("CAST(n_h AS DECIMAL(38,0)) * s2 - s1 * s1").alias(
            "var_num"
        ),
    ).select(
        "o_orderpriority",
        "n_h",
        "var_num",
        F.expr(
            "CAST(FLOOR(SQRT(CAST(var_num AS DOUBLE))) AS BIGINT)"
        ).alias("s0"),
    ).select(
        "o_orderpriority",
        "n_h",
        "var_num",
        # One integer Newton step: the double seed is off by up to
        # sqrt(v)*~3.4e-16 (>1 once sqrt(v) > ~2.9e15), but a single
        # s -> (s + v DIV s) DIV 2 refinement drops the error to
        # e^2/(2*sqrt(v)) < 1 across the whole DECIMAL(38) domain
        # (exact for var_num < ~8.5e37, where the DIV quotient still
        # fits BIGINT), so the +/-1 guard below is then exact.
        F.expr(
            "CASE WHEN s0 <= 0 THEN 0"
            "     ELSE (CAST(s0 AS DECIMAL(38,0))"
            "           + (var_num DIV s0)) DIV 2 END"
        ).alias("s0n"),
    ).select(
        "o_orderpriority",
        "n_h",
        F.expr(
            "CASE WHEN CAST(s0n + 1 AS DECIMAL(38,0)) * (s0n + 1)"
            "          <= var_num THEN s0n + 1"
            "     WHEN CAST(s0n AS DECIMAL(38,0)) * s0n > var_num"
            "          THEN s0n - 1"
            "     ELSE s0n END"
        ).alias("weight"),
    )
    totals = w.agg(
        F.sum("weight").alias("w_all"), F.sum("n_h").alias("n_all")
    )
    base = w.crossJoin(F.broadcast(totals)).select(
        "o_orderpriority",
        "n_h",
        "weight",
        F.expr(f"weight * {NEYMAN_N} DIV w_all").alias("ney_floor"),
        F.expr(f"weight * {NEYMAN_N} % w_all").alias("ney_rem"),
        F.expr(f"n_h * {NEYMAN_N} DIV n_all").alias("prop_floor"),
        F.expr(f"n_h * {NEYMAN_N} % n_all").alias("prop_rem"),
        F.expr(f"{NEYMAN_N} - SUM(weight * {NEYMAN_N} DIV w_all)"
               " OVER ()").alias("ney_left"),
        F.expr(f"{NEYMAN_N} - SUM(n_h * {NEYMAN_N} DIV n_all)"
               " OVER ()").alias("prop_left"),
    )
    wn = Window.orderBy(F.desc("ney_rem"), F.asc("o_orderpriority"))
    wp = Window.orderBy(F.desc("prop_rem"), F.asc("o_orderpriority"))
    return (
        base.withColumn("ney_rank", F.row_number().over(wn))
        .withColumn("prop_rank", F.row_number().over(wp))
        .select(
            "o_orderpriority",
            "n_h",
            "weight",
            F.expr(
                "ney_floor + CASE WHEN ney_rank <= ney_left"
                " THEN 1 ELSE 0 END"
            )
            .cast("long")
            .alias("n_neyman"),
            F.expr(
                "prop_floor + CASE WHEN prop_rank <= prop_left"
                " THEN 1 ELSE 0 END"
            )
            .cast("long")
            .alias("n_proportional"),
        )
        .orderBy("o_orderpriority")
    )


def _neyman_sql() -> str:
    return f"""
        WITH o AS (
          SELECT o_orderpriority,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS x
          FROM orders),
        per AS (
          SELECT o_orderpriority,
                 COUNT(*) AS n_h,
                 SUM(CAST(x AS HUGEINT)) AS s1,
                 SUM(CAST(x AS HUGEINT) * x) AS s2
          FROM o GROUP BY o_orderpriority),
        v AS (
          SELECT o_orderpriority, n_h,
                 CAST(n_h AS HUGEINT) * s2 - s1 * s1 AS var_num
          FROM per),
        g AS (
          SELECT *, CAST(FLOOR(SQRT(CAST(var_num AS DOUBLE)))
                         AS BIGINT) AS s0
          FROM v),
        gn AS (
          SELECT *, CASE WHEN s0 <= 0 THEN 0
                         ELSE (CAST(s0 AS HUGEINT) + var_num // s0)
                              // 2 END AS s0n
          FROM g),
        w AS (
          SELECT o_orderpriority, n_h,
                 CASE WHEN CAST(s0n + 1 AS HUGEINT) * (s0n + 1)
                           <= var_num THEN s0n + 1
                      WHEN CAST(s0n AS HUGEINT) * s0n > var_num
                           THEN s0n - 1
                      ELSE s0n END AS weight
          FROM gn),
        t AS (SELECT SUM(weight) AS w_all, SUM(n_h) AS n_all FROM w),
        base AS (
          SELECT o_orderpriority, n_h, weight,
                 weight * {NEYMAN_N} // w_all AS ney_floor,
                 weight * {NEYMAN_N} % w_all AS ney_rem,
                 n_h * {NEYMAN_N} // n_all AS prop_floor,
                 n_h * {NEYMAN_N} % n_all AS prop_rem,
                 {NEYMAN_N} - SUM(weight * {NEYMAN_N} // w_all)
                   OVER () AS ney_left,
                 {NEYMAN_N} - SUM(n_h * {NEYMAN_N} // n_all)
                   OVER () AS prop_left
          FROM w, t),
        rk AS (
          SELECT *,
                 ROW_NUMBER() OVER (ORDER BY ney_rem DESC,
                                    o_orderpriority) AS ney_rank,
                 ROW_NUMBER() OVER (ORDER BY prop_rem DESC,
                                    o_orderpriority) AS prop_rank
          FROM base)
        SELECT o_orderpriority,
               CAST(n_h AS BIGINT) AS n_h,
               CAST(weight AS BIGINT) AS weight,
               CAST(ney_floor + CASE WHEN ney_rank <= ney_left
                                     THEN 1 ELSE 0 END AS BIGINT)
                 AS n_neyman,
               CAST(prop_floor + CASE WHEN prop_rank <= prop_left
                                      THEN 1 ELSE 0 END AS BIGINT)
                 AS n_proportional
        FROM rk ORDER BY o_orderpriority
        """


QUERIES: list[QueryDef] = [
    QueryDef(
        "sample_horvitz_thompson",
        sample_horvitz_thompson,
        _ht_sql(),
        tags=("extension", "sampling", "stats"),
        description="Horvitz-Thompson totals under a deterministic "
        "Poisson-PPS draw (pi proportional to order value, md5-uniform "
        "inclusion by integer cross-multiplication): per-priority "
        "count/revenue estimates via exact per-item y/pi terms, next "
        "to the true totals.",
    ),
    QueryDef(
        "sample_priority_topk",
        sample_priority_topk,
        _priority_sql(),
        tags=("extension", "sampling", "stats", "sketch"),
        description="Duffield-Lund-Thorup priority sampling: one "
        "deterministic top-k weighted sample (q = w/u, md5-uniform u), "
        "tau-thresholded subset-sum estimates per priority class vs "
        "truth — sample once, estimate any subset later.",
    ),
    QueryDef(
        "sample_neyman_allocation",
        sample_neyman_allocation,
        _neyman_sql(),
        tags=("extension", "sampling", "stats"),
        description="Neyman optimal stratified allocation with exact "
        "integers: DECIMAL/HUGEINT second moments (the r12 BIGINT "
        "overflow, fixed), guarded integer sqrt of N^2*Var for "
        "N_h*sigma_h weights, largest-remainder rounding summing to "
        "the budget exactly, proportional allocation alongside.",
    ),
    QueryDef(
        "sample_unimax_allocation",
        sample_unimax_allocation,
        _unimax_sql(),
        tags=("extension", "sampling", "pipeline"),
        description="UniMax epoch-capped uniform language budget: exact "
        "integer water-filling in closed form over the per-language "
        "capacity frame (saturated langs take N epochs, the rest an "
        "equal level, remainder spread deterministically; sums to the "
        "budget exactly).",
    ),
    QueryDef(
        "sample_doremi_weights",
        sample_doremi_weights,
        _doremi_sql(),
        tags=("extension", "sampling", "pipeline", "bench"),
        description="DoReMi-style domain reweighting: one exact-rational "
        "hedge update (11/10)^rank over per-source lexical hardness, "
        "normalized mixture weights + token allocations in integer ppm.",
    ),
    QueryDef(
        "sample_pps_systematic",
        sample_pps_systematic,
        f"""
        WITH docs AS (
          SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w
          FROM documents),
        summed AS (
          SELECT doc_id, source, w,
                 SUM(w) OVER (ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
          FROM docs),
        tot AS (
          SELECT SUM(w) AS total,
                 GREATEST(SUM(w) // {PPS_TARGET}, 1) AS step
          FROM docs),
        hits AS (
          SELECT s.source, s.w,
                 s.cum // t.step - (s.cum - s.w) // t.step AS n_hits,
                 t.total
          FROM summed s, tot t)
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(w) AS BIGINT) AS source_chars,
               CAST(SUM(n_hits) AS BIGINT) AS n_draws,
               CAST(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_drawn_docs,
               CAST(SUM(CASE WHEN n_hits > 0 THEN w ELSE 0 END) AS BIGINT)
                 AS drawn_chars,
               CAST(MAX(total) AS BIGINT) AS total_chars,
               CAST(SUM(w) * 1000000 // MAX(total) AS BIGINT)
                 AS weight_share_ppm
        FROM hits GROUP BY source ORDER BY source
        """,
        tags=("extension", "sampling", "pipeline"),
        description="Deterministic probability-proportional-to-size "
        "systematic sampling over running char-count offsets (the "
        "distributed exact prefix sum): per-source draw ledger with "
        "multi-hit large documents — the weighted audit-sample design.",
    ),
    QueryDef(
        "sample_kfold_balance",
        sample_kfold_balance,
        f"""
        WITH d AS (
          SELECT doc_id, lang,
                 {sql_lehmer_hash('doc_id')} % {KFOLD_K} AS fold
          FROM documents),
        per AS (
          SELECT fold, lang, COUNT(*) AS n_docs
          FROM d GROUP BY fold, lang),
        ft AS (SELECT fold, SUM(n_docs) AS fold_total FROM per GROUP BY fold),
        lt AS (SELECT lang, SUM(n_docs) AS lang_total FROM per GROUP BY lang),
        tot AS (SELECT SUM(n_docs) AS n_total FROM per)
        SELECT CAST(per.fold AS BIGINT) AS fold, per.lang,
               CAST(per.n_docs AS BIGINT) AS n_docs,
               CAST(per.n_docs * 1000000 // ft.fold_total AS BIGINT)
                 AS fold_share_ppm,
               CAST(lt.lang_total * 1000000 // tot.n_total AS BIGINT)
                 AS corpus_share_ppm,
               CAST(abs(per.n_docs * 1000000 // ft.fold_total
                        - lt.lang_total * 1000000 // tot.n_total)
                 AS BIGINT) AS drift_ppm
        FROM per
        JOIN ft USING (fold)
        JOIN lt USING (lang)
        CROSS JOIN tot
        ORDER BY fold, lang
        """,
        tags=("extension", "sampling", "pipeline"),
        description="Deterministic k-fold assignment (lehmer mod K) "
        "with a per-fold language-balance audit in exact ppm — fold "
        "share vs corpus share drift.",
    ),
    QueryDef(
        "sample_split_leakage",
        sample_split_leakage,
        f"""
        {_MINHASH_CAND}
        , tag AS (
          SELECT doc_id,
                 CASE WHEN {_H} % 100 < 80 THEN 'train'
                      WHEN {_H} % 100 < 90 THEN 'val'
                      ELSE 'test' END AS row_split,
                 CASE WHEN grp_b < 80 THEN 'train'
                      WHEN grp_b < 90 THEN 'val'
                      ELSE 'test' END AS grp_split
          FROM (SELECT doc_id,
                       CAST(('0x' || substring(md5(source), 1, 8))
                            AS BIGINT) % 100 AS grp_b
                FROM corpus)),
        pairs AS (
          SELECT doc_a, doc_b FROM cand WHERE est_jaccard >= 0.5),
        agg AS (
          SELECT COUNT(*) AS n_pairs,
                 CAST(SUM(CASE WHEN ta.row_split <> tb.row_split
                               THEN 1 ELSE 0 END) AS BIGINT) AS row_cross,
                 CAST(SUM(CASE WHEN ta.grp_split <> tb.grp_split
                               THEN 1 ELSE 0 END) AS BIGINT) AS grp_cross
          FROM pairs
          JOIN tag ta ON ta.doc_id = pairs.doc_a
          JOIN tag tb ON tb.doc_id = pairs.doc_b)
        SELECT policy, n_pairs, n_cross_split,
               n_cross_split * 1000000 // n_pairs AS leak_ppm
        FROM (
          SELECT 'group_disjoint' AS policy, n_pairs, grp_cross
                   AS n_cross_split FROM agg
          UNION ALL
          SELECT 'row_hash', n_pairs, row_cross FROM agg)
        ORDER BY policy
        """,
        tags=("extension", "sampling", "dedup", "pipeline"),
        description="Near-dup leakage audit: LSH pairs straddling the "
        "train/eval boundary under row-hash vs group-disjoint splits "
        "(the group split's leak count is structurally zero).",
    ),

    QueryDef(
        "sample_dsir_importance",
        sample_dsir_importance,
        f"""
        WITH occ AS (
          SELECT doc_id, lang, source,
                 CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT)
                   % {DSIR_BUCKETS} AS b
          FROM (SELECT doc_id, lang, source,
                       unnest(string_split(text, ' ')) AS tok
                FROM documents)),
        doc_b AS (
          SELECT doc_id, lang, source, b, COUNT(*) AS cnt
          FROM occ GROUP BY doc_id, lang, source, b),
        tb AS (SELECT b, COUNT(*) AS t_b FROM occ
               WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY b),
        rb AS (SELECT b, COUNT(*) AS r_b FROM occ
               WHERE lang <> '{DSIR_TARGET_LANG}' GROUP BY b),
        tot AS (
          SELECT (SELECT COUNT(*) FROM occ
                  WHERE lang = '{DSIR_TARGET_LANG}') AS t_total,
                 (SELECT COUNT(*) FROM occ
                  WHERE lang <> '{DSIR_TARGET_LANG}') AS r_total),
        tabs AS (
          SELECT g.b,
                 {_dsir_nll_sql("tot.t_total + " + str(DSIR_BUCKETS),
                                "COALESCE(tb.t_b, 0) + 1")} AS nll_p,
                 {_dsir_nll_sql("tot.r_total + " + str(DSIR_BUCKETS),
                                "COALESCE(rb.r_b, 0) + 1")} AS nll_q
          FROM range(0, {DSIR_BUCKETS}) g(b)
          LEFT JOIN tb ON tb.b = g.b
          LEFT JOIN rb ON rb.b = g.b
          CROSS JOIN tot),
        weighted AS (
          SELECT d.doc_id, d.lang, d.source,
                 CAST(SUM(d.cnt) AS BIGINT) AS n_tokens,
                 CAST(SUM(d.cnt * (t.nll_q - t.nll_p)) AS BIGINT)
                   AS weight_mbits
          FROM doc_b d JOIN tabs t USING (b)
          WHERE d.lang <> '{DSIR_TARGET_LANG}'
          GROUP BY d.doc_id, d.lang, d.source)
        SELECT doc_id, lang, source, n_tokens, weight_mbits, rank FROM (
          SELECT *, ROW_NUMBER() OVER (ORDER BY weight_mbits DESC, doc_id)
                   AS rank
          FROM weighted)
        WHERE rank <= {DSIR_TOP} ORDER BY rank
        """,
        tags=("extension", "sampling", "pipeline"),
        description="DSIR importance resampling: hashed-unigram bucket "
        "LMs for target vs raw pool, exact integer-millibit log ratio "
        "weights, deterministic top-k selection.",
    ),
    QueryDef(
        "sample_temperature_mix",
        sample_temperature_mix,
        f"""
        WITH s AS (
          SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
        w AS (
          SELECT source, n_docs,
                 CAST(floor(sqrt(n_docs)) AS BIGINT) AS weight FROM s),
        x AS (
          SELECT source, n_docs, weight,
                 CAST(weight * 1000000 // SUM(weight) OVER () AS BIGINT)
                   AS share_ppm,
                 CAST(weight * {MIX_TEMP_BUDGET} // SUM(weight) OVER ()
                   AS BIGINT) AS base,
                 CAST((weight * {MIX_TEMP_BUDGET}) % SUM(weight) OVER ()
                   AS BIGINT) AS rem
          FROM w),
        r AS (
          SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk,
                 {MIX_TEMP_BUDGET} - SUM(base) OVER () AS deficit
          FROM x)
        SELECT source, n_docs, weight, share_ppm,
               CAST(base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END
                 AS BIGINT) AS alloc_docs
        FROM r ORDER BY source
        """,
        tags=("extension", "sampling", "pipeline"),
        description="Temperature-scaled (n^1/T) source mixing with exact "
        "largest-remainder apportionment — allocations sum to the budget.",
    ),
    QueryDef(
        "sample_temporal_split",
        sample_temporal_split,
        """
        WITH b AS (
          SELECT MIN(epoch_ns(ts)) AS lo, MAX(epoch_ns(ts)) AS hi FROM events),
        tagged AS (
          SELECT CASE WHEN epoch_ns(ts) < (SELECT lo + (hi - lo) * 8 // 10
                                           FROM b)
                      THEN 'train' ELSE 'eval' END AS split,
                 user_id, epoch_ns(ts) AS ts_ns
          FROM events)
        SELECT split, COUNT(*) AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               MIN(ts_ns) AS min_ts_ns, MAX(ts_ns) AS max_ts_ns
        FROM tagged GROUP BY split ORDER BY split
        """,
        tags=("extension", "sampling", "pipeline"),
        description="Leakage-safe temporal train/eval split with an exact "
        "integer data-derived cutoff.",
    ),
    QueryDef(
        "sample_token_budget_mix",
        sample_token_budget_mix,
        f"""
        WITH tot AS (
          SELECT source, CAST(SUM(n_chars) AS BIGINT) AS total_chars
          FROM documents GROUP BY source),
        b AS (SELECT MIN(total_chars) AS budget_chars FROM tot),
        rates AS (
          SELECT source, total_chars,
                 CAST(budget_chars * 1000000 // total_chars AS BIGINT)
                   AS rate_ppm
          FROM tot CROSS JOIN b)
        SELECT d.source, COUNT(*) AS n_docs_kept,
               CAST(SUM(d.n_chars) AS BIGINT) AS kept_chars,
               CAST(MAX(r.total_chars) AS BIGINT) AS total_chars,
               CAST(MAX(r.rate_ppm) AS BIGINT) AS rate_ppm
        FROM documents d JOIN rates r USING (source)
        WHERE {_H} % 1000000 < r.rate_ppm
        GROUP BY d.source ORDER BY d.source
        """,
        tags=("extension", "sampling", "pipeline"),
        description="Per-source token-budget mixing: deterministic rate "
        "sampling to a uniform char cap.",
    ),
    QueryDef(
        "sample_weighted_by_length",
        sample_weighted_by_length,
        f"""
        SELECT lang, COUNT(*) AS n_kept,
               CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
               CAST(MIN(n_chars) AS BIGINT) AS min_chars
        FROM documents
        WHERE {_H} % 1000 < LEAST(n_chars, 500)
        GROUP BY lang ORDER BY lang
        """,
        tags=("extension", "sampling", "pipeline"),
        description="Deterministic weighted Bernoulli (p ∝ doc length).",
    ),
    QueryDef(
        "sample_split_counts",
        sample_split_counts,
        f"""
        SELECT CASE WHEN {_H} % 100 < 80 THEN 'train'
                    WHEN {_H} % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
        FROM documents GROUP BY split ORDER BY split
        """,
        tags=("extension", "sampling", "pipeline", "bench"),
        description="Deterministic 80/10/10 train/val/test split stats.",
    ),
    QueryDef(
        "sample_stratified_by_lang",
        sample_stratified_by_lang,
        f"""
        SELECT lang, COUNT(*) AS n_sampled,
               CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
        FROM documents
        WHERE {_H} % 1000 < CASE WHEN lang = 'en' THEN 100 ELSE 300 END
        GROUP BY lang ORDER BY lang
        """,
        tags=("extension", "sampling", "pipeline"),
        description="Per-language rate sampling (corpus rebalancing).",
    ),
    QueryDef(
        "sample_per_source_topk",
        sample_per_source_topk,
        f"""
        SELECT source, doc_id, CAST(rn AS BIGINT) AS sample_rank
        FROM (SELECT source, doc_id,
                     ROW_NUMBER() OVER (PARTITION BY source
                                        ORDER BY {_H}, doc_id) AS rn
              FROM documents)
        WHERE rn <= 5 ORDER BY source, sample_rank
        """,
        tags=("extension", "sampling", "pipeline"),
        description="Deterministic k-per-group sample via hash ranking.",
    ),
    QueryDef(
        "sample_global_shuffle_shards",
        sample_global_shuffle_shards,
        f"""
        WITH sharded AS (
          SELECT ({_H}) % 8 AS shard_id, doc_id, n_chars,
                 ROW_NUMBER() OVER (PARTITION BY ({_H}) % 8
                                    ORDER BY {_H}, doc_id) AS pos
          FROM documents)
        SELECT shard_id, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS shard_chars,
               MIN(CASE WHEN pos = 1 THEN doc_id END) AS first_doc,
               CAST(SUM(pos * doc_id) AS BIGINT) AS order_checksum
        FROM sharded GROUP BY shard_id ORDER BY shard_id
        """,
        tags=("extension", "sampling", "pipeline", "bench"),
        description="Deterministic global shuffle into training shards: "
        "hash-ordered, hash-sharded, order pinned by checksum.",
    ),
    QueryDef(
        "sample_group_disjoint_split",
        sample_group_disjoint_split,
        """
        WITH per_source AS (
          SELECT source, COUNT(*) AS n_docs,
                 CAST(SUM(n_chars) AS BIGINT) AS total_chars
          FROM documents GROUP BY source),
        tagged AS (
          SELECT *,
                 CASE
                   WHEN ('0x' || substring(md5(source), 1, 8))::BIGINT
                        % 100 < 80 THEN 'train'
                   WHEN ('0x' || substring(md5(source), 1, 8))::BIGINT
                        % 100 < 90 THEN 'val'
                   ELSE 'test'
                 END AS split
          FROM per_source)
        SELECT split, COUNT(*) AS n_sources,
               CAST(SUM(n_docs) AS BIGINT) AS n_docs,
               CAST(SUM(total_chars) AS BIGINT) AS total_chars
        FROM tagged GROUP BY split ORDER BY split
        """,
        tags=("extension", "sampling", "pipeline"),
        description="Leakage-safe group-disjoint 80/10/10 split: membership "
        "is a function of the provenance group key, never the row.",
    ),
    QueryDef(
        "sample_split_drift",
        sample_split_drift,
        """
        WITH cells AS (
          SELECT CASE
                   WHEN ('0x' || substring(md5(source), 1, 8))::BIGINT
                        % 100 < 80 THEN 'train'
                   WHEN ('0x' || substring(md5(source), 1, 8))::BIGINT
                        % 100 < 90 THEN 'val'
                   ELSE 'test'
                 END AS split,
                 lang, COUNT(*) AS n
          FROM documents GROUP BY 1, 2),
        shares AS (
          SELECT *, n * 1000000 // SUM(n) OVER (PARTITION BY split)
                   AS share_ppm
          FROM cells),
        pivoted AS (
          SELECT lang, CAST(SUM(n) AS BIGINT) AS n_docs,
                 CAST(COALESCE(MAX(CASE WHEN split = 'train'
                        THEN share_ppm END), 0) AS BIGINT) AS train_ppm,
                 CAST(COALESCE(MAX(CASE WHEN split = 'val'
                        THEN share_ppm END), 0) AS BIGINT) AS val_ppm,
                 CAST(COALESCE(MAX(CASE WHEN split = 'test'
                        THEN share_ppm END), 0) AS BIGINT) AS test_ppm
          FROM shares GROUP BY lang)
        SELECT lang, n_docs, train_ppm, val_ppm, test_ppm,
               CAST(greatest(train_ppm, val_ppm, test_ppm)
                    - least(train_ppm, val_ppm, test_ppm) AS BIGINT)
                 AS drift_ppm
        FROM pivoted ORDER BY lang
        """,
        tags=("extension", "sampling", "pipeline", "quality"),
        description="Per-language split-share drift report (exact ppm): "
        "catches distribution skew a group-disjoint split can introduce.",
    ),
]
