"""Sequential pure-Python reference for the curation capstone
(pipeline_curation_e2e): a THIRD independent implementation — besides
the Spark plan and the DuckDB oracle — of every stage's arithmetic
(gopher ppm gates, md5 classifier, keep-first dedup, 32-perm MinHash
banding, 13-gram decontamination, isqrt/Hamilton mixing, packing).
Catches errors the Spark↔DuckDB twin pair could share (both are
generated from the same constants by the same author)."""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import pyarrow.parquet as pq

from lakesail_hdfs_deltalake_guide_spark.functions.hashing import (
    MINHASH_PRIME,
    minhash_coefficients,
)
from lakesail_hdfs_deltalake_guide_spark.operators.chunking import PACK_WINDOW
from lakesail_hdfs_deltalake_guide_spark.operators.cleaning import (
    CLS_BUCKETS,
    CLS_WEIGHT_SPAN,
    GOPHER_DUP3_MAX_PPM,
    GOPHER_TOP2_MAX_PPM,
)
from lakesail_hdfs_deltalake_guide_spark.operators.dedup import (
    CONTAM_K,
    NUM_BANDS,
    NUM_PERM,
    ROWS_PER_BAND,
)
from lakesail_hdfs_deltalake_guide_spark.pipelines import (
    CURATION_BENCH_DOCS,
    CURATION_MIX_DEN,
    CURATION_MIX_NUM,
    CURATION_SHINGLE_K,
    pipeline_curation_e2e,
)


def _md5_prefix(s: str, n: int) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:n], 16)


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero division (Spark DIV / DuckDB // semantics;
    Python's // floors, which differs on negative numerators)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def _shingles(toks: list[str], k: int) -> list[str]:
    if len(toks) < k:
        return [" ".join(toks)]
    return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]


_WEIGHTS = [
    _md5_prefix(f"w:{b}", 8) % CLS_WEIGHT_SPAN - (CLS_WEIGHT_SPAN - 1) // 2
    for b in range(CLS_BUCKETS)
]


def _weight(token: str) -> int:
    return _WEIGHTS[_md5_prefix("q:" + token, 8) % CLS_BUCKETS]


def _reference_quality_ok(text: str) -> bool:
    """Stage 1: gopher repetition rules + hashed classifier."""
    t = text.split(" ")
    n_chars = sum(len(w) for w in t)
    bi = Counter(zip(t, t[1:]))
    if bi:
        (w1, w2), cnt = min(
            bi.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        top2 = cnt * (len(w1) + len(w2))
    else:
        top2 = 0
    tri = Counter(zip(t, t[1:], t[2:]))
    dup3 = sum(
        (c - 1) * (len(a) + len(b) + len(g))
        for (a, b, g), c in tri.items()
        if c >= 2
    )
    w_sum = sum(_weight(w) for w in t)
    return (
        top2 * 1_000_000 // n_chars <= GOPHER_TOP2_MAX_PPM
        and dup3 * 1_000_000 // n_chars <= GOPHER_DUP3_MAX_PPM
        and _tdiv(w_sum, len(t)) >= 0
    )


def _reference_ledger(sf_dir: str) -> list[tuple]:
    docs = sorted(
        pq.read_table(f"{sf_dir}/documents.parquet").to_pylist(),
        key=lambda r: r["doc_id"],
    )
    corpus = [d for d in docs if d["doc_id"] >= CURATION_BENCH_DOCS]
    bench = [d for d in docs if d["doc_id"] < CURATION_BENCH_DOCS]
    toks = {d["doc_id"]: d["text"].split(" ") for d in docs}
    ntok = {d["doc_id"]: len(toks[d["doc_id"]]) for d in docs}

    # stage 1: gopher repetition + classifier
    s1 = [d for d in corpus if _reference_quality_ok(d["text"])]

    # stage 2: exact keep-first per md5(text)
    first: dict[str, int] = {}
    for d in s1:
        h = hashlib.md5(d["text"].encode()).hexdigest()
        first.setdefault(h, d["doc_id"])
    keep2 = set(first.values())
    s2 = [d for d in s1 if d["doc_id"] in keep2]

    # stage 3: MinHash-LSH, 5-token shingles, est >= 0.5 drops doc_b
    coeffs = minhash_coefficients(NUM_PERM, 42)
    sigs: dict[int, list[int]] = {}
    for d in s2:
        hs = {
            _md5_prefix(s, 8) % MINHASH_PRIME
            for s in _shingles(toks[d["doc_id"]], CURATION_SHINGLE_K)
        }
        sigs[d["doc_id"]] = [
            min((a * x + b) % MINHASH_PRIME for x in hs) for a, b in coeffs
        ]
    buckets: dict[tuple, list[int]] = {}
    for did, sig in sigs.items():
        for b in range(NUM_BANDS):
            cat = "_".join(
                str(sig[b * ROWS_PER_BAND + r]) for r in range(ROWS_PER_BAND)
            )
            buckets.setdefault((b, _md5_prefix(cat, 15)), []).append(did)
    drop3 = set()
    pairs = set()
    for mem in buckets.values():
        for i, a in enumerate(sorted(mem)):
            for b in sorted(mem)[i + 1 :]:
                pairs.add((a, b))
    for a, b in pairs:
        agree = sum(x == y for x, y in zip(sigs[a], sigs[b]))
        if agree / NUM_PERM >= 0.5:
            drop3.add(b)
    s3 = [d for d in s2 if d["doc_id"] not in drop3]

    # stage 4: 13-gram decontamination vs the benchmark docs
    bgrams = set()
    for d in bench:
        t = toks[d["doc_id"]]
        if len(t) >= CONTAM_K:
            bgrams.update(
                " ".join(t[i : i + CONTAM_K])
                for i in range(len(t) - CONTAM_K + 1)
            )
    s4 = []
    for d in s3:
        t = toks[d["doc_id"]]
        grams = (
            {
                " ".join(t[i : i + CONTAM_K])
                for i in range(len(t) - CONTAM_K + 1)
            }
            if len(t) >= CONTAM_K
            else set()
        )
        if not (grams & bgrams):
            s4.append(d)

    # stage 5: temperature mixing, applied (isqrt weights + Hamilton)
    per_src = Counter(d["source"] for d in s4)
    budget = CURATION_MIX_NUM * len(s4) // CURATION_MIX_DEN
    ws = {s: math.isqrt(n) for s, n in per_src.items()}
    wsum = sum(ws.values())
    alloc = {}
    if wsum:
        base = {s: w * budget // wsum for s, w in ws.items()}
        rem = {s: (w * budget) % wsum for s, w in ws.items()}
        deficit = budget - sum(base.values())
        order = sorted(ws, key=lambda s: (-rem[s], s))
        alloc = {
            s: base[s] + (1 if i < deficit else 0)
            for i, s in enumerate(order)
        }
    seen: Counter = Counter()
    s5 = []
    for d in s4:  # already doc_id-sorted
        seen[d["source"]] += 1
        if seen[d["source"]] <= alloc.get(d["source"], 0):
            s5.append(d)

    # ledger
    stages = [
        ("raw", corpus),
        ("quality_gate", s1),
        ("exact_dedup", s2),
        ("minhash_neardup", s3),
        ("decontaminate", s4),
        ("mix_sample", s5),
    ]
    out = []
    prev = None
    for i, (name, rows) in enumerate(stages):
        nd = len(rows)
        nt = sum(ntok[d["doc_id"]] for d in rows)
        if prev is None:
            out.append((i, name, nd, nt, 0, 0, 1_000_000))
        else:
            pd_, pt = prev
            # engine semantics: an EMPTY previous stage yields kept=0
            # (the Spark/DuckDB CASE), not 100%
            kept = 0 if pd_ == 0 else nd * 1_000_000 // pd_
            out.append((i, name, nd, nt, pd_ - nd, pt - nt, kept))
        prev = (nd, nt)
    t5 = prev[1]
    n_seq = (t5 + PACK_WINDOW - 1) // PACK_WINDOW
    out.append(
        (
            6,
            "pack_sequences",
            n_seq,
            t5,
            0,
            n_seq * PACK_WINDOW - t5,
            0 if t5 == 0 else t5 * 1_000_000 // (n_seq * PACK_WINDOW),
        )
    )
    return out


def test_curation_ledger_matches_python_reference(spark, sf_smoke):
    got = [
        (
            r["stage_id"],
            r["stage"],
            r["n_docs"],
            r["n_tokens"],
            r["dropped_docs"],
            r["dropped_tokens"],
            r["kept_ppm"],
        )
        for r in pipeline_curation_e2e(spark, sf_smoke).collect()
    ]
    assert got == _reference_ledger(sf_smoke)


def _tokens_by_sign(sign: int, n: int, skip: int = 0) -> list[str]:
    """``n`` distinct 3-char tokens whose classifier weight has ``sign``."""
    words = [w for w in (f"t{i}" for i in range(10, 100)) if sign * _weight(w) > 0]
    assert len(words) >= skip + n
    return words[skip : skip + n]


def _interleave(grams: list[list[str]], fillers: list[str]) -> str:
    """Each gram preceded by its own filler, the rest of the fillers after."""
    out: list[str] = []
    for g, f in zip(grams, fillers):
        out += [f, *g]
    return " ".join(out + fillers[len(grams) :])


def test_quality_gate_matches_reference_on_edge_cases(spark):
    """The per-row stage-1 predicate against the sequential reference on
    documents built to sit on one side of each rule's edge."""
    from lakesail_hdfs_deltalake_guide_spark.pipelines import _curation_quality_ids

    pos = _tokens_by_sign(1, 40)
    neg = _tokens_by_sign(-1, 12)
    long_bi, short_bi = ["a", "yyyyyyyy"], ["a\tb", "x"]
    docs = {
        # no bigram at all: only the classifier decides
        "one_token": (pos[0], True),
        "one_negative_token": (neg[0], False),
        # the only bigram holds every char
        "two_tokens": (f"{pos[0]} {pos[1]}", False),
        # two bigrams tied at count 2: the tie goes to the smaller
        # (w1, w2), and "a" sorts before "a\tb" as a struct field; a
        # space-joined string key would sort "a\tb x" first ('\t' < ' ')
        "tie_long_first": (
            _interleave([long_bi] * 2 + [short_bi] * 2, pos[3:13]),
            False,
        ),
        "tie_short_first": (
            _interleave([["a", "x"]] * 2 + [["a\tb", "yyyyyyyy"]] * 2, pos[3:13]),
            True,
        ),
        # a trigram three times: 18 re-spent chars; 93 chars fail the
        # 15% rule, 120 chars sit exactly on it and pass
        "dup3_over": (_interleave([pos[:3]] * 3, pos[3:25]), False),
        "dup3_on_edge": (_interleave([pos[:3]] * 3, pos[3:34]), True),
        "negative_score": (" ".join(neg), False),
        # w_sum = -3 over 12 tokens: DIV truncates to 0, which passes
        "score_truncates_to_zero": (
            "t28 t90 t76 t98 t27 t29 t59 t89 t68 t99 t70 t69",
            True,
        ),
    }
    for name, (text, expected) in docs.items():
        assert _reference_quality_ok(text) is expected, name
    names = sorted(docs)
    frame = spark.createDataFrame(
        [(i, docs[n][0]) for i, n in enumerate(names)],
        "doc_id long, text string",
    )
    got = {names[r["doc_id"]] for r in _curation_quality_ids(frame).collect()}
    assert got == {n for n in names if docs[n][1]}
