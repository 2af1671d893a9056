"""Hot-bucket (salted) pair-generation regression tests.

Round-1 verdict: the salted branch of ``bucket_pairs`` only activates for
buckets above cfg.max_bucket_size — i.e. only at real scale — and the round-1
implementation dropped every pair whose doc_id order opposed its salt-group
order (~half of all cross-salt pairs). These tests force the branch at test
scale: (a) one saturated bucket must yield exactly C(m,2) pairs, (b) the full
golden corpus with max_bucket_size=2 must still match the brute-force oracle
exactly (reference semantics: common/imagededuper.py:195-221 edges at d<=4).
"""

from __future__ import annotations

from math import comb

from imgdupes_spark import oracle
from imgdupes_spark.config import DedupeConfig
from imgdupes_spark.functions.fingerprints import signatures
from imgdupes_spark.operators.clusters import dedupe_members
from imgdupes_spark.operators.lsh import bucket_pairs


def _all_pairs(df):
    return {(r.src, r.dst) for r in df.select("src", "dst").collect()}


def test_hot_bucket_emits_all_pairs(spark):
    """One bucket of 12 docs, max_bucket_size=2, salt_parts=4: the salted
    path must emit all C(12,2)=66 unordered pairs — the exact round-1 repro
    (which yielded 33)."""
    cfg = DedupeConfig(max_bucket_size=2, salt_parts=4)
    docs = [(i * 7919 + 13, 1) for i in range(12)]  # arbitrary ids, one bucket
    bands = spark.createDataFrame(docs, "doc_id long, bkey long")
    pairs = _all_pairs(bucket_pairs(bands, cfg))
    ids = sorted(d for d, _ in docs)
    expected = {(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]}
    assert len(pairs) == comb(12, 2), f"got {len(pairs)} pairs, want 66"
    assert pairs == expected


def test_mixed_hot_and_cold_buckets(spark):
    """Hot and cold buckets coexist: each bucket contributes its full pair
    set, pairs across buckets are deduplicated."""
    cfg = DedupeConfig(max_bucket_size=3, salt_parts=4)
    rows = []
    # hot bucket: 10 docs on key 1; cold bucket: 3 docs on key 2 (subset of hot docs)
    for i in range(10):
        rows.append((i, 1))
    for i in range(3):
        rows.append((i, 2))
    bands = spark.createDataFrame(rows, "doc_id long, bkey long")
    pairs = _all_pairs(bucket_pairs(bands, cfg))
    expected = {(a, b) for a in range(10) for b in range(a + 1, 10)}
    assert pairs == expected


def test_golden_corpus_through_salted_path(spark, small_corpus, small_corpus_pd):
    """Full golden corpus with max_bucket_size=2: virtually every band bucket
    takes the salted branch, and the CC output must STILL contain every
    brute-force oracle pair (recall 1.0 — the exactness guarantee salting
    must not break)."""
    cfg = DedupeConfig(max_bucket_size=2, salt_parts=4)
    corpus_pd, _ = small_corpus_pd
    keys, sims = [], []
    for r in sorted(corpus_pd.itertuples(), key=lambda r: (r.repo, r.path)):
        keys.append(f"{r.repo}/{r.path}")
        sims.append(oracle.fingerprint(r.content, cfg)[0])
    edges = oracle.in_threshold_edges(keys, sims, cfg.hamming_d)
    cc = oracle.cc_groups(keys, edges)

    sig = signatures(small_corpus, cfg)
    got = {
        f"{r.repo}/{r.path}": r.cluster_id
        for r in dedupe_members(sig, cfg).select("repo", "path", "cluster_id").collect()
    }
    recall = oracle.pair_recall(oracle.dup_pairs(cc), oracle.dup_pairs(got))
    assert recall == 1.0, f"salted-path recall {recall} != 1.0"
