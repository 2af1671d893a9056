"""Deterministic split/sample semantics (operators/sampling.py): the
properties randomSplit/sample cannot give — stability under corpus
growth, subset monotonicity, cross-run determinism — plus the exact
stratified quota and the zero-exchange plan shape. Oracle parity at
sf0.01 is pinned by test_entry_contract.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from imgdupes_spark.operators.sampling import (
    assign_split,
    deterministic_sample,
    split_col,
    stratified_sample,
)


def _docs(spark, n=400):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("lang"),
    )


def test_split_deterministic_and_partition_invariant(spark):
    d = _docs(spark)
    a = {r.doc_id: r.split for r in assign_split(d).collect()}
    b = {
        r.doc_id: r.split
        for r in assign_split(d.repartition(13)).collect()
    }
    assert a == b
    # fractions roughly honored at n=400 (98/1/1)
    from collections import Counter

    c = Counter(a.values())
    assert c["train"] > 350 and c["train"] + c.get("val", 0) + c.get(
        "test", 0
    ) == 400


def test_split_stable_under_corpus_growth(spark):
    small = {r.doc_id: r.split for r in assign_split(_docs(spark, 200)).collect()}
    big = {r.doc_id: r.split for r in assign_split(_docs(spark, 400)).collect()}
    assert all(big[k] == v for k, v in small.items())


def test_split_salt_changes_assignment(spark):
    d = _docs(spark)
    a = {r.doc_id: r.split for r in assign_split(d, salt="v1").collect()}
    b = {r.doc_id: r.split for r in assign_split(d, salt="v2").collect()}
    assert a != b  # overwhelmingly likely at n=400


def test_split_fractions_validated(spark):
    with pytest.raises(ValueError):
        split_col(F.col("doc_id"), {"train": 0.5, "val": 0.4})


def test_sample_subset_monotone_and_stable(spark):
    d = _docs(spark)
    s1 = {r.doc_id for r in deterministic_sample(d, 0.05).collect()}
    s2 = {r.doc_id for r in deterministic_sample(d, 0.20).collect()}
    assert s1 <= s2
    assert len(s2) > len(s1)
    # growth stability: membership of the first 200 ids is unchanged
    grown = {
        r.doc_id
        for r in deterministic_sample(_docs(spark, 800), 0.20).collect()
    }
    assert {i for i in grown if i < 400} == s2


def test_stratified_exact_quota_and_determinism(spark):
    d = _docs(spark, 300)  # 100 per lang
    out = stratified_sample(d, "lang", 0.07)
    got = out.groupBy("lang").count().collect()
    assert {r.lang: r["count"] for r in got} == {"0": 7, "1": 7, "2": 7}
    again = stratified_sample(d, "lang", 0.07)
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in again.collect()
    )
    assert "__key" not in out.columns and "__rk" not in out.columns


def test_mixture_sample_per_stratum_quotas(spark):
    from imgdupes_spark.operators.sampling import mixture_sample

    d = _docs(spark, 300)  # 100 per lang "0","1","2"
    out = mixture_sample(
        d, "lang", {"0": 0.5, "1": 0.1}, default_fraction=0.03
    )
    got = {r.lang: r["count"] for r in out.groupBy("lang").count().collect()}
    assert got == {"0": 50, "1": 10, "2": 3}
    # default 0 drops unlisted strata entirely
    only = mixture_sample(d, "lang", {"1": 0.2})
    assert {r.lang for r in only.select("lang").distinct().collect()} == {"1"}
    # stratified_sample delegates: constant dict == uniform fraction
    from imgdupes_spark.operators.sampling import stratified_sample

    a = sorted(r.doc_id for r in stratified_sample(d, "lang", 0.07).collect())
    b = sorted(
        r.doc_id
        for r in mixture_sample(d, "lang", {}, default_fraction=0.07).collect()
    )
    assert a == b
    with pytest.raises(ValueError):
        mixture_sample(d, "lang", {"0": 1.5})


def test_split_leakage_report_flags_straddlers(spark):
    from imgdupes_spark.operators.sampling import split_leakage_report

    members = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 3), (5, 5), (6, 5)],
        "doc_id long, cluster_id long",
    )
    splits = spark.createDataFrame(
        [(1, "train"), (2, "test"), (3, "train"), (4, "train"),
         (5, "val"), (6, "train")],
        "doc_id long, split string",
    )
    out = {
        r.cluster_id: (r.n_members, r.n_splits, r.splits)
        for r in split_leakage_report(members, splits).collect()
    }
    # cluster 3 is wholly in train -> clean; 1 and 5 straddle
    assert out == {1: (2, 2, "test,train"), 5: (2, 2, "train,val")}


def test_dedup_then_split_eliminates_leakage(spark):
    """The end-to-end point of the stage ordering: on a twin-bearing
    corpus, splitting WITHOUT dedup leaks duplicate clusters across
    boundaries; splitting the deduped (keep-first) corpus cannot — the
    leakage report over the kept docs is empty by construction, and the
    test pins both directions."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from imgdupes_spark.operators.sampling import (
        assign_split,
        split_leakage_report,
    )

    base = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("content "), (F.col("id") % 120).cast("string")).alias(
            "text"
        ),  # 120 distinct contents -> plenty of exact twins
    )
    members = (
        base.withColumn(
            "cluster_id", F.min("doc_id").over(Window.partitionBy("text"))
        )
        .withColumn("sz", F.count("*").over(Window.partitionBy("text")))
        .filter("sz > 1")
        .select("doc_id", "cluster_id")
    )
    splits = assign_split(
        base.select("doc_id"), {"train": 0.7, "val": 0.3}
    ).select("doc_id", "split")
    leaky = split_leakage_report(members, splits)
    assert leaky.count() > 0  # undeduped split leaks

    kept = members.filter(F.col("doc_id") == F.col("cluster_id"))
    clean = split_leakage_report(kept, splits)
    assert clean.count() == 0  # dedup-then-split cannot straddle


def test_shard_by_tokens_matches_serial_prefix_sum(spark):
    # the distributed (bucketed) prefix sum must equal the serial one: lay
    # the docs out in sha-key order in plain Python and compare offsets.
    import hashlib

    from imgdupes_spark.operators.sampling import shard_by_tokens

    rows = [(i, 10 + (i * 7) % 50) for i in range(300)]
    d = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = {
        r.doc_id: (r.start_offset, r.shard_id)
        for r in shard_by_tokens(d, tokens_per_shard=500).collect()
    }
    order = sorted(
        rows,
        key=lambda r: (
            hashlib.sha256(f"{r[0]}:shard:v1".encode()).hexdigest()[:12],
            r[0],
        ),
    )
    acc = 0
    for doc_id, n in order:
        assert out[doc_id] == (acc, acc // 500), doc_id
        acc += n
    # shard fill: every shard except the last is filled to the budget
    # +- one document (34-59 tokens above/below never occurs by design)
    from collections import defaultdict

    fill = defaultdict(int)
    for doc_id, n in rows:
        fill[out[doc_id][1]] += n
    last = max(fill)
    assert all(450 <= v < 560 for s, v in fill.items() if s != last), fill


def test_shard_by_tokens_partition_invariant_and_no_global_sort(spark):
    from imgdupes_spark.operators.sampling import shard_by_tokens

    d = spark.createDataFrame(
        [(i, 20) for i in range(200)], "doc_id long, n_tokens long"
    )
    a = {r.doc_id: r.shard_id for r in shard_by_tokens(d, 400).collect()}
    b = {
        r.doc_id: r.shard_id
        for r in shard_by_tokens(d.repartition(17), 400).collect()
    }
    assert a == b
    plan = (
        shard_by_tokens(d, 400)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the running total must come from the BUCKET-partitioned window, not
    # a single-partition global sort
    assert "SinglePartition" not in plan
    assert "Python" not in plan


def test_assign_split_plan_no_exchange_no_udf(spark):
    plan = (
        assign_split(_docs(spark))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_mixture_sample_keeps_null_id_rows(spark):
    """A NULL id counts toward its stratum's quota, so it must be sampled
    too: it ranks after every keyed row of its stratum (NULLs last, as the
    DuckDB oracle orders them) and never drops out of the rank joins."""
    from imgdupes_spark.operators.sampling import mixture_sample

    d = spark.createDataFrame(
        [(i, "a") for i in range(10)] + [(None, "a"), (None, "a"), (None, "b")],
        "doc_id long, lang string",
    )
    full = mixture_sample(d, "lang", {}, default_fraction=1.0).collect()
    assert len(full) == 13
    half = mixture_sample(d, "lang", {}, default_fraction=0.5).collect()
    # quotas: a = ceil(12 / 2) = 6 keyed rows, b = 1 (its only row, NULL id)
    assert sorted((r.lang, r.doc_id is None) for r in half) == (
        [("a", False)] * 6 + [("b", True)]
    )


def test_mixture_sample_dominant_stratum_bucketed_rank(spark):
    """r7 skew fence: a dominant stratum must NOT serialize onto one
    row_number task — ranks come from 256 key-range buckets + a prefix-sum
    offset table. Output must equal the serial per-stratum hash-order quota
    exactly (same rows as the r6 global-window formulation)."""
    import hashlib

    from imgdupes_spark.operators.sampling import mixture_sample

    n = 30_000
    d = spark.createDataFrame(
        [(i, "web" if i % 100 else "rare") for i in range(n)],
        "doc_id long, lang string",
    )
    out = mixture_sample(d, "lang", {"web": 0.01, "rare": 0.5})
    got = sorted(r.doc_id for r in out.collect())

    # serial reference: per stratum, sort by (48-bit sha key, id), take quota
    def key(i):
        return hashlib.sha256(f"{i}:sample:v1".encode()).hexdigest()[:12]

    expect = []
    for lang, frac in (("web", 0.01), ("rare", 0.5)):
        ids = [i for i in range(n) if ("web" if i % 100 else "rare") == lang]
        quota = (len(ids) * round(frac * 1_000_000) + 999_999) // 1_000_000
        ids.sort(key=lambda i: (key(i), i))
        expect += ids[:quota]
    assert got == sorted(expect)

    plan = (
        mixture_sample(d, "lang", {"web": 0.01})
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the rank window must be (stratum, bucket)-partitioned, never a
    # whole-stratum (or single) partition
    assert "SinglePartition" not in plan
    import re

    for m in re.finditer(r"row_number\(\) windowspecdefinition\(([^)]*)\)", plan):
        assert "__bkt" in m.group(1)
