"""Mega-component stress (round-1 verdict item 6): a 1M-member component —
the boilerplate super-cluster shape — must survive CC and cluster expansion
without a single-task straggler.

Shapes tested:
  tree   edges (i, i//2): depth ~20, the realistic giant-component topology;
         exercises the O(log n) pointer-doubling convergence.
  star   hub 0 with 1M spokes PLUS one max-degree node inside a bigger graph;
         exercises the groupBy skew path in large/small-star.

assign_clusters expansion over the 1M-member component exercises the
groupBy+join stats path (the round-1 window-over-component formulation put
the whole component in one task)."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from imgdupes_spark.operators.components import connected_components

N = 1_000_000


def test_megacomponent_tree_cc_and_expansion(spark):
    t0 = time.time()
    edges = spark.range(1, N).select(
        F.col("id").alias("src"), (F.col("id") / 2).cast("long").alias("dst")
    )
    stats: dict = {}
    comps = connected_components(edges, _stats=stats)
    labels = comps.groupBy("cluster_id").count().collect()
    t_cc = time.time() - t0
    assert len(labels) == 1
    assert labels[0].cluster_id == 0 and labels[0]["count"] == N

    # expansion: 1M docs, identity rep map, one component
    t1 = time.time()
    from imgdupes_spark.operators.clusters import assign_clusters

    sig = spark.range(N).select(F.col("id").alias("doc_id"))
    doc_rep = sig.select("doc_id", F.col("doc_id").alias("rep_id"))
    members = assign_clusters(sig, doc_rep, comps)
    got = members.agg(
        F.count("*").alias("n"),
        F.countDistinct("cluster_id").alias("k"),
        F.min("cluster_size").alias("sz"),
    ).collect()[0]
    t_exp = time.time() - t1
    assert (got.n, got.k, got.sz) == (N, 1, N)
    print(
        f"\nmegacomponent tree: cc {t_cc:.1f}s ({stats.get('iterations')} rounds), "
        f"expansion {t_exp:.1f}s"
    )


def test_megacluster_output_stage(spark):
    """Round-2 verdict item 1: the output stage (set_rank/delete_plan and
    cross_repo_flag) must survive a 1M-member cluster without a single-task
    per-cluster sort. Forces the range-partitioned rank branch and checks the
    ranks are exactly the permutation 1..N with the right keeper."""
    from imgdupes_spark.config import DedupeConfig
    from imgdupes_spark.operators.clusters import cross_repo_flag, delete_plan

    cfg = DedupeConfig()
    members = (
        spark.range(N)
        .select(
            F.col("id").alias("doc_id"),
            F.lit(0).cast("long").alias("cluster_id"),
            F.lit(N).cast("long").alias("cluster_size"),
            (F.col("id") % 7).cast("string").alias("repo"),
            F.concat(F.lit("f/"), F.col("id")).alias("path"),
            # two docs tie at the max size -> repo/path tie-break exercised
            F.when(F.col("id") <= 1, 10_000).otherwise(F.col("id") % 999).alias("n_bytes"),
        )
        .repartition(8)
        .localCheckpoint(eager=True)
    )
    t0 = time.time()
    plan = delete_plan(members, cfg, mega_cluster_rows=100_000)
    stats = plan.agg(
        F.count("*").alias("n"),
        F.countDistinct("set_rank").alias("k"),
        F.min("set_rank").alias("lo"),
        F.max("set_rank").alias("hi"),
        F.sum(F.when(F.col("action") == "keep", 1).otherwise(0)).alias("keeps"),
    ).collect()[0]
    t_rank = time.time() - t0
    assert (stats.n, stats.k, stats.lo, stats.hi, stats.keeps) == (N, N, 1, N, 1)
    # keeper = max n_bytes, tie-broken by repo asc ('0' beats '1') -> doc_id 0
    keeper = plan.filter("set_rank = 1").collect()
    assert [r.doc_id for r in keeper] == [0]

    t1 = time.time()
    flagged = cross_repo_flag(members)
    got = flagged.agg(
        F.count("*").alias("n"), F.min(F.col("cross_repo").cast("int")).alias("x")
    ).collect()[0]
    t_flag = time.time() - t1
    assert (got.n, got.x) == (N, 1)  # 7 repos -> every row flagged
    print(f"\nmegacluster output stage: delete_plan {t_rank:.1f}s, cross_repo {t_flag:.1f}s")


def test_degenerate_bucket_cap_and_window_cost(spark):
    """Round-3 verdict item 2: force a single multi-million-row band bucket
    through bucket_pairs. Two things proven:

    1. the bucket-size window (count over partitionBy(bkey)) pays one task
       that sorts/counts the whole 3M-row bucket — timed here and recorded
       in BASELINE.md; WindowExec spills, so it completes, and the measured
       cost bounds the straggler;
    2. cfg.bucket_cap skips the degenerate bucket's pair generation entirely
       (3M rows = 4.5*10^12 pairs — unpayable at ANY parallelism; salting
       only spreads it), while planted pairs in healthy buckets all survive.
    """
    from imgdupes_spark.config import DedupeConfig
    from imgdupes_spark.operators.lsh import bucket_pairs

    mega = spark.range(3_000_000).select(
        F.col("id").alias("doc_id"), F.lit(0).cast("long").alias("bkey")
    )
    # 100k healthy 2-member buckets (bkeys 1..100_000) -> exactly 100k pairs
    planted = spark.range(200_000).select(
        (F.col("id") + 10_000_000).alias("doc_id"),
        (F.lit(1) + F.col("id") % 100_000).alias("bkey"),
    )
    bands = mega.unionByName(planted).repartition(16)
    cfg = DedupeConfig(bucket_cap=100_000)
    t0 = time.time()
    pairs = bucket_pairs(bands, cfg)
    n = pairs.count()
    t = time.time() - t0
    assert n == 100_000, n
    # every pair is from a planted bucket; none from the capped mega bucket
    assert pairs.filter(F.col("src") < 10_000_000).count() == 0
    print(f"\ndegenerate 3M-row bucket: window-count + cap + pairs in {t:.1f}s")


def test_megacomponent_star_skew(spark):
    """One node with 500k-degree inside a graph that also has 500k 2-cliques:
    the skewed groupBy keys in large/small-star must not break correctness."""
    hub = spark.range(1, 500_001).select(
        F.col("id").alias("src"), F.lit(0).cast("long").alias("dst")
    )
    pairs = spark.range(500_001, 1_000_001).select(
        F.col("id").alias("src"), (F.col("id") + N).alias("dst")
    )
    comps = connected_components(hub.unionByName(pairs))
    agg = comps.groupBy("cluster_id").count()
    top = agg.orderBy(F.desc("count")).first()
    assert top.cluster_id == 0 and top["count"] == 500_001
    assert agg.count() == 500_001  # hub component + 500k pair components


def test_hot_gram_window_duplicate_spans(spark):
    """r6 verdict item 2 (r7): force a single multi-million-occurrence gram
    through duplicate_spans' min_docs=2 hotness window. Two all-identical
    1M-token docs collapse every rolling 8-gram to ONE gram hash, so the
    Window.partitionBy(gram) puts ~2M rows in one task — proven here to
    complete (WindowExec sorts/spills) with exact full-coverage spans, and
    timed to bound the straggler. The skew-safe groupBy+semi-join shape
    stays the documented fallback (duplicate_spans min_docs>2 path): it was
    measured 1.6-1.75x slower at bench scale (OPTIMIZATION_r07.md), so the
    window remains the default and this test is its fence."""
    import time

    from imgdupes_spark.operators.spans import duplicate_spans

    n_tok = 1_000_000
    hot = spark.range(2).select(
        F.col("id").alias("doc_id"),
        F.rtrim(F.repeat(F.lit("x "), n_tok)).alias("content"),
    )
    # healthy planted pair: a shared 20-token passage in otherwise-unique docs
    planted = spark.range(2).select(
        (F.col("id") + 10).alias("doc_id"),
        F.concat(
            F.lit("u"), F.col("id").cast("string"),
            F.lit(" unique" + " shared" * 20 + " tail"),
        ).alias("content"),
    )
    t0 = time.time()
    spans = duplicate_spans(hot.unionByName(planted), k=8).collect()
    t = time.time() - t0
    got = {(r.doc_id, r.span_start, r.span_end) for r in spans}
    # hot docs: full coverage; planted: tokens 1..22 are shared verbatim
    # (only token 0, u<id>, differs), so every 8-window from position 1
    # on is hot -> one maximal span [1, 23)
    assert (0, 0, n_tok) in got and (1, 0, n_tok) in got
    assert {(d, s, e) for (d, s, e) in got if d >= 10} == {
        (10, 1, 23), (11, 1, 23)
    }
    print(f"\nhot-gram 2M-occurrence window: duplicate_spans in {t:.1f}s")
