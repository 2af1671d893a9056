"""Distributed connected components: alternating large-star / small-star.

Replaces the reference's driver-local greedy star grouping
(reference: common/imagededuper.py:195-221 — sequential, in-memory,
drop-if-grouped). Connected components over the candidate edges is a strict
recall superset of those one-hop star groups (SURVEY.md §2.4 G1), and is the
only grouping that is well-defined independent of scan order — a requirement
for a distributed, deterministic engine.

Algorithm: Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii —
"Connected Components in MapReduce and Beyond" (SOCC 2014). Converges in
O(log^2 n) rounds (O(log n) in practice); each round is two DataFrame
self-joins. Lineage is truncated every iteration with localCheckpoint so the
plan does not grow unboundedly (SURVEY.md §4.2).

Convergence check: the star edge set is stable. Compared via an
order-insensitive checksum (count + sum of xxhash64(src, dst)) — one cheap
aggregate per round instead of a full except/subtract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from imgdupes_spark.caching import checkpoint, operator, release


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    bidir = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = bidir.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    # no distinct here: duplicate edges are harmless to the min-aggregations
    # downstream and the final small_star output deduplicates — saves one
    # full shuffle per round
    return (
        bidir.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges larger->smaller; connect u and its smaller neighbors to
    the minimum of that set."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    joined = oriented.join(mins, "src")
    out = joined.select(F.col("dst").alias("src"), F.col("m").alias("dst")).union(
        mins.select(F.col("src"), F.col("m").alias("dst"))
    )
    return out.filter(F.col("src") != F.col("dst")).distinct()


def _checksum(edges: DataFrame) -> tuple[int, int]:
    # count + XOR of per-edge hashes: order-insensitive, overflow-free
    # (Spark 4 runs ANSI mode by default — a long SUM could overflow-throw)
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row.n), int(row.h)


MAX_ROUNDS = 50  # O(log n) in practice; hitting it means a bug, so it raises


@operator
def connected_components(edges: DataFrame, _stats: dict | None = None) -> DataFrame:
    """Edges (src, dst) -> labels (doc_id, cluster_id) for every node that
    appears in an edge; cluster_id = min doc_id of the component
    (deterministic across runs and parallelism levels).
    """
    cur = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    # lazy localCheckpoint: the checksum action right after materializes it,
    # so each round is ONE Spark job (eager=True would run two), while still
    # truncating lineage between iterations. Each round's checkpoint is
    # released as soon as the NEXT round's is materialized (its lineage is
    # truncated, so nothing can recompute through the old one) — without
    # this, a 10-round run over 10^11 edges pins ten edge tables in executor
    # storage until the session ends (round-2 verdict item 2 family). The
    # LAST checkpoint backs the returned DataFrame and stays in the scope.
    cur = checkpoint(cur, eager=False)
    # r7: no checksum of the RAW edge set — it is compared against nothing
    # (iteration 1's output is star-oriented and essentially never equals
    # the input), so the old initial checksum was one full extra pass over
    # the just-materialized edge pipeline. prev_sum=None makes iteration 1
    # unconditionally "not converged"; an already-star-shaped input costs
    # one extra (cheap, small-table) round, every other input saves a job.
    prev_sum = None
    for it in range(MAX_ROUNDS):
        prev, cur = cur, checkpoint(_small_star(_large_star(cur)), eager=False)
        cur_sum = _checksum(cur)
        release(prev)
        if cur_sum == prev_sum:
            if _stats is not None:
                _stats["iterations"] = it + 1
                _stats["edges"] = cur_sum[0]
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(f"connected_components: no convergence in {MAX_ROUNDS} rounds")

    # converged star edges point child -> root (src > dst, dst is the min)
    members = cur.select(F.col("src").alias("doc_id"), F.col("dst").alias("cluster_id"))
    roots = cur.select(F.col("dst").alias("doc_id")).distinct().withColumn(
        "cluster_id", F.col("doc_id")
    )
    return members.union(roots).distinct()
