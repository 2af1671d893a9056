"""Cluster assembly, canonical ordering, per-set ranking, delete plan,
summary — the reference's output stage re-expressed relationally.

Reference counterparts:
  sort_group           common/imagededuper.py:403-415  -> canonical_clusters
  sort_image_list      common/imagededuper.py:418-460  -> set_rank window
  keep-first/--noprompt common/imagededuper.py:517-518 -> delete_plan
  summarize            common/imagededuper.py:386-400  -> summarize
  subdir warning       common/imagededuper.py:499-505  -> cross_repo flag
  print_duplicates     common/imagededuper.py:463-479  -> fdupes_text
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from imgdupes_spark.caching import checkpoint, operator, pin
from imgdupes_spark.config import DedupeConfig
from imgdupes_spark.operators.lsh import sha_representatives

# reference sort_image_list keys (common/imagededuper.py:418-460):
# filesize desc (default) / filepath asc / imagesize / width / height ->
# code-corpus analogues n_bytes / path / n_chars / n_lines / n_tokens.
# (column, descending_by_default)
_SORT_KEYS = {
    "n_bytes": (("n_bytes", True),),
    "path": (("repo", False), ("path", False)),
    "n_chars": (("n_chars", True),),
    "n_lines": (("n_lines", True),),
    "n_tokens": (("n_tokens", True),),
}


def assign_clusters(
    sig: DataFrame, doc_rep: DataFrame, components: DataFrame
) -> DataFrame:
    """Expand representative-level component labels back to every doc.

    sig        full signatures table
    doc_rep    (doc_id, rep_id) from lsh.doc_rep_map
    components (doc_id, cluster_id) over representatives that had edges

    Every doc inherits its representative's component; representatives
    without edges label themselves. cluster_id is then re-canonicalized to
    min(doc_id) over the *full* membership and size-1 clusters are dropped
    (reference prints multi-member sets only, common/imagededuper.py:471-472).
    Quarantined docs (NULL fingerprint) never join a cluster — sha groups of
    fingerprint-less docs are still exact dups, so they cluster iff their
    sha group has >1 member.
    """
    rep_label = components.withColumnRenamed("doc_id", "rep_id")
    labeled = (
        sig.join(doc_rep, ["doc_id"])
        .join(rep_label, ["rep_id"], "left")
        .withColumn("component", F.coalesce(F.col("cluster_id"), F.col("rep_id")))
        .drop("cluster_id")
    )
    # groupBy + join back, NOT a window over component: a window puts an
    # entire mega-component (boilerplate super-cluster) into ONE task with no
    # partial aggregation; the groupBy gets map-side partial agg and the
    # inner join prunes singleton components before they widen the output.
    comp_stats = (
        labeled.groupBy("component")
        .agg(
            F.min("doc_id").alias("cluster_id"),
            F.count("*").alias("cluster_size"),
        )
        .filter(F.col("cluster_size") > 1)
    )
    return labeled.join(comp_stats, ["component"]).drop("component", "rep_id")


def canonical_clusters(members: DataFrame) -> DataFrame:
    """One row per cluster: members sorted within the set, sets numbered 1..n
    by their sorted member list — exactly the reference's deterministic output
    order (common/imagededuper.py:403-415).

    Scale note: ``set_num`` is a global row_number (single-partition window) —
    a presentation column for the fdupes-parity sink. It runs over the
    *clusters* table (orders of magnitude smaller than docs); at-scale
    consumers should key on ``cluster_id``, which needs no global ordering.
    """
    agg = members.groupBy("cluster_id").agg(
        F.sort_array(
            F.collect_list(F.concat_ws("/", F.col("repo"), F.col("path")))
        ).alias("members"),
        F.count("*").alias("n_members"),
    )
    w = Window.orderBy("members")
    return agg.withColumn("set_num", F.row_number().over(w)).select(
        "set_num", "cluster_id", "n_members", "members"
    )


# clusters larger than this bypass the per-cluster window (one task sorting
# the whole cluster) for the range-partitioned two-pass rank below. 2M rows
# of the narrow members schema sort comfortably inside one executor task;
# tune down for smaller executors or up for fewer shuffles.
MEGA_CLUSTER_ROWS = 2_000_000


def _set_order(cfg: DedupeConfig, keep_expr) -> list:
    """The per-set total order (reference sort_image_list keys + reverse +
    keep hook + deterministic repo/path/doc_id tie-break)."""
    order = [
        F.asc(col) if (desc == cfg.set_sort_reverse) else F.desc(col)
        for col, desc in _SORT_KEYS[cfg.set_sort]
    ]
    if keep_expr is not None:
        order = [F.desc(keep_expr.cast("int"))] + order
    # deterministic tie-break: path then doc_id (doc_id makes it total)
    order += [F.asc("repo"), F.asc("path"), F.asc("doc_id")]
    return order


def _mega_cluster_rank(members: DataFrame, order: list) -> DataFrame:
    """Exact per-cluster row_number without a per-cluster sort task.

    A window partitioned by cluster_id puts an entire mega-cluster (a 20-line
    license file duplicated 10^8 times is ONE cluster) into ONE task. Instead:

      1. range-partition by (cluster_id, *order) — Spark's range partitioner
         splits a huge cluster across many contiguous partitions, each task
         sorting ~rows/parts rows regardless of cluster size;
      2. rank locally within (partition, cluster) — bounded window;
      3. add per-(partition, cluster) offsets = rows of the same cluster in
         earlier partitions (a window over the tiny counts table: at most
         one row per partition per cluster).

    The order must be TOTAL (callers append doc_id) so ranks are unambiguous
    across partition boundaries. The range-partitioned table is
    localCheckpointed: the range partitioner samples, so the partition ids
    must be pinned before two downstream passes read them."""
    spark = members.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    parted = checkpoint(
        members.repartitionByRange(n_parts, F.col("cluster_id"), *order)
        .withColumn("_pid", F.spark_partition_id())
    )
    counts = parted.groupBy("_pid", "cluster_id").agg(F.count("*").alias("_n"))
    w_off = (
        Window.partitionBy("cluster_id")
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "_pid",
        "cluster_id",
        F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off"),
    )
    w_loc = Window.partitionBy("_pid", "cluster_id").orderBy(*order)
    return (
        parted.withColumn("_lr", F.row_number().over(w_loc))
        .join(offsets, ["_pid", "cluster_id"])
        .withColumn("set_rank", (F.col("_off") + F.col("_lr")).cast("int"))
        .drop("_pid", "_lr", "_off")
    )


@operator
def with_set_rank(
    members: DataFrame,
    cfg: DedupeConfig,
    keep_expr=None,
    mega_cluster_rows: int | None = MEGA_CLUSTER_ROWS,
) -> DataFrame:
    """Per-set ordering (reference sort_image_list): rank 1 = the member the
    keep-first policy preserves. Reverse flips the configured key
    (reference --reverse, common/imagededuper.py:419). ``keep_expr`` (bool
    Column) pre-empts the configured key — see delete_plan.

    Clusters above ``mega_cluster_rows`` (requires the ``cluster_size``
    column assign_clusters emits) take the range-partitioned two-pass rank
    instead of the single-task window — same ranks, no straggler. Pass
    ``mega_cluster_rows=None`` to force the plain window everywhere."""
    order = _set_order(cfg, keep_expr)
    w = Window.partitionBy("cluster_id").orderBy(*order)
    if mega_cluster_rows is None or "cluster_size" not in members.columns:
        return members.withColumn("set_rank", F.row_number().over(w))
    big_pred = F.col("cluster_size") > mega_cluster_rows
    ranked = members.filter(~big_pred).withColumn("set_rank", F.row_number().over(w))
    big = members.filter(big_pred)
    if big.isEmpty():  # one cheap probe job; skips the 3-shuffle mega path
        return ranked
    # _mega_cluster_rank pins its range-partitioned slice with an eager
    # checkpoint (the partitioner samples, so partition ids must be stable
    # across its two downstream reads). That pin is the FULL mega-cluster
    # member table — the scope releases it as soon as the ranked result is
    # materialized (caching.py; round-3 advice item 1).
    return ranked.unionByName(_mega_cluster_rank(big, order))


def delete_plan(
    members: DataFrame,
    cfg: DedupeConfig,
    keep_expr=None,
    mega_cluster_rows: int | None = MEGA_CLUSTER_ROWS,
) -> DataFrame:
    """Keep-first plan (reference --noprompt keep-rank-1,
    common/imagededuper.py:517-518). The engine never deletes rows — it emits
    the plan (SURVEY.md §2.1 S7/S8).

    ``keep_expr`` is the rank-override hook standing in for the reference's
    interactive preserve prompt (common/imagededuper.py:130-160, stdin-only):
    a boolean Column — members satisfying it sort ahead of the configured
    key, so e.g. ``F.col("repo") == "canonical"`` pins the canonical repo's
    copy as the keeper wherever one exists."""
    ranked = with_set_rank(
        members, cfg, keep_expr=keep_expr, mega_cluster_rows=mega_cluster_rows
    )
    return ranked.withColumn(
        "action", F.when(F.col("set_rank") == 1, F.lit("keep")).otherwise(F.lit("delete"))
    ).select("cluster_id", "doc_id", "repo", "path", "set_rank", "action", "n_bytes")


def dedupe_corpus(
    corpus: DataFrame,
    members: DataFrame,
    cfg: DedupeConfig,
    keep_expr=None,
    mega_cluster_rows: int | None = MEGA_CLUSTER_ROWS,
) -> DataFrame:
    """The Spark-native S8: materialize the DEDUPED corpus — every
    delete-plan victim removed, keepers and non-clustered rows untouched.
    The reference performs S8 as an ``os.remove`` per victim file
    (common/imagededuper.py:549-554); a table-valued engine emits the kept
    table instead — same effect, reversible, and the actual training-data
    output a pretraining pipeline consumes.

    corpus   (repo, path, commit, lang, content) rows (the same table the
             signatures/members derive from).
    members  dedupe_members output (doc-level cluster assignments).

    Plan shape: victims are projected to bare doc_ids (8 or 16 bytes) and
    anti-joined against the corpus keyed by the same doc_id_col(cfg). Note
    the honest at-scale cost: materializing the kept corpus REWRITES the
    corpus by definition, and unless the victim set broadcasts (AQE decides)
    the anti-join shuffles content-bearing rows once. When only membership
    is needed, keep the delete PLAN and filter at read time (the loader's
    scope anti-join) — this materializer is for producing the final
    training table.
    """
    from imgdupes_spark.functions.fingerprints import doc_id_col

    victims = (
        delete_plan(
            members, cfg, keep_expr=keep_expr, mega_cluster_rows=mega_cluster_rows
        )
        .filter(F.col("action") == "delete")
        .select(F.col("doc_id").alias("__did"))
    )
    return (
        corpus.withColumn("__did", doc_id_col(cfg))
        .join(victims, ["__did"], "left_anti")
        .drop("__did")
    )


def summarize(members: DataFrame) -> DataFrame:
    """Reference summarize (common/imagededuper.py:386-400): duplicate-file
    count, set count, total bytes over ALL members of multi-member sets —
    the reference's "distinct duplicate files" semantics. KB convention =
    /1000 (reference :397)."""
    dup_only = members  # every member of a multi-member cluster is a duplicate file
    return dup_only.agg(
        F.count("*").alias("n_duplicate_files"),
        F.countDistinct("cluster_id").alias("n_sets"),
        F.sum("n_bytes").alias("total_bytes"),
        (F.sum("n_bytes") / F.lit(1000.0)).alias("total_kb"),
    )


def cross_repo_flag(members: DataFrame) -> DataFrame:
    """Reference subdir warning (common/imagededuper.py:499-505): flag sets
    whose members span >1 repo.

    groupBy + join back, NOT a collect_set window: the window buffers a whole
    mega-cluster's repo set in one task; the groupBy gets map-side partial
    aggregation (countDistinct expands to a bounded two-phase plan) and the
    join fans the one-bit flag back out."""
    flags = members.groupBy("cluster_id").agg(
        (F.countDistinct("repo") > 1).alias("cross_repo")
    )
    return members.join(flags, ["cluster_id"]).select(*members.columns, "cross_repo")


def fdupes_text(
    canonical: DataFrame, max_sets: int | None = None, sameline: bool = False
) -> str:
    """Driver-side fdupes-format rendering (reference print_duplicates,
    common/imagededuper.py:463-479): one member per line, blank line between
    sets; ``sameline`` emits each set space-separated on one line (reference
    --sameline, :469-475). Small result sets only — a presentation sink."""
    rows = canonical.orderBy("set_num")
    if max_sets is not None:
        rows = rows.limit(max_sets)
    if sameline:
        lines = [" ".join(r.members) for r in rows.collect()]
        return "\n".join(lines) + ("\n" if lines else "")
    blocks = ["\n".join(r.members) for r in rows.collect()]
    return "\n\n".join(blocks) + ("\n" if blocks else "")


@operator
def star_parity_members(sig: DataFrame, cfg: DedupeConfig) -> DataFrame:
    """`--grouping star` parity mode (SURVEY.md §2.4 G1): reproduce the
    reference's greedy one-hop star grouping EXACTLY — scan order per
    cfg.scan_sort (sorted filenames, or input order for the reference's
    --sort none, imgdupes:67-68), inclusive threshold,
    drop-edges-to-grouped-nodes (common/imagededuper.py:195-221).

    The grouping itself is inherently sequential (group membership depends on
    every earlier scan step), so the verified edge list — the distributed,
    expensive part — is computed on the cluster and only the (src, dst) pairs
    are collected for the driver-side greedy pass. Intended for golden tests
    and small result sets, not the 10^12-row path (use grouping='cc').
    """
    from imgdupes_spark import oracle
    from imgdupes_spark.operators.lsh import (
        all_candidate_edges,
        doc_rep_map,
        rep_edges,
        sha_representatives,
    )

    spark = sig.sparkSession
    reps = sha_representatives(sig)
    doc_rep = pin(doc_rep_map(sig, reps))
    keyed = sig.select(
        F.concat_ws("/", "repo", "path").alias("key"), "doc_id"
    )
    if cfg.scan_sort == "path":
        keyed = keyed.orderBy("key")
    # scan_sort == "none": rows as scanned (partition order), the reference's
    # --sort none input-order mode
    collected = keyed.collect()
    keys = [r.key for r in collected]
    ids = {r.key: r.doc_id for r in collected}
    idx = {ids[k]: i for i, k in enumerate(keys)}
    # reference parity = Hamming-threshold edges only (the reference has no
    # Jaccard or containment pass): keep exact + simhash origins
    edges_df = rep_edges(
        all_candidate_edges(sig, cfg, reps=reps, doc_rep=doc_rep).filter(
            F.col("origin").isin("exact", "simhash")
        ),
        doc_rep,
    )
    # expand rep-level edges back to doc level via the sha map, then index
    expanded = (
        edges_df.join(doc_rep.withColumnRenamed("rep_id", "src"), ["src"])
        .select(F.col("doc_id").alias("src"), "dst")
        .join(doc_rep.withColumnRenamed("rep_id", "dst"), ["dst"])
        .select("src", F.col("doc_id").alias("dst"))
        .union(
            # sha-twin edges (exact dups) at doc level
            doc_rep.alias("a")
            .join(doc_rep.alias("b"), F.col("a.rep_id") == F.col("b.rep_id"))
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
        )
        .distinct()
    )
    pairs = [
        (idx[r.src], idx[r.dst]) for r in expanded.collect()
        if r.src in idx and r.dst in idx
    ]
    groups = oracle.star_groups(keys, pairs)
    if not groups:
        return spark.createDataFrame([], "key string, star_group long")
    return spark.createDataFrame(
        [(k, g) for k, g in groups.items()], "key string, star_group long"
    )


@operator
def dedupe_members(
    sig: DataFrame, cfg: DedupeConfig, corpus: DataFrame | None = None
) -> DataFrame:
    """Full grouping pipeline: signatures -> candidate edges (exact + LSH,
    plus containment when the corpus is passed) -> grouping -> expanded
    multi-member cluster membership.

    ``cfg.grouping`` dispatches the grouping step: "cc" (default) runs
    distributed connected components; "star" reproduces the reference's
    greedy one-hop star grouping (common/imagededuper.py:195-221) via the
    driver-side parity mode — same output schema, reference-exact partition.

    Containment edges connect *docs*, not sha-representatives; they are
    remapped to representatives before CC so the graph stays over the
    collapsed node set. A direct call returns the eagerly materialized
    result and releases every intermediate pin before returning; a ``sig``
    the caller cached stays cached (caching.pin)."""
    from imgdupes_spark.operators.components import connected_components
    from imgdupes_spark.operators.lsh import (
        all_candidate_edges,
        doc_rep_map,
        rep_edges,
    )

    if cfg.grouping == "star":
        return _star_members(sig, cfg)
    assert cfg.grouping == "cc", f"unknown grouping {cfg.grouping!r}"

    sig = pin(sig)  # scanned by reps, bands, expansion
    sig.count()  # eager (concurrent-stage cache-race guard, see lsh.py)
    reps = pin(sha_representatives(sig))
    doc_rep = pin(doc_rep_map(sig, reps))
    edges = rep_edges(
        all_candidate_edges(sig, cfg, corpus=corpus, reps=reps, doc_rep=doc_rep),
        doc_rep,
    )
    return assign_clusters(sig, doc_rep, connected_components(edges))


def _star_members(sig: DataFrame, cfg: DedupeConfig) -> DataFrame:
    """grouping='star' branch of dedupe_members: expand the star-parity
    grouping back to the members schema (sig columns + cluster_id/size)."""
    sig = pin(sig)
    sig.count()
    stars = star_parity_members(sig, cfg)
    keyed = sig.withColumn("key", F.concat_ws("/", "repo", "path"))
    labeled = keyed.join(F.broadcast(stars), ["key"]).drop("key")
    stats = (
        labeled.groupBy("star_group")
        .agg(F.min("doc_id").alias("cluster_id"), F.count("*").alias("cluster_size"))
        .filter(F.col("cluster_size") > 1)
    )
    return labeled.join(stats, ["star_group"]).drop("star_group")
