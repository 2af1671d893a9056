"""Deterministic corpus splitting and sampling — the train/val/test
assignment and subsampling stage every training-data pipeline runs after
curation, built so the assignment is a pure per-row function of the
document identity:

  split(doc) = f(sha256(id || ':' || salt))

No shuffle, no global count, no RNG state. The properties that matter at
100 TB all fall out of per-row determinism:

  * **stable under growth** — adding documents never flips an existing
    document's split (a fraction-based `randomSplit` reshuffles everyone);
  * **reproducible across runs/engines** — sha256 of the same string is
    the same everywhere, so the DuckDB oracle replays assignments exactly
    (no engine-specific `rand(seed)` semantics to match);
  * **leak-auditable** — membership is checkable per row without the rest
    of the corpus.

Mechanics: the first 12 hex chars of the sha256 digest are a uniform
48-bit key; since lowercase-hex ordering IS numeric ordering, fraction
boundaries become precomputed hex-string thresholds and the assignment is
one CASE over string compares — whole-stage codegen, zero exchanges.
48 bits ⇒ fraction granularity 2^-48, far below any corpus's 1/n.

`stratified_sample` is the exact-count variant (per-stratum quota filled
in hash order): one window rank per stratum + one broadcast-joined count,
for when "1% of EVERY language" must hold exactly rather than in
expectation.

Reference parity note: the reference (knjcode/imgdupes) has no sampling
machinery; this is part of the beyond-reference LLM-pipeline surface
(SURVEY.md §2.7), alongside curation and decontamination.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_HEX_DIGITS = 12  # 48-bit key from the sha256 hex prefix


def _threshold_hex(cum_frac: float) -> str:
    """Hex-string threshold t such that P(key < t) == cum_frac at 48-bit
    granularity. cum_frac >= 1 maps past every key ('g' > 'f')."""
    if cum_frac >= 1.0:
        return "g"
    return format(int(cum_frac * (16 ** _HEX_DIGITS)), f"0{_HEX_DIGITS}x")


def split_key_col(id_col: F.Column, salt: str) -> F.Column:
    """The 48-bit uniform key: first 12 hex chars of
    sha256(cast(id as string) || ':' || salt). Lowercase hex, so string
    order == numeric order in both Spark and DuckDB."""
    return F.substring(
        F.sha2(F.concat(id_col.cast("string"), F.lit(":" + salt)), 256),
        1,
        _HEX_DIGITS,
    )


def split_col(
    id_col: F.Column,
    fractions: dict[str, float],
    salt: str = "split:v1",
) -> F.Column:
    """Split-label Column: deterministic CASE over hash-key ranges, in the
    given dict order (insertion order = range order). Fractions must sum
    to 1 (+-1e-9); each label owns [cum_prev, cum) of the key space."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    key = split_key_col(id_col, salt)
    expr = None
    cum = 0.0
    labels = list(fractions.items())
    for name, frac in labels[:-1]:
        cum += frac
        cond = key < F.lit(_threshold_hex(cum))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = labels[-1][0]
    return (expr.otherwise(last) if expr is not None else F.lit(last)).alias(
        "split"
    )


def assign_split(
    docs: DataFrame,
    fractions: dict[str, float] | None = None,
    id_col: str = "doc_id",
    salt: str = "split:v1",
) -> DataFrame:
    """docs + a ``split`` column. Default 98/1/1 train/val/test. Pure
    projection — the plan has no exchange, no UDF; runs at scan speed."""
    fractions = fractions or {"train": 0.98, "val": 0.01, "test": 0.01}
    return docs.withColumn(
        "split", split_col(F.col(id_col), fractions, salt)
    )


def deterministic_sample(
    docs: DataFrame,
    fraction: float,
    id_col: str = "doc_id",
    salt: str = "sample:v1",
) -> DataFrame:
    """Keep ~fraction of docs by hash-key threshold. Per-row, zero
    shuffle, and SUBSET-MONOTONE: sample(0.01) ⊆ sample(0.02) under the
    same salt, and membership never changes as the corpus grows — the two
    properties `df.sample()` cannot give you."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return docs.filter(
        split_key_col(F.col(id_col), salt) < F.lit(_threshold_hex(fraction))
    )


def split_leakage_report(
    members: DataFrame,
    splits: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    label_col: str = "split",
) -> DataFrame:
    """Audit that no duplicate cluster straddles a split boundary — THE
    reason pipelines dedup before splitting: a near-dup pair with one
    member in train and one in test is benchmark leakage that survives
    any per-doc filter. One row per offending cluster:
    ``(cluster_col, n_members, n_splits, splits)`` with splits a
    sorted comma-joined label list. Empty result = clean split.

    Inputs compose the repo's own surfaces: ``members`` is any cluster
    assignment (exact engine, LSH near-dup, embedding_dedup) and
    ``splits`` is assign_split's output — the audit itself is one join
    + one narrow groupBy on the cluster id, nothing bespoke."""
    j = members.select(id_col, cluster_col).join(
        splits.select(id_col, label_col), id_col
    )
    return (
        j.groupBy(cluster_col)
        .agg(
            F.count("*").alias("n_members"),
            F.countDistinct(label_col).alias("n_splits"),
            F.concat_ws(
                ",", F.sort_array(F.collect_set(label_col))
            ).alias("splits"),
        )
        .filter(F.col("n_splits") > 1)
    )


def shard_by_tokens(
    docs: DataFrame,
    tokens_per_shard: int,
    id_col: str = "doc_id",
    n_tokens_col: str = "n_tokens",
    salt: str = "shard:v1",
    n_buckets: int = 256,
) -> DataFrame:
    """Assign documents to fixed-token-budget output shards — the
    "write ~1B tokens per training file" step after curation. Documents
    are laid out in deterministic hash-key order (uniform, growth-
    independent — a doc-id or path order would put one repo in one
    shard) and shard i owns the docs whose cumulative START offset falls
    in [i*T, (i+1)*T), so every shard carries tokens_per_shard ± one
    document.

    The global running total is a DISTRIBUTED prefix sum, not a global
    window: docs bucket by the first hex digits of their hash key
    (``n_buckets`` ordered ranges), per-bucket token sums — n_buckets
    rows — come back to the driver for a cumulative offset table that
    broadcast-joins onto the docs, and the within-bucket running total
    is a window partitioned BY BUCKET. No single-partition sort
    anywhere: the plan's one wide exchange is the bucket window, each
    sorting ~1/n_buckets of the corpus (plan-asserted in tests). The
    offset collect is n_buckets scalars — constant, not O(corpus).

    Returns the input plus ``shard_id`` (0-based) and ``start_offset``
    (the doc's first token's global position — the provenance column
    that makes any shard independently re-derivable)."""
    if tokens_per_shard <= 0:
        raise ValueError(f"tokens_per_shard must be > 0, got {tokens_per_shard}")
    hex_digits = {16: 1, 256: 2, 4096: 3}.get(n_buckets)
    if hex_digits is None:
        raise ValueError(f"n_buckets must be 16, 256 or 4096, got {n_buckets}")
    key = split_key_col(F.col(id_col), salt)
    keyed = docs.select(
        "*",
        key.alias("__key"),
        F.substring(key, 1, hex_digits).alias("__bkt"),
    )
    # n_buckets rows: exclusive prefix offsets per bucket, in bucket order
    sums = {
        r["__bkt"]: r["s"]
        for r in keyed.groupBy("__bkt")
        .agg(F.sum(n_tokens_col).alias("s"))
        .collect()
    }
    offsets, acc = [], 0
    for b in sorted(sums):
        offsets.append((b, acc))
        acc += int(sums[b] or 0)
    spark = docs.sparkSession
    off = spark.createDataFrame(offsets, "__bkt string, __off long")
    w = (
        Window.partitionBy("__bkt")
        .orderBy("__key", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_prev = F.coalesce(F.sum(n_tokens_col).over(w), F.lit(0))
    return (
        keyed.join(F.broadcast(off), "__bkt")
        .withColumn("start_offset", (F.col("__off") + local_prev).cast("long"))
        .withColumn(
            "shard_id",
            F.expr(f"start_offset div {int(tokens_per_shard)}").cast("long"),
        )
        .drop("__key", "__bkt", "__off")
    )


def stratified_sample(
    docs: DataFrame,
    stratum_col: str,
    fraction: float,
    id_col: str = "doc_id",
    salt: str = "sample:v1",
) -> DataFrame:
    """EXACT-count stratified sample: ceil(fraction * n) rows from every
    stratum, chosen in hash-key order (deterministic, id-tie-broken).
    Costs one bucketed rank pass plus one broadcast count join — reach
    for :func:`deterministic_sample` unless the per-stratum count must
    be exact. Stratum skew is fenced by construction (r7): ranks come
    from 256 key-range buckets per stratum plus a prefix-sum offset
    table, so a dominant stratum never serializes onto one task (the
    r6 per-stratum row_number window did exactly that).

    The quota is INTEGER arithmetic at 1e-6 fraction granularity:
    ceil(n * round(f*1e6) / 1e6) as (n*num + den - 1) div den — a float
    ceil(n * f) puts the count one off whenever n*f lands on an ulp
    (100 * 0.07 = 7.000000000000001 → ceil 8), and diverges between
    engines; longs never do. n*num stays under 2^63 through stratum
    sizes of ~9e12."""
    return mixture_sample(
        docs, stratum_col, {}, default_fraction=fraction,
        id_col=id_col, salt=salt,
    )


def mixture_sample(
    docs: DataFrame,
    stratum_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    id_col: str = "doc_id",
    salt: str = "sample:v1",
) -> DataFrame:
    """Domain-MIXTURE sampling: a per-stratum fraction dict (the "50% of
    src0, 25% of src1, 5% of everything else" reweighting every training
    mix specifies), exact ceil(f_s * n_s) per stratum in hash-key order.
    Strata absent from the dict get ``default_fraction`` (0 = drop).
    Same integer quota arithmetic and bucketed-rank shape as
    :func:`stratified_sample` (which is this with a constant dict);
    the per-stratum fractions ride the broadcast quota join, so the
    plan is identical whatever the dict size."""
    for name, frac in {**fractions, "<default>": default_fraction}.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {name!r} must be in [0, 1], got {frac}")
    den = 1_000_000
    default_num = round(default_fraction * den)
    # `div` is Spark's integer division — `/` on longs returns DOUBLE and
    # loses exactness past 2^53
    num = F.lit(default_num)
    for name, frac in fractions.items():
        num = F.when(F.col(stratum_col) == name, round(frac * den)).otherwise(num)
    key = split_key_col(F.col(id_col), salt)
    quota = (
        docs.groupBy(stratum_col)
        .agg(F.count("*").alias("__n"))
        .withColumn("__num", num)
        .selectExpr(
            f"`{stratum_col}`",
            f"(__n * __num + {den - 1}) div {den} AS __quota",
        )
    )
    # Per-stratum rank WITHOUT a per-stratum window (r7, the shard_by_tokens
    # bucketing device): rows bucket by the first 2 hex digits of the key
    # (256 ordered ranges — hex order IS key order, so bucket-major equals
    # global key order), per-(stratum, bucket) counts roll into exclusive
    # offsets via a window over the TINY counts table, and the within-bucket
    # row_number windows are (stratum, bucket) partitions — a dominant
    # stratum ("web" = 90% of a crawl) sorts in 256 bounded tasks instead of
    # one. Ranks are identical to the old per-stratum global row_number
    # (total order (__key, id) with the bucket as its own prefix).
    # A NULL id has a NULL key but counts toward its stratum's quota, so it
    # must not fall out of the (stratum, __bkt) join: its bucket is "~",
    # which sorts after every hex bucket, so it ranks after all keyed rows
    # of its stratum (NULLs last, like the DuckDB oracle's ORDER BY key).
    bkt = F.coalesce(F.substring(key, 1, 2), F.lit("~"))
    keyed = docs.select("*", key.alias("__key"), bkt.alias("__bkt"))
    counts = keyed.groupBy(stratum_col, "__bkt").agg(F.count("*").alias("__bn"))
    w_off = (
        Window.partitionBy(stratum_col)
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        stratum_col,
        "__bkt",
        F.coalesce(F.sum("__bn").over(w_off), F.lit(0)).alias("__off"),
    )
    w_loc = Window.partitionBy(stratum_col, "__bkt").orderBy("__key", id_col)
    return (
        keyed.withColumn("__lr", F.row_number().over(w_loc))
        .join(F.broadcast(offsets), [stratum_col, "__bkt"])
        .withColumn("__rk", F.col("__off") + F.col("__lr"))
        .join(F.broadcast(quota), stratum_col)
        .filter(F.col("__rk") <= F.col("__quota"))
        .drop("__key", "__bkt", "__lr", "__off", "__rk", "__quota")
    )
