"""Candidate-pair generation: LSH banding replaces the reference's ANN index.

The reference builds an NGT/hnsw/faiss index and runs one approximate k-NN
probe per element (reference: common/imagededuper.py:174-236, :239-266,
:300-327; k=20, eps=0.1 — a recall limiter). Here the same logical operator
— "for each element, all neighbors within threshold" — is an *exact*
distributed plan:

  simhash family : multi-block combination keys over the 64-bit simhash
                   (Manku et al. 2007): every pair within Hamming d shares
                   at least one C(b, b-d) block-combination key.
  minhash family : classic MinHash LSH — one key per band of the 128-perm
                   signature.

ONE engine serves every LSH user (text dedupe, query probe, media, embedding
dedup): band_keys hashes each (band, value) of the chosen families to one
8-byte ``bkey``; bucket_pairs self-equi-joins the (doc_id, bkey) rows into
candidate pairs; the codegen'd verify (hamming ``bit_count(xor) <= d``,
jaccard_est signature agreement >= tau) keeps exactly the in-threshold pairs.

Skew engineering (SURVEY.md §4, explicit per north_rule):
  1. exact pre-collapse — docs are first collapsed by sha256 to one
     representative; identical boilerplate files (millions at corpus scale)
     contribute ONE row to LSH instead of a quadratic hot bucket. Their
     cluster membership is restored afterwards by the sha256 map, so recall
     is unaffected.
  2. salted pair generation — buckets larger than cfg.max_bucket_size are
     split into s salt groups and pairs are generated per (g1 <= g2) salt-pair
     task, spreading an m^2 bucket across s^2 tasks instead of one straggler.
  3. AQE skew-join as backstop (enabled in session.py).
"""

from __future__ import annotations

import contextvars
from itertools import combinations
from math import comb

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from imgdupes_spark.caching import operator, pin
from imgdupes_spark.config import DedupeConfig


def sha_representatives(sig: DataFrame) -> DataFrame:
    """One representative doc per distinct sha256 (min doc_id — deterministic).

    Returns (sha256, rep_id). The reference has no such collapse (every file
    is hashed and searched individually); at cluster scale it is the single
    most important skew device.
    """
    return sig.groupBy("sha256").agg(F.min("doc_id").alias("rep_id"))


def rep_signatures(sig: DataFrame, reps: DataFrame) -> DataFrame:
    """Signatures restricted to representative docs with a valid fingerprint."""
    return (
        sig.join(reps, ["sha256"])
        .filter(F.col("doc_id") == F.col("rep_id"))
        .filter(F.col("simhash").isNotNull())
        .drop("rep_id")
    )


FAMILIES = ("simhash", "minhash")


def _family_key_exprs(cfg: DedupeConfig, family: str) -> list:
    """Pre-hashed 8-byte band-key expressions of one family, as SQL text.

    simhash: NOT single-block keys. A naive b-band scheme (b*r = 64, key =
    one r-bit block) has only 2^r distinct keys per band, so uniformly-random
    fingerprints alone produce ~n^2/2^r candidate pairs — quadratic blowup
    observed in practice at 10^5 docs and fatal at corpus scale. Instead:
    multi-block combination keys (the block-permutation idea of Manku, Jain &
    Sarma, "Detecting Near-Duplicates for Web Crawling", WWW 2007,
    re-expressed as a key explode + equi-join). Split the 64-bit simhash into
    b blocks of r bits; a pair within Hamming distance d has differing bits
    in at most d blocks, leaving >= b-d blocks identical — so keying every
    doc by ALL C(b, b-d) block-combinations (each key = combo id + the b-d
    concatenated block values, >= 32 bits of entropy for the default b=8,
    d=4) guarantees every in-threshold pair collides in at least one combo,
    while random collisions drop from n^2/2^8 to n^2/2^32.

    minhash: xxhash64 over each band's signature positions — element_at
    extraction, NOT F.slice: the per-band array allocation of slice()
    measured 3x slower at 54M band rows.

    Each key hashes its band number in with the value; the minhash band
    numbers start after the C(b, b-d) simhash combos, so the two families'
    keyspaces are disjoint whichever families are banded together.
    """
    r = cfg.simhash_band_bits
    m = cfg.simhash_bands - cfg.hamming_d  # blocks per combination key
    assert m >= 1, "pigeonhole guarantee requires cfg.hamming_d < cfg.simhash_bands"
    if family == "simhash":
        mask = (1 << r) - 1
        blocks = [
            f"(shiftrightunsigned(simhash, {r * i}) & {mask})"
            for i in range(cfg.simhash_bands)
        ]
        keys = []
        for ci, combo in enumerate(combinations(range(cfg.simhash_bands), m)):
            key = "CAST(0 AS BIGINT)"
            for i in combo:
                key = f"(({key} * {mask + 1}) + {blocks[i]})"
            keys.append(f"xxhash64({ci}, {key})")
        return keys
    assert family == "minhash", f"unknown LSH family {family!r}"
    offset = comb(cfg.simhash_bands, m)
    rpb = cfg.minhash_rows_per_band
    return [
        "xxhash64({}, {})".format(
            offset + i,
            ", ".join(f"element_at(minhash, {i * rpb + j + 1})" for j in range(rpb)),
        )
        for i in range(cfg.minhash_bands)
    ]


def band_keys(
    df: DataFrame, cfg: DedupeConfig, families: tuple, *keep: str | Column
) -> DataFrame:
    """(doc_id, *keep, bkey) LSH rows: every band key of every family in
    ``families``, from ONE projection and ONE explode over the concatenated
    key array (r7: the r6 union of per-family band tables scanned the rep_sig
    cache once per family).

    Each key is (band number, band value) pre-hashed to ONE 8-byte column
    inside the array. Two measured generation savings at 119M rows (1.7M
    docs, local[16]): dropping the simhash payload column from the exploded
    rows 30.5s -> 17.3s, and folding the (band_id, band_key) -> xxhash64 step
    into the array so the explode emits final join keys 17.3s -> 16.2s. A
    bkey hash collision can only merge two buckets (extra candidates, removed
    at verify) — never lose a pair.

    The key array is parsed from ONE SQL string (``F.expr``, one py4j
    call): building the same 102 default keys as Column objects took ~1,000
    py4j calls, 1.5 s of driver time for simhash and 0.45 s for minhash
    (median of 5 on a 4-core VM; the SQL string: 0.18 s and 0.04 s), paid on
    every call, three times per query_probe. The parsed expression tree,
    the physical plan and every ``bkey`` are identical.

    The dedupe path keeps NO fingerprint (``keep`` empty): a band table of
    n_docs x n_bands rows each lugging the ~550-byte minhash array turns the
    self-join into a multi-GB shuffle (measured 3x the cost of the whole
    simhash pass at 400k docs); verify re-joins the fingerprints for the
    surviving pairs only. ``keep`` passes columns through for the tiny probe
    side (query.py), which would otherwise re-join its own fingerprints.
    """
    keys = [k for f in families for k in _family_key_exprs(cfg, f)]
    bkey = F.explode(F.expr(f"array({', '.join(keys)})")).alias("bkey")
    return df.select("doc_id", *keep, bkey)


def hamming(a: Column, b: Column) -> Column:
    """Simhash verify: 64-bit XOR + bit_count, pure JVM whole-stage codegen —
    the Spark analogue of the reference's byte-packed vectors
    (common/imagededuper.py:186; SURVEY.md §4 X4). The threshold is
    inclusive per common/imagededuper.py:207."""
    return F.bit_count(a.bitwiseXOR(b))


def jaccard_est(a: Column, b: Column, cfg: DedupeConfig) -> Column:
    """MinHash verify: the fraction of agreeing signature positions (the
    standard MinHash estimator); tau is inclusive, mirroring the reference's
    inclusive Hamming threshold."""
    agree = F.aggregate(
        F.zip_with(a, b, lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return agree / F.lit(cfg.minhash_perms)


@operator
def bucket_pairs(bands: DataFrame, cfg: DedupeConfig) -> DataFrame:
    """Self-join (doc_id, bkey) rows into candidate pairs (src < dst),
    salting hot buckets. Not deduplicated: a pair sharing several buckets
    appears once per shared bucket.

    The multi-member bucket rows are pinned (caching.pin) for both join
    sides; a direct call returns the materialized pairs, a call inside a
    caching scope the lazy plan.

    ``bkey`` is ONE 8-byte join key (see band_keys): the narrow 16-byte rows
    keep the dominant shuffle small.

    Cold buckets (the overwhelming majority) take a plain equi-join; buckets
    above cfg.max_bucket_size are pair-generated via (g1 <= g2) salt-pair
    tasks so one boilerplate key cannot produce a straggler task.
    """
    s = cfg.salt_parts
    # The band table feeds the size pass and both join sides but is NOT
    # persisted: it is a pure codegen projection (explode) of the already
    # cached-and-materialized rep_sig, and re-running that projection per
    # scan measured 2x faster than caching + eagerly counting 44M band rows.
    # (rep_sig MUST be eagerly cached by the caller — a lazy cache lets
    # concurrently-scheduled stages recompute the fingerprint UDF itself.)
    bands = bands.select("doc_id", "bkey")
    # bucket size via a window count: ONE shuffle of the band table (the
    # groupBy-sizes + join-back formulation shuffles it three times), and the
    # self-join below reuses the window's hash(bkey) partitioning — Catalyst
    # inserts no further exchange for the equi-join.
    b = bands.withColumn(
        "bucket_n", F.count("*").over(Window.partitionBy("bkey"))
    ).filter(F.col("bucket_n") > 1)
    # post-filter survivors (multi-member buckets) are a small fraction of the
    # band table: cache them eagerly so the l/r self-join sides don't run the
    # window shuffle twice
    b = pin(b)
    b.count()

    cold = b.filter(F.col("bucket_n") <= cfg.max_bucket_size)
    l, r = cold.alias("l"), cold.alias("r")
    cold_pairs = l.join(
        r,
        (F.col("l.bkey") == F.col("r.bkey"))
        & (F.col("l.doc_id") < F.col("r.doc_id")),
    ).select(F.col("l.doc_id").alias("src"), F.col("r.doc_id").alias("dst"))

    # Degenerate-bucket guard (cfg.bucket_cap, default off): buckets above
    # the cap generate no pairs — salting spreads an m^2 bucket across s^2
    # tasks but the m^2 pair VOLUME is the real wall (10^7 rows = 5*10^13
    # pairs). The skipped row count is surfaced loudly ("no silent caps").
    if cfg.bucket_cap is not None:
        n_capped = b.filter(F.col("bucket_n") > cfg.bucket_cap).count()
        if n_capped:
            import logging

            logging.getLogger(__name__).warning(
                "bucket_cap=%d: skipping %d band rows in degenerate buckets "
                "(boilerplate band keys; see config.bucket_cap recall bound)",
                cfg.bucket_cap,
                n_capped,
            )
            b = b.filter(F.col("bucket_n") <= cfg.bucket_cap)

    # Hot buckets: docs hash to one of s salt groups; the pair (x, y) with
    # salts (gx, gy) is generated by exactly the (min(gx,gy), max(gx,gy))
    # salt-pair task. The join therefore MUST NOT also demand a doc_id
    # ordering: salt is a pure function of doc_id, so requiring the
    # smaller-doc_id doc on the left would drop every pair whose doc_id
    # order opposes its salt order (~half of all cross-salt pairs — the
    # round-1 correctness bug). Join on `!=` and canonicalize with
    # least/greatest; the g1==g2 task emits each pair twice (both
    # orientations) and the dropDuplicates collapses it.
    hot = b.filter(F.col("bucket_n") > cfg.max_bucket_size)
    salted = hot.withColumn("g", F.pmod(F.xxhash64("doc_id"), F.lit(s)))
    hl = salted.withColumn(
        "g2", F.explode(F.sequence(F.col("g"), F.lit(s - 1)))
    ).withColumnRenamed("g", "g1")
    hr = salted.withColumn(
        "g1", F.explode(F.sequence(F.lit(0), F.col("g")))
    ).withColumnRenamed("g", "g2")
    hot_pairs = (
        hl.alias("l")
        .join(
            hr.alias("r"),
            (F.col("l.bkey") == F.col("r.bkey"))
            & (F.col("l.g1") == F.col("r.g1"))
            & (F.col("l.g2") == F.col("r.g2"))
            & (F.col("l.doc_id") != F.col("r.doc_id")),
        )
        .select(
            F.least("l.doc_id", "r.doc_id").alias("src"),
            F.greatest("l.doc_id", "r.doc_id").alias("dst"),
        )
        .dropDuplicates(["src", "dst"])
    )
    return cold_pairs.unionByName(hot_pairs)


@operator
def lsh_candidate_edges(rep_sig: DataFrame, cfg: DedupeConfig, families: tuple) -> DataFrame:
    """Verified LSH edges over (doc_id, simhash[, minhash]) rows: ONE
    self-join over the band keys of every family in ``families``, one pair
    dedup, one verify join — instead of one full pipeline per family. A pair
    surfaced by either family is verified against every banded family's
    threshold; ``origin`` records the strongest evidence (simhash if within
    Hamming d — this also upgrades minhash-found pairs that happen to be
    Hamming-close, making the Hamming semantics *more* complete than running
    the passes separately).

    Returns (src, dst, hamming, jaccard_est, origin in {simhash, minhash});
    jaccard_est is NULL unless the minhash family is banded.
    """
    sim, mh = "simhash" in families, "minhash" in families
    pairs = bucket_pairs(band_keys(rep_sig, cfg, families), cfg)
    # hamming is reported for every edge; the wide minhash array is
    # re-joined only when its family is verified
    fps = ["simhash"] + (["minhash"] if mh else [])
    joined = pairs.dropDuplicates(["src", "dst"])
    for side in ("src", "dst"):
        joined = joined.join(
            rep_sig.select(
                F.col("doc_id").alias(side),
                *[F.col(c).alias(f"{side}_{c}") for c in fps],
            ),
            [side],
        )
    scored = joined.select(
        "src",
        "dst",
        hamming(F.col("src_simhash"), F.col("dst_simhash")).alias("hamming"),
        (
            jaccard_est(F.col("src_minhash"), F.col("dst_minhash"), cfg)
            if mh
            else F.lit(None).cast("double")
        ).alias("jaccard_est"),
    )
    near = F.col("hamming") <= cfg.hamming_d
    keep = F.lit(False)
    if sim:
        keep = keep | near
    if mh:
        keep = keep | (F.col("jaccard_est") >= cfg.jaccard_tau)
    origin = F.when(near, "simhash").otherwise("minhash") if sim else F.lit("minhash")
    return scored.filter(keep).withColumn("origin", origin)


def doc_rep_map(sig: DataFrame, reps: DataFrame | None = None) -> DataFrame:
    """(doc_id, rep_id) mapping — THE shared small projection of the corpus.

    Computed once per run and reused by exact_edges / rep_edges /
    assign_clusters: each of those used to re-join the full signatures table
    with reps, i.e. several corpus-wide shuffles at 10^12 scale; this 16-byte
    projection is shuffled once and cached.
    """
    if reps is None:
        reps = sha_representatives(sig)
    return sig.select("doc_id", "sha256").join(reps, ["sha256"]).select(
        "doc_id", "rep_id"
    )


def exact_edges(doc_rep: DataFrame) -> DataFrame:
    """d=0 edges implied by the sha256 collapse: every non-representative doc
    connects to its representative (hamming 0, equal content)."""
    return (
        doc_rep.filter(F.col("doc_id") != F.col("rep_id"))
        .select(
            F.least("doc_id", "rep_id").alias("src"),
            F.greatest("doc_id", "rep_id").alias("dst"),
            F.lit(0).alias("hamming"),
            F.lit("exact").alias("origin"),
        )
    )


def rep_edges(edges: DataFrame, doc_rep: DataFrame) -> DataFrame:
    """Remap doc-level edge endpoints (exact / containment passes) to their
    sha256 representatives so the component graph stays over the collapsed
    node set; self-loops vanish."""
    return (
        edges.join(doc_rep.withColumnRenamed("doc_id", "src"), ["src"], "left")
        .withColumn("src", F.coalesce("rep_id", "src"))
        .drop("rep_id")
        .join(doc_rep.withColumnRenamed("doc_id", "dst"), ["dst"], "left")
        .withColumn("dst", F.coalesce("rep_id", "dst"))
        .drop("rep_id")
        .filter(F.col("src") != F.col("dst"))
    )


@operator
def all_candidate_edges(
    sig: DataFrame,
    cfg: DedupeConfig,
    corpus: DataFrame | None = None,
    reps: DataFrame | None = None,
    doc_rep: DataFrame | None = None,
) -> DataFrame:
    """Union of exact + simhash + minhash (+ containment, when the corpus is
    supplied and enabled) edge passes over the collapsed representative set,
    deduplicated on (src, dst) keeping the strongest origin
    (exact > simhash > minhash > contain). A direct call returns the
    materialized edges; inside a caching scope, the lazy plan."""
    if reps is None:
        reps = sha_representatives(sig)
    if doc_rep is None:
        doc_rep = doc_rep_map(sig, reps)
    # eager persist: rep_sig's plan contains the sha groupBy + join
    # exchanges; a lazy cache referenced by BOTH band-family union branches
    # re-runs those exchanges once per branch on first touch (r7 A/B:
    # lsh_cc 15.5s -> 27.4s lazy — cache-miss compute is per-reference,
    # not shared), so the one-pass eager count is the cheaper shape.
    # Overlap (guide §2.6): the containment pass's materialization jobs
    # (shingle-projection cache + short-doc probe + cold-key cache) are
    # independent of every LSH job until the final union — kick them off
    # on a driver thread so the scheduler back-fills executors while the
    # rep_sig/band caches materialize. Spark actions are thread-safe; the
    # thread runs in a copy of this context, so its pins join our scope.
    contain_future = None
    pool = None
    if corpus is not None and cfg.containment_enabled:
        from concurrent.futures import ThreadPoolExecutor

        from imgdupes_spark.operators.containment import containment_edges

        pool = ThreadPoolExecutor(max_workers=1)
        contain_future = pool.submit(
            contextvars.copy_context().run, containment_edges, corpus, cfg
        )
    try:
        rep_sig = pin(rep_signatures(sig, reps))
        rep_sig.count()
        # seed schema follows the configured id width (long or struct<hi,lo>)
        id_type = dict(sig.dtypes)["doc_id"]
        unioned = sig.sparkSession.createDataFrame(
            [], f"src {id_type}, dst {id_type}, hamming int, origin string"
        )
        if "exact" in cfg.passes:
            unioned = unioned.unionByName(exact_edges(doc_rep))
        families = tuple(f for f in FAMILIES if f in cfg.passes)
        if families:
            unioned = unioned.unionByName(
                lsh_candidate_edges(rep_sig, cfg, families).select(
                    "src", "dst", "hamming", "origin"
                )
            )
        if contain_future is not None:
            unioned = unioned.unionByName(contain_future.result())
    finally:
        if pool is not None:
            # on an LSH error the containment thread may still be running
            # Spark jobs and pinning into our scope: let it finish before the
            # scope releases; the LSH error propagates, not the thread's
            pool.shutdown(wait=True, cancel_futures=True)
    ranked = (
        unioned
        .withColumn(
            "origin_rank",
            F.when(F.col("origin") == "exact", 0)
            .when(F.col("origin") == "simhash", 1)
            .when(F.col("origin") == "minhash", 2)
            .otherwise(3),
        )
    )
    w = Window.partitionBy("src", "dst").orderBy("origin_rank")
    return (
        ranked.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("src", "dst", "hamming", "origin")
    )
