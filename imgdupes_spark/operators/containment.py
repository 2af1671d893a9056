"""Substring-containment pass (SURVEY.md §2.3 N8 — absent in the reference,
added per BASELINE.json north_star: "a suffix-array substring pass catches
contained near-dupes").

Whole-document fingerprints cannot see A ⊂ B when |B| >> |A| (the symmetric
Jaccard |A∩B|/|A∪B| is small even though A is fully contained). This pass
finds verbatim containment with an inverted-index candidate step and a pure
JVM verify:

  candidate  If A's tokens appear contiguously in B, every token-shingle of A
             is a shingle of B — so ANY of A's shingles works as a probe key.
             Contained side anchors on its cfg.containment_anchors RAREST
             shingles (rarity = container-side key frequency, one linear
             join); container side emits (shingle, doc) for each distinct
             shingle; equi-join on the hash and keep pairs where ALL of A's
             anchors matched (AND-combination). Candidate volume is bounded
             by the sum of the chosen keys' container counts — tiny when any
             rare shingle exists, vs up to anchors*max_bucket_size for
             hash-min anchor choice on near-boilerplate corpora. Total cost
             stays linear in corpus tokens — the scale path, vs the O(n^2)
             all-pairs a suffix array over the whole corpus would need.
  short docs Docs with n_tokens < shingle_k fold to ONE whole-doc shingle
             that can never equal a container's k-window (round-1 recall
             hole): they instead anchor on ALL their distinct token hashes,
             matched against a token-level container index (kind-tagged keys
             keep the two keyspaces disjoint). The token index roughly
             doubles the container explode; disable with
             cfg.containment_short_docs=False when tiny docs don't matter.
  verify     contains(container.content, contained.content) — exact verbatim
             substring, whole-stage codegen, no Python.

Skew guard: keys with more than cfg.max_bucket_size containers (ubiquitous
boilerplate) are dropped from both the index and anchor choice; with
rarest-first anchoring a doc is unfindable only when ALL its shingles are
boilerplate-hot — a documented recall bound, not a silent cap (the round-1
single-hash-min-anchor design lost any doc whose min shingle was hot).

Recall bounds, by construction: boundary tokens of A may merge with B's
surrounding text under tokenization; shingles strictly interior to A are
unaffected, and an anchor hits a boundary shingle with probability
~ a*(k-1)/n for doc length n. Short docs are found for token-aligned
containments (every token of A appears verbatim in B's token stream);
mid-token embeddings of a short doc are out of scope (tests pin this), as
are zero-token docs (punctuation/whitespace-only — no keys to anchor on;
see containment_edges docstring). Equal-content pairs are the exact-dup
path's job and are excluded here (strictly smaller content length).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from imgdupes_spark.caching import operator, pin
from imgdupes_spark.config import DedupeConfig
from imgdupes_spark.functions.fingerprints import doc_id_col, tokens_col


def _with_shingles(corpus: DataFrame, cfg: DedupeConfig) -> DataFrame:
    """(doc_id, ln, n_tok, shingles, toks, n_sh): tokenization stays JVM
    codegen; the per-window shingle fold runs in the numpy kernel UDF
    (same bits as the JVM shingles_col — set semantics). r7 A/B kept the
    UDF: a flat arrays_zip Horner unroll of the fold (no Python boundary)
    measured 5.1s vs the UDF's ~1.3s warm at 100k docs — the JVM's
    per-window slice/struct allocation costs more than the Arrow
    round-trip the kernel pays."""
    from imgdupes_spark.functions.fingerprints import make_shingles_udf

    sh_udf = make_shingles_udf(cfg)
    token_hashes = F.transform(tokens_col(F.col("content")), lambda t: F.xxhash64(t))
    return (
        corpus.select(
            doc_id_col(cfg).alias("doc_id"),
            F.length("content").alias("ln"),
            F.size(token_hashes).alias("n_tok"),
            sh_udf(token_hashes).alias("shingles"),
            F.array_distinct(token_hashes).alias("toks"),
        )
        .withColumn("n_sh", F.size("shingles"))
        .filter(F.col("n_tok") > 0)
    )


@operator
def containment_edges(corpus: DataFrame, cfg: DedupeConfig) -> DataFrame:
    """Edges (src, dst, origin='contain') where one doc's content is a
    verbatim proper substring of the other's. src < dst (canonical).

    The tokenize+shingle projection is ALWAYS pinned once: the anchor,
    container, skew-guard and verify branches otherwise each re-scan AND
    re-tokenize the corpus — 8 full passes at 100 TB (plan-audited). Inside
    a caching scope (the pipeline path) the scope releases it after the
    consumer materializes downstream; a direct call returns the
    materialized result and releases it before returning — no
    session-lifetime leak, no re-tokenization either way (caching.py). The
    two content columns for the verify stay as pruned scans (content is
    cheaper to re-read than to cache alongside the shingle arrays).

    Recall bound (in addition to the mid-token and boilerplate-hot bounds in
    the module header): docs whose content has ZERO tokens (punctuation or
    whitespace only) are excluded from BOTH sides — they have no token or
    shingle keys to anchor or index on. Such a doc is never reported as
    contained even when it is a verbatim substring; a zero-token CONTAINER
    can only contain other zero-token docs, so nothing else is lost."""
    n_anchor = max(1, cfg.containment_anchors)
    docs = pin(_with_shingles(corpus, cfg))
    content_cols = corpus.select(
        doc_id_col(cfg).alias("doc_id"), F.col("content")
    )
    long_d = F.col("n_tok") >= cfg.shingle_k
    # ONE job materializes the cache AND answers the short-doc probe (r7:
    # this was a count job followed by a separate isEmpty probe job)
    probe = docs.agg(
        F.count("*").alias("n"),
        F.sum((~long_d).cast("int")).alias("n_short"),
    ).collect()[0]

    # the token-level container index costs a second corpus-wide explode —
    # build it only when the corpus actually HAS short docs (corpora of
    # real files usually do, the synthetic bench tables don't)
    short_docs_present = cfg.containment_short_docs and int(probe.n_short or 0) > 0

    # ONE exploded relation serves both sides: for kind 0 the container
    # index rows ARE the contained side's shingle rows (both = long docs'
    # distinct shingles), and for kind 1 the short-doc anchor rows are a
    # subset of the token index. Per-key container counts come from ONE
    # window over that relation — r6 shaped this as groupBy(key) + join
    # back, which exchanged the corpus-wide exploded table twice more
    # (guide §2.4: two operations keyed the same way share one exchange;
    # same device as lsh.bucket_pairs' bucket sizes). ``is_short``
    # marks contained-side eligibility for kind 1.
    ex_parts = [
        docs.filter(long_d).select(
            F.col("doc_id").alias("did"),
            F.col("ln"),
            F.lit(False).alias("is_short"),
            F.lit(0).alias("kind"),
            F.explode("shingles").alias("key"),
        )
    ]
    if short_docs_present:
        ex_parts.append(
            docs.select(
                F.col("doc_id").alias("did"),
                F.col("ln"),
                (~long_d).alias("is_short"),
                F.lit(1).alias("kind"),
                F.explode("toks").alias("key"),
            )
        )
    exploded = ex_parts[0]
    for p in ex_parts[1:]:
        exploded = exploded.unionByName(p)
    counted = exploded.withColumn(
        "key_n", F.count("*").over(Window.partitionBy("kind", "key"))
    )
    # hot keys (> max_bucket_size: ubiquitous boilerplate) drop from both
    # the index and anchor candidacy right here — on the boilerplate-
    # adversarial corpus that removes every header shingle before the
    # cache, so the persisted relation holds only cold rows
    cold = pin(counted.filter(F.col("key_n") <= cfg.max_bucket_size))
    cold.count()

    container = cold.select(
        F.col("did").alias("big_id"),
        F.col("ln").alias("big_ln"),
        "kind",
        "key",
    )

    # Contained-side anchors for long docs: the n_anchor RAREST shingles —
    # rarity = container-side key count (read off the same window column).
    # Any shingle of a contained doc appears in every true container, so
    # anchor choice is recall-free; choosing by container frequency bounds
    # the candidate join volume at sum(key_n of chosen) per doc instead of
    # up to n_anchor*max_bucket_size when a hash-min anchor lands on
    # near-boilerplate (measured 19x on the boilerplate-heavy synthetic
    # corpus — see BASELINE.md). Hot keys are excluded as before — a doc
    # is unfindable only when ALL its shingles are boilerplate-hot.
    anchors = (
        cold.filter(F.col("kind") == 0)
        .groupBy("did", "ln")
        .agg(
            F.slice(
                F.array_sort(F.collect_list(F.struct("key_n", "key"))), 1, n_anchor
            ).alias("picks")
        )
        .select(
            F.col("did").alias("small_id"),
            F.col("ln").alias("small_ln"),
            F.lit(0).alias("kind"),
            F.explode("picks").alias("p"),
        )
        .select("small_id", "small_ln", "kind", F.col("p.key").alias("key"))
    )
    if short_docs_present:
        # short docs: every distinct token hash is an anchor (<= k-1 of them)
        anchors1 = cold.filter(F.col("is_short")).select(
            F.col("did").alias("small_id"),
            F.col("ln").alias("small_ln"),
            "kind",
            "key",
        )
        anchors = anchors.unionByName(anchors1)

    live = anchors
    n_live = live.groupBy("small_id").agg(F.count("*").alias("n_live"))

    cand = (
        live.join(container, ["kind", "key"])
        .filter(
            (F.col("small_id") != F.col("big_id"))
            & (F.col("small_ln") < F.col("big_ln"))
        )
        .groupBy("small_id", "big_id")
        .agg(F.count("*").alias("matched"))
        .join(n_live, ["small_id"])
        .filter(F.col("matched") == F.col("n_live"))
        .select("small_id", "big_id")
    )

    # verify: ship content only for candidate docs (semi-joined), JVM contains()
    small_c = content_cols.select(
        F.col("doc_id").alias("small_id"), F.col("content").alias("small_content")
    )
    big_c = content_cols.select(
        F.col("doc_id").alias("big_id"), F.col("content").alias("big_content")
    )
    verified = (
        cand.join(small_c, ["small_id"])
        .join(big_c, ["big_id"])
        .filter(F.contains(F.col("big_content"), F.col("small_content")))
    )
    return verified.select(
        F.least("small_id", "big_id").alias("src"),
        F.greatest("small_id", "big_id").alias("dst"),
        F.lit(None).cast("int").alias("hamming"),
        F.lit("contain").alias("origin"),
    )
