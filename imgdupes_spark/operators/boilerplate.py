"""Corpus-wide boilerplate-line removal: the C4-style curation pass that
strips lines occurring (near-)verbatim across many documents — license
headers, nav bars, generated banners — before training.

The reference engine has no corpus-level text surgery (it only groups whole
files); a training-data pipeline needs it next to dedup, so this extends the
curation surface the same way decontaminate/repetition_profile do.

Scale shape (the part that matters at 100 TB):

  find  — ONE narrow shuffle: explode to (line_hash: 8 bytes, doc_id) rows,
          map-side partial-agg countDistinct(doc) per hash, keep hashes
          present in >= min_docs distinct docs. Line TEXT never shuffles;
          the explode rows are 16 bytes.
  strip — the hot-hash set is usually tiny (a line shared by >= min_docs
          docs is boilerplate; corpora have few of those), but nothing
          bounds it, so the driver collects at most ``max_literal_lines``
          + 1 hashes: a probe that picks the strategy. Up to
          ``max_literal_lines`` hashes fold into a whole-stage-codegen
          ``isin`` filter over the per-row split (NO second shuffle, each
          doc rewritten map-side); a denser set would serialize a multi-MB
          plan and knock the filter out of codegen, so the strip becomes a
          broadcast LEFT ANTI join against the DISTRIBUTED hot-line set
          (never a driver-side list) + positional reassembly instead.

Line identity is the raw ``\\n`` split, whitespace-trimmed, hashed with
xxhash64 — trim parity with the DuckDB oracle is pinned by the driver
entry; empty lines are never stripped (they are structure, not content).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _trimmed_lines(content: F.Column) -> F.Column:
    return F.transform(
        F.split(content, "\n", -1),
        lambda ln: F.regexp_replace(ln, r"^\s+|\s+$", ""),
    )


def hot_lines(
    docs: DataFrame,
    min_docs: int,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    """(line_hash, n_docs) for every trimmed non-empty line appearing in at
    least ``min_docs`` DISTINCT documents. One narrow shuffle (16-byte
    rows); countDistinct because one doc repeating its own line 500 times
    is repetition (repetition_profile's business), not boilerplate."""
    lines = docs.select(
        F.col(id_col).alias("__doc"),
        F.explode(_trimmed_lines(F.col(content_col))).alias("__ln"),
    ).filter(F.col("__ln") != "")
    return (
        lines.select("__doc", F.xxhash64("__ln").alias("line_hash"))
        .groupBy("line_hash")
        .agg(F.countDistinct("__doc").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def strip_boilerplate_lines(
    docs: DataFrame,
    min_docs: int = 10,
    id_col: str = "doc_id",
    content_col: str = "content",
    max_literal_lines: int = 4096,
) -> DataFrame:
    """Rewrite each doc with its boilerplate lines removed.

    Returns the input columns with ``content_col`` rewritten plus
    ``n_lines_dropped``. Empty lines survive; a doc that was ALL
    boilerplate becomes the empty string (route it through the quality
    gate's too_short rule downstream).

    Strategy auto-switch (size the plan, not the hope): hot sets up to
    ``max_literal_lines`` fold into a whole-stage-codegen ``isin`` over the
    per-row split — NO second shuffle, each doc rewritten map-side (the
    common case: real corpora have few lines shared by >= min_docs docs).
    A larger hot set would serialize a multi-MB plan and knock the filter
    out of codegen, so the dense case switches to the join formulation:
    explode (doc, pos, line), broadcast LEFT ANTI join against the
    DISTRIBUTED hot-hash set, reassemble per doc with a sort-free
    array_sort(collect_list), then LEFT JOIN the aggregation back
    onto the doc spine so a doc whose every line is boilerplate survives as
    the empty string (the operator's motivating case: pure license-header
    files). One content-bearing shuffle, which is inherent when rewriting
    against an unbounded rule set. Results are identical (pinned by
    tests).

    Driver safety (r6 advice item 2): the Python-side collect is BOUNDED
    at ``max_literal_lines + 1`` rows — it only decides the strategy and
    feeds the sparse ``isin`` literal; a dense hot set never materializes
    as a Python list. The dense path broadcasts the distributed hot-line
    DataFrame (JVM broadcast limits fail loudly, never a silent driver
    OOM)."""
    hot_df_all = hot_lines(docs, min_docs, id_col, content_col).select("line_hash")
    hashes = [
        int(r.line_hash)
        for r in hot_df_all.limit(max_literal_lines + 1).collect()
    ]
    lines = _trimmed_lines(F.col(content_col))
    out_cols = [c for c in docs.columns if c != content_col]

    if len(hashes) <= max_literal_lines:
        if hashes:
            kept = F.filter(
                lines, lambda ln: (ln == "") | ~F.xxhash64(ln).isin(hashes)
            )
        else:
            kept = lines
        return docs.select(
            *out_cols,
            F.array_join(kept, "\n").alias(content_col),
            (F.size(lines) - F.size(kept)).cast("long").alias("n_lines_dropped"),
        )

    # dense hot set: broadcast anti-join path against the DISTRIBUTED
    # hot-line set (never a driver-side list — r6 advice item 2). The join
    # key is a pure equality on the line hash (empty lines get a NULL key,
    # and NULL never equals — they survive the anti-join) so the plan is a
    # BroadcastHashJoin, never a nested-loop over a mixed condition.
    hot_df = hot_df_all.select(F.col("line_hash").alias("__lh"))
    exploded = docs.select(
        F.col(id_col).alias("__doc"),
        F.posexplode(lines).alias("__pos", "__ln"),
    ).withColumn(
        "__lh", F.when(F.col("__ln") != "", F.xxhash64("__ln"))
    )
    kept_agg = (
        exploded.join(F.broadcast(hot_df), ["__lh"], "left_anti")
        .groupBy("__doc")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__pos", "__ln"))
            ).alias("__kept"),
        )
    )
    # Reassemble on the doc spine, not on the surviving rows: a doc whose
    # lines are ALL boilerplate has zero rows after the anti-join and would
    # silently vanish from a groupBy-only formulation. The spine carries no
    # content, so this join shuffles only metadata-width rows.
    kept_size = F.when(
        F.col("__kept").isNull(), F.lit(0)
    ).otherwise(F.size("__kept"))
    return (
        docs.select(
            *out_cols,
            F.size(lines).cast("long").alias("__n_lines"),
        )
        .join(kept_agg, F.col(id_col) == F.col("__doc"), "left")
        .select(
            *out_cols,
            F.coalesce(
                F.array_join(
                    F.transform(F.col("__kept"), lambda s: s["__ln"]), "\n"
                ),
                F.lit(""),
            ).alias(content_col),
            (F.col("__n_lines") - kept_size).cast("long").alias(
                "n_lines_dropped"
            ),
        )
    )
