"""Optimization-round measurement harness (guide §1): isolates each expensive
operator with the noop sink so computation is timed without the sink, labels
jobs, and dumps .explain("formatted") plans for the judge's plan checks.

bench.py is FROZEN for driver measurement; this file exists for engineering
evidence only (OPTIMIZATION_r07.md cites its numbers).

Usage:
  python bench_extra.py <piece> [legs]        # time one piece, min-of-legs
  python bench_extra.py explain <out_dir>     # dump plans for every piece
  python bench_extra.py all [legs]            # time every piece

Pieces: corpus, signatures, lsh_cc, containment, spans, near_dup, shards.
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same contract as bench.py);
SPARK_GRAFT_BENCH_N sizes the synthetic corpus (default 1M * sf).
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

from imgdupes_spark import caching
from imgdupes_spark.config import DedupeConfig
from imgdupes_spark.corpus import boilerplate_corpus_spark, synthetic_corpus_spark
from imgdupes_spark.functions.fingerprints import signatures
from imgdupes_spark.operators.clusters import dedupe_members
from imgdupes_spark.operators.containment import containment_edges
from imgdupes_spark.operators.spans import duplicate_spans
from imgdupes_spark.session import get_spark

import __spark_entry__ as entry_mod


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").split("sf")[-1])
    n_synth = int(os.environ.get("SPARK_GRAFT_BENCH_N", max(1000, int(1_000_000 * sf))))
    boiler_n = int(os.environ.get("SPARK_GRAFT_BOILER_N", "100000"))
    piece = sys.argv[1] if len(sys.argv) > 1 else "all"

    spark = get_spark(master=f"local[{cpus}]", app_name=f"bench_extra_{piece}")
    sc = spark.sparkContext
    cfg = DedupeConfig()

    def corpus_df():
        return synthetic_corpus_spark(spark, n_synth)

    def span_input(corpus):
        return corpus.select(
            F.xxhash64("repo", "path", "commit").alias("doc_id"), "content"
        )

    def shard_input(corpus):
        from imgdupes_spark.functions.text import token_count_col

        return corpus.select(
            F.xxhash64("repo", "path", "commit").alias("doc_id"),
            token_count_col(F.col("content")).alias("n_tokens"),
        )

    if piece == "explain":
        out_dir = sys.argv[2] if len(sys.argv) > 2 else "plans/r07"
        os.makedirs(out_dir, exist_ok=True)
        suffix = sys.argv[3] if len(sys.argv) > 3 else "before"
        # inside a caching scope the operators return their LAZY plans (no
        # localCheckpoint truncation), so the files show the real operator
        # shape; the scope releases their pins once the plans are written
        with caching.scope():
            corpus = corpus_df().persist()
            corpus.count()
            sig = signatures(corpus, cfg)
            bcorpus, _ = boilerplate_corpus_spark(spark, boiler_n)
            contain = containment_edges(bcorpus, cfg)
            # near_dup_members checkpoints inside dedupe_members; the
            # informative plan for it is the full candidate-edge pipeline,
            # captured here on the same corpus shape the query uses
            from imgdupes_spark.operators.lsh import all_candidate_edges

            nd_corpus = entry_mod._corpus_shape(
                entry_mod._dup_docs(entry_mod._prep(spark), sf_dir)
            )
            nd_sig = signatures(nd_corpus, cfg).persist()
            nd_sig.count()
            nd_edges = all_candidate_edges(nd_sig, cfg, corpus=nd_corpus)
            plans = {
                "signatures": sig,
                "containment_boiler": contain,
                "duplicate_spans_corpus": duplicate_spans(span_input(corpus), k=8),
                "near_dup_members": nd_edges,
                "token_shards_corpus": __import__(
                    "imgdupes_spark.operators.sampling", fromlist=["shard_by_tokens"]
                ).shard_by_tokens(shard_input(corpus), 100_000),
            }
            jvm = spark.sparkContext._jvm
            mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            for name, df in plans.items():
                path = os.path.join(out_dir, f"{name}_{suffix}.txt")
                with open(path, "w") as f:
                    f.write(df._jdf.queryExecution().explainString(mode))
                print("wrote", path)
        spark.stop()
        return

    timings: dict[str, list[float]] = {}
    legs = int(sys.argv[2]) if len(sys.argv) > 2 else 2

    def run(name: str, fn, k: int = legs):
        out = []
        for i in range(k):
            sc.setJobDescription(f"{name} leg {i}")
            t0 = time.time()
            fn()
            out.append(round(time.time() - t0, 3))
            sc.setJobDescription(None)
        timings[name] = out
        print(f"{name}: legs={out} min={min(out)}", flush=True)

    pieces = (
        ["corpus", "signatures", "lsh_cc", "containment", "spans", "near_dup", "shards"]
        if piece == "all"
        else [piece]
    )

    corpus = None
    if {"corpus", "signatures", "lsh_cc", "spans", "shards"} & set(pieces):
        if "corpus" in pieces:
            run("corpus_noop", lambda: _noop(corpus_df()))
        corpus = corpus_df().persist()
        corpus.count()

    if "signatures" in pieces:
        run("signatures_noop", lambda: _noop(signatures(corpus, cfg)))
    if "lsh_cc" in pieces:
        def _lsh():
            sig = signatures(corpus, cfg).persist()
            sig.count()
            t0 = time.time()
            dedupe_members(sig, cfg).count()
            sig.unpersist()
            return time.time() - t0

        out = []
        for i in range(legs):
            sc.setJobDescription(f"lsh_cc leg {i}")
            out.append(round(_lsh(), 3))
            sc.setJobDescription(None)
        timings["lsh_cc"] = out
        print(f"lsh_cc: legs={out} min={min(out)}", flush=True)
    if "containment" in pieces:
        bcorpus, _ = boilerplate_corpus_spark(spark, boiler_n)
        bcorpus = bcorpus.persist()
        bcorpus.count()
        run("containment_count", lambda: containment_edges(bcorpus, cfg).count())
    if "spans" in pieces:
        run("spans_count", lambda: duplicate_spans(span_input(corpus), k=8).count())
    if "near_dup" in pieces:
        qs = entry_mod.queries()
        run("near_dup_members_count", lambda: qs["near_dup_members"](spark, sf_dir).count())
    if "shards" in pieces:
        from imgdupes_spark.operators.sampling import shard_by_tokens

        run("shards_count", lambda: shard_by_tokens(shard_input(corpus), 100_000).count())

    print(json.dumps({"piece": piece, "sf": sf, "cpus": cpus, "legs": timings}))
    spark.stop()


if __name__ == "__main__":
    main()
