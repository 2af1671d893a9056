"""The benchmark's workloads: inputs made from the seed, the timed request,
its traced decomposition into layer spans, and the output check.

Every workload drives the engine's public functions only and never passes
``caches=``.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from imgdupes_spark.caching import persistent_rdd_ids, release_rdd_ids
from imgdupes_spark.config import DedupeConfig
from imgdupes_spark.corpus import boilerplate_corpus_spark, synthetic_corpus_spark
from imgdupes_spark.functions.fingerprints import signatures
from imgdupes_spark.operators.clusters import assign_clusters, dedupe_members
from imgdupes_spark.operators.components import connected_components
from imgdupes_spark.operators.containment import containment_edges
from imgdupes_spark.operators.lsh import (
    all_candidate_edges,
    doc_rep_map,
    rep_edges,
    sha_representatives,
)
from imgdupes_spark.operators.query import query_probe
from imgdupes_spark.plans.manifest import ManifestedParquetTable
from imgdupes_spark.plans.pipeline import DedupePipeline

LAYERS = (
    "fingerprints",
    "lsh",
    "containment",
    "components",
    "clusters",
    "pipeline",
    "query",
)


class CheckFailed(Exception):
    pass


def _result_rdd_ids(df) -> set:
    """Id of the persisted RDD that backs a checkpointed result, if any."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        return {plan.rdd().id()}
    return set()


def call_released(spark, fn):
    """Run ``fn() -> (df, n)``; return (df, n, leaked, pinned), where
    ``leaked`` counts RDDs the call left persisted besides the one backing
    its result, and ``pinned`` is every RDD it left persisted, to release
    once the caller is done with the result."""
    before = persistent_rdd_ids(spark)
    df, n = fn()
    pinned = persistent_rdd_ids(spark) - before
    return df, n, len(pinned - _result_rdd_ids(df)), pinned


def _count(df):
    return df, df.count()


def _collect(df):
    return df, df.collect()


def planted_twins(n: int) -> tuple[int, int]:
    """(members, clusters) that ``synthetic_corpus_spark(n)`` plants: every
    id % 11 == 0 has an exact twin, every id % 17 == 0 a near twin, and each
    planted id forms one cluster with its twins."""
    exact, near, both = len(range(0, n, 11)), len(range(0, n, 17)), len(range(0, n, 187))
    bases = exact + near - both
    return bases + exact + near, bases


class BatchDup:
    """signatures -> dedupe_members over a corpus of planted exact and near
    twins. No ``corpus=``, so the containment pass is bypassed."""

    name = "batch_dup"
    delta_bytes = 0  # no pipeline build

    def __init__(self, spark, seed: int, tiny: bool):
        self.spark = spark
        self.cfg = DedupeConfig()
        self.n = 300 if tiny else 2500
        self.seed = seed
        self.corpus = None
        self.docs = 0
        self.counts: dict[str, float] = {}

    def setup(self, tracer=None) -> int:
        """Builds the corpus and makes the cold first dedupe call; returns
        the RDDs that call leaked."""
        # localCheckpoint, not persist: the fixture stays pinned when the
        # traced run clears the SQL cache manager between requests
        self.corpus = synthetic_corpus_spark(self.spark, self.n, seed=self.seed).localCheckpoint(
            eager=True
        )
        self.docs = self.corpus.count()
        leaked, finish = self.request()
        finish()
        return leaked

    def request(self):
        """One dedupe call. Returns the RDDs it leaked and a ``finish``
        step, run after the call is timed, that checks the result and
        releases it."""
        members, n, leaked, pinned = call_released(
            self.spark,
            lambda: _count(dedupe_members(signatures(self.corpus, self.cfg), self.cfg)),
        )

        def finish():
            try:
                self.check(members, n)
            finally:
                release_rdd_ids(self.spark, pinned)

        return leaked, finish

    def traced_request(self, tracer):
        """dedupe_members' composition with each layer's public calls in its
        own span. Each stage is materialized inside its span so its work is
        charged to its own layer. ``clusters`` is the parent span of ``lsh``
        and ``components``, as ``dedupe_members`` is their caller."""
        spark, cfg = self.spark, self.cfg
        before = persistent_rdd_ids(spark)

        def release():
            # the direct calls pin caches dedupe_members would release
            spark.catalog.clearCache()
            release_rdd_ids(spark, persistent_rdd_ids(spark) - before)

        try:
            with tracer.span("fingerprints"):
                sig = signatures(self.corpus, cfg).persist()
                n_docs = sig.count()
            with tracer.span("clusters"):
                with tracer.span("lsh"):
                    reps = sha_representatives(sig).persist()
                    doc_rep = doc_rep_map(sig, reps).persist()
                    edges = rep_edges(
                        all_candidate_edges(sig, cfg, reps=reps, doc_rep=doc_rep), doc_rep
                    ).persist()
                    n_edges = edges.count()
                with tracer.span("components"):
                    comps = connected_components(edges)
                members = assign_clusters(sig, doc_rep, comps).localCheckpoint(eager=True)
        except BaseException:
            release()
            raise

        def finish():
            try:
                n_members = members.count()
                self.counts = {
                    "fingerprints.docs": n_docs,
                    "lsh.reps": reps.count(),
                    "lsh.edges": n_edges,
                    "components.edges_in": n_edges,
                    "clusters.members": n_members,
                }
                self.check(members, n_members)
            finally:
                release()

        return 0, finish

    def check(self, members, n: int) -> None:
        want_members, want_clusters = planted_twins(self.n)
        pid = F.regexp_extract("path", r"f(\d+)\.py$", 1).cast("long")
        row = members.agg(
            F.countDistinct("cluster_id").alias("clusters"),
            F.sum((~((pid % 11 == 0) | (pid % 17 == 0))).cast("int")).alias("unplanted"),
        ).collect()[0]
        got = (n, row.clusters, row.unplanted or 0)
        if got != (want_members, want_clusters, 0):
            raise CheckFailed(
                f"{self.name}: (members, clusters, unplanted) = {got}, "
                f"want {(want_members, want_clusters, 0)}"
            )


ARRIVALS = 16  # one micro-batch: the stream gate's maxFilesPerTrigger


class ProbeArrivals:
    """Closed loop, one client: each request probes a micro-batch of 16
    arrivals (8 near-copies of indexed docs, 8 docs the index lacks) with
    ``query_probe`` against a signatures table built in set-up from a
    corpus where every doc shares a licence header and 1 in 16 docs has a
    planted contained snippet."""

    name = "probe_arrivals"

    def __init__(self, spark, seed: int, tiny: bool, workdir: str):
        self.spark = spark
        self.cfg = DedupeConfig()
        self.n = 300 if tiny else 2000
        self.n_sets = 2 if tiny else 16
        self.seed = seed
        self.workdir = workdir
        self.docs = ARRIVALS
        self.corpus = None
        self.index = None
        self.arrivals: list[tuple] = []
        self.n_planted = 0
        self.k = 0
        self.counts: dict[str, float] = {}
        self.delta_bytes = 0

    def _pick(self, corpus) -> tuple[list, list]:
        """Held-out docs and near-copy sources: distinct unplanted docs
        (neither a snippet nor a container), ordered by a seeded hash."""
        pid = F.regexp_extract("path", r"^src/b(\d+)\.py$", 1)
        rows = (
            corpus.filter((pid != "") & (pid.cast("long") % 16 != 0))
            .orderBy(F.xxhash64(F.lit(self.seed), "path"))
            .limit(ARRIVALS * self.n_sets)
            .collect()
        )
        half = ARRIVALS // 2 * self.n_sets
        return [tuple(r) for r in rows[:half]], [tuple(r) for r in rows[half:]]

    def setup(self, tracer=None) -> int:
        """Builds the index, then makes the cold first probe, checked;
        returns the RDDs the calls leaked.

        Untraced, the index is the pipeline's signatures stage alone: the
        signatures table written through the manifest. Traced, the whole
        ``DedupePipeline`` builds it, and ``containment_edges`` runs once
        on the corpus, so those layers are traced; that costs 20-60 s a run,
        which the untraced runs cannot afford."""
        spark = self.spark
        corpus, self.n_planted = boilerplate_corpus_spark(spark, self.n, seed=self.seed)
        corpus = corpus.localCheckpoint(eager=True)
        held, sources = self._pick(corpus)
        held_paths = spark.createDataFrame([(r[1],) for r in held], "path string")
        self.corpus = corpus.join(held_paths, ["path"], "left_anti").select(*corpus.columns)
        shutil.rmtree(self.workdir, ignore_errors=True)
        if tracer is None:
            table = ManifestedParquetTable(spark, os.path.join(self.workdir, "signatures"))
            rows, want = table.overwrite(signatures(self.corpus, self.cfg)), corpus.count() - len(held)
            if rows != want:
                raise CheckFailed(f"{self.name}: index rows = {rows}, want {want}")
            self.index, leaked = table.read(), 0
        else:
            pipe = DedupePipeline(spark, self.cfg, self.workdir)
            with tracer.span("pipeline"):
                _, n, leaked, _ = call_released(spark, lambda: _count(pipe.run(self.corpus)))
            if n != 2 * self.n_planted:
                raise CheckFailed(f"{self.name}: pipeline members = {n}, want {2 * self.n_planted}")
            self.index = pipe.results["signatures"].df
        per = ARRIVALS // 2
        for s in range(self.n_sets):
            srcs = sources[s * per : (s + 1) * per]
            near = [
                (repo + "_arrive", f"arrive/{s}/{path}", commit, lang, f"{content} nearedit{s}x{j}")
                for j, (repo, path, commit, lang, content) in enumerate(srcs)
            ]
            self.arrivals.append((near + held[s * per : (s + 1) * per], srcs))
        if tracer is not None:
            # the build fingerprinted every doc, so its delta is the corpus
            self.delta_bytes = self.corpus.agg(F.sum(F.octet_length("content"))).collect()[0][0]
            with tracer.span("containment"):
                _, n_contain, _, pinned = call_released(
                    spark, lambda: _count(containment_edges(self.corpus, self.cfg))
                )
            release_rdd_ids(spark, pinned)
            self.counts["containment.edges"] = n_contain
        probe_leaked, finish = self.request()
        finish()
        return leaked + probe_leaked

    def _next(self):
        rows, sources = self.arrivals[self.k % self.n_sets]
        self.k += 1
        arrivals = self.spark.createDataFrame(
            rows, "repo string, path string, commit string, lang string, content string"
        )
        return arrivals, rows, sources

    def _query(self, arrivals):
        return _collect(query_probe(self.index, arrivals, self.cfg).select("query_path", "path"))

    def request(self):
        """One probe; returns (leaked RDDs, the untimed check)."""
        arrivals, rows, sources = self._next()
        _, got, leaked, pinned = call_released(self.spark, lambda: self._query(arrivals))
        release_rdd_ids(self.spark, pinned)
        return leaked, lambda: self.check(got, rows, sources)

    def traced_request(self, tracer):
        arrivals, rows, sources = self._next()
        with tracer.span("query"):
            _, got = self._query(arrivals)
        self.counts["query.hits"] = len(got)
        return 0, lambda: self.check(got, rows, sources)

    def check(self, got, rows, sources) -> None:
        found = {(r.query_path, r.path) for r in got}
        missing = [
            src[1]
            for near, src in zip(rows, sources)
            if (near[1], src[1]) not in found
        ]
        if missing:
            raise CheckFailed(f"{self.name}: near-copies of {missing} missed their source")


def make(name: str, spark, seed: int, tiny: bool, workdir: str):
    if name == BatchDup.name:
        return BatchDup(spark, seed, tiny)
    if name == ProbeArrivals.name:
        return ProbeArrivals(spark, seed, tiny, os.path.join(workdir, "pipeline"))
    raise SystemExit(f"unknown workload {name!r}")
