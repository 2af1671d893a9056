"""Round-2 verdict item 2: operators must not leak persisted DataFrames.

Every operator pins its intermediates through caching.scope and must drain
them before returning, on success and on error: the only persistent RDDs
left behind are the operator's OWN materialized result (ops that return a
localCheckpoint(eager=True) pin exactly that — an intentional, bounded
artifact the caller owns, released when the result is GC'd). A leaked intermediate (e.g. the band table inside bucket_pairs)
shows up as an EXTRA persistent RDD that nobody can release — at 100 TB
that's billions of cached band rows pinned for the session.

The assertions count NEW entries in sc.getPersistentRDDs() relative to a
snapshot taken before the call (the session fixtures keep their own caches).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from imgdupes_spark.config import DedupeConfig
from imgdupes_spark.functions.fingerprints import signatures
from imgdupes_spark.operators.clusters import dedupe_members
from imgdupes_spark.operators.containment import containment_edges
from imgdupes_spark.operators.knn import embedding_dedup
from imgdupes_spark.operators.lsh import all_candidate_edges, bucket_pairs


def _persistent_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _new_after(spark, before: set) -> set:
    return _persistent_ids(spark) - before


def test_bucket_pairs_self_manages_cache(spark, cfg):
    before = _persistent_ids(spark)
    bands = spark.range(200).select(
        F.col("id").alias("doc_id"), (F.col("id") % 10).alias("bkey")
    )
    pairs = bucket_pairs(bands, cfg)
    assert pairs.count() > 0
    new = _new_after(spark, before)
    # exactly the returned localCheckpoint — the internal band cache is gone
    assert len(new) <= 1, f"leaked persistent RDDs: {new}"


def test_embedding_dedup_drains_band_cache(spark):
    before = _persistent_ids(spark)
    rng = np.random.default_rng(7)
    base = rng.standard_normal((40, 16))
    rows = []
    vid = 0
    for i in range(40):
        rows.append((vid, [float(x) for x in base[i]])); vid += 1
        if i % 4 == 0:  # planted near-twin
            rows.append((vid, [float(x) for x in base[i] + 0.001])); vid += 1
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_dedup(vecs, dim=16, tau=0.99)
    assert out.count() >= 20
    new = _new_after(spark, before)
    assert len(new) <= 1, f"leaked persistent RDDs: {new}"


def test_containment_edges_direct_call_caches_and_drains(spark, cfg, small_corpus):
    small_corpus.count()  # materialize the session fixture's own cache first
    before = _persistent_ids(spark)
    edges = containment_edges(small_corpus, cfg)
    assert edges.count() > 0
    new = _new_after(spark, before)
    assert len(new) <= 1, f"leaked persistent RDDs: {new}"


def test_dedupe_members_pipeline_drains_all(spark, cfg, small_corpus):
    small_corpus.count()  # materialize the session fixture's own cache first
    before = _persistent_ids(spark)
    sig = signatures(small_corpus, cfg)
    members = dedupe_members(sig, cfg, corpus=small_corpus)
    assert members.count() > 0
    new = _new_after(spark, before)
    assert len(new) <= 1, f"leaked persistent RDDs: {new}"


def test_all_candidate_edges_direct_call_caches_and_drains(spark, cfg, small_corpus):
    small_corpus.count()  # materialize the session fixture's own cache first
    before = _persistent_ids(spark)
    edges = all_candidate_edges(signatures(small_corpus, cfg), cfg)
    assert edges.count() > 0
    new = _new_after(spark, before)
    # exactly the returned checkpoint: rep_sig and the band cache are gone
    assert len(new) <= 1, f"leaked persistent RDDs: {new}"


def test_dedupe_members_keeps_caller_cache(spark, cfg, small_corpus):
    """A ``sig`` the caller cached belongs to the caller: dedupe_members
    reads through it but must not unpersist it."""
    sig = signatures(small_corpus, cfg).persist()
    sig.count()
    assert dedupe_members(sig, cfg).count() > 0
    assert sig.storageLevel != StorageLevel.NONE
    sig.unpersist()


def _fail_lsh(spark, cfg, small_corpus, tmp_path, monkeypatch):
    from imgdupes_spark.operators import lsh

    def boom(*a, **k):
        raise RuntimeError("injected LSH failure")

    monkeypatch.setattr(lsh, "lsh_candidate_edges", boom)
    return lambda: dedupe_members(signatures(small_corpus, cfg), cfg, corpus=small_corpus)


def _fail_cc_rounds(spark, cfg, small_corpus, tmp_path, monkeypatch):
    from imgdupes_spark.operators import components

    monkeypatch.setattr(components, "MAX_ROUNDS", 1)
    chain = spark.range(64).select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    return lambda: components.connected_components(chain)


def _raise_cc(*a, **k):
    raise RuntimeError("injected CC failure")


def _fail_embedding_cc(spark, cfg, small_corpus, tmp_path, monkeypatch):
    from imgdupes_spark.operators import components

    monkeypatch.setattr(components, "connected_components", _raise_cc)
    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(rng.standard_normal((40, 16)))]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return lambda: embedding_dedup(vecs, dim=16, tau=0.99)


def _fail_pipeline_cc(spark, cfg, small_corpus, tmp_path, monkeypatch):
    from imgdupes_spark.plans import pipeline

    monkeypatch.setattr(pipeline, "connected_components", _raise_cc)
    pipe = pipeline.DedupePipeline(spark, cfg, str(tmp_path / "wd_fail"))
    return lambda: pipe.run(small_corpus)


@pytest.mark.parametrize(
    "inject, match",
    [
        (_fail_lsh, "injected LSH failure"),
        (_fail_cc_rounds, "no convergence"),
        (_fail_embedding_cc, "injected CC failure"),
        (_fail_pipeline_cc, "injected CC failure"),
    ],
    ids=["dedupe_members_lsh", "cc_no_convergence", "embedding_dedup_cc", "pipeline_cc"],
)
def test_failure_releases_all(spark, cfg, small_corpus, tmp_path, monkeypatch, inject, match):
    """A failing operator leaves nothing pinned: its scope releases every
    cache and checkpoint made before the error. For the LSH case the error
    also surfaces only after the containment overlap thread has finished,
    whose pins joined the same scope."""
    import threading

    small_corpus.count()  # materialize the session fixture's own cache first
    call = inject(spark, cfg, small_corpus, tmp_path, monkeypatch)
    before = _persistent_ids(spark)
    threads_before = set(threading.enumerate())
    with pytest.raises(RuntimeError, match=match):
        call()
    pool_threads = [
        t for t in set(threading.enumerate()) - threads_before
        if t.name.startswith("ThreadPoolExecutor")
    ]
    assert not pool_threads, f"containment thread still alive: {pool_threads}"
    new = _new_after(spark, before)
    assert not new, f"leaked persistent RDDs: {new}"


def test_mega_rank_releases_range_checkpoint(spark, cfg, small_corpus):
    """The mega-cluster rank path pins a range-partitioned slice of the
    member table with an eager localCheckpoint; it must be released once the
    ranked result is materialized (round-3 advice item 1) — the slice is the
    10^8-row scenario the path exists for, so leaking it pins the biggest
    table of the job for the session."""
    from imgdupes_spark.operators.clusters import delete_plan, dedupe_members

    small_corpus.count()
    sig = signatures(small_corpus, cfg)
    members = dedupe_members(sig, cfg)
    members.count()
    before = _persistent_ids(spark)
    # mega_cluster_rows=0 forces every cluster through the mega path
    plan = delete_plan(members, cfg, mega_cluster_rows=0)
    assert plan.count() > 0
    new = _new_after(spark, before)
    # exactly the materialized ranked result — the parted slice is gone
    assert len(new) <= 1, f"leaked persistent RDDs: {new}"


def test_run_curation_never_persists_content(spark, cfg, small_corpus, tmp_path, monkeypatch):
    """Round-3 verdict item 4: the curation stage must follow the signatures
    stage's pruning discipline — nothing content-bearing is ever persisted.
    Spies on DataFrame.persist for the duration of run_curation and asserts
    no persisted plan carries the corpus `content` (or bench `text`) column;
    also asserts the stage drains whatever it does persist."""
    from pyspark.sql import DataFrame as SparkDataFrame

    from imgdupes_spark.plans.pipeline import DedupePipeline

    small_corpus.count()
    persisted_cols: list[set] = []
    orig = SparkDataFrame.persist

    def spy(self, *a, **k):
        persisted_cols.append(set(self.columns))
        return orig(self, *a, **k)

    monkeypatch.setattr(SparkDataFrame, "persist", spy)
    before = _persistent_ids(spark)
    bench = spark.createDataFrame([("some benchmark suite text",)], "text string")
    pipe = DedupePipeline(spark, cfg, str(tmp_path / "wd_hyg"))
    out = pipe.run_curation(small_corpus, bench=bench)
    assert out.count() == small_corpus.count()
    wide = [c for c in persisted_cols if "content" in c or "text" in c]
    assert not wide, f"content-bearing plans persisted during curation: {wide}"
    new = _new_after(spark, before)
    assert len(new) <= 1, f"leaked persistent RDDs: {new}"


def test_scope_collects_pins_from_threads():
    """Threads run under contextvars.copy_context() pin into their caller's
    scope (the containment overlap pattern); no pin is lost under heavy
    thread switching, and the scope releases every one on exit."""
    import contextvars
    import sys
    import threading

    from imgdupes_spark import caching

    class Fake:
        storageLevel = StorageLevel.NONE
        released = 0

        def persist(self):
            return self

        def unpersist(self):
            Fake.released += 1

    n_threads, per = 16, 200
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with caching.scope() as pins:
            def work():
                for _ in range(per):
                    caching.pin(Fake())

            threads = [
                threading.Thread(target=contextvars.copy_context().run, args=(work,))
                for _ in range(n_threads)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
            assert not any(t.is_alive() for t in threads)
            assert len(pins) == n_threads * per
    finally:
        sys.setswitchinterval(old)
    assert Fake.released == n_threads * per
