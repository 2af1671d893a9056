"""Auxiliary operators: query probe, scope list, lang filter, incremental
diff, set-rank/delete-plan/summarize semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from imgdupes_spark.config import DedupeConfig
from imgdupes_spark.functions.fingerprints import signatures
from imgdupes_spark.operators.clusters import (
    cross_repo_flag,
    dedupe_members,
    delete_plan,
    summarize,
    with_set_rank,
)
from imgdupes_spark.operators.query import query_probe
from imgdupes_spark.sources.loader import incremental_diff, lang_filter, scope_to_list


def test_query_probe_finds_neighbors(spark, cfg, small_corpus, small_corpus_pd):
    corpus_pd, truth = small_corpus_pd
    sig = signatures(small_corpus, cfg).cache()
    # probe = content of an exact-dup member under a new identity
    exact = truth[truth.plant_kind == "exact"].iloc[0]
    content = corpus_pd[
        (corpus_pd.repo == exact.repo) & (corpus_pd.path == exact.path)
    ].content.iloc[0]
    probe = spark.createDataFrame(
        [("probe/repo", "probe.py", "f" * 40, "py", content)],
        ["repo", "path", "commit", "lang", "content"],
    )
    res = query_probe(sig, probe, cfg).collect()
    found = {(r.repo, r.path) for r in res}
    assert (exact.repo, exact.path) in found
    hit_rows = [r for r in res if (r.repo, r.path) == (exact.repo, exact.path)]
    assert any(r.origin == "simhash" and r.hamming == 0 for r in hit_rows)
    # the probe works under every enabled hash family (reference
    # common/hashcache.py:130-141): the identical doc is also a minhash hit
    assert any(r.origin == "minhash" and r.jaccard_est == 1.0 for r in hit_rows)
    # probe never returns itself
    assert ("probe/repo", "probe.py") not in found

    # minhash-only config: probe still works, simhash rows absent
    from imgdupes_spark.config import DedupeConfig

    mh_only = query_probe(sig, probe, DedupeConfig(passes=("minhash",))).collect()
    assert {(r.repo, r.path) for r in mh_only if r.origin == "minhash"} >= {
        (exact.repo, exact.path)
    }
    assert all(r.origin == "minhash" for r in mh_only)

    # exact-only config: sha256-equality hits ONLY — no hamming<=d neighbors
    # mislabeled as exact (round-2 advice)
    ex_only = query_probe(sig, probe, DedupeConfig(passes=("exact",))).collect()
    assert ex_only and all(
        r.origin == "exact" and r.hamming == 0 for r in ex_only
    )
    expected = {
        (r.repo, r.path)
        for _, r in corpus_pd[corpus_pd.content == content].iterrows()
    }
    assert {(r.repo, r.path) for r in ex_only} == expected

    # the families probe independently: the all-passes result is exactly the
    # union of the single-family runs (a minhash row needs a minhash-band
    # collision, a simhash row a simhash one)
    sh_only = query_probe(sig, probe, DedupeConfig(passes=("simhash",))).collect()
    assert set(res) == set(ex_only) | set(sh_only) | set(mh_only)

    # edge probes through the driver-side Arrow round trip: an empty probe,
    # and an all-blank one (quarantined: NULL fingerprint, and a sha256 no
    # corpus doc shares) both return no rows, under every config
    cols = "repo string, path string, commit string, lang string, content string"
    empty = spark.createDataFrame([], cols)
    blank = spark.createDataFrame(
        [("probe/blank", "b0.py", "e" * 40, "py", "\n\n"),
         ("probe/blank", "b1.py", "e" * 40, "py", " \t \n ")],
        cols,
    )
    for edge in (empty, blank):
        for c in (cfg, DedupeConfig(passes=("minhash",)), DedupeConfig(passes=("exact",))):
            assert query_probe(sig, edge, c).collect() == []
    sig.unpersist()


def test_scope_and_lang_filters(spark, small_corpus):
    scope = small_corpus.select("repo", "path").limit(10)
    assert scope_to_list(small_corpus, scope).count() == 10
    assert lang_filter(small_corpus, ["py"]).count() == small_corpus.count()
    assert lang_filter(small_corpus, ["java"]).count() == 0


def test_incremental_diff(spark, cfg, small_corpus):
    sig = signatures(small_corpus, cfg)
    half = small_corpus.limit(40)
    ckpt = signatures(half, cfg)
    new, kept = incremental_diff(small_corpus, ckpt)
    assert new.count() == small_corpus.count() - 40
    assert kept.count() == 40
    # union covers everything exactly once
    total = signatures(new, cfg).unionByName(kept)
    assert total.count() == small_corpus.count()
    assert total.select("doc_id").distinct().count() == small_corpus.count()


def test_set_rank_and_delete_plan(spark, cfg, small_corpus):
    sig = signatures(small_corpus, cfg)
    members = dedupe_members(sig, cfg).cache()
    plan = delete_plan(members, cfg)
    # exactly one keep per cluster
    keeps = plan.filter("action = 'keep'").groupBy("cluster_id").count()
    assert keeps.filter("count != 1").isEmpty()
    # rank-1 row has the max n_bytes in its cluster (default sort n_bytes desc)
    mx = members.groupBy("cluster_id").agg(F.max("n_bytes").alias("mx"))
    r1 = plan.filter("set_rank = 1").join(mx, "cluster_id")
    assert r1.filter(F.col("n_bytes") != F.col("mx")).isEmpty()
    # reverse flips: rank-1 is min n_bytes
    rev = DedupeConfig(set_sort_reverse=True)
    ranked = with_set_rank(members, rev)
    mn = members.groupBy("cluster_id").agg(F.min("n_bytes").alias("mn"))
    r1r = ranked.filter("set_rank = 1").join(mn, "cluster_id")
    assert r1r.filter(F.col("n_bytes") != F.col("mn")).isEmpty()

    # keep_expr rank-override hook: pin one specific member as the keeper
    victim = members.orderBy("cluster_id", "doc_id").first()
    hooked = delete_plan(
        members, cfg, keep_expr=(F.col("doc_id") == victim.doc_id)
    )
    kept = hooked.filter(
        (F.col("cluster_id") == victim.cluster_id) & (F.col("action") == "keep")
    ).collect()
    assert [r.doc_id for r in kept] == [victim.doc_id]
    # other clusters unaffected (still exactly one keep each)
    assert hooked.filter("action = 'keep'").groupBy("cluster_id").count().filter(
        "count != 1"
    ).isEmpty()


def test_mega_cluster_rank_parity(spark, cfg, small_corpus):
    """The range-partitioned two-pass rank (mega-cluster path) must produce
    EXACTLY the plain window's ranks — forced over every cluster with
    mega_cluster_rows=0, compared row-by-row, including reverse + keep_expr."""
    sig = signatures(small_corpus, cfg)
    members = dedupe_members(sig, cfg).cache()
    victim = members.orderBy("cluster_id", "doc_id").first()
    for c, keep in [
        (cfg, None),
        (DedupeConfig(set_sort_reverse=True), None),
        (DedupeConfig(set_sort="path"), None),
        (cfg, F.col("doc_id") == victim.doc_id),
    ]:
        plain = with_set_rank(members, c, keep_expr=keep, mega_cluster_rows=None)
        mega = with_set_rank(members, c, keep_expr=keep, mega_cluster_rows=0)
        key = ["doc_id", "set_rank"]
        assert plain.count() == mega.count()
        assert (
            plain.select(key).exceptAll(mega.select(key)).isEmpty()
        ), f"rank mismatch for {c.set_sort} reverse={c.set_sort_reverse} keep={keep is not None}"


def test_mega_cluster_rank_hybrid_split(spark, cfg):
    """Mixed corpus: clusters on BOTH sides of mega_cluster_rows — the small
    one ranks via the plain window, the big one via the range-partitioned
    path, unioned; every cluster gets exact ranks 1..size."""
    rows = []
    for cid, size in [(1, 10), (2, 50), (3, 3)]:
        for i in range(size):
            rows.append((cid * 1000 + i, cid, size, f"r{i % 3}", f"p/{cid}/{i}", i * 7 % 97))
    members = spark.createDataFrame(
        rows,
        "doc_id long, cluster_id long, cluster_size long, repo string, path string, n_bytes long",
    )
    ranked = with_set_rank(members, cfg, mega_cluster_rows=20)
    got = ranked.groupBy("cluster_id").agg(
        F.count("*").alias("n"),
        F.countDistinct("set_rank").alias("k"),
        F.min("set_rank").alias("lo"),
        F.max("set_rank").alias("hi"),
    ).collect()
    for r in got:
        assert (r.n, r.k, r.lo) == (r.hi, r.n, 1), r
    # identical to the all-window ranks
    plain = with_set_rank(members, cfg, mega_cluster_rows=None)
    key = ["doc_id", "set_rank"]
    assert plain.select(key).exceptAll(ranked.select(key)).isEmpty()


def test_fdupes_text_variants(spark, cfg, small_corpus):
    from imgdupes_spark.operators.clusters import canonical_clusters, fdupes_text

    sig = signatures(small_corpus, cfg)
    canonical = canonical_clusters(dedupe_members(sig, cfg)).cache()
    multi = fdupes_text(canonical, max_sets=3)
    same = fdupes_text(canonical, max_sets=3, sameline=True)
    # sameline: one line per set, space-joined (reference --sameline)
    assert len(same.rstrip("\n").split("\n")) == 3
    assert multi.count("\n\n") == 2
    assert sorted(multi.split()) == sorted(same.split())


def test_summarize_and_cross_repo(spark, cfg, small_corpus):
    sig = signatures(small_corpus, cfg)
    members = dedupe_members(sig, cfg).cache()
    s = summarize(members).collect()[0]
    assert s.n_duplicate_files == members.count()
    assert s.n_sets == members.select("cluster_id").distinct().count()
    flagged = cross_repo_flag(members)
    multi = flagged.filter("cross_repo").select("cluster_id").distinct().count()
    assert 0 < multi <= s.n_sets


def test_dedupe_corpus_materializer(spark, cfg, small_corpus):
    """The Spark-native S8: kept corpus = corpus minus delete-plan victims;
    non-clustered rows pass through; keep_expr re-picks the keepers."""
    from pyspark.sql import functions as F

    from imgdupes_spark.functions.fingerprints import signatures
    from imgdupes_spark.operators.clusters import (
        dedupe_corpus,
        dedupe_members,
        delete_plan,
    )

    sig = signatures(small_corpus, cfg)
    members = dedupe_members(sig, cfg, corpus=small_corpus)
    plan = delete_plan(members, cfg)
    n_victims = plan.filter("action = 'delete'").count()
    assert n_victims > 0

    kept = dedupe_corpus(small_corpus, members, cfg)
    assert kept.count() == small_corpus.count() - n_victims
    # no victim identity survives; every keeper does
    victims = plan.filter("action = 'delete'").select("repo", "path")
    assert kept.join(victims, ["repo", "path"], "left_semi").count() == 0
    keepers = plan.filter("action = 'keep'").select("repo", "path")
    assert kept.join(keepers, ["repo", "path"], "left_semi").count() == keepers.count()

    # keep_expr pins a different keeper -> different kept set, same size
    some_repo = members.select("repo").first().repo
    kept2 = dedupe_corpus(
        small_corpus, members, cfg, keep_expr=F.col("repo") == some_repo
    )
    assert kept2.count() == kept.count()
