"""Band-key values pinned on a known vector: ``band_keys`` builds its keys
from one SQL string, and every ``bkey`` must equal the Column-built keys it
replaced (the bucket join and any persisted band table depend on them)."""

from __future__ import annotations

from imgdupes_spark.config import DedupeConfig
from imgdupes_spark.operators.lsh import band_keys


def test_band_keys_known_vector(spark):
    df = spark.createDataFrame(
        [(1, 0x0123456789ABCDEF, list(range(128)), "a")],
        "doc_id long, simhash long, minhash array<int>, repo string",
    )
    out = band_keys(df, DedupeConfig(), ("simhash", "minhash"), "repo", df.simhash.alias("q"))
    assert out.columns == ["doc_id", "repo", "q", "bkey"]
    rows = out.collect()
    assert {(r.doc_id, r.repo, r.q) for r in rows} == {(1, "a", 0x0123456789ABCDEF)}
    keys = [r.bkey for r in rows]
    # C(8, 4) = 70 simhash combination keys, then 32 minhash band keys
    assert len(keys) == 102
    assert keys[0] == 3175111530244834854
    assert keys[69] == -6250093352664123541
    assert keys[70] == -8365792537213135256
    assert keys[101] == -8815634321366960339
