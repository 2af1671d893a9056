"""Image near-duplicate dedup: the reference's actual workflow (pHash ->
Hamming threshold -> grouping, imgdupes `find`) over binary image columns.

This is the modality the reference was built for; here it rides the text
engine's machinery end-to-end: extract_image_features computes the 64-bit
DCT pHash (reference phash_org, common/hashcache.py:113-127) in an Arrow
mapInPandas, and because the word layout matches the text simhash, the SAME
banded LSH self-join (salted hot buckets included), Hamming verify, and
connected-components grouping run unchanged — one candidate-generation
engine, four modalities (text shingles, embeddings, images, audio: see
audio_dedup below and functions/audio.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from imgdupes_spark.caching import operator, pin
from imgdupes_spark.config import DedupeConfig


@operator
def perceptual_hash_dedup(
    feats: DataFrame, cfg: DedupeConfig, hash_col: str, id_col: str = "asset_id"
) -> DataFrame:
    """Cluster assets whose 64-bit perceptual hash Hamming distance <=
    cfg.hamming_d: the shared LSH banding (salted hot buckets included) ->
    Hamming verify -> connected-components tail behind image_dedup and
    audio_dedup.

    feats  (id_col, hash_col, ...) with hash_col a signed int64 in the
           simhash word layout; MUST be persisted+materialized by the caller
           (scanned by band generation and the final expansion).

    Returns (id_col, hash_col, cluster_id, cluster_size) for members of
    multi-member clusters; cluster_id = min id (text-path conventions).
    """
    from imgdupes_spark.operators.components import connected_components
    from imgdupes_spark.operators.lsh import lsh_candidate_edges

    # NULL hashes are quarantined assets (decode failures under
    # on_error='quarantine' — see media_quarantine): never banded, never
    # cluster members, mirroring the text path's NULL-simhash quarantine
    sig = feats.filter(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"), F.col(hash_col).alias("simhash")
    )
    edges = lsh_candidate_edges(sig, cfg, ("simhash",))
    comps = connected_components(edges.select("src", "dst"))
    stats = (
        comps.groupBy("cluster_id")
        .agg(F.count("*").alias("cluster_size"))
        .filter(F.col("cluster_size") > 1)
    )
    return (
        feats.select(F.col(id_col), hash_col)
        .join(comps.withColumnRenamed("doc_id", id_col), [id_col])
        .join(stats, ["cluster_id"])
        .select(id_col, hash_col, "cluster_id", "cluster_size")
    )


def media_quarantine(
    feats: DataFrame, hash_col: str, id_col: str = "asset_id"
) -> DataFrame:
    """Assets whose payload failed to decode (NULL perceptual hash — the
    engine's analogue of the reference's catch-all sentinel hash,
    common/hashcache.py:48-53): explicit, out-of-band, never cluster
    members — the media twin of the text path's fingerprints.quarantine.
    ``feats`` is any extractor output run with on_error='quarantine'."""
    return (
        feats.filter(F.col(hash_col).isNull())
        .select(F.col(id_col), F.lit("undecodable").alias("reason"))
        .distinct()
    )


@operator
def image_dedup(
    assets: DataFrame,
    cfg: DedupeConfig | None = None,
    fake: bool = False,
    on_error: str = "raise",
) -> DataFrame:
    """Cluster image assets whose pHash Hamming distance <= cfg.hamming_d.

    assets  multimodal asset table (see sources/multimodal.ASSET_SCHEMA);
            only kind='image' rows participate.

    Returns (asset_id, phash, cluster_id, cluster_size) for members of
    multi-member clusters; cluster_id = min asset_id (same conventions as
    the text path). Exact byte-dup collapse is NOT applied first (image
    bytes differing by metadata still hash equal perceptually — the
    reference also groups purely on the perceptual hash).
    ``on_error='quarantine'`` survives corrupt payloads (NULL-hash rows,
    excluded from clustering; surface them via media_quarantine) — the
    reference's sentinel-hash behavior, mandatory posture for a 10^12-file
    run where one bad file must not fail the job.
    """
    from imgdupes_spark.sources.multimodal import extract_image_features

    cfg = cfg or DedupeConfig()
    feats = pin(
        extract_image_features(
            assets, fake=fake, hash_method=cfg.image_hash_method, on_error=on_error
        )
    )
    feats.count()  # eager: scanned by band generation and final expansion
    return perceptual_hash_dedup(feats, cfg, "phash")


@operator
def audio_dedup(
    assets: DataFrame,
    cfg: DedupeConfig | None = None,
    chunk_s: float = 2.0,
    hop_s: float = 1.0,
    min_matched_chunks: int = 2,
    on_error: str = "raise",
    chunking: str = "anchor",
) -> DataFrame:
    """Cluster audio assets (kind='audio') sharing >= min_matched_chunks
    near-duplicate envelope-hash chunks (Hamming <= cfg.hamming_d per
    chunk) — the video frame pattern applied to audio
    (operators/video.partwise_dedup), so TRIMMED and PADDED copies match on
    the chunks that cover the same audio, not just re-gained same-duration
    copies.

    The default ``chunking='anchor'`` windows at content-defined envelope
    peaks (functions/audio.audio_anchor_hashes): copies at ARBITRARY
    offsets share anchor windows (measured recall 2,500/2,500 at 0.3-0.7 s
    offsets incl. off-grid, 0 spurious; offset-rich sweep pinned in
    tests/test_audio.py). hop_s is ignored in anchor mode.

    ``chunking='hop'`` takes fixed ``chunk_s`` windows every ``hop_s``
    (functions/audio.audio_chunk_hashes): alignment is exact ONLY for
    offsets that are multiples of ``hop_s`` — sub-hop offsets measure ~0
    recall (BASELINE.md round 5), which is why it is no longer the
    default. It remains for bit-stable reproduction of grid-aligned runs
    and costs ~proportionally fewer hash rows on peak-dense audio.

    Clips not longer than one chunk emit a single whole-clip chunk whose
    hash is bit-identical to the round-3 whole-clip audio_hash64 in BOTH
    modes, and the adaptive threshold (min(min_matched_chunks, n_chunks
    both sides)) makes their matching degenerate to exactly the old
    whole-clip semantics.

    Returns (asset_id, n_chunks, cluster_id, cluster_size) for members of
    multi-member clusters; cluster_id = min asset_id."""
    from imgdupes_spark.operators.video import partwise_dedup
    from imgdupes_spark.sources.multimodal import extract_audio_chunk_features

    cfg = cfg or DedupeConfig()
    feats = pin(
        extract_audio_chunk_features(
            assets, chunk_s, hop_s, on_error=on_error, chunking=chunking
        )
    )
    return partwise_dedup(
        feats,
        cfg,
        min_matched_chunks,
        salt="achunk",
        part_col="chunk_idx",
        hash_col="chash",
        n_col="n_chunks",
        op="audio_dedup",
        adaptive_min=True,
    )
