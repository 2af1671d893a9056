"""Video near-duplicate dedup: frame-fingerprint matching over sampled
frames, through the shared LSH machinery.

Fifth ride on the one candidate-generation engine: sampled frames are
pHashed (functions/video.frame_phash64 — the image phash_org spec on the
luma plane), frame-level candidate edges come from the SAME banded simhash
LSH self-join + Hamming verify as text/images/audio, and two videos link
when >= ``min_matched_frames`` of their sampled frame pairs match — the
classical frame-fingerprint video copy-detection shape, expressed as one
aggregation over the frame edge list. Connected components then cluster
videos transitively (a clip contained in two longer reels welds them — the
same semantics the text containment pass feeds CC).

Identity contract: frame node ids are ``xxhash64('vframe', asset_id,
frame_idx)`` — full-range signed longs, the SAME convention as text doc_ids
(functions/fingerprints.py), so asset_ids may be any signed 64-bit value
(hash-derived, negative, whatever) with no packing precondition. A
birthday-bound collision among node ids (~n^2/2^65 — negligible below
~10^8 sampled frames per job) is detected loudly by a one-aggregate guard,
mirroring fingerprints.doc_id_collisions. (asset_id, frame_idx) identity
is recovered AFTER the LSH pass by joining the surviving edges back to the
narrow frame-feature projection — the standard survivors-only re-join the
minhash path uses, so the wide shuffle stays on 16-byte rows.

Scale shape: per-frame rows are an 8-byte node id + an 8-byte hash — the
frame explosion is bounded by sampling (1 frame/s ~ 3.6k rows per hour of
video), the edge aggregation partial-aggregates map-side, and the CC runs
over video-level nodes only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from imgdupes_spark.caching import operator, pin
from imgdupes_spark.config import DedupeConfig

# node-id derivation salts: keyspaces of the two modalities are disjoint by
# construction (different first hash argument), so an image node can never
# alias a frame node
_FRAME_SALT = "vframe"
_IMAGE_SALT = "img"


def _frame_node_id() -> F.Column:
    return F.xxhash64(F.lit(_FRAME_SALT), F.col("asset_id"), F.col("frame_idx"))


def _image_node_id() -> F.Column:
    return F.xxhash64(F.lit(_IMAGE_SALT), F.col("asset_id"))


def _check_node_collisions(
    nodes: DataFrame, op: str, identity_cols: list[str]
) -> None:
    """64-bit birthday guard over derived node ids (one aggregate, same
    contract as fingerprints.doc_id_collisions): a silent collision would
    merge two unrelated frames'/images' identities, so it must be LOUD.

    The two failure modes are distinguished (round-4 advice): node ids
    fewer than DISTINCT identities is a true hash collision (widen ids);
    more input rows than distinct identities is the same asset ingested
    twice — a realistic input condition that must get the 'duplicate asset
    rows' diagnosis, not a misleading birthday-bound error. Identity
    distinctness is counted over a struct so NULL fields (images'
    frame_idx in the cross-modal node map) still count."""
    row = nodes.agg(
        F.count("*").alias("n"),
        F.countDistinct("node_id").alias("d"),
        F.countDistinct(F.struct(*identity_cols)).alias("i"),
    ).collect()[0]
    if row.d < row.i:
        raise ValueError(
            f"{op}: {row.i - row.d} node-id collision(s) among {row.i} "
            "distinct identities — xxhash64 birthday bound exceeded; widen "
            "node ids (the 128-bit doc_id device, config.doc_id_bits) for "
            "this corpus size"
        )
    if row.n > row.i:
        raise ValueError(
            f"{op}: duplicate asset rows — {row.n} input rows but only "
            f"{row.i} distinct ({', '.join(identity_cols)}) identities; "
            "the same asset was ingested more than once — dedupe the asset "
            "table (e.g. dropDuplicates on the identity) before this pass"
        )


@operator
def cross_modal_matches(
    assets: DataFrame,
    cfg: DedupeConfig | None = None,
    every_s: float = 1.0,
    on_error: str = "raise",
) -> DataFrame:
    """Images that appear as frames of videos (thumbnails, extracted stills,
    cover art): image pHashes and sampled-frame pHashes are bit-comparable
    BY CONSTRUCTION (both delegate to imaging.phash64_gray), so both
    modalities union into ONE band index and the standard LSH self-join +
    Hamming verify finds cross-modality pairs — no bespoke matcher.

    Node ids are salt-disjoint hashes (xxhash64('img', asset_id) vs
    xxhash64('vframe', asset_id, frame_idx)); a candidate pair crosses the
    modality boundary exactly when its endpoints resolve to different kinds
    in the node map. Any signed-64 asset_id is valid.

    Returns (image_asset_id, video_asset_id, frame_idx, hamming), one row
    per matched (image, frame) pair within cfg.hamming_d.
    """
    from imgdupes_spark.operators.lsh import lsh_candidate_edges
    from imgdupes_spark.sources.multimodal import (
        extract_image_features,
        extract_video_features,
    )

    cfg = cfg or DedupeConfig()
    assert cfg.image_hash_method == "phash_org", (
        "cross-modal comparability holds for the phash_org spec only "
        "(frame hashes are phash64_gray)"
    )
    img_feats = pin(
        extract_image_features(
            assets, hash_method=cfg.image_hash_method, on_error=on_error
        ).filter(F.col("phash").isNotNull())  # quarantined decode failures
    )
    vid_feats = pin(
        extract_video_features(assets, every_s=every_s, on_error=on_error).filter(
            F.col("phash").isNotNull()
        )
    )
    # node map: (node_id, kind, asset_id, frame_idx) — a narrow (~25-byte)
    # projection of the cached features; collision-guarded across BOTH
    # modalities at once since they share one band index
    nodes = img_feats.select(
        _image_node_id().alias("node_id"),
        F.lit("img").alias("kind"),
        "asset_id",
        F.lit(None).cast("int").alias("frame_idx"),
    ).unionByName(
        vid_feats.select(
            _frame_node_id().alias("node_id"),
            F.lit("vid").alias("kind"),
            "asset_id",
            "frame_idx",
        )
    )
    _check_node_collisions(
        nodes, "cross_modal_matches", ["kind", "asset_id", "frame_idx"]
    )
    sig = pin(
        img_feats.select(
            _image_node_id().alias("doc_id"), F.col("phash").alias("simhash")
        ).unionByName(
            vid_feats.select(
                _frame_node_id().alias("doc_id"), F.col("phash").alias("simhash")
            )
        )
    )
    sig.count()  # eager: scanned by band generation
    edges = lsh_candidate_edges(sig, cfg, ("simhash",))
    # survivors-only re-join to recover identities; orientation of the
    # canonical (src < dst) hash pair carries no modality information, so
    # normalize with the kind column
    e = edges.join(
        nodes.select(
            F.col("node_id").alias("src"),
            F.col("kind").alias("src_kind"),
            F.col("asset_id").alias("src_asset"),
            F.col("frame_idx").alias("src_frame"),
        ),
        ["src"],
    ).join(
        nodes.select(
            F.col("node_id").alias("dst"),
            F.col("kind").alias("dst_kind"),
            F.col("asset_id").alias("dst_asset"),
            F.col("frame_idx").alias("dst_frame"),
        ),
        ["dst"],
    )
    img_first = F.col("src_kind") == "img"
    return e.filter(F.col("src_kind") != F.col("dst_kind")).select(
        F.when(img_first, F.col("src_asset"))
        .otherwise(F.col("dst_asset"))
        .alias("image_asset_id"),
        F.when(img_first, F.col("dst_asset"))
        .otherwise(F.col("src_asset"))
        .alias("video_asset_id"),
        F.when(img_first, F.col("dst_frame"))
        .otherwise(F.col("src_frame"))
        .alias("frame_idx"),
        "hamming",
    )


@operator
def video_dedup(
    assets: DataFrame,
    cfg: DedupeConfig | None = None,
    every_s: float = 1.0,
    min_matched_frames: int = 3,
    on_error: str = "raise",
) -> DataFrame:
    """Cluster videos sharing >= min_matched_frames near-duplicate sampled
    frames (frame pHash Hamming <= cfg.hamming_d).

    assets  multimodal asset table (sources/multimodal.ASSET_SCHEMA); only
            kind='video' rows participate. asset_id may be ANY signed 64-bit
            value — frame node ids are hash-derived and collision-guarded.

    Returns (asset_id, n_frames_sampled, cluster_id, cluster_size) for
    members of multi-member clusters; cluster_id = min asset_id.
    """
    from imgdupes_spark.sources.multimodal import extract_video_features

    cfg = cfg or DedupeConfig()
    feats = pin(extract_video_features(assets, every_s=every_s, on_error=on_error))
    return partwise_dedup(
        feats,
        cfg,
        min_matched_frames,
        salt=_FRAME_SALT,
        part_col="frame_idx",
        hash_col="phash",
        n_col="n_frames_sampled",
        op="video_dedup",
    )


@operator
def partwise_dedup(
    feats: DataFrame,
    cfg: DedupeConfig,
    min_matched: int,
    salt: str,
    part_col: str,
    hash_col: str,
    n_col: str,
    op: str,
    adaptive_min: bool = False,
) -> DataFrame:
    """Shared part-fingerprint matching tail: cluster assets sharing >=
    ``min_matched`` near-duplicate parts, where a part is a sampled video
    frame (video_dedup) or an overlapping audio chunk (audio_dedup) —
    ``feats`` is (asset_id, part_col, hash_col) with hash_col in the simhash
    word layout.

    ``adaptive_min=True`` relaxes the threshold per pair to
    min(min_matched, n_parts(a), n_parts(b)) so assets with fewer parts than
    the threshold (short clips — including the single whole-clip chunk) can
    still match on everything they have; with False, pairs below the fixed
    threshold never link (videos: a 2-frame match is boilerplate, not a
    copy).

    Returns (asset_id, n_col, cluster_id, cluster_size) for members of
    multi-member clusters; cluster_id = min asset_id.
    """
    from imgdupes_spark.operators.components import connected_components
    from imgdupes_spark.operators.lsh import lsh_candidate_edges

    # NULL-hash rows are quarantine sentinels (decode failures under
    # on_error='quarantine', part idx -1): excluded from banding, node ids,
    # part counts, and clustering — operators.images.media_quarantine
    # surfaces them
    feats = feats.filter(F.col(hash_col).isNotNull())
    node_id = F.xxhash64(F.lit(salt), F.col("asset_id"), F.col(part_col))
    nodes = feats.select(node_id.alias("node_id"), "asset_id", part_col)
    _check_node_collisions(nodes, op, ["asset_id", part_col])
    sig = feats.select(
        node_id.alias("doc_id"), F.col(hash_col).alias("simhash")
    )
    part_edges = lsh_candidate_edges(sig, cfg, ("simhash",))
    # part pair -> asset pair: recover (asset, part) per endpoint via the
    # survivors-only node-map join, then canonicalize the asset pair with
    # least/greatest (hash node ids carry no asset ordering). The threshold
    # counts DISTINCT matched parts on each side, not pair rows: one shared
    # moment (a branded intro card on both sides) makes n_a x n_b pair rows
    # but only min(n_a, n_b) genuinely matched parts — counting rows would
    # let a single shared card weld unrelated assets.
    e = part_edges.join(
        nodes.select(
            F.col("node_id").alias("src"),
            F.col("asset_id").alias("src_asset"),
            F.col(part_col).alias("src_part"),
        ),
        ["src"],
    ).join(
        nodes.select(
            F.col("node_id").alias("dst"),
            F.col("asset_id").alias("dst_asset"),
            F.col(part_col).alias("dst_part"),
        ),
        ["dst"],
    )
    counts = feats.groupBy("asset_id").agg(F.count("*").alias(n_col))
    a_first = F.col("src_asset") < F.col("dst_asset")
    matched = (
        e.filter(F.col("src_asset") != F.col("dst_asset"))
        .select(
            F.least("src_asset", "dst_asset").alias("vsrc"),
            F.greatest("src_asset", "dst_asset").alias("vdst"),
            F.when(a_first, F.col("src_part"))
            .otherwise(F.col("dst_part"))
            .alias("p_lo"),
            F.when(a_first, F.col("dst_part"))
            .otherwise(F.col("src_part"))
            .alias("p_hi"),
        )
        .groupBy("vsrc", "vdst")
        .agg(
            F.least(
                F.countDistinct("p_lo"), F.countDistinct("p_hi")
            ).alias("n_matched")
        )
    )
    if adaptive_min:
        # short assets (fewer parts than the threshold) match on all they
        # have — the per-pair effective threshold is bounded by both sides'
        # part counts. The counts table is one narrow row per asset.
        matched = (
            matched.join(
                counts.select(
                    F.col("asset_id").alias("vsrc"), F.col(n_col).alias("_ns")
                ),
                ["vsrc"],
            )
            .join(
                counts.select(
                    F.col("asset_id").alias("vdst"), F.col(n_col).alias("_nd")
                ),
                ["vdst"],
            )
            .filter(
                F.col("n_matched")
                >= F.least(F.lit(min_matched), F.col("_ns"), F.col("_nd"))
            )
        )
    else:
        matched = matched.filter(F.col("n_matched") >= min_matched)
    asset_edges = matched.select(
        F.col("vsrc").alias("src"), F.col("vdst").alias("dst")
    )
    comps = connected_components(asset_edges)
    stats = (
        comps.groupBy("cluster_id")
        .agg(F.count("*").alias("cluster_size"))
        .filter(F.col("cluster_size") > 1)
    )
    return (
        counts.join(comps.withColumnRenamed("doc_id", "asset_id"), ["asset_id"])
        .join(stats, ["cluster_id"])
        .select("asset_id", n_col, "cluster_id", "cluster_size")
    )
