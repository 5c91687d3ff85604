"""The flagship pipeline: multi-lane near-duplicate detection over the
image+caption table (BASELINE.json north_star / input_hint shape
``(image_id, bytes, w, h, fmt, caption, phash)``).

Four candidate lanes, OR-fused by default (SURVEY.md §2B S7; see
``dedup_images(edge_policy=...)`` for AND/k-of-n precision fusion), one
clustering pass:

  caption lane   MinHash(token shingles) → LSH bands → jaccard/simhash verify
  bytes lane     MinHash(byte shingles of pixel payload) → LSH → jaccard
  phash lane     64-bit pHash multi-index blocking (8×8-bit slices —
                 pigeonhole-guaranteed recall for hamming ≤ 7) → verify
                 entirely JVM-side with bit_count(phash_a ^ phash_b)
  substring lane exact token-substring captions (suffix-array verified)

Scale notes: each lane's candidate generation is one explode + one capped
groupBy; the only passes over raw image bytes are the two signature stages
(narrow, no shuffle). The pHash lane never leaves the JVM. All lanes emit
(a, b) edges into a single connected-components run.
"""

from __future__ import annotations

from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .cc import assign_clusters
from .lsh import candidate_pairs, pairs_from_bands
from .minhash import compute_signatures
from .sigkernel import SigConfig
from .substring import substring_pairs_with_release
from .verify import verify_pairs


def phash_combo_keys_expr(phash_col: str, cfg: SigConfig):
    """JVM array expression of the slice-COMBO band keys — the Catalyst
    twin of sigkernel.phash_slice_combo_hashes (the oracle uses the numpy
    one; parity by construction). Shared by the batch and streaming pHash
    lanes."""
    from itertools import combinations

    nb, combo = cfg.phash_bands, cfg.phash_combo
    width = 64 // nb
    mask = (1 << width) - 1

    def _slice(i: int):
        return F.shiftrightunsigned(F.col(phash_col), i * width).bitwiseAND(
            F.lit(mask)
        )

    keys = []
    for comb in combinations(range(nb), combo):
        # band position = index of the combo, so keys only collide within
        # the same slice subset
        key = _slice(comb[0])
        for j, c in enumerate(comb[1:], start=1):
            key = key.bitwiseOR(F.shiftleft(_slice(c), j * width))
        keys.append(key)
    return F.array(*keys)


def with_canonical_phash(
    images: DataFrame,
    phash_col: str = "phash",
    out_col: str = "phash",
) -> DataFrame:
    """Replace (or add) a pHash column with its dihedral-canonical form
    (sigkernel.phash_dihedral_min): hashes of rotated/mirrored copies of
    an image collapse to one value. Exact for noise-free transforms; for
    the noise-robust pipeline path use ``with_phash_orbit`` (min-of-orbit
    can jump orbit elements when noise flips a high-order bit)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from .sigkernel import phash_dihedral_min

    def _canon(ph):
        vals = ph.to_numpy(np.int64).view(np.uint64)
        return pd.Series(phash_dihedral_min(vals).view(np.int64))

    canon = pandas_udf(_canon, "long")
    return images.withColumn(out_col, canon(F.col(phash_col)))


def with_phash_orbit(
    images: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
) -> DataFrame:
    """(id, phash) → 8 rows per image, one per D4 orbit hash
    (sigkernel.phash_dihedral_orbit). Feeding this to the pHash lane
    makes blocking rotation/mirror-invariant WITHOUT the min-canonical
    fragility: two images meet in a band whenever ANY relative transform
    puts them inside the hamming radius, and the inline verification
    compares exactly the aligned pair of orbit hashes. Costs 8× band
    rows in this one lane; the pair table dedups back to (a, b)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from .sigkernel import phash_dihedral_orbit

    def _orbit(ph):
        vals = ph.to_numpy(np.int64).view(np.uint64)
        return pd.Series(list(phash_dihedral_orbit(vals).view(np.int64)))

    orbit = pandas_udf(_orbit, "array<long>")
    return images.select(
        id_col, F.explode(orbit(F.col(phash_col))).alias(phash_col)
    )


def with_content_phash(
    images: DataFrame,
    id_col: str = "image_id",
    tol: float = 3.0,
) -> DataFrame:
    """(id, bytes, w, h, fmt) → (id, phash) where phash is the corpus
    block-mean hash of each image's CONTENT BOX — uniform borders
    (letterbox bars, pillarbox padding, solid margins) auto-trimmed by
    sigkernel.content_boxes before hashing. Feeding this projection to
    the standard pHash lane makes dedup border/pad-invariant: a
    letterboxed or padded copy hashes identically to its original
    (sigkernel.phash64_box_batch is bit-exact vs the full-frame hash on
    the trimmed window), while the plain stored pHash lands ~30 bits
    away (test_crop_invariant_phash pins the contrast).

    Spark shape: ONE narrow mapInPandas over (bytes, w, h, fmt) —
    decode batched per uniform shape group, boxes + box-hashes fully
    vectorized (one integral image per batch), output 16 bytes/row.
    No shuffle, no join; the projection plugs into phash_pairs exactly
    like the raw table."""
    import numpy as np
    import pandas as pd

    from .multimodal import _decode_block, _shape_groups
    from .sigkernel import content_boxes, gray_sum_batch, phash64_box_batch

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for idx, w, h, fmt in _shape_groups(pdf):
                px = _decode_block(pdf["bytes"].iloc[idx].tolist(), w, h, fmt)
                gray = gray_sum_batch(px, w, h)
                ph = phash64_box_batch(gray, content_boxes(gray, tol=tol))
                yield pd.DataFrame(
                    {
                        "image_id": pdf[id_col].iloc[idx].to_numpy(),
                        "phash": ph.view(np.int64),
                    }
                )

    return images.select(
        F.col(id_col).alias(id_col), "bytes", "w", "h", "fmt"
    ).mapInPandas(run, "image_id string, phash long")


def fuse_edges(edge_parts: list, edge_policy) -> tuple:
    """The ONE implementation of edge_policy fusion, shared by the batch
    pipeline (dedup_images) and the streaming deduper so their k-of-n
    semantics can never drift: ``"any"`` ORs the lanes, ``"all"``
    requires every enabled lane, an int k requires k distinct lanes —
    and k larger than the enabled-lane count therefore yields NO edges.
    Takes (lane_name, pairs_df) parts; returns (edges, raw_edges):
    ``edges`` deduped/fused, ``raw_edges`` the pre-dedup OR union (CC's
    _canonical() distinct already dedups, so clustering can take the raw
    union and skip a second full pair-set shuffle; on fusion paths both
    are the fused frame)."""
    min_lanes = (
        1 if edge_policy == "any"
        else len(edge_parts) if edge_policy == "all"
        else int(edge_policy)
    )
    if min_lanes <= 1:
        raw_edges = edge_parts[0][1]
        for _, e in edge_parts[1:]:
            raw_edges = raw_edges.union(e)
        return raw_edges.dropDuplicates(["a", "b"]), raw_edges
    # precision fusion: one groupBy over the pair set counting the
    # distinct lanes confirming each pair (a lane emits a pair at most
    # once, so count(*) == countDistinct(lane) but cheaper)
    tagged = edge_parts[0][1].withColumn("lane", F.lit(edge_parts[0][0]))
    for name, e in edge_parts[1:]:
        tagged = tagged.union(e.withColumn("lane", F.lit(name)))
    edges = (
        tagged.groupBy("a", "b")
        .agg(F.count_distinct("lane").alias("nlanes"))
        .where(F.col("nlanes") >= min_lanes)
        .select("a", "b")
    )
    return edges, edges


def with_dhash(
    images: DataFrame,
    id_col: str = "image_id",
) -> DataFrame:
    """(id, bytes, w, h, fmt) → (id, dhash): the 8×9 gradient-sign
    difference hash (sigkernel.dhash64_batch) — bit-exactly invariant
    to any per-pixel-row constant edit (smooth vertical lighting ramps,
    scanline gain), which flips ~20 block-mean pHash bits. Feed to
    phash_pairs(phash_col="dhash") for the complementary lane; same
    ONE-narrow-mapInPandas shape as with_content_phash (decode batched
    per uniform shape group, 16 bytes/row out, no shuffle)."""
    import numpy as np
    import pandas as pd

    from .multimodal import _decode_block, _shape_groups
    from .sigkernel import dhash64_batch, gray_sum_batch

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for idx, w, h, fmt in _shape_groups(pdf):
                px = _decode_block(pdf["bytes"].iloc[idx].tolist(), w, h, fmt)
                dh = dhash64_batch(gray_sum_batch(px, w, h))
                yield pd.DataFrame(
                    {
                        "image_id": pdf[id_col].iloc[idx].to_numpy(),
                        "dhash": dh.view(np.int64),
                    }
                )

    return images.select(
        F.col(id_col).alias(id_col), "bytes", "w", "h", "fmt"
    ).mapInPandas(run, "image_id string, dhash long")


def phash_pairs(
    images: DataFrame,
    cfg: SigConfig,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_pairs_group: int = 256,
    hot_policy: str = "chain_hub",
) -> DataFrame:
    """pHash lane, fully JVM-side: 64-bit hash → slice-COMBO band keys
    (C(nb, combo) bands of combo·width bits). Two images within hamming
    distance ≤ nb - combo leave ≥ combo slices clean (pigeonhole), so some
    combo-band matches → guaranteed candidate recall at the configured
    radius, with exponentially fewer random bucket collisions per key bit
    than single-slice blocking (which is quadratic in corpus size).
    Verification is bit_count(xor) ≤ phash_hamming, computed INLINE: the
    64-bit pHash rides through the band shuffle as struct(id, ph) payload
    (8 bytes/band row), so the lane is scan → one groupBy shuffle →
    pair-expand + hamming filter → pair dedup — no join back to the source
    table at all (the previous plan joined the candidate table against the
    id→phash projection twice, two extra shuffles of the biggest
    intermediate)."""
    slices = phash_combo_keys_expr(phash_col, cfg)
    bands_df = images.select(
        F.col(id_col).alias("id"),
        F.col(phash_col).alias("ph"),
        F.posexplode(slices).alias("band_idx", "band_hash"),
    ).select("id", "ph", "band_idx", "band_hash")

    def _hamming_verify(pairs: DataFrame) -> DataFrame:
        return (
            pairs.withColumn(
                "phash_hamming",
                F.bit_count(F.col("payload_a").bitwiseXOR(F.col("payload_b"))),
            )
            .where(F.col("phash_hamming") <= cfg.phash_hamming)
            .drop("payload_a", "payload_b")
        )

    return pairs_from_bands(
        bands_df,
        max_pairs_group=max_pairs_group,
        hot_policy=hot_policy,
        payload_col="ph",
        pre_dedup_filter=_hamming_verify,
    )


def _materialize(lane: DataFrame, release: Callable[[], None] | None) -> DataFrame:
    """Eager local checkpoint of ``lane``, then ``release()`` what only its
    computation needed (the substring lane's bitmap index broadcast)."""
    done = lane.localCheckpoint(eager=True)
    if release is not None:
        release()
    return done


def dedup_images(
    images: DataFrame,
    cfg: SigConfig | None = None,
    bytes_cfg: SigConfig | None = None,
    max_pairs_group: int = 256,
    byte_stride: int = 4,
    enable_lanes: tuple = ("caption", "bytes", "phash", "substring"),
    profile: dict | None = None,
    hot_policy: str = "chain_hub",
    rotation_invariant: bool = False,
    crop_invariant: bool = False,
    edge_policy: str | int = "any",
) -> dict:
    """Full multi-lane dedup. Returns dict with 'assignments', 'edges',
    per-lane pair DataFrames, and the two signature tables.

    ``edge_policy``: ``"any"`` (default — a pair found by ANY lane is an
    edge, the recall-first OR fusion), ``"all"`` (a pair must be found
    by EVERY enabled lane), or an int k (at least k distinct lanes).
    The precision policies answer the curation question "same image AND
    same caption" — e.g. a re-captioned copy of the same picture stays
    a distinct training sample under ``edge_policy=2`` with the caption
    + phash lanes, while true byte/near duplicates still collapse.
    Cost: one groupBy over the PAIR set (tiny next to the corpus
    shuffles) counting distinct confirming lanes per pair; ``"any"``
    keeps the zero-extra-shuffle raw-union path.

    ``profile``: optional dict to fill with per-phase wall times — each
    phase gets an EAGER materialization barrier (diagnosis only; the
    normal path runs the whole lane fan-out as one job so independent
    stages overlap)."""
    cfg = cfg or SigConfig()
    bytes_cfg = bytes_cfg or SigConfig(
        seed=cfg.seed,
        shingle_w=16,  # 16-byte pixel windows
        num_perm=cfg.num_perm,
        kmv_k=cfg.kmv_k,
        bands=cfg.bands,
        jaccard_threshold=0.9,  # binary payloads: near-identical or not
    )
    out: dict = {}
    edge_parts = []

    import time as _time

    def _bar(name: str, df: DataFrame, release: Callable[[], None] | None = None) -> DataFrame:
        """Profile barrier: eager checkpoint + wall time (no-op otherwise)."""
        if profile is None:
            return df
        t0 = _time.time()
        df = _materialize(df, release)
        profile[name] = round(_time.time() - t0, 2)
        return df

    # r6: each lane is built by a THUNK. The adaptive pair generators run
    # driver-side actions while constructing the DAG (band-volume agg,
    # decider sig collect), so building lanes sequentially serializes
    # those barriers; with >1 lane and no profile barriers the thunks run
    # on driver threads (guide §2.6) so every lane's planning actions AND
    # its materialization overlap. Per-lane results are unchanged
    # (localCheckpoint only truncates lineage) and CC's canonical
    # distinct is order-insensitive, so assignments are identical. A
    # thunk returns (pairs, release or None); release() runs once the
    # pairs are checkpointed, and not at all on the lazy path.
    lane_builders: list = []

    if "caption" in enable_lanes:
        cap_sig = compute_signatures(images, "image_id", "caption", cfg, kind="text")
        # mh_sig (num_perm longs/row) feeds only the mh_jaccard diagnostic,
        # disabled on this path — localCheckpoint can't column-prune, so
        # drop it BEFORE the checkpoint (0.5 GB less cache + scan per 10^6
        # rows, ×2 lanes, ×3 consumers)
        cap_sig = cap_sig.drop("mh_sig")
        cap_sig = _bar("caption_sig", cap_sig.localCheckpoint(eager=False))
        out["caption_sig"] = cap_sig

        def _build_caption():
            # volume-adaptive pair generation (dedup.candidate_pairs_
            # adaptive): fused Python expand+prune only when the estimated
            # candidate volume warrants it, else the plain JVM expansion
            # over the same checkpointed groups; the prune runs the verify
            # kernels, so the verified pair set is unchanged either way
            from .dedup import candidate_pairs_adaptive

            if hot_policy == "chain_hub":
                cap_pairs = candidate_pairs_adaptive(
                    cap_sig, cfg, max_pairs_group=max_pairs_group, use_simhash=True
                )
            else:
                cap_pairs = candidate_pairs(
                    cap_sig, max_pairs_group=max_pairs_group, hot_policy=hot_policy
                )
            return verify_pairs(
                cap_pairs, cap_sig, cfg, use_simhash=True, include_mh=False
            ).where("passed"), None

        lane_builders.append(("caption", "caption_pairs", _build_caption))

    if "bytes" in enable_lanes:
        byt_sig = compute_signatures(
            images, "image_id", "bytes", bytes_cfg, kind="binary", byte_stride=byte_stride
        )
        byt_sig = byt_sig.drop("mh_sig")  # same pruning as the caption lane
        byt_sig = _bar("bytes_sig", byt_sig.localCheckpoint(eager=False))
        out["bytes_sig"] = byt_sig

        def _build_bytes():
            # r6: same volume-adaptive generation as the caption lane —
            # the decider now prunes estimation-mode pairs with the shared
            # verify kernel too (byte sigs are all estimation mode at
            # k=128), so the candidate dropDuplicates shuffle and the
            # verify joins see survivors only; plain JVM expansion below
            # the volume threshold
            if hot_policy == "chain_hub":
                from .dedup import candidate_pairs_adaptive

                byt_pairs = candidate_pairs_adaptive(
                    byt_sig, bytes_cfg, max_pairs_group=max_pairs_group,
                    use_simhash=False,
                )
            else:
                byt_pairs = candidate_pairs(
                    byt_sig, max_pairs_group=max_pairs_group, hot_policy=hot_policy
                )
            return verify_pairs(
                byt_pairs, byt_sig, bytes_cfg, use_simhash=False, include_mh=False
            ).where("passed"), None

        lane_builders.append(("bytes", "bytes_pairs", _build_bytes))

    if "phash" in enable_lanes:
        # crop_invariant: re-hash each image's auto-trimmed content box so
        # letterboxed/padded copies hash like their originals (one narrow
        # decode pass, see with_content_phash); composes with
        # rotation_invariant (orbit of the content hash — a rotated padded
        # copy's content box rotates with it, so the same D4 law applies).
        ph_src = with_content_phash(images) if crop_invariant else images
        # rotation_invariant: band the full D4 orbit so rotated/mirrored
        # copies meet under their aligning transform (see with_phash_orbit)
        ph_src = with_phash_orbit(ph_src) if rotation_invariant else ph_src
        lane_builders.append(
            (
                "phash",
                "phash_pairs",
                lambda: (
                    phash_pairs(
                        ph_src, cfg, max_pairs_group=max_pairs_group, hot_policy=hot_policy
                    ),
                    None,
                ),
            )
        )

    if "dhash" in enable_lanes:
        # gradient-sign lane: catches smooth-lighting edits the block-mean
        # pHash misses (see with_dhash); same fused band machinery, the
        # 64-bit dhash rides the shuffle as the verify payload
        lane_builders.append(
            (
                "dhash",
                "dhash_pairs",
                lambda: (
                    phash_pairs(
                        with_dhash(images), cfg, phash_col="dhash",
                        max_pairs_group=max_pairs_group, hot_policy=hot_policy,
                    ),
                    None,
                ),
            )
        )

    if "substring" in enable_lanes:
        lane_builders.append(
            (
                "substring",
                "substring_pairs",
                lambda: substring_pairs_with_release(images, "image_id", "caption", cfg),
            )
        )

    if profile is None and len(lane_builders) > 1:
        from ..session import run_driver_actions

        sc = images.sparkSession.sparkContext

        def _lane(name, key, build):
            def run():
                # the thread's own copy of the caller's local properties:
                # the job group stays, the description names the lane
                sc.setJobDescription(f"dedup_images lane: {name}")
                return name, key, _materialize(*build())

            return run

        built = run_driver_actions(
            images.sparkSession, *(_lane(*item) for item in lane_builders)
        )
    else:
        built = [
            (name, key, _bar(key, *build()))
            for name, key, build in lane_builders
        ]
    for name, key, ver in built:
        out[key] = ver
        edge_parts.append((name, ver.select("a", "b")))

    if not edge_parts:
        # no recognized lanes enabled: every image is a singleton — an
        # empty edge frame typed like the id column, not an IndexError
        # (the streaming twin guards identically)
        id_type = dict(images.dtypes)["image_id"]
        empty = images.sparkSession.createDataFrame(
            [], f"a {id_type}, b {id_type}"
        )
        edges, raw_edges = empty, empty
    else:
        edges, raw_edges = fuse_edges(edge_parts, edge_policy)
    edges = _bar("edges", edges)
    out["edges"] = edges
    t_cc = _time.time()
    out["assignments"] = assign_clusters(
        images.select(F.col("image_id").alias("id")),
        raw_edges if profile is None else edges,
    )
    if profile is not None:
        profile["cc_eager"] = round(_time.time() - t_cc, 2)
    return out
