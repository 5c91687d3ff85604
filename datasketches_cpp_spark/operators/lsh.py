"""S4-S6: LSH banding → hot-band skew defusal → candidate pair generation.

Banding is a pure `posexplode` of the precomputed band-hash arrays followed
by `groupBy(band_idx, band_hash)`. Two scale guards, both deterministic:

1. **Singleton pruning** — band groups of size 1 (the vast majority on a
   real corpus) are dropped *before* the Python pair-gen stage via a
   semi-join against the band-size aggregate, so `applyInPandas` only ever
   sees groups that can emit a pair. The size aggregate is the
   frequent-items-style hot-key pre-pass of SURVEY.md §2B S5 (reference
   heavy-hitter semantics: fi/include/frequent_items_sketch.hpp:143-175).

2. **Hot-group skew defusal** — a band shared by s documents emits
   s(s-1)/2 pairs; a degenerate band (e.g. a boilerplate caption) would
   emit billions. Two policies, selected by ``hot_policy``:

   * ``"chain_hub"`` (default, the blessed oracle contract): groups larger
     than ``max_pairs_group`` switch to chain+hub edges (s-1 + s-1
     edges). Connectivity for connected components is fully preserved;
     pair-level recall within the group is delegated to the verifier over
     those edges. The cap is part of the config fingerprint — the oracle
     applies the identical rule, so cluster assignments match exactly.
   * ``"salted_full"`` (SURVEY §2B S5's salted repartition): hot groups
     keep FULL C(s,2) pair semantics. The sorted id array is cut into
     fixed-size chunks and every (chunk_i, chunk_j), i ≤ j, becomes its
     own row; the slice self-join is keyed on (band, i, j) — the salt —
     so chunk-pair rows hash-distribute across the cluster and no single
     task expands more than ~chunk² candidate structs per chunk-pair,
     regardless of group size. Same answers as brute-force all-pairs
     (pytest-gated), bounded task memory under skew (profiled:
     BENCH/profile_salted.md).

Why not a SQL self-join? `bands JOIN bands ON band` is JVM-only but its
output *is* the quadratic blowup — AQE can split the skewed partition but
cannot cap the semantics. The cap must be applied while the group is in
hand, which is exactly what `applyInPandas` gives us.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def explode_bands(sig_df: DataFrame) -> DataFrame:
    """(id, bands[]) → (band_idx, band_hash, id); rows with no shingles are
    excluded (their all-sentinel signatures would otherwise collide into one
    giant false band group)."""
    return (
        sig_df.where(F.col("n_shingles") > 0)
        .select("id", F.posexplode("bands").alias("band_idx", "band_hash"))
    )


def band_group_sizes(bands_df: DataFrame) -> DataFrame:
    """Group-size pre-count: one map-side-combinable agg. Doubles as the
    skew diagnostic (top-N hottest bands = heavy hitters)."""
    return bands_df.groupBy("band_idx", "band_hash").count()


def candidate_pairs(
    sig_df: DataFrame,
    max_pairs_group: int = 256,
    hot_policy: str = "chain_hub",
    pre_dedup_filter=None,
) -> DataFrame:
    """sig table → deduplicated candidate pair table (a < b).
    ``pre_dedup_filter`` is forwarded to pairs_from_bands: a
    DataFrame→DataFrame pruner applied to the exploded pairs BEFORE the
    dedup shuffle (see operators/dedup.exact_mode_prefilter)."""
    return pairs_from_bands(
        explode_bands(sig_df),
        max_pairs_group,
        hot_policy,
        pre_dedup_filter=pre_dedup_filter,
    )


def pairs_from_bands(
    bands_df: DataFrame,
    max_pairs_group: int = 256,
    hot_policy: str = "chain_hub",
    payload_col: str | None = None,
    pre_dedup_filter=None,
) -> DataFrame:
    """(band_idx, band_hash, id) → deduplicated (a, b) candidate pairs.
    Shared by the MinHash lane and the pHash multi-index lane (and any
    future blocking scheme): singleton pruning + hot-group capping live
    here once.

    Physical plan: ONE wide shuffle — ``groupBy(band).collect_set(id)``
    (map-side combined) — then everything is JVM array algebra:

      * normal groups (2..max_pairs_group members): all C(s,2) pairs via
        ``posexplode`` + ``slice`` over the sorted id array (sorted ⇒ a < b
        by construction, whole-stage codegen, zero Python);
      * hot groups (> cap): chain + hub edges from the same sorted array —
        2(s-1) edges, connectivity preserved, pair-level recall within the
        group delegated to the verifier.

    A final ``dropDuplicates`` de-dups pairs co-banded more than once
    (second shuffle, over pairs). Previous designs (per-group Python, or
    self-join with a sizes pre-pass) shuffled the exploded band table 3-5×;
    this shuffles it once.

    Memory note for 10^12-row corpora: a band with H members materializes
    one H-element array in a single task. LSH band keys are 64-bit content
    hashes, so H is bounded by true content duplication — exactly the mass
    the hot path caps — but a degenerate corpus (billions of IDENTICAL
    payloads) should be pre-collapsed by the exact-dup fingerprint pass
    before LSH (operators/textstats.with_fingerprint), which is also the
    cheaper plan for that data.

    ``payload_col``: optional SMALL per-id column (e.g. the 64-bit pHash)
    carried THROUGH the band shuffle as struct(id, payload), so the caller
    can verify pairs without joining back to the source table — output then
    has (a, b, payload_a, payload_b). Only worth it for scalar payloads:
    a k-long MinHash signature through a 32-band explode would multiply
    shuffle volume 32×, while a single long adds 8 bytes/row and deletes
    two downstream shuffle joins of the (much larger) candidate table.
    ``pre_dedup_filter``: optional DataFrame→DataFrame verification filter
    applied BEFORE the pair dropDuplicates, so the dedup shuffle carries
    only verified pairs."""
    if payload_col is not None:
        elem = F.struct(F.col("id"), F.col(payload_col))
    else:
        elem = F.col("id")
    grouped = (
        bands_df.groupBy("band_idx", "band_hash")
        .agg(F.sort_array(F.collect_set(elem)).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    return pairs_from_groups(
        grouped, max_pairs_group, hot_policy, payload_col, pre_dedup_filter
    )


def pairs_from_groups(
    grouped: DataFrame,
    max_pairs_group: int = 256,
    hot_policy: str = "chain_hub",
    payload_col: str | None = None,
    pre_dedup_filter=None,
) -> DataFrame:
    """JVM pair expansion over an already-built band-group table
    (band_idx, band_hash, ids sorted array) — split out of
    pairs_from_bands (r6) so callers that materialize the grouped frame
    for a pair-volume estimate can expand the SAME frame without
    re-running the band shuffle."""
    if payload_col is not None:
        out_cols = [
            F.col("p.a.id").alias("a"),
            F.col("p.b.id").alias("b"),
            F.col(f"p.a.{payload_col}").alias("payload_a"),
            F.col(f"p.b.{payload_col}").alias("payload_b"),
        ]
    else:
        out_cols = [F.col("p.a").alias("a"), F.col("p.b").alias("b")]

    ids = F.col("ids")
    sz = F.size("ids")
    # all pairs (a at 0-based position i, every b strictly after): sorted
    # array ⇒ a < b by construction
    all_pairs = F.flatten(
        F.transform(
            ids,
            lambda a, i: F.transform(
                F.slice(ids, i + F.lit(2), sz),
                lambda b: F.struct(a.alias("a"), b.alias("b")),
            ),
        )
    )
    # hot: chain (consecutive) + hub (first → everyone after the second)
    chain = F.transform(
        F.slice(ids, 1, sz - 1),
        lambda a, i: F.struct(
            a.alias("a"), F.element_at(ids, i + F.lit(2)).alias("b")
        ),
    )
    hub = F.transform(
        F.slice(ids, 3, sz),
        lambda b: F.struct(F.element_at(ids, 1).alias("a"), b.alias("b")),
    )
    # self-pair guard: with a payload, two rows of the SAME id carrying
    # different payloads (e.g. the D4 orbit's 8 pHash variants, which
    # co-band whenever an image is near-symmetric) survive collect_set as
    # distinct structs and would pair with themselves — (x, x) rows are
    # meaningless as edges and the streaming twin already filters them
    def _no_self(df: DataFrame) -> DataFrame:
        df = df.where(F.col("a") != F.col("b"))
        return pre_dedup_filter(df) if pre_dedup_filter is not None else df

    if hot_policy == "salted_full":
        return _salted_full_pairs(
            grouped, all_pairs, max_pairs_group, out_cols, _no_self
        )
    if hot_policy != "chain_hub":
        raise ValueError(f"unknown hot_policy {hot_policy!r}")
    pair_arr = F.when(sz <= max_pairs_group, all_pairs).otherwise(
        F.concat(chain, hub)
    )
    # ONE expression per group → the (python-stage) upstream is evaluated
    # exactly once; a when/otherwise inside separate union branches would
    # recompute the whole signature scan per branch
    pairs = grouped.select(F.explode(pair_arr).alias("p")).select(*out_cols)
    pairs = _no_self(pairs)
    return pairs.dropDuplicates(["a", "b"])


def _salted_full_pairs(
    grouped: DataFrame, all_pairs, chunk: int, out_cols=None, pre_dedup_filter=None
) -> DataFrame:
    """Full C(s,2) pair semantics for hot bands with bounded task memory.

    The sorted id array of a hot group is cut into ``chunk``-sized slices;
    every (slice_i, slice_j) with i ≤ j becomes one row, and the self-join
    that brings the two slices together is keyed on (band, i, j) — the
    CHUNK-PAIR, not the band — so hot-band chunk-pairs hash-distribute
    across the whole cluster and each task expands at most ~chunk²
    candidate structs per chunk-pair row. A band shared by a million
    documents costs many TASKS, never a huge task. Sorting guarantees
    a < b: within a slice the triangular expansion keeps order; across
    slices every element of slice_i precedes every element of slice_j
    (i < j).

    Two lessons a profiled 200k-row campaign taught (scripts/
    profile_salted.py, round 5 — one band holding 10% of rows):

    * the round-4 version joined on the band key ALONE, which parked
      every chunk-pair of the hot band on one join partition: one task
      peaked at 16.6 GB / 589 s expanding all 2·10⁸ pairs. Salting the
      join key with (i, j) is what actually spreads the expansion.
    * AQE's size-based partition coalescing sees only the join's INPUT
      bytes (a few MB of slice arrays) and would merge the chunk-pairs
      right back into one partition before the explode; the explicit
      numbered ``repartition`` below is deliberate — it pins the spread
      against an optimizer that cannot see generator output volume.

    All-JVM (whole-stage codegen): slicing is ``transform(sequence, ...)``;
    expansion is the same nested-transform algebra as the normal path.
    """
    if out_cols is None:
        out_cols = [F.col("p.a").alias("a"), F.col("p.b").alias("b")]
    sz = F.size("ids")
    normal = (
        grouped.where(sz <= chunk)
        .select(F.explode(all_pairs).alias("p"))
        .select(*out_cols)
    )
    n_chunks = F.ceil(sz / F.lit(chunk)).cast("int")
    hot = grouped.where(sz > chunk).select(
        "band_idx",
        "band_hash",
        n_chunks.alias("nc"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.slice(F.col("ids"), i * chunk + 1, chunk),
            )
        ).alias("ci", "chunk_ids"),
    )
    left = hot.select(
        "band_idx",
        "band_hash",
        F.col("ci").alias("i"),
        F.explode(F.sequence(F.col("ci"), F.col("nc") - 1)).alias("j"),
        F.col("chunk_ids").alias("xs"),
    )
    right = hot.select(
        "band_idx",
        "band_hash",
        F.explode(F.sequence(F.lit(0), F.col("ci"))).alias("i"),
        F.col("ci").alias("j"),
        F.col("chunk_ids").alias("ys"),
    )
    joined = left.join(right, ["band_idx", "band_hash", "i", "j"])
    try:
        n_part = int(
            grouped.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
    except ValueError:  # non-numeric conf (e.g. 'auto') — ADVICE r5
        n_part = grouped.sparkSession.sparkContext.defaultParallelism
    joined = joined.repartition(n_part, "band_idx", "band_hash", "i", "j")
    xs, ys = F.col("xs"), F.col("ys")
    tri = F.flatten(
        F.transform(
            xs,
            lambda a, i: F.transform(
                F.slice(xs, i + F.lit(2), F.size(xs)),
                lambda b: F.struct(a.alias("a"), b.alias("b")),
            ),
        )
    )
    cross = F.flatten(
        F.transform(
            xs,
            lambda a: F.transform(ys, lambda b: F.struct(a.alias("a"), b.alias("b"))),
        )
    )
    hot_pairs = joined.select(
        F.explode(F.when(F.col("i") == F.col("j"), tri).otherwise(cross)).alias("p")
    ).select(*out_cols)
    pairs = normal.unionByName(hot_pairs)
    if pre_dedup_filter is not None:
        pairs = pre_dedup_filter(pairs)
    return pairs.dropDuplicates(["a", "b"])


def banding_curve(bands: int, rows: int, s):
    """LSH S-curve: probability a pair with Jaccard similarity ``s``
    shares at least one band, P(s) = 1 - (1 - s^rows)^bands (Leskovec/
    Rajaraman/Ullman, Mining of Massive Datasets §3.4). Vectorized over
    numpy arrays of s."""
    import numpy as np

    s = np.asarray(s, dtype=np.float64)
    return 1.0 - (1.0 - s**rows) ** bands


def suggest_banding(
    sig_len: int,
    target_jaccard: float,
    fn_weight: float = 1.0,
) -> dict:
    """Choose (bands, rows) for a MinHash signature of ``sig_len``
    hashes so the LSH S-curve steps as close as possible to
    ``target_jaccard``: minimize  FP + fn_weight·FN  where
    FP = ∫₀ᵗ P(s) ds (candidate pairs below the threshold that a
    verify stage must pay to reject) and FN = ∫ₜ¹ (1−P(s)) ds (true
    pairs banding never surfaces — unrecoverable without another
    lane). ``fn_weight`` > 1 biases toward recall, the right default
    for a dedup pipeline whose verify stage is cheap relative to a
    missed duplicate (the ≥0.99 dup-pair recall rule).

    Driver-side design math, O(sig_len · grid): enumerate every
    (bands = sig_len // rows, rows) split, integrate the curve
    numerically, return the argmin plus its diagnostics::

        {"bands", "rows", "threshold"  # (1/b)^(1/r), the curve's knee
         "fp_area", "fn_area", "cost"}

    Use before a 100 TB run: banding is the one parameter that cannot
    be fixed after the shuffle."""
    import numpy as np

    if not 0.0 < target_jaccard < 1.0:
        raise ValueError(f"target_jaccard in (0,1), got {target_jaccard}")
    grid = np.linspace(0.0, 1.0, 2001)
    below = grid <= target_jaccard
    best = None
    for rows in range(1, sig_len + 1):
        bands = sig_len // rows
        if bands < 1:
            break
        p = banding_curve(bands, rows, grid)
        fp = float(np.trapz(p[below], grid[below]))
        fn = float(np.trapz(1.0 - p[~below], grid[~below]))
        cost = fp + fn_weight * fn
        if best is None or cost < best["cost"]:
            best = {
                "bands": bands,
                "rows": rows,
                "threshold": float((1.0 / bands) ** (1.0 / rows)),
                "fp_area": fp,
                "fn_area": fn,
                "cost": cost,
            }
    return best
