"""Tiered (cascaded) dedup — exact tier, near tier, optional semantic tier.

The 100 TB shape of deduplication is a CASCADE: web-scale image corpora
are typically 30-50% byte-exact duplicates, and collapsing those first
means the expensive machinery (multi-lane LSH banding, pHash verify,
embedding cosine) runs over a corpus a fraction of the original size.
Each tier's clusters are composed back through the cheaper tiers, so
every input row still gets a final cluster id.

Tiers:

* **exact** — one narrow shuffle of ``(image_id, key)`` projections
  where ``key = md5`` over length-framed ``exact_on`` columns (128-bit,
  collision-safe at corpus scale; the corpus' ``bytes`` column never
  enters this exchange). Representative = min image_id per key.
* **near** — the full multi-lane ``dedup_images`` pipeline
  (operators/imagededup.py) over exact-tier survivors only.
* **semantic** — optional SemDeDup pass (operators/knn.py
  ``semantic_dedup``) over the NEAR tier's representatives, for callers
  that supply an embedding table; near-tier clusters whose reps are
  semantic near-duplicates merge.

Survivor selection never shuffles image payloads. With
``survivor_filter="bloom"`` (default) the representative id set is
folded into a broadcast bloom filter (functions/bloom.py) and the
corpus is filtered MAP-SIDE — zero corpus shuffle. The bloom's false
positives are harmless by construction: a false positive admits a
non-representative row, which is byte-identical (and caption-identical)
to its representative, so the near tier's content-derived lanes re-link
it to that representative and the composed clustering is unchanged;
final cluster ids also stay representative ids, because every admitted
non-rep u has its rep r < u inside the same near component, so the
component min is never u. ``survivor_filter="semi"`` is the exact
left-semi join (one corpus shuffle) for callers that want the survivor
frame itself duplicate-free.

Lossless-collapse law: collapsing rows identical on ``exact_on`` is
invisible to any lane that reads only those columns (or values derived
from them, like the pHash of the bytes) — identical inputs yield
identical signatures, so the near tier over representatives produces
the same composed clustering as a flat run over everything
(tests/test_tiered.py pins this equivalence against ``dedup_images``).
The default ``exact_on=("bytes", "caption")`` covers every lane
dedup_images offers; callers who key on bytes alone must restrict
``near_lanes`` to content-derived lanes ("bytes", "phash", "dhash") or
accept that caption-lane edges between byte-identical twins with
different captions are collapsed by fiat.

The reference repo (apache/datasketches-cpp) has no dedup pipeline;
this module extends the engine's training-data surface, composing the
round-2/3 lanes into the cascade a 1000-executor deployment would run.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .imagededup import dedup_images
from .sigkernel import SigConfig


def _exact_key(images: DataFrame, exact_on: tuple) -> "F.Column":
    """128-bit content key over the exact_on columns. Each part is
    length-framed before the concat so ("ab", "c") and ("a", "bc") can
    never collide; md5 runs JVM-side in one projection pass.

    NULL handling: each part carries an explicit nullity marker, so the
    key itself is never NULL (an md5 over any NULL part would
    null-propagate, and NULL keys would lump every such row into ONE
    window partition — unrelated fetch-failure rows would read as exact
    twins). NULLs compare equal to each other and unequal to the empty
    value, i.e. GROUP-BY equality over the exact_on tuple."""
    types = dict(images.dtypes)
    framed = []
    for c in exact_on:
        if c not in types:
            raise ValueError(f"exact_on column {c!r} not in the input frame")
        part = (
            F.col(c)
            if types[c] == "binary"
            else F.encode(F.col(c).cast("string"), "UTF-8")
        )
        marker = F.when(part.isNull(), F.lit("n:")).otherwise(
            F.concat(F.lit("v"), F.length(part).cast("string"), F.lit(":"))
        )
        framed.append(
            F.concat(
                F.encode(marker, "UTF-8"),
                F.coalesce(part, F.lit(b"")),
            )
        )
    return F.md5(F.concat(*framed))


def _bloom_rep_filter(images: DataFrame, rep_ids: DataFrame,
                      id_col: str, fpp: float) -> DataFrame:
    """Map-side survivor filter: the rep-id bloom is folded distributed
    (functions/bloom.py), its bit array broadcast, and the probe runs as
    a scalar Arrow UDF inside .filter() — only the id column crosses
    the Arrow boundary; the corpus' bytes/caption payloads never leave
    the JVM."""
    from pyspark.sql.functions import arrow_udf

    from ..functions._twostage import column_values
    from ..functions.bloom import (
        _contains,
        bloom_filter_agg,
        suggest_num_bits,
        suggest_num_hashes_from,
    )

    n = int(rep_ids.count())
    if not n:  # a filter over no ids lets nothing through
        return images.where(F.lit(False))
    m = suggest_num_bits(n, fpp)
    k = suggest_num_hashes_from(n, m)
    row = bloom_filter_agg(rep_ids, id_col, m, k).collect()[0]
    sc = images.sparkSession.sparkContext
    bits_bc = sc.broadcast(bytes(row["bits"]))
    m_, k_, seed = int(row["num_bits"]), int(row["num_hashes"]), int(row["seed"])
    id_dtype = dict(images.dtypes)[id_col]

    def _probe(ids: pa.Array) -> pa.Array:
        # read as every sketch pass reads a column: a long id beside a null
        # stays an exact int
        items = column_values(ids)
        return pa.array(_contains(items, id_dtype, bits_bc.value, m_, k_, seed))

    probe = arrow_udf(_probe, "boolean")
    return images.filter(probe(F.col(id_col)))


def tiered_dedup_images(
    images: DataFrame,
    cfg: SigConfig | None = None,
    exact_on: tuple = ("bytes", "caption"),
    near_lanes: tuple = ("bytes", "phash"),
    embeddings: DataFrame | None = None,
    id_col: str = "image_id",
    vec_col: str = "embedding",
    semantic_threshold: float = 0.9,
    n_centroids: int = 16,
    survivor_filter: str = "bloom",
    bloom_fpp: float = 1e-3,
    auto_plan: bool = False,
    min_dup_ratio: float = 0.05,
    plan_lg_k: int = 12,
    **near_kwargs,
) -> dict:
    """Cascaded dedup. Returns a dict with:

    * ``assignments`` — (id, cluster_id) for EVERY input row (the
      dedup_images column convention), the
      composed exact→near[→semantic] clustering; cluster_id is the min
      image_id of the final cluster (deterministic).
    * ``exact_assignments`` — (image_id, rep1) the exact tier's map.
    * ``near`` — the full dedup_images result dict over survivors.
    * ``semantic`` — the semantic_dedup frame over near reps (or None).
    * ``tier_stats`` — small DataFrame (tier, input_rows, survivors):
      the funnel a capacity planner reads; lazy, aggregation-only.
    * ``plan`` — the plan_tiers row as a dict when ``auto_plan=True``
      (else None). With ``auto_plan`` the exact tier is SKIPPED when the
      sketch-estimated duplication lower bound is under
      ``min_dup_ratio`` — same final clustering either way (collapse is
      lossless), minus the unprofitable (id, key) shuffle. NOTE: on the
      skip path the survivor frame is the input UNCHANGED — the
      ``survivor_filter="semi"`` duplicate-free-survivors guarantee
      applies only when the exact tier actually runs (check
      ``plan["exact_tier"]`` before consuming the near-tier frames as a
      deduplicated dataset).
    """
    if survivor_filter not in ("bloom", "semi"):
        raise ValueError(
            f"survivor_filter must be 'bloom' or 'semi', got {survivor_filter!r}"
        )
    cfg = cfg or SigConfig()

    # ---- optional sketch-driven planning ------------------------------
    plan_row = None
    if auto_plan:
        plan_row = plan_tiers(
            images, exact_on=exact_on, lg_k=plan_lg_k,
            min_dup_ratio=min_dup_ratio,
        ).collect()[0]

    if plan_row is not None and not plan_row["exact_tier"]:
        # the sketch's duplication LOWER bound is under the threshold:
        # the exact tier's (id, key) shuffle would not pay for itself.
        # Identity exact map keeps the compose/stats path unchanged and
        # the result equal to running the cascade anyway (collapse is
        # lossless), minus the skipped shuffle.
        a1 = images.select(F.col(id_col), F.col(id_col).alias("rep1"))
        survivors = images
    else:
        # ---- exact tier: narrow (id, key) shuffle only ----------------
        keymap = images.select(
            F.col(id_col), _exact_key(images, exact_on).alias("_tkey")
        )
        wspec = Window.partitionBy("_tkey")
        # multiple consumers (rep set, compose join, stats) — checkpoint
        # so the window shuffle runs once (house rule, tests/test_plans.py)
        a1 = keymap.select(
            F.col(id_col), F.min(id_col).over(wspec).alias("rep1")
        ).localCheckpoint(eager=False)
        rep_ids = a1.where(F.col(id_col) == F.col("rep1")).select(id_col)

        if survivor_filter == "semi":
            survivors = images.join(rep_ids, id_col, "left_semi")
        else:
            survivors = _bloom_rep_filter(images, rep_ids, id_col, bloom_fpp)

    # ---- near tier: the multi-lane pipeline over survivors ------------
    near = dedup_images(images=survivors, cfg=cfg,
                        enable_lanes=near_lanes, **near_kwargs)
    a2 = near["assignments"]  # (id, cluster_id) over survivors

    # ---- optional semantic tier over near representatives -------------
    sem = None
    a2r = a2.withColumnRenamed("id", "_nid").withColumnRenamed(
        "cluster_id", "_ncid"
    )
    final = a1.join(a2r, F.col("rep1") == F.col("_nid"), "left").select(
        F.col(id_col).alias("id"),
        F.coalesce(F.col("_ncid"), F.col("rep1")).alias("cluster_id"),
    )
    if embeddings is not None:
        from .knn import semantic_dedup

        near_reps = a2.where(F.col("id") == F.col("cluster_id")).select("id")
        rep_vecs = embeddings.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
        ).join(near_reps, "id", "left_semi")
        sem = semantic_dedup(
            rep_vecs,
            id_col="id",
            vec_col="vec",
            threshold=semantic_threshold,
            n_centroids=n_centroids,
        )
        a3 = sem.select(
            F.col("id").alias("_sid"), F.col("rep_id").alias("_srep")
        )
        final = final.join(
            a3, F.col("cluster_id") == F.col("_sid"), "left"
        ).select(
            F.col("id"),
            F.coalesce(F.col("_srep"), F.col("cluster_id")).alias("cluster_id"),
        )

    # ---- funnel stats (lazy; aggregation-only) -------------------------
    stats = (
        a1.agg(
            F.count(F.lit(1)).alias("input_rows"),
            F.count_distinct("rep1").alias("survivors"),
        ).select(F.lit("exact").alias("tier"), "input_rows", "survivors")
    ).union(
        a2.agg(
            F.count(F.lit(1)).alias("input_rows"),
            F.count_distinct("cluster_id").alias("survivors"),
        ).select(F.lit("near").alias("tier"), "input_rows", "survivors")
    )
    if sem is not None:
        stats = stats.union(
            sem.agg(
                F.count(F.lit(1)).alias("input_rows"),
                F.count_distinct("rep_id").alias("survivors"),
            ).select(F.lit("semantic").alias("tier"), "input_rows", "survivors")
        )

    return {
        "assignments": final,
        "exact_assignments": a1,
        "near": near,
        "semantic": sem,
        "tier_stats": stats,
        "plan": plan_row.asDict() if plan_row is not None else None,
    }


def plan_tiers(
    images: DataFrame,
    exact_on: tuple = ("bytes", "caption"),
    lg_k: int = 12,
    num_std_devs: int = 2,
    min_dup_ratio: float = 0.05,
) -> DataFrame:
    """Sketch-driven cascade planning: estimate the exact-duplicate
    ratio in ONE narrow pass and recommend whether the exact tier pays
    for itself, BEFORE any dedup machinery runs.

    The decision input at 10^12 rows is "what fraction of this corpus
    is byte-exact duplicate?" — exact `count_distinct` over a 128-bit
    content key is itself a full-corpus shuffle, which defeats the
    point of planning. A theta sketch (functions/theta.py — the
    reference's theta distinct-count estimator,
    theta_sketch.hpp / theta_update_sketch_base.hpp) answers it with
    map-side lg_k-bounded partials: only 2^lg_k longs per partition
    ever shuffle, and the binomial bounds make the recommendation
    conservative (the exact tier is recommended only when even the
    duplication LOWER bound clears ``min_dup_ratio``). The row count is
    the one other action; on file sources it is footer-metadata only.

    Returns a one-row DataFrame:
      (total_rows, distinct_est, distinct_lb, distinct_ub,
       dup_ratio_est, dup_ratio_lb, dup_ratio_ub, exact_tier)
    where dup_ratio = 1 - distinct/total, the dup-ratio bounds come
    from the opposite distinct bounds, and ``exact_tier`` is the
    recommendation. Corpora with <= 2^lg_k distinct keys keep the
    sketch in exact mode, so every column is then exact (pinned vs SQL
    in the `dup_ratio_plan` oracle query)."""
    from ..functions.theta import theta_sketch_agg, with_bounds

    keyed = images.select(_exact_key(images, exact_on).alias("tkey"))
    sk = with_bounds(theta_sketch_agg(keyed, [], "tkey", lg_k=lg_k),
                     num_std_devs)
    total = images.count()
    if total == 0:
        # the sketch agg emits ZERO rows over an empty corpus (no
        # partials -> no group) — the promised one-row plan must still
        # come back, or auto_plan crashes on .collect()[0]
        return images.sparkSession.createDataFrame(
            [(0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, False)],
            "total_rows long, distinct_est double, distinct_lb double, "
            "distinct_ub double, dup_ratio_est double, dup_ratio_lb "
            "double, dup_ratio_ub double, exact_tier boolean",
        )
    t = F.lit(float(total))

    def ratio(col):
        if total == 0:
            return F.lit(0.0)
        return F.greatest(F.lit(0.0), F.lit(1.0) - col / t)

    return sk.select(
        F.lit(total).alias("total_rows"),
        F.col("estimate").alias("distinct_est"),
        F.col("lower_bound").alias("distinct_lb"),
        F.col("upper_bound").alias("distinct_ub"),
        ratio(F.col("estimate")).alias("dup_ratio_est"),
        ratio(F.col("upper_bound")).alias("dup_ratio_lb"),
        ratio(F.col("lower_bound")).alias("dup_ratio_ub"),
        (ratio(F.col("upper_bound")) >= F.lit(float(min_dup_ratio))
         ).alias("exact_tier"),
    )


def dup_ratio_by_group(
    images: DataFrame,
    group_cols: list[str],
    exact_on: tuple = ("bytes", "caption"),
    lg_k: int = 12,
    num_std_devs: int = 2,
) -> DataFrame:
    """Per-group duplication diagnostics — the curation twin of
    plan_tiers: one theta-sketch pass grouped by ``group_cols`` (e.g.
    crawl source, language) yields each group's row count, estimated
    distinct-content count with binomial bounds, and duplication ratio.
    The reading a mixing/curation planner wants ("which sources are
    mostly re-crawls?") without a per-group count_distinct shuffle of
    the full corpus: rows carry only (group, key) into the partial
    aggregation, per-group state is 2^lg_k longs, and the row counts
    ride the same pass as a count aggregate. Groups with ≤ 2^lg_k
    distinct keys are in exact mode — every column exact."""
    from ..functions.theta import theta_sketch_agg, with_bounds

    keyed = images.select(
        *group_cols, _exact_key(images, exact_on).alias("tkey")
    )
    keyed = keyed.localCheckpoint(eager=False)  # sketch + count consumers
    sk = with_bounds(
        theta_sketch_agg(keyed, group_cols, "tkey", lg_k=lg_k), num_std_devs
    )
    counts = keyed.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("total_rows")
    )
    t = F.col("total_rows").cast("double")

    def ratio(col):
        return F.when(
            t > 0, F.greatest(F.lit(0.0), F.lit(1.0) - col / t)
        ).otherwise(F.lit(0.0))

    # null-SAFE group join: groupBy emits a NULL-group row on both sides
    # (e.g. documents with source IS NULL); plain equality would silently
    # drop that slice from the report
    cond = None
    for c in group_cols:
        eq = sk[c].eqNullSafe(counts[c])
        cond = eq if cond is None else cond & eq
    return sk.join(counts, cond).select(
        *[sk[c].alias(c) for c in group_cols],
        "total_rows",
        F.col("estimate").alias("distinct_est"),
        F.col("lower_bound").alias("distinct_lb"),
        F.col("upper_bound").alias("distinct_ub"),
        ratio(F.col("estimate")).alias("dup_ratio_est"),
        ratio(F.col("upper_bound")).alias("dup_ratio_lb"),
        ratio(F.col("lower_bound")).alias("dup_ratio_ub"),
    )
