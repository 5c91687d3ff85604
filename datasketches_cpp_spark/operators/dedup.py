"""End-to-end near-duplicate detection pipeline (SURVEY.md §2B S0-S8).

    content table ──S1/S2──▶ signatures ──S4-S6──▶ candidate pairs
        ──S7──▶ verified pairs ──S8──▶ cluster assignments

Each stage is a DataFrame → DataFrame function; `dedup_text` / `dedup`
compose them. The signature stage is the only pass over raw content; every
later stage moves ids + fixed-size signatures only, so the 100 TB scan cost
is paid exactly once.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .cc import assign_clusters
from .lsh import candidate_pairs
from .minhash import compute_signatures
from .sigkernel import SigConfig
from .verify import verify_pairs


def dedup(
    df: DataFrame,
    id_col: str,
    content_col: str,
    cfg: SigConfig | None = None,
    kind: str = "text",
    max_pairs_group: int = 256,
    use_simhash: bool = True,
    byte_stride: int = 1,
    sig_df: DataFrame | None = None,
    hot_policy: str = "chain_hub",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (assignments, verified_pairs, signatures).

    assignments:    (id, cluster_id) — cluster_id = min member id
    verified_pairs: (a, b, jaccard, mh_jaccard, simhash_hamming,
                     exact_match, passed) — passed rows only
    signatures:     the S1 output, reusable for checkpointing

    ``hot_policy``: skew defusal for degenerate LSH bands — "chain_hub"
    (default contract: capped connectivity edges) or "salted_full" (full
    pair semantics, chunk-bounded task memory); see operators/lsh.py.
    """
    cfg = cfg or SigConfig()
    if sig_df is None:
        # signatures feed THREE consumers (banding + both verify sides);
        # without a checkpoint Catalyst clones the Python signature stage
        # into each subtree and the scan+hash work runs 3× per action
        # (guide §2.4: share the computation, r6 measurement: the sig
        # stage alone is ~1.3 s warm at 50k docs, ×3 in the old plan)
        sig_df = compute_signatures(
            df, id_col, content_col, cfg, kind=kind, byte_stride=byte_stride
        ).localCheckpoint(eager=False)
    if hot_policy == "chain_hub":
        # volume-adaptive pair generation: pygen+prune only when the
        # estimated candidate volume warrants its fixed costs — see
        # candidate_pairs_adaptive
        pairs = candidate_pairs_adaptive(
            sig_df, cfg, max_pairs_group=max_pairs_group, use_simhash=use_simhash
        )
    else:
        pre_filter = exact_mode_prefilter(sig_df, cfg, use_simhash=use_simhash)
        pairs = candidate_pairs(
            sig_df,
            max_pairs_group=max_pairs_group,
            hot_policy=hot_policy,
            pre_dedup_filter=pre_filter,
        )
    verified = verify_pairs(pairs, sig_df, cfg, use_simhash=use_simhash)
    edges = verified.where("passed").select("a", "b")
    assignments = assign_clusters(df.select(F.col(id_col).alias("id")), edges)
    return assignments, verified.where("passed"), sig_df


#: row-count ceiling under which the signature table is collected and
#: broadcast into the Python candidate pruner (padded kmv matrix ≈
#: rows × kmv_k × 8 bytes → ≲ 160 MB at the default 150k/128). Above it
#: the prefilter is skipped entirely and the plan is exactly the pre-r6
#: one (candidate pairs → dedup shuffle → verify joins).
PREFILTER_MAX_SIG_ROWS = 150_000


def exact_mode_prefilter(sig_df: DataFrame, cfg: SigConfig, use_simhash: bool):
    """Candidate-pair pruner applied BEFORE the pair dropDuplicates
    shuffle (lsh.pairs_from_bands ``pre_dedup_filter`` hook).

    Rationale (r6, guide §2.3/§8): on a degenerate corpus the banding
    stage emits tens of millions of candidate pairs of which only a few
    thousand verify; the old plan shuffled every candidate through the
    pair dedup AND two sort-merge joins carrying kmv_k longs per side
    (~1 KB/pair) into the Python kernel. This pruner broadcasts the
    (small) signature table to the Python workers ONCE and screens the
    freshly exploded pairs in-stage — only (a, b) crosses the Arrow
    boundary, the signature arrays never travel per pair — so the pair
    dedup shuffle and the verify joins see thousands of rows, not
    millions. (A JVM broadcast-join variant was measured first: copying
    the two kmv arrays into every joined row + per-row array_intersect
    hash sets cost 22 s at 33.5M pairs vs 10 s for this path.)

    Exactness contract (the verified output must be byte-identical):
    * the keep-decision runs the SAME kernels verify_pairs runs (the
      shared _mat_inter_kept screen/sort/count core + hamming64), in
      BOTH theta modes, so "passes verification" is decided once,
      identically, by shared code — kept pairs re-verify downstream with
      full diagnostics (r6: estimation-mode pairs were previously kept
      unconditionally; the kernels are shared, so pruning them is
      equally exact — the bytes lane is all estimation mode);
    * sig tables larger than PREFILTER_MAX_SIG_ROWS: no pruning at all
      (returns None) — at that scale the broadcast would not fit and the
      shuffled verify plan is the right one.
    """
    decide = _make_pair_decider(sig_df, cfg, use_simhash)
    if decide is None:
        return None
    id_type = dict(sig_df.dtypes)["id"]

    def prune(pairs_df: DataFrame) -> DataFrame:
        assert pairs_df.columns == ["a", "b"], pairs_df.columns

        def run(batches):
            import pyarrow as pa

            for rb in batches:
                if rb.num_rows == 0:
                    continue
                a_arr = rb.column(0)
                b_arr = rb.column(1)
                keep_pa = pa.array(
                    decide(
                        a_arr.to_pandas().to_numpy(),
                        b_arr.to_pandas().to_numpy(),
                    )
                )
                yield pa.RecordBatch.from_arrays(
                    [a_arr.filter(keep_pa), b_arr.filter(keep_pa)],
                    names=["a", "b"],
                )

        return pairs_df.mapInArrow(run, f"a {id_type}, b {id_type}")

    return prune


def _make_pair_decider(sig_df: DataFrame, cfg: SigConfig, use_simhash: bool):
    """Collect+broadcast the signature table and return a worker-side
    ``decide(a_ids, b_ids) -> keep mask`` closure implementing the
    exact_mode_prefilter contract (see its docstring), or None when the
    sig table exceeds PREFILTER_MAX_SIG_ROWS."""
    n_sigs = sig_df.count()  # sig_df is checkpointed by callers: one cheap job
    if n_sigs == 0 or n_sigs > PREFILTER_MAX_SIG_ROWS:
        return None

    import numpy as np
    import pandas as pd

    from .sigkernel import hamming64

    pdf = sig_df.select("id", "kmv_theta", "kmv_sig", "simhash").toPandas()
    idx = pd.Index(pdf["id"])
    sigs = pdf["kmv_sig"].to_numpy()
    lens = np.fromiter((len(s) for s in sigs), dtype=np.int64, count=len(sigs))
    maxlen = max(int(lens.max()), 1)
    # padded row-major matrix: row i = doc i's kmv sig, sentinel-padded —
    # one fancy-index gather per batch rebuilds the ragged pair columns
    pad = np.full((len(sigs), maxlen), 0xFFFFFFFFFFFFFFFF, dtype=np.uint64)
    for i, s in enumerate(sigs):
        if len(s):
            pad[i, : len(s)] = np.asarray(s, np.int64).view(np.uint64)
    thetas = pdf["kmv_theta"].to_numpy(dtype=np.int64)
    shs = pdf["simhash"].to_numpy(dtype=np.int64).view(np.uint64)

    # dense-value bitmaps (r6): when the corpus' distinct sig-value domain
    # is small (short-vocabulary shingles), exact-mode Jaccard reduces to
    # popcount(bitmap_a & bitmap_b) over a few words per doc — identical
    # integers (sig values are distinct per doc), identical float division,
    # so the keep set is bit-identical to the padded sort kernel it
    # replaces (~20× less per-pair work). None when the domain or the
    # rows×words product outgrows the budget — the sort kernel remains.
    all_vals = (
        np.concatenate([np.asarray(s, np.int64) for s in sigs if len(s)])
        if lens.sum()
        else np.empty(0, np.int64)
    )
    uniq_vals = np.unique(all_vals)
    words2 = (len(uniq_vals) + 63) // 64
    bmat = None
    if 0 < len(uniq_vals) and len(sigs) * words2 * 8 <= 256 * 1024 * 1024:
        row_of = np.repeat(np.arange(len(sigs)), lens)
        pos = np.searchsorted(uniq_vals, all_vals)
        flat_addr = row_of * words2 + pos // 64
        bitv = np.uint64(1) << np.uint64(pos % 64)
        if len(flat_addr) > 1 and np.any(np.diff(flat_addr) < 0):
            order = np.argsort(flat_addr, kind="stable")
            flat_addr, bitv = flat_addr[order], bitv[order]
        # segmented OR (ufunc.at is ~1 µs/element — too slow at millions
        # of postings); addresses are nondecreasing after the sort guard
        starts = np.flatnonzero(np.r_[True, flat_addr[1:] != flat_addr[:-1]])
        bflat = np.zeros(len(sigs) * words2, dtype=np.uint64)
        bflat[flat_addr[starts]] = np.bitwise_or.reduceat(bitv, starts)
        bmat = bflat.reshape(len(sigs), words2)

    sc = sig_df.sparkSession.sparkContext
    bc = sc.broadcast((idx, pad, lens, thetas, shs, bmat))
    thr = cfg.jaccard_threshold
    max_ham = cfg.simhash_hamming

    from .sigkernel import _POPCOUNT_TABLE
    from .verify import _kmv_jaccard_padded

    def decide(a_ids, b_ids):
        index, mat, ln, th, sh, bm = bc.value
        ia = index.get_indexer(a_ids)
        ib = index.get_indexer(b_ids)
        tha, thb = th[ia], th[ib]
        # cheap screens first (r6, guide §1.2 per-task work): simhash is
        # one XOR+popcount per pair, and exact-mode pairs below the
        # length-ratio upper bound J ≤ min(|A|,|B|)/max(|A|,|B|) cannot
        # pass (INVALID under theta screening, so estimation-mode pairs
        # always reach the kernel). The keep decision for every pair is
        # the same kmv-Jaccard verify computes — decide and verify share
        # _mat_inter_kept, so inter/kept integers and the final float
        # division are identical and no pair verify would pass is dropped.
        keep = np.zeros(len(ia), dtype=bool)
        if use_simhash:
            keep = hamming64(sh[ia], sh[ib]) <= max_ham
        la, lb = ln[ia], ln[ib]
        exact_pair = (tha == -1) & (thb == -1)
        ratio_fail = exact_pair & (
            np.minimum(la, lb) < thr * np.maximum(la, lb)
        )
        todo = np.flatnonzero(~keep & ~ratio_fail)
        if len(todo):
            kj = np.empty(len(todo), dtype=np.float64)
            ex = exact_pair[todo] if bm is not None else np.zeros(len(todo), bool)
            ti_ex = todo[ex]
            if len(ti_ex):
                # exact-mode (both thetas MAX) via dense bitmaps: the
                # intersection is popcount(bitmap AND), the union
                # la+lb−∩, the division replicates the sort kernel's
                # float math term for term
                band = bm[ia[ti_ex]] & bm[ib[ti_ex]]
                inter = (
                    _POPCOUNT_TABLE[band.view(np.uint8)]
                    .sum(axis=1)
                    .astype(np.int64)
                )
                union = la[ti_ex] + lb[ti_ex] - inter
                kje = np.ones(len(ti_ex), dtype=np.float64)
                nz = union > 0
                kje[nz] = inter[nz] / union[nz]
                kj[ex] = kje
            ti_sort = todo[~ex]
            if len(ti_sort):
                # per-doc rows are already sentinel-padded: hstack feeds
                # the shared screen/sort/count core directly, skipping the
                # ragged flatten + per-chunk scatter of the flat kernel
                kj[~ex] = _kmv_jaccard_padded(
                    mat[ia[ti_sort]], mat[ib[ti_sort]],
                    tha[ti_sort], thb[ti_sort],
                )
            keep[todo] |= kj >= thr
        return keep

    decide.broadcast = bc  # lets a caller that drops the decider free it
    return decide


def _shuffle_partitions(spark) -> int:
    """spark.sql.shuffle.partitions as an int, falling back to
    defaultParallelism when the conf is non-numeric (e.g. 'auto' on some
    platforms — the crash class ADVICE r5 flagged in lsh.py)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except ValueError:
        return spark.sparkContext.defaultParallelism


#: pair-expansion chunk bound for the Python pair generator: size-class
#: chunks are cut so no single expansion materializes more than this many
#: candidate pairs before the prune mask is applied (memory bound per
#: task, analogous to the salted_full chunk discipline).
_PYGEN_MAX_PAIRS_CHUNK = 4_000_000


#: estimated candidate-pair floor above which the fused Python
#: expand+prune path replaces the plain JVM expansion. Below it, the
#: pygen fixed costs (sig-table collect + broadcast + an Arrow stage)
#: exceed what pruning saves — the r6 flagship caption lane (338k
#: candidates) measured SLOWER under pygen while doc_dedup (33.5M
#: candidates) is 4× faster with it.
PYGEN_MIN_PAIRS = 2_000_000


def candidate_pairs_adaptive(
    sig_df: DataFrame,
    cfg: SigConfig,
    max_pairs_group: int = 256,
    use_simhash: bool = True,
) -> DataFrame:
    """chain_hub candidate generation with a measured, volume-adaptive
    plan choice (r6): the band-group table is built ONCE (checkpointed),
    its exact chain_hub pair count is computed with one map-side
    combinable agg over the group sizes, and then either

    * ``>= PYGEN_MIN_PAIRS`` and the sig table broadcasts: the fused
      Python expand+prune stage (see ``python_pair_pruned``) — survivors
      only cross back to the JVM; or
    * otherwise: the plain JVM expansion over the SAME checkpointed
      groups (lsh.pairs_from_groups) — no pruning machinery, no sig
      collect, exactly the pre-r6 plan minus the re-shuffle.

    Output pair set is identical either way (pruning only removes pairs
    verification would reject)."""
    from ..session import run_driver_actions
    from .lsh import explode_bands, pairs_from_groups

    grouped = (
        explode_bands(sig_df)
        .groupBy("band_idx", "band_hash")
        .agg(F.sort_array(F.collect_set(F.col("id"))).alias("ids"))
        .where(F.size("ids") >= 2)
    ).localCheckpoint(eager=False)
    sz = F.size("ids")

    def _estimate() -> int:
        est_row = grouped.agg(
            F.sum(
                F.when(sz <= max_pairs_group, sz * (sz - 1) / 2).otherwise(
                    2 * (sz - 1)
                )
            ).alias("est")
        ).collect()[0]
        return int(est_row["est"] or 0)

    # the volume estimate (grouped materialization) and the decider build
    # (sig count + collect + broadcast) touch disjoint subtrees — run the
    # two driver actions concurrently (guide §2.6) instead of back-to-back.
    # If the estimate lands under the threshold the decider goes unused —
    # its cost is bounded by PREFILTER_MAX_SIG_ROWS and was previously paid
    # serially anyway whenever pruning ran.
    est_pairs, decide = run_driver_actions(
        sig_df.sparkSession,
        _estimate,
        lambda: _make_pair_decider(sig_df, cfg, use_simhash),
    )
    if decide is not None:
        if est_pairs >= PYGEN_MIN_PAIRS:
            return python_pair_pruned(
                grouped, sig_df, decide, max_pairs_group=max_pairs_group
            )
        # unused: free the sig-table broadcast (tens of MB) now
        decide.broadcast.destroy(blocking=False)
    return pairs_from_groups(grouped, max_pairs_group, "chain_hub")


def python_pair_pruned(
    grouped: DataFrame,
    sig_df: DataFrame,
    decide,
    max_pairs_group: int = 256,
) -> DataFrame:
    """Candidate generation + pruning fused into ONE Python stage for the
    chain_hub policy (r6, guide §2.3/§4): the JVM path exploded tens of
    millions of candidate (a, b) rows and shipped them across the Arrow
    boundary into the pruner — at 33.5M pairs the 0.5 GB transfer plus
    per-row explode dominated the query. Here the grouped band arrays
    (one row per band group, total rows = corpus × bands worst case)
    cross the boundary instead, pairs are expanded VECTORIZED in numpy
    (triangular index templates per group-size class; chain+hub edges
    for groups over ``max_pairs_group``, identical to the JVM expansion
    semantics over the same sorted arrays), and the shared decider prunes
    them before anything returns to the JVM — survivors only."""
    id_type = dict(sig_df.dtypes)["id"]
    # pin the expansion parallelism: AQE coalesces the tiny grouped-array
    # shuffle (a few MB) into a handful of partitions, but the generator
    # output is millions of pairs per partition — the same
    # optimizer-can't-see-generator-volume trap the salted_full path
    # documents (lsh._salted_full_pairs); measured 9.3 s → 6.9 s at sf1.0
    grouped = grouped.repartition(_shuffle_partitions(sig_df.sparkSession))
    cap = max_pairs_group

    def expand_prune(batches):
        import numpy as np
        import pyarrow as pa

        tri_cache: dict = {}

        def emit(a_vals, b_vals):
            keep = decide(a_vals, b_vals)
            if not keep.any():
                return None
            return pa.RecordBatch.from_arrays(
                [pa.array(a_vals[keep]), pa.array(b_vals[keep])],
                names=["a", "b"],
            )

        for rb in batches:
            if rb.num_rows == 0:
                continue
            col = rb.column(rb.schema.get_field_index("ids"))
            if isinstance(col, pa.ChunkedArray):
                col = col.combine_chunks()
            offs = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            flat = col.flatten().to_pandas().to_numpy()
            starts, sizes = offs[:-1], np.diff(offs)
            # small groups: all C(s,2) pairs, vectorized per size class
            for s in np.unique(sizes[sizes <= cap]):
                s = int(s)
                if s < 2:
                    continue
                rows = starts[(sizes == s) & (sizes <= cap)]
                iu = tri_cache.get(s)
                if iu is None:
                    iu = np.triu_indices(s, 1)
                    tri_cache[s] = iu
                npairs = len(iu[0])
                step = max(1, _PYGEN_MAX_PAIRS_CHUNK // max(npairs, 1))
                for lo in range(0, len(rows), step):
                    chunk = rows[lo : lo + step]
                    ai = (chunk[:, None] + iu[0][None, :]).ravel()
                    bi = (chunk[:, None] + iu[1][None, :]).ravel()
                    out = emit(flat[ai], flat[bi])
                    if out is not None:
                        yield out
            # hot groups: chain + hub (2(s-1) edges), ragged → per group
            for r in np.where(sizes > cap)[0]:
                seg = flat[starts[r] : starts[r] + sizes[r]]
                a_vals = np.concatenate([seg[:-1], np.repeat(seg[:1], len(seg) - 2)])
                b_vals = np.concatenate([seg[1:], seg[2:]])
                out = emit(a_vals, b_vals)
                if out is not None:
                    yield out

    pairs = grouped.select("ids").mapInArrow(
        expand_prune, f"a {id_type}, b {id_type}"
    )
    return pairs.dropDuplicates(["a", "b"])


def cluster_stats(assignments: DataFrame) -> DataFrame:
    """Per-cluster-size histogram: how many clusters of each size — the
    standard dedup QA readout (JVM-only aggregates)."""
    return (
        assignments.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("num_clusters"))
        .orderBy("cluster_size")
    )


def duplicate_rate(assignments: DataFrame) -> DataFrame:
    """One row: total docs, distinct clusters, duplicate docs (docs beyond
    their cluster's first), dup fraction."""
    return assignments.agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.countDistinct("cluster_id").alias("num_clusters"),
        (F.count(F.lit(1)) - F.countDistinct("cluster_id")).alias("duplicate_docs"),
        (
            (F.count(F.lit(1)) - F.countDistinct("cluster_id"))
            / F.count(F.lit(1))
        ).alias("dup_fraction"),
    )


def select_representatives(
    assignments: DataFrame,
    scores: DataFrame,
    id_col: str = "id",
    score_col: str = "score",
) -> DataFrame:
    """The keep-best curation step after clustering: per duplicate cluster,
    keep the HIGHEST-scoring member (ties break to the smallest id), so
    dedup preserves the best copy — longest text, highest quality score,
    best resolution — instead of an arbitrary one.

    `assignments` is any (id, cluster_id) table (operators/dedup.dedup,
    imagededup, semantic_dedup ids renamed); `scores` carries (id_col,
    score_col). One window shuffle partitioned by cluster_id — cluster
    sizes are bounded by the dedup semantics upstream (the hot-policy cap
    keeps degenerate clusters from concentrating a partition), so the
    window never sees unbounded groups.

    Returns (id, cluster_id, <score_col>, rep_id, is_kept): rep_id is the
    cluster's kept member, is_kept ⇔ id == rep_id."""
    from pyspark.sql import Window

    sc = scores.select(F.col(id_col).alias("id"), F.col(score_col))
    # LEFT join: a member the scorer skipped (decode failure upstream)
    # must still appear in the output — an inner join would silently drop
    # it from the audit, and a cluster whose every member is unscored
    # would vanish. Unscored members sort last (desc_nulls_last), so they
    # are kept only when nothing scored competes.
    joined = assignments.join(sc, "id", "left")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(score_col).desc_nulls_last(), F.asc("id")
    )
    return (
        joined.withColumn("rep_id", F.first("id").over(w))
        .withColumn("is_kept", F.col("id") == F.col("rep_id"))
    )


def caption_conflicts(
    assignments: DataFrame,
    images: DataFrame,
    id_col: str = "image_id",
    caption_col: str = "caption",
) -> DataFrame:
    """Cross-modal consistency audit for an image+caption corpus: per
    image CLUSTER, how many distinct canonical captions its members
    carry. A multi-member cluster whose pixels deduplicate but whose
    captions disagree (``caption_conflict``) is the classic mislabeled/
    scraped-alt-text signal — route those clusters to keep-best
    (select_representatives) or human QA instead of blind collapse.

    Captions compare in canonical form (operators/textnorm.normalized_
    text: lower → accent fold → punct strip → ws collapse) so trivial
    decoration differences don't count as conflicts. ONE join to pull
    captions onto the assignment table and ONE groupBy(cluster) —
    count + count_distinct, map-side partial agg; nothing else moves."""
    from .textnorm import normalized_text

    cap = images.select(
        F.col(id_col).alias("id"),
        normalized_text(F.col(caption_col)).alias("_cap"),
    )
    return (
        assignments.join(cap, "id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.count_distinct("_cap").alias("n_captions"),
        )
        .withColumn(
            "caption_conflict",
            (F.col("n_members") >= 2) & (F.col("n_captions") >= 2),
        )
    )
