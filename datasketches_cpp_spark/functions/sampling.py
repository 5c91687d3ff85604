"""Weighted reservoir sampling with subset-sum estimation (var_opt).

Reference semantics (sampling/include/var_opt_sketch.hpp:72-163,
var_opt_union.hpp): keep at most k weighted items such that any
predicate's weight sum over the stream is estimable from the sample with
variance-optimal guarantees. The structure: items heavier than a threshold
tau are kept exactly ("heavy" region, weight preserved); lighter items are
sampled with probability w/tau and stored with adjusted weight tau. tau
solves  Σ min(w_i/tau, 1) = k. ``estimate_subset_sum(predicate)`` returns
{lb, estimate, ub, total_weight} (var_opt_sketch.hpp:163).

Exact corner: k ≥ n keeps everything with original weights → subset sums
are exact (the oracle-checkable mode, like theta below k).

Our merge strategy: partial per-partition var-opt samples (adjusted
weights) are concatenated and re-sampled at the final stage, WITH the
reference union's marked-item discipline (var_opt_union.hpp:207-219):
every item that ever passed through a resampled (R) zone carries a mark,
and a marked item is never allowed into the heavy/exact zone of a later
stage — k is reduced until it migrates to the resampled region
(migrate_marked_items_by_decreasing_k), so the final sample never
misreports an adjusted weight as exact. The surfaced `weight_exact`
column is this invariant made visible. Unbiasedness of subset-sum
estimates holds at every stage (resampling an unbiased carrier weight w
at threshold tau keeps expectations invariant); exactness when k ≥ n
holds end-to-end because no stage ever downsamples below k retained
items.

Randomness is seeded per (group, partition content hash) — deterministic
re-runs for a fixed partitioning.
"""

from __future__ import annotations

import uuid

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ._twostage import fold_partials, merge_groups


def _tau_for(weights: np.ndarray, k: int) -> float:
    """Smallest tau with Σ min(w/tau, 1) ≤ k: classic var-opt threshold.
    Computed exactly by scanning the descending weight prefix."""
    if len(weights) <= k:
        return 0.0  # no sampling needed
    w = np.sort(weights)[::-1].astype(np.float64)
    light_sum = w.sum()
    # try h = number of heavies kept exactly (prefix of descending order)
    for h in range(k + 1):
        if h > 0:
            light_sum -= w[h - 1]
        slots = k - h
        if slots == 0:
            continue
        tau = light_sum / slots
        if (h == 0 or w[h - 1] > tau) and (h >= len(w) or w[h] <= tau):
            return float(tau)
    return float(light_sum / max(k, 1))


def _varopt_sample(
    items: np.ndarray,
    weights: np.ndarray,
    k: int,
    rng: np.random.Generator,
    marked: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One var-opt pass over a materialized batch: heavies kept exactly,
    lights kept w.p. w/tau at adjusted weight tau. E[Σ adjusted over any
    subset] = Σ true weights of that subset.

    ``marked`` implements the reference union's marked-item discipline
    (var_opt_union.hpp:207-219): True means the item already came out of
    an R (resampled) zone, so its weight is an adjusted tau, NOT exact —
    it must never end up in the result's heavy/exact zone. When a marked
    item would land heavy, k is reduced until every marked item falls
    into the resampled region (migrate_marked_items_by_decreasing_k),
    which raises tau and re-randomizes them at the larger threshold —
    unbiasedness is preserved because resampling any unbiased carrier
    weight w at threshold tau (keep w.p. w/tau, weight tau) keeps
    expectations invariant."""
    if marked is None:
        marked = np.zeros(len(items), bool)
    if len(items) <= k:
        return items, weights.astype(np.float64), marked
    kk = k
    tau = _tau_for(weights, kk)
    heavy = weights > tau
    while marked[heavy].any() and kk > 1:
        kk -= 1
        tau = _tau_for(weights, kk)
        heavy = weights > tau
    # EXACTLY k - h lights survive — systematic PPS over a hash-permuted
    # order (the engine's ebpps discipline), not independent Bernoulli
    # coins (which bound the size only in expectation and routinely
    # overshoot k, Binomial tail). Each light's inclusion probability
    # stays w/tau exactly, so subset-sum estimates remain unbiased; tau's
    # defining equation makes the probabilities sum to k - h.
    light_idx = np.nonzero(~heavy)[0]
    slots = kk - int(heavy.sum())
    if slots <= 0 or len(light_idx) == 0:
        light_sel = light_idx[:0]
    else:
        order = np.argsort(
            pd.util.hash_pandas_object(pd.Series(items[light_idx])).to_numpy(),
            kind="stable",
        )
        li = light_idx[order]
        p = weights[li] / tau
        cum = np.cumsum(p)
        u = rng.random()
        # select i iff interval (c_{i-1}, c_i] contains a lattice point
        # u + j (each p_i ≤ 1, so at most one point per interval)
        prev = np.concatenate([[0.0], cum[:-1]])
        hit = np.floor(cum - u) != np.floor(prev - u)
        light_sel = li[hit][:slots]  # float-eps cap: hard ≤ k guarantee
    out_items = np.concatenate([items[heavy], items[light_sel]])
    out_w = np.concatenate(
        [weights[heavy].astype(np.float64), np.full(len(light_sel), tau)]
    )
    out_m = np.concatenate([marked[heavy], np.ones(len(light_sel), bool)])
    return out_items, out_w, out_m


def var_opt_agg(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    weight_col: str | None,
    k: int,
    seed: int = 9001,
) -> DataFrame:
    """groupBy(group_cols).var_opt_sample(item, weight) → one row per
    (group, retained item): (group..., item, adjusted_weight double,
    total_weight double, n long). weight_col None ⇒ uniform weight 1."""
    item_type = dict(df.dtypes)[item_col]
    group_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name in group_cols
    )
    prefix = f"{group_fields}, " if group_fields else ""
    schema = (
        f"{prefix}item {item_type}, adjusted_weight double, "
        "total_weight double, n long, weight_exact boolean"
    )
    # partial rows additionally carry a unique per-partial tag so the final
    # stage can sum each partial's (total_weight, n) exactly once, plus the
    # reference union's marked flag (item came from a resampled R zone)
    partial_schema = (
        f"{prefix}item {item_type}, adjusted_weight double, "
        "total_weight double, n long, marked boolean, part_tag string"
    )
    cols = [item_col] + ([weight_col] if weight_col else [])

    def per_row(items: np.ndarray, *weights: np.ndarray) -> tuple[np.ndarray, ...]:
        w = weights[0].astype(np.float64) if weights else np.ones(len(items), dtype=np.float64)
        # each row's hash, with its row number in the batch as the index
        return items, w, pd.util.hash_pandas_object(pd.Series(items)).to_numpy()

    # incremental fold: per-group state stays O(k) — a running ≤k var-opt
    # sample resampled against each Arrow batch (sample ∪ batch), never the
    # raw partition (which would be unbounded executor memory, violating
    # the bounded-size sketch contract)
    def update(st: list, items: np.ndarray, w: np.ndarray, h: np.ndarray) -> None:
        st[2] += float(w.sum())
        st[3] += len(items)
        st[4] ^= int(np.bitwise_xor.reduce(h))
        marked = np.zeros(len(items), bool)  # fresh rows: exact
        if st[0] is not None:
            items = np.concatenate([st[0], items])
            w = np.concatenate([st[1], w])
            marked = np.concatenate([st[5], marked])
        rng = np.random.default_rng((seed, st[4] & 0xFFFFFFFF))
        st[0], st[1], st[5] = _varopt_sample(items, w, k, rng, marked)

    def emit(st: list) -> list[dict]:
        tag = uuid.uuid4().hex
        return [
            dict(item=i, adjusted_weight=w, total_weight=st[2], n=st[3], marked=m, part_tag=tag)
            for i, w, m in zip(st[0], st[1], st[5])
        ]

    # state: [items, adjusted weights, total weight, n, item-hash xor, marked]
    partials = fold_partials(
        df, group_cols, cols, per_row, lambda: [None, None, 0.0, 0, 0, None], update, emit,
        partial_schema,
    )

    def final(rows: list[dict]) -> list[dict]:
        # the items as the pandas column the content hash was first taken of
        item = pd.Series([r["item"] for r in rows])
        w = np.array([r["adjusted_weight"] for r in rows], np.float64)
        marked = np.array([r["marked"] for r in rows], bool)
        content = int(np.bitwise_xor.reduce(pd.util.hash_pandas_object(item).to_numpy()))
        rng = np.random.default_rng((seed ^ 0xABCD, content & 0xFFFFFFFF))
        si, sw, sm = _varopt_sample(item.to_numpy(), w, k, rng, marked)
        per_partial = {r["part_tag"]: r for r in rows}.values()
        tot = float(np.sum([r["total_weight"] for r in per_partial]))
        n = sum(r["n"] for r in per_partial)
        return [
            dict(item=i, adjusted_weight=aw, total_weight=tot, n=n, weight_exact=not m)
            for i, aw, m in zip(si, sw, sm)
        ]

    return merge_groups(partials, group_cols, final, schema)


def estimate_subset_sum(
    sample_df: DataFrame,
    predicate,
    group_cols: list[str] | None = None,
    num_std_devs: float = 2.0,
) -> DataFrame:
    """var_opt_sketch.hpp:163 analog on the sample table: Σ adjusted_weight
    over rows matching ``predicate`` (a Column), with normal-approx bounds
    (exact sample ⇒ lb == est == ub)."""
    group_cols = group_cols or []
    matched = F.when(predicate, F.col("adjusted_weight")).otherwise(F.lit(0.0))
    agg = (
        sample_df.groupBy(*group_cols)
        if group_cols
        else sample_df.groupBy(F.lit(1).alias("_g"))
    )
    out = agg.agg(
        F.sum(matched).alias("estimate"),
        F.sum("adjusted_weight").alias("retained_weight"),
        F.first("total_weight").alias("total_weight"),
        F.first("n").alias("n"),
        F.count(F.lit(1)).alias("k_retained"),
    )
    # exact when nothing was ever downsampled (retained == total)
    exact = F.abs(F.col("retained_weight") - F.col("total_weight")) < F.lit(1e-9)
    # normal-approx CI on the sampled part, proportional to estimate share
    z = F.lit(float(num_std_devs))
    rel = z / F.sqrt(F.greatest(F.col("k_retained").cast("double"), F.lit(1.0)))
    lb = F.when(exact, F.col("estimate")).otherwise(
        F.greatest(F.lit(0.0), F.col("estimate") * (F.lit(1.0) - rel))
    )
    ub = F.when(exact, F.col("estimate")).otherwise(
        F.col("estimate") * (F.lit(1.0) + rel)
    )
    return out.withColumn("lower_bound", lb).withColumn("upper_bound", ub)


def _pps_threshold(top_weights: np.ndarray, total_weight: float, k: int) -> float:
    """tau solving Σ min(w/tau, 1) = k, from only the top-(k+1) weights and
    the total — heavier items than tau are 'heavy' (always kept) and there
    can be at most k of them, so the full weight vector is never needed."""
    w = np.sort(np.asarray(top_weights, np.float64))[::-1]
    light_sum = total_weight
    for h in range(k + 1):
        if h > 0:
            light_sum -= w[h - 1]
        slots = k - h
        if slots == 0:
            continue
        tau = light_sum / slots
        if (h == 0 or w[h - 1] > tau) and (h >= len(w) or w[h] <= tau):
            return float(tau)
    return float(light_sum / max(k, 1))


def ebpps_sample(
    df: DataFrame,
    item_col: str,
    weight_col: str,
    k: int,
    seed: int = 9001,
    num_buckets: int | None = None,
) -> DataFrame:
    """PPS sampling with a HARD size bound — the Spark re-expression of the
    reference's EBPPS sketch (sampling/include/ebpps_sketch.hpp:64-152,
    'Exact PPS Sampling with Bounded Sample Size', Hentschel/Haas/Tian 2023):
    every row is included with probability EXACTLY pi_i = min(1, w_i / tau)
    where tau solves Σ min(w_i/tau, 1) = k, and the realized sample size is
    ⌈Σpi − U⌉ ∈ {k−1, k} — the same {⌊c⌋, ⌈c⌉} contract the reference's
    coin-flip merge provides (ebpps_sample.hpp get_c()), met here by a
    different mechanism: SYSTEMATIC PPS sampling (Madow 1949). Items are
    placed on a line in random (hash-permuted) order at intervals pi_i; one
    global uniform U picks the lattice {U, U+1, …}; item i is included iff
    its interval (cum_{i−1}, cum_i] contains a lattice point. Marginals are
    exactly pi_i; the size is hard-bounded because consecutive lattice
    points are 1 apart and Σpi = k. The reference's sequential coin-flip
    coupling would serialize the scan; systematic sampling needs only a
    global prefix sum, which distributes.

    Spark-first plan, JVM-only per-row path (plan-asserted in
    tests/test_plans.py):
      1. tau from (Σw, top-(k+1) weights) — one agg + one TakeOrdered.
      2. A layout-invariant bucket id from the TOP bits of the permutation
         hash — buckets are contiguous hash ranges, a pure function of the
         data (no RangePartitioner boundary sampling, so the offsets job
         and the output job agree by construction).
      3. Per-bucket Σpi (one small agg, ≤ num_buckets doubles to the
         driver) → driver prefix sum → broadcast as a literal map.
      4. Within-bucket running sum via a window partitioned by bucket —
         parallel across buckets; global cum = map[bucket] + local cum.
      5. Include iff ceil(cum − U) > ceil(cum_pre − U): one codegen filter.
    Driver-side data: k+1 doubles + num_buckets doubles. At 10^12 rows,
    size num_buckets so a bucket's rows fit one task's sort (the window
    sorts per bucket)."""
    # ONE agg yields both Σw and n (map-side combined). n decides exact vs
    # estimation mode up front, so the top-(k+1) TakeOrdered — which in
    # exact mode (k ≥ n) would ship the ENTIRE weight column to the driver
    # through a global sort — only runs when it is actually needed to
    # solve for tau (r6 optimization: guide §5, no driver-side data work;
    # the exact-mode q_ebpps_sample_exact path went 8.6 s → 0.4 s at sf1.0).
    stats = df.agg(
        F.sum(F.col(weight_col).cast("double")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    total, n_rows = stats["s"], stats["n"]
    if total is None:
        return df.select(
            F.col(item_col).alias("item"),
            F.col(weight_col).cast("double").alias("weight"),
            F.lit(0.0).alias("inclusion_prob"),
            F.lit(0.0).alias("ht_weight"),
        ).limit(0)
    if n_rows <= k:
        tau = 0.0  # k >= n: exact mode, keep everything at its true weight
    else:
        top = [
            r[0]
            for r in df.select(F.col(weight_col).cast("double"))
            .orderBy(F.desc(weight_col))
            .limit(k + 1)
            .collect()
        ]
        tau = _pps_threshold(np.array(top), float(total), k)
    w = F.col(weight_col).cast("double")
    if tau <= 0.0:
        return df.select(
            F.col(item_col).alias("item"),
            w.alias("weight"),
            F.lit(1.0).alias("inclusion_prob"),
            w.alias("ht_weight"),
        )
    # --- systematic PPS over a hash-permuted order ---------------------
    # one global uniform U in (0,1), a pure function of the seed
    u_global = (
        ((seed * 0x9E3779B97F4A7C15 + 0x632BE59BD9B4E019) & ((1 << 53) - 1)) + 0.5
    ) / float(1 << 53)
    if num_buckets is None:
        num_buckets = max(
            64, int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
        )
    lg_b = max(1, (num_buckets - 1).bit_length())  # buckets = 2^lg_b
    pi = F.least(F.lit(1.0), w / F.lit(tau))
    # permutation position: non-negative 63-bit hash; bucket = top lg_b bits
    # (contiguous hash ranges — layout-invariant, no boundary sampling)
    ordh = F.shiftrightunsigned(F.xxhash64(F.col(item_col), F.lit(seed + 1)), 1)
    base = df.select(
        F.col(item_col).alias("item"),
        w.alias("weight"),
        pi.alias("inclusion_prob"),
        ordh.alias("_ord"),
        F.shiftrightunsigned(ordh, 63 - lg_b).alias("_bkt"),
    )
    # per-bucket pi sums -> driver prefix sum (<= 2^lg_b doubles)
    bsums = (
        base.groupBy("_bkt")
        .agg(F.sum("inclusion_prob").alias("s"))
        .collect()
    )
    by_bkt = {r["_bkt"]: r["s"] for r in bsums}
    offsets, acc = {}, 0.0
    for b in range(1 << lg_b):
        offsets[b] = acc
        acc += by_bkt.get(b, 0.0)
    map_args: list = []
    for b in sorted(by_bkt):
        map_args.extend([F.lit(b), F.lit(offsets[b])])
    offset_expr = F.element_at(F.create_map(*map_args), F.col("_bkt"))
    win = (
        Window.partitionBy("_bkt")
        # weight joins the tiebreak: two rows with the SAME item value
        # but different weights share _ord and item, and an unresolved
        # tie would make which row captures a lattice point
        # layout-dependent (equal (item, weight) rows are interchangeable)
        .orderBy("_ord", "item", "weight")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (offset_expr + F.sum("inclusion_prob").over(win)).alias("_cum")
    scored = base.select("item", "weight", "inclusion_prob", cum)
    cum_pre = F.col("_cum") - F.col("inclusion_prob")
    hit = F.ceil(F.col("_cum") - F.lit(u_global)) > F.ceil(cum_pre - F.lit(u_global))
    return scored.where(hit).select(
        "item",
        "weight",
        "inclusion_prob",
        F.greatest(F.col("weight"), F.lit(tau)).alias("ht_weight"),
    )


def stratified_sample(
    df: DataFrame,
    strata_cols: list[str],
    key_col: str,
    fraction: float,
    salt: int = 9001,
) -> DataFrame:
    """SURVEY §2B S11 QA sampling: deterministic hash-threshold stratified
    sample — every stratum keeps ≈``fraction`` of its rows, chosen by
    `xxhash64(key, salt) mod 1e6 < fraction·1e6`.

    Why not `sampleBy`: Bernoulli `sampleBy` draws depend on partition
    layout (different cluster sizes → different QA samples), which breaks
    the engine's answers-are-layout-invariant discipline. A hash threshold
    is a pure function of the data: the same rows are sampled on 1 or
    1000 executors, the filter is one JVM expression pushed into
    whole-stage codegen (zero shuffle, zero Python), and per-stratum
    counts concentrate at fraction·N_s with binomial variance (the QA
    coverage contract, oracle-checked in __spark_entry__).

    ``strata_cols`` are not used in the predicate — the hash of the key
    already samples uniformly within every stratum — but are kept in the
    signature to document intent and for the QA readout grouping."""
    m = 1_000_000
    thresh = int(fraction * m)
    h = F.pmod(F.xxhash64(F.col(key_col), F.lit(salt)), F.lit(m))
    return df.where(h < thresh)


def stratified_sample_qa(
    df: DataFrame,
    strata_cols: list[str],
    key_col: str,
    fraction: float,
    salt: int = 9001,
    num_std_devs: float = 4.0,
) -> DataFrame:
    """Per-stratum QA readout: sampled count vs expected fraction·N_s with
    a ±nσ binomial envelope (σ = sqrt(N_s·f·(1−f))). Emits one row per
    stratum: (strata..., n_rows, sampled, within_envelope)."""
    sampled = stratified_sample(df, strata_cols, key_col, fraction, salt)
    tot = df.groupBy(*strata_cols).agg(F.count(F.lit(1)).alias("n_rows"))
    smp = sampled.groupBy(*strata_cols).agg(F.count(F.lit(1)).alias("sampled"))
    j = tot.join(smp, strata_cols, "left").fillna(0, subset=["sampled"])
    mu = F.col("n_rows") * F.lit(fraction)
    sigma = F.sqrt(F.col("n_rows") * F.lit(fraction * (1.0 - fraction)))
    return j.select(
        *strata_cols,
        "n_rows",
        "sampled",
        (F.abs(F.col("sampled") - mu) <= F.lit(num_std_devs) * sigma + F.lit(1.0)).alias(
            "within_envelope"
        ),
    )
