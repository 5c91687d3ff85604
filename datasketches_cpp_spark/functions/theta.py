"""Theta sketch as a Spark aggregate — the (update, merge, estimate) triple
mapped onto Spark's partial/final aggregation contract.

The reference's update loop (theta_update_sketch_base_impl.hpp:137-251) runs
*inside each input partition* in the shared partial stage
(`_twostage.fold_partials`: one `mapInArrow` fold that emits one partial
sketch row per (group, partition)) — the map-side combine. The union
(theta_union_base_impl.hpp:38-81) runs after the shuffle in the shared
final stage (`_twostage.merge_groups`: one `mapInArrow` over each
partition's sorted groups). This is explicit because Python UDAFs get no
partial push-down from Catalyst (SURVEY.md §4): without the map-side stage a
100 TB scan would shuffle raw rows; with it, the shuffle carries at most
(#groups × #partitions × k × 8) bytes.

Estimates and bounds are computed JVM-side with built-in column functions
wherever possible (size(sig)/theta-fraction needs no UDF at all).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StructField,
    StructType,
)

from ..hashing import DEFAULT_SEED, hash63_bytes_many, hash63_int64, hash63_str_many
from ..kmv import MAX_THETA

from ..hashing import INT_DTYPES as _INT_TYPES  # one shared definition
from ._twostage import fold_partials, merge_groups, notna, pair_rows


def _hash_values(vals, dtype: str, seed: int) -> np.ndarray:
    """Hash items exactly like the reference hashes them: ints widen to
    int64 / 8 LE bytes (theta_sketch_impl.hpp:146-183), strings are UTF-8
    bytes (:186-199), binary is raw bytes (:202-209). ``vals`` holds no
    null, NaN or empty string or binary."""
    if dtype in _INT_TYPES:
        return hash63_int64(np.asarray(vals, np.int64), seed)
    if dtype == "binary":
        return hash63_bytes_many([bytes(b) for b in vals], seed)
    # default: stringify (covers string, decimal rendered as text)
    return hash63_str_many([str(v) for v in vals], seed)


def _hash_series(s: pd.Series, dtype: str, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """``_hash_values`` of one pandas column of raw items (a streaming
    group's rows), and the mask of the rows hashed: nulls and empty strings
    and binary are no-ops (skipped). The two-stage folds hash with
    ``_hash_values`` alone: ``_hashable_rows`` drops those rows in Spark."""
    mask = s.notna().to_numpy()
    if dtype == "binary":
        mask &= s.map(lambda b: b is not None and len(b) > 0).to_numpy()
    elif dtype not in _INT_TYPES:
        mask &= (s.astype("string").fillna("").str.len() > 0).to_numpy()
    return _hash_values(s[mask], dtype, seed), mask


def _hashable_rows(df: DataFrame, item_col: str) -> DataFrame:
    """The rows whose item is hashed: not null, not NaN and, for strings
    and binary, not empty."""
    keep = notna(df, item_col)
    if dict(df.dtypes)[item_col] in ("string", "binary"):
        keep &= F.length(item_col) > 0
    return df.where(keep)


def _kmin_merge(state: tuple[int, np.ndarray], new_hashes: np.ndarray, k: int) -> tuple[int, np.ndarray]:
    """Fold a batch of hashes into (theta, sorted sig) — whole-batch rebuild."""
    theta, sig = state
    h = np.unique(new_hashes)
    if theta < MAX_THETA:
        h = h[: np.searchsorted(h, np.uint64(theta))]
    merged = np.union1d(sig, h) if len(sig) else h
    if len(merged) > k:
        theta = int(merged[k])
        merged = merged[:k]
    return theta, merged


def _encode_theta(theta: int) -> int:
    return -1 if theta >= MAX_THETA else theta


def _decode_theta(enc: int) -> int:
    return MAX_THETA if enc < 0 else int(enc)


def sketch_schema(group_fields: list[StructField]) -> StructType:
    return StructType(
        list(group_fields)
        + [
            StructField("theta", LongType(), False),
            StructField("sig", ArrayType(LongType(), False), False),
        ]
    )


def theta_sketch_agg(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    lg_k: int = 12,
    seed: int = DEFAULT_SEED,
    p: float = 1.0,
) -> DataFrame:
    """groupBy(group_cols).theta_sketch(item_col) with explicit two-stage
    (partial per input partition → shuffle → final union) aggregation.

    ``p`` is the up-front sampling probability of the reference builder's
    set_p (theta_update_sketch_base.hpp): the sketch starts at
    theta = p·2^63 instead of exact mode, dropping 1−p of the hash space
    before any k-min cut — estimates and binomial bounds stay unbiased
    because both condition only on the final theta fraction.

    Returns DataFrame(group_cols..., theta long, sig array<long>) where
    theta = -1 encodes exact mode (theta == 2^63)."""
    if not 0.0 < p <= 1.0:
        raise ValueError(f"sampling probability p must be in (0, 1], got {p}")
    k = 1 << lg_k
    theta0 = MAX_THETA if p == 1.0 else int(p * MAX_THETA)
    item_dtype = dict(df.dtypes)[item_col]
    group_fields = [f for f in df.schema.fields if f.name in group_cols]
    out_schema = sketch_schema(group_fields)

    compact_at = 4 * k

    # Deferred compaction (r6): the old fold ran _kmin_merge — an
    # O(k log k) union1d over the CURRENT sig — once per Arrow batch,
    # i.e. ~k/batch_size times more sort work than the data warrants
    # (at lg_k=18 over 8k-row batches that was ~32× overhead, ~45% of
    # the whole agg stage). Incoming hash batches are now buffered
    # per group and compacted only when the buffer outgrows 4k (and
    # once at the end). k-min-of-distinct is order/batching
    # insensitive, and theta only shrinks, so a stale (larger) theta
    # screen at compaction time keeps extra rows the final compaction
    # removes — the emitted partial sketch is bit-identical.
    def compact(st: list) -> None:
        if st[2]:
            st[0], st[1] = _kmin_merge((st[0], st[1]), np.concatenate(st[2]), k)
            st[2], st[3] = [], 0

    def update(st: list, h: np.ndarray) -> None:
        if st[0] < MAX_THETA:
            h = h[h < np.uint64(st[0])]
        st[2].append(h)
        st[3] += len(h)
        if st[3] >= compact_at:
            compact(st)

    def emit(st: list) -> list[dict]:
        compact(st)
        return [{"theta": _encode_theta(st[0]), "sig": st[1].astype(np.int64)}]

    # state: [theta, sorted sig, pending hash batches, their length]
    partials = fold_partials(
        _hashable_rows(df, item_col), group_cols, [item_col],
        lambda s: (_hash_values(s, item_dtype, seed),),
        lambda: [theta0, np.empty(0, np.uint64), [], 0], update, emit, out_schema,
    )
    return _final_merge(partials, group_cols, k, out_schema)


def _final_merge(partials: DataFrame, group_cols: list[str], k: int, schema: StructType) -> DataFrame:
    def final(rows: list[dict]) -> list[dict]:
        theta = min((_decode_theta(r["theta"]) for r in rows), default=MAX_THETA)
        sigs = [np.asarray(r["sig"], dtype=np.int64).astype(np.uint64) for r in rows]
        merged = np.unique(np.concatenate(sigs)) if sigs else np.empty(0, np.uint64)
        merged = merged[: np.searchsorted(merged, np.uint64(theta))]
        if len(merged) > k:
            theta = int(merged[k])
            merged = merged[:k]
        return [{"theta": _encode_theta(theta), "sig": merged.astype(np.int64)}]

    return merge_groups(partials, group_cols, final, schema)


def with_estimate(sketch_df: DataFrame, out_col: str = "estimate") -> DataFrame:
    """num_retained / theta-fraction, entirely JVM-side (no UDF):
    theta = -1 ⇔ exact ⇒ estimate = size(sig)."""
    frac = F.col("theta").cast("double") / F.lit(float(MAX_THETA))
    est = F.when(F.col("theta") < 0, F.size("sig").cast("double")).otherwise(
        F.size("sig").cast("double") / frac
    )
    return sketch_df.withColumn(out_col, est)


def with_bounds(sketch_df: DataFrame, num_std_devs: int = 2) -> DataFrame:
    """Binomial bounds, entirely JVM-side: the Gaussian-with-continuity-
    correction closed forms of the reference's n>120 regime
    (binomial_bounds.hpp cont_classic_lb/ub — exactly the regime every
    estimation-mode sketch with k > 120 lands in, so the SQL expressions
    match kmv.ThetaSketch.get_bounds to machine precision there). Sketch
    rows with ≤ 120 retained entries in estimation mode (deep
    intersections of tiny sketches) get the same closed form rather than
    the reference's exact small-n evaluation — use the Python-side
    get_bounds for those."""
    df = with_estimate(sketch_df, "estimate")
    n = F.size("sig").cast("double")
    f = F.when(F.col("theta") < 0, F.lit(1.0)).otherwise(
        F.col("theta").cast("double") / F.lit(float(MAX_THETA))
    )
    z = F.lit(float(num_std_devs))
    b = z * F.sqrt((F.lit(1.0) - f) / f)
    nhat_lb = (n - F.lit(0.5)) / f
    raw_lb = (
        nhat_lb + F.lit(0.5) * b * b
        - F.lit(0.5) * b * F.sqrt(b * b + F.lit(4.0) * nhat_lb)
        - F.lit(0.5)
    )
    nhat_ub = (n + F.lit(0.5)) / f
    raw_ub = (
        nhat_ub + F.lit(0.5) * b * b
        + F.lit(0.5) * b * F.sqrt(b * b + F.lit(4.0) * nhat_ub)
        + F.lit(0.5)
    )
    exact = (F.col("theta") < 0) | (n == 0)
    lb = F.when(exact, F.col("estimate")).otherwise(
        F.least(F.col("estimate"), F.greatest(n, raw_lb))
    )
    ub = F.when(exact, F.col("estimate")).otherwise(
        F.greatest(F.col("estimate"), raw_ub)
    )
    return df.withColumn("lower_bound", lb).withColumn("upper_bound", ub)


def theta_union_agg(sketch_df: DataFrame, group_cols: list[str], k: int) -> DataFrame:
    """Re-aggregate sketch rows to coarser groups (rollup): pure merge, no
    raw data touched — the reason sketches beat exact distinct at scale."""
    group_fields = [f for f in sketch_df.schema.fields if f.name in group_cols]
    schema = sketch_schema(group_fields)
    return _final_merge(sketch_df, group_cols, k, schema)


_SETOP_SCHEMA = (
    "theta long, sig array<long>, est_a double, est_b double, est_union double, "
    "est_intersection double, est_a_not_b double, jaccard double, jaccard_lb double, "
    "jaccard_ub double"
)


def theta_pair_set_ops(
    df_a: DataFrame, df_b: DataFrame, key_cols: list[str], k: int
) -> DataFrame:
    """Join two keyed sketch tables and compute union / intersection /
    a-not-b / jaccard per key in one vectorized pass (the S7 verification
    math on arbitrary keyed sketches). Missing side = empty sketch."""
    from ..kmv import ThetaSketch, a_not_b, intersection, jaccard, union

    def mk(theta, sig):
        if sig is None:
            return ThetaSketch(k, MAX_THETA)
        arr = np.asarray(sig, dtype=np.int64).astype(np.uint64)
        return ThetaSketch(k, _decode_theta(int(theta)), arr)

    def pair(a: tuple, b: tuple) -> dict:
        sa, sb = mk(*a), mk(*b)
        u = union([sa, sb], k=k)
        jl, je, ju = jaccard(sa, sb)
        return {
            "theta": _encode_theta(u.theta),
            "sig": u.hashes.astype(np.int64),
            "est_a": sa.get_estimate(),
            "est_b": sb.get_estimate(),
            "est_union": u.get_estimate(),
            "est_intersection": intersection(sa, sb).get_estimate(),
            "est_a_not_b": a_not_b(sa, sb).get_estimate(),
            "jaccard": je,
            "jaccard_lb": jl,
            "jaccard_ub": ju,
        }

    return pair_rows(df_a, df_b, key_cols, ["theta", "sig"], pair, _SETOP_SCHEMA)
