"""CPC distinct counting — coupon-matrix re-derivation of the reference's
Compressed Probabilistic Counting sketch (cpc_sketch.hpp:64-303,
cpc_compressor.hpp, cpc_union.hpp:39-86). Re-derived from the published
algorithm (Lang, "Back to the Future: an Even More Nearly Optimal
Cardinality Estimation Algorithm"), NOT a port.

What CPC is: each distinct item deposits one *coupon* — a (row, column)
cell where row is uniform over K = 2^lg_k and column is geometric(1/2).
Cardinality is read from the total number of collected coupons C by
inverting the coupon-collector expectation curve

    E[C](n) = K * sum_{c=0}^{63} (1 - (1 - 2^-(c+1) / K)^n)

which is strictly increasing in n. The engine answers with the
reference's ICON estimator bit-for-bit (icon_estimate: per-lg_k
degree-19 polynomial + exponential regime, tables in _cpc_tables.npz);
the exact numerical inversion of E[C] stays as a cross-check.

What we deliberately do NOT port: the reference's sliding-window +
surprising-value Fermat compression (cpc_compressor_impl.hpp). That
machinery exists to make the *serialized* sketch ~half the size of HLL at
equal accuracy. Here partial-sketch rows travel as Arrow/parquet array
columns between the map-side combine and the final merge, where columnar
encodings (RLE/dictionary/zstd) are the container's job; the engine keeps
the raw K-word coupon bitmatrix, whose merge is a plain bitwise OR —
associative, commutative, idempotent, the same merge-anywhere discipline
as theta's min-merge, so Spark can combine partials in any order.

Two-stage plan (same shape as functions/theta.py): the shared partial
stage (_twostage.fold_partials) folds each input partition (vectorized
np.bitwise_or scatter; state is O(K) per group), then the shared final
stage (_twostage.merge_groups) OR-merges.
Estimates/bounds are computed from the merged matrix with the reference's
ICON kappa confidence law (cpc_confidence.hpp empirical side constants at
lg_k <= 14, ln 2 above); RSE envelope asserted empirically in
tests/test_cpc.py.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField

from ..hashing import DEFAULT_SEED
from .tuplesketch import _hash_items
from ._twostage import fold_partials, map_rows, merge_groups, notna


def _coupons(hashes: np.ndarray, lg_k: int) -> tuple[np.ndarray, np.ndarray]:
    """63-bit hashes → (row, col) coupon coordinates, vectorized.

    row = low lg_k bits (uniform over K); col = count of leading zeros in
    the remaining 63-lg_k bits read from bit lg_k upward (geometric(1/2),
    capped at 63 so the column always fits one uint64 word).
    """
    k_mask = np.uint64((1 << lg_k) - 1)
    rows = (hashes & k_mask).astype(np.int64)
    rest = hashes >> np.uint64(lg_k)
    width = 63 - lg_k
    # trailing-zero count of `rest` within `width` bits == geometric column
    # (bit j set with prob 1/2; col = index of first set bit)
    col = np.full(len(hashes), width, dtype=np.int64)
    found = np.zeros(len(hashes), dtype=bool)
    bit = np.uint64(1)
    for j in range(width):
        hit = (~found) & ((rest & bit) != 0)
        col[hit] = j
        found |= hit
        if found.all():  # ~half the survivors resolve per bit
            break
        bit = np.uint64(bit << np.uint64(1))
    return rows, np.minimum(col, 63)


def _fold_matrix(mat: np.ndarray, hashes: np.ndarray, lg_k: int) -> None:
    """OR the batch's coupons into the K-word matrix in place."""
    rows, cols = _coupons(hashes, lg_k)
    np.bitwise_or.at(mat, rows, np.uint64(1) << cols.astype(np.uint64))


def fold_matrix_k(mat: np.ndarray, levels: int = 1) -> np.ndarray:
    """Downsample a K-word coupon matrix to K/2^levels — the engine analog
    of the reference union's reduce-k path (cpc_union_impl.hpp reduce_k /
    walk_table_updating_sketch), which lets sketches built at different
    lg_k merge.

    EXACT: row = low lg_k hash bits and the column window starts at bit
    lg_k, so the row bit removed by halving becomes the new window's
    first bit.  Lower-half coupons keep their geometric tail one bit
    longer (col + 1 == word << 1); upper-half rows have that bit set, so
    ANY coupon there becomes col 0.  Hence fold(matrix@lg_k) ==
    matrix@(lg_k - levels) built from the same update stream."""
    mat = np.asarray(mat, np.uint64)
    for _ in range(levels):
        if mat.shape[0] <= 16:
            raise ValueError("cannot fold below lg_k = 4")
        k2 = mat.shape[0] // 2
        lo, hi = mat[:k2], mat[k2:]
        mat = (lo << np.uint64(1)) | (hi != 0).astype(np.uint64)
    return mat


def _coupon_count(mat: np.ndarray) -> int:
    # popcount via unpackbits on the byte view (numpy<2 safe)
    return int(np.unpackbits(mat.view(np.uint8)).sum())


def expected_coupons(n: float, lg_k: int) -> float:
    """E[C](n) for the coupon process at K = 2^lg_k."""
    k = float(1 << lg_k)
    c = np.arange(64, dtype=np.float64)
    p = (2.0 ** -(c + 1)) / k
    # (1-p)^n via expm1/log1p for numerical stability at tiny p, huge n
    return float(k * np.sum(-np.expm1(n * np.log1p(-p))))


def _invert_expected_coupons(coupons: int, lg_k: int) -> float:
    """Estimate n from observed coupon count by bisection on the strictly
    increasing E[C] curve — the exact mapping the reference's ICON
    polynomials approximate (icon_estimator.hpp:30-43 documents exactly
    this relationship). Kept as the icon_estimate cross-check and the
    fallback outside the tabled lg_k range."""
    if coupons <= 0:
        return 0.0
    lo, hi = 0.0, 1.0
    while expected_coupons(hi, lg_k) < coupons and hi < 2**62:
        lo, hi = hi, hi * 2.0
    for _ in range(100):
        mid = 0.5 * (lo + hi)
        if expected_coupons(mid, lg_k) < coupons:
            lo = mid
        else:
            hi = mid
    return 0.5 * (lo + hi)


_ICON_MIN_LG_K, _ICON_MAX_LG_K = 4, 26


def icon_estimate(coupons: int, lg_k: int) -> float:
    """The reference ICON estimator, bit-for-bit
    (icon_estimator.hpp:248-271 compute_icon_estimate): degree-19
    polynomial in c/(2k) per lg_k below the monotonicity threshold
    (5.7k for lg_k<14 else 5.6k), the 0.794·k·2^(c/k) exponential
    approximation above it, floored at c. Coefficients ship in
    _cpc_tables.npz (measured accuracy-defining constants, extracted
    from the public header by scripts/gen_cpc_tables.py). Outside the
    tabled lg_k range falls back to exact E[C] inversion."""
    if coupons < 2:
        return 0.0 if coupons <= 0 else 1.0
    if not (_ICON_MIN_LG_K <= lg_k <= _ICON_MAX_LG_K):
        return _invert_expected_coupons(coupons, lg_k)
    from .cpcserde import _TABLES

    k = float(1 << lg_k)
    c = float(coupons)
    threshold_factor = 5.7 if lg_k < 14 else 5.6
    if c > threshold_factor * k:
        return 0.7940236163830469 * k * 2.0 ** (c / k)
    coeffs = _TABLES["icon_poly"][lg_k - _ICON_MIN_LG_K]
    x = c / (2.0 * k)
    factor = 0.0
    for a in coeffs[::-1]:  # Horner, same order as evaluate_polynomial
        factor = factor * x + a
    ratio = c / k
    result = c * factor * (1.0 + ratio * ratio * ratio / 66.774757)
    return result if result >= c else c


def invert_coupons(coupons: int, lg_k: int) -> float:
    """Estimate n from observed coupon count — the reference's ICON
    estimator (exact parity with compute_icon_estimate; see
    icon_estimate). Name kept for the established call sites."""
    return icon_estimate(coupons, lg_k)


# -- HIP estimator (streaming, never-merged) ---------------------------------

# Reference confidence machinery (cpc_confidence.hpp): analytic constants
# sqrt(ln 2 / 2) (HIP) and ln 2 (ICON) for lg_k > 14, empirically measured
# side constants (x10000) for 4 <= lg_k <= 14, kappa in {1,2,3}. The side
# tables are the reference's published measurement constants
# (cpc_confidence.hpp:36-96, Apache-2.0) — accuracy-defining numbers with
# no derivation to re-do, carried verbatim with this citation.
HIP_ERROR_CONSTANT = 0.588705011257737332  # sqrt(ln2 / 2)
ICON_ERROR_CONSTANT = 0.693147180559945286  # ln 2
_HIP_LOW_SIDE = [  # indexed [lg_k - 4][kappa - 1]; used for the UPPER bound
    (5871, 5247, 4826), (5877, 5403, 5070), (5873, 5533, 5304),
    (5878, 5632, 5464), (5874, 5690, 5564), (5880, 5745, 5619),
    (5875, 5784, 5701), (5866, 5789, 5742), (5869, 5827, 5784),
    (5876, 5860, 5827), (5881, 5853, 5842),
]
_HIP_HIGH_SIDE = [  # used for the LOWER bound (est / (1 + kappa*rel))
    (5855, 6688, 7391), (5886, 6444, 6923), (5885, 6254, 6594),
    (5889, 6134, 6326), (5900, 6072, 6203), (5875, 6005, 6089),
    (5871, 5980, 6040), (5889, 5941, 6015), (5871, 5926, 5973),
    (5866, 5901, 5915), (5880, 5914, 5953),
]


def _hip_rel(lg_k: int, kappa: int, side) -> float:
    x = HIP_ERROR_CONSTANT
    if 4 <= lg_k <= 14:
        x = side[lg_k - 4][kappa - 1] / 10000.0
    return x / float(np.sqrt(1 << lg_k))


# ICON (merged-sketch) kappa side constants, cpc_confidence.hpp:36-63 —
# same published-measurement provenance as the HIP tables above.
_ICON_LOW_SIDE = [
    (6037, 5720, 5328), (6411, 6262, 5682), (6724, 6403, 6127),
    (6665, 6411, 6208), (6959, 6525, 6427), (6892, 6665, 6619),
    (6792, 6752, 6690), (6899, 6818, 6708), (6871, 6845, 6812),
    (6909, 6861, 6828), (6919, 6897, 6842),
]
_ICON_HIGH_SIDE = [
    (8031, 8559, 9309), (7084, 7959, 8660), (7141, 7514, 7876),
    (7458, 7430, 7572), (6892, 7141, 7497), (6889, 7132, 7290),
    (7075, 7118, 7185), (7040, 7047, 7085), (6993, 7019, 7053),
    (6953, 7001, 6983), (6944, 6966, 7004),
]


def _icon_rel(lg_k: int, kappa: int, side) -> float:
    x = ICON_ERROR_CONSTANT
    if 4 <= lg_k <= 14:
        x = side[lg_k - 4][kappa - 1] / 10000.0
    return x / float(np.sqrt(1 << lg_k))


def icon_bounds(coupons: int, lg_k: int, kappa: int = 2) -> tuple[float, float]:
    """Merged-sketch confidence interval, exactly the reference's
    get_icon_confidence_lb/ub (cpc_confidence.hpp:98-131): eps =
    kappa · x/√K with the empirical side constants at lg_k ≤ 14 and ln 2
    above; lower bound floored at the coupon count, upper bound ceil'd
    for coverage."""
    if coupons == 0:
        return 0.0, 0.0
    if not 1 <= kappa <= 3:
        raise ValueError("kappa must be between 1 and 3")
    est = icon_estimate(coupons, lg_k)
    lb = est / (1.0 + kappa * _icon_rel(lg_k, kappa, _ICON_HIGH_SIDE))
    lb = max(lb, float(coupons))
    ub = math.ceil(est / (1.0 - kappa * _icon_rel(lg_k, kappa, _ICON_LOW_SIDE)))
    return lb, float(ub)


class CpcState:
    """Streaming CPC coupon matrix with the reference's HIP accumulator.

    Mirrors cpc_sketch's scalars and update law (cpc_sketch_impl.hpp:266-271
    update_hip: on each NOVEL coupon, hip += k/kxp BEFORE kxp -= 2^-(col+1);
    get_estimate :75-78 — HIP unless was_merged, then ICON). Confidence
    bounds follow cpc_confidence.hpp get_hip_confidence_lb/ub: kappa ∈
    {1,2,3}, empirical side constants for lg_k ≤ 14, sqrt(ln2/2)/√K above,
    lower bound floored at the coupon count."""

    __slots__ = ("lg_k", "mat", "kxp", "hip", "merged", "num_coupons")

    def __init__(self, lg_k: int = 11):
        self.lg_k = lg_k
        self.mat = np.zeros(1 << lg_k, np.uint64)
        self.kxp = float(1 << lg_k)
        self.hip = 0.0
        self.merged = False
        self.num_coupons = 0

    def update_hashes(self, hashes: np.ndarray) -> None:
        """Sequential HIP update over 63-bit hashes in stream order. The
        vectorized pre-filter keeps only coupons absent from the matrix at
        batch start (bits only turn on), so the Python loop touches
        O(K log(n/K)) novel candidates, not n rows."""
        k = 1 << self.lg_k
        rows, cols = _coupons(np.asarray(hashes, np.uint64), self.lg_k)
        bits = np.uint64(1) << cols.astype(np.uint64)
        mat = self.mat
        for i in np.flatnonzero((mat[rows] & bits) == 0):
            r, b = rows[i], bits[i]
            if mat[r] & b:  # an earlier event in this batch set it
                continue
            if not self.merged:
                self.hip += k / self.kxp
                self.kxp -= 2.0 ** -(int(cols[i]) + 1)
            mat[r] |= b
            self.num_coupons += 1

    def merge_matrix(self, other: np.ndarray) -> None:
        """Bitwise-OR union; HIP is forfeited (reference was_merged rule)."""
        other = np.asarray(other, np.uint64)
        if other.shape != self.mat.shape:
            raise ValueError("merge requires equal lg_k (fold first)")
        self.mat |= other
        self.num_coupons = _coupon_count(self.mat)
        self.merged = True

    def get_estimate(self) -> float:
        if not self.merged:
            return self.hip
        return invert_coupons(_coupon_count(self.mat), self.lg_k)

    def get_bounds(self, kappa: int = 2) -> tuple[float, float]:
        if not 1 <= kappa <= 3:
            raise ValueError("kappa must be 1..3 (reference contract)")
        est = self.get_estimate()
        if self.num_coupons == 0:
            return 0.0, 0.0
        if self.merged:
            return icon_bounds(self.num_coupons, self.lg_k, kappa)
        lo = est / (1.0 + kappa * _hip_rel(self.lg_k, kappa, _HIP_HIGH_SIDE))
        hi = est / (1.0 - kappa * _hip_rel(self.lg_k, kappa, _HIP_LOW_SIDE))
        return max(lo, float(self.num_coupons)), float(np.ceil(hi))


def cpc_sketch_agg(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    lg_k: int = 11,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """groupBy(group_cols).cpc_sketch(item) → one row per group:
    (group..., lg_k int, coupons array<long> of length K). Two-stage:
    map-side coupon fold (partial), OR-merge final — the shuffle carries
    K-word rows, never raw items."""
    k = 1 << lg_k
    item_dtype = dict(df.dtypes)[item_col]
    group_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name in group_cols
    )
    prefix = f"{group_fields}, " if group_fields else ""
    schema = f"{prefix}lg_k int, coupons array<long>"

    partials = fold_partials(
        df.where(notna(df, item_col)), group_cols, [item_col],
        lambda s: (_hash_items(s, item_dtype, seed),), lambda: np.zeros(k, np.uint64),
        lambda mat, h: _fold_matrix(mat, h, lg_k),
        lambda mat: [{"lg_k": lg_k, "coupons": mat.view(np.int64)}], schema,
    )
    return _merge_sketches(partials, group_cols, schema)


def _merge_sketches(partials: DataFrame, group_cols: list[str], schema: str) -> DataFrame:
    def final(rows: list[dict]) -> list[dict]:
        # mixed lg_k (reference cpc_union reduce-k semantics): fold larger
        # matrices down to the group's smallest k before the OR merge
        lg_k = min(r["lg_k"] for r in rows)
        mat = np.zeros(1 << lg_k, dtype=np.uint64)
        for r in rows:
            m = np.asarray(r["coupons"], dtype=np.int64).view(np.uint64)
            if r["lg_k"] != lg_k:
                m = fold_matrix_k(m, r["lg_k"] - lg_k)
            mat |= m
        return [{"lg_k": lg_k, "coupons": mat.view(np.int64)}]

    return merge_groups(partials, group_cols, final, schema)


def cpc_union_agg(sketch_df: DataFrame, group_cols: list[str]) -> DataFrame:
    """Union CPC sketch rows per group — bitwise-OR merge, the analog of
    cpc_union::update (cpc_union.hpp:39-86).  Mixed lg_k unions fold the
    larger matrices to the group's smallest k first (`fold_matrix_k`, the
    reference's reduce-k path), losslessly vs a direct build there."""
    fields = dict(zip(sketch_df.schema.names, sketch_df.schema.fields))
    group_fields = ", ".join(
        f"`{n}` {fields[n].dataType.simpleString()}" for n in group_cols
    )
    prefix = f"{group_fields}, " if group_fields else ""
    return _merge_sketches(
        sketch_df, group_cols, f"{prefix}lg_k int, coupons array<long>"
    )


def with_estimate(
    sketch_df: DataFrame, num_std_devs: int = 2, out_col: str = "estimate"
) -> DataFrame:
    """(lg_k, coupons) rows → + (estimate double, lower_bound, upper_bound).

    The inversion is a 64-term scalar computation per GROUP row (there is
    one sketch row per group after the merge), so a per-row pass over the
    handful of result rows is the right altitude — the data-sized work
    already happened in the two-stage agg."""

    def est(lg_ks: pd.Series, coupons: pd.Series) -> list[np.ndarray]:
        n = len(lg_ks)
        e = np.empty(n, np.float64)
        lo = np.empty(n, np.float64)
        hi = np.empty(n, np.float64)
        for i in range(n):
            mat = np.asarray(coupons.iloc[i], dtype=np.int64).view(np.uint64)
            c = _coupon_count(mat)
            lg = int(lg_ks.iloc[i])
            e[i] = icon_estimate(c, lg)
            lo[i], hi[i] = icon_bounds(c, lg, num_std_devs)
        return [e, lo, hi]

    out = [StructField(c, DoubleType(), True) for c in (out_col, "lower_bound", "upper_bound")]
    return map_rows(sketch_df, ["lg_k", "coupons"], est, out)


def cpc_stream_agg(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    lg_k: int = 11,
    seed: int = DEFAULT_SEED,
    kappa: int = 2,
) -> DataFrame:
    """groupBy(group_cols).cpc over a SINGLE canonical stream per group —
    the reference's never-merged HIP case (get_estimate dispatches to the
    HIP accumulator, cpc_sketch_impl.hpp:75-78), with the tighter
    ~0.59/√K envelope (cpc_confidence.hpp get_hip_confidence_lb/ub).

    Same determinism discipline as hll_stream_agg: HIP depends on stream
    order, so items are processed in the order of an independent 63-bit
    hash (seed xor'd), making the result partition-layout-invariant.

    Scale shape: ONE shuffle of raw (group, item) rows — the fidelity
    lane. At 100 TB use cpc_sketch_agg (sketch-carrying shuffle, merged →
    ICON estimate, exactly the reference's post-union rule).
    """
    import pyspark.sql.types as T

    item_dtype = dict(df.dtypes)[item_col]
    group_fields = [f for f in df.schema.fields if f.name in group_cols]
    out_schema = T.StructType(
        list(group_fields)
        + [
            T.StructField("estimate", T.DoubleType(), False),
            T.StructField("lower_bound", T.DoubleType(), False),
            T.StructField("upper_bound", T.DoubleType(), False),
        ]
    )
    order_seed = seed ^ 0x9E3779B97F4A7C15

    def final(rows: list[dict]) -> list[dict]:
        items = [r[item_col] for r in rows]
        hashes = _hash_items(items, item_dtype, seed)
        order_h = _hash_items(items, item_dtype, order_seed)
        st = CpcState(lg_k)
        st.update_hashes(hashes[np.argsort(order_h, kind="stable")])
        lb, ub = st.get_bounds(kappa)
        return [{"estimate": st.get_estimate(), "lower_bound": lb, "upper_bound": ub}]

    # null items leave in Spark: the final hashes every item it gets
    sel = df.where(notna(df, item_col)).select(group_cols + [item_col])
    return merge_groups(sel, group_cols, final, out_schema)
