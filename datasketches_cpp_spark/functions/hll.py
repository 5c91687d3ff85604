"""HLL distinct counting — two paths with the reference's error-envelope
bookkeeping:

1. `hll_distinct_agg` — Spark's builtin HLL++ (`approx_count_distinct`):
   native partial/final merge inside whole-stage codegen, the production
   fast path. What the reference adds that Spark does not expose is the
   error envelope; we mirror it here:

     - relative standard error ≈ 1.04/√(2^lg_k) for merged/composite
       estimates (HllUtil.hpp:85-86 COUPON_RSE_FACTOR/
       HLL_NON_HIP_RSE_FACTOR = 1.03896) — Spark's `rsd` parameter is
       exactly this quantity;
     - bounds at n standard deviations: est / (1 ± n·rse)
       (HllArray-internal.hpp:344-358).

2. `hll_sketch_agg` — a from-scratch HLL-8 register sketch (reference
   semantics: hll/include/hll.hpp:237-304 update, HllArray max-register
   merge, composite estimator with linear-counting low-range correction;
   re-derived from the published HLL algorithm, not copied) as an explicit
   two-stage numpy aggregate like theta: the shared per-partition fold
   (`_twostage.fold_partials`) builds K uint8 registers per group
   (`np.maximum.at`), the shuffle carries one K-byte binary per
   (partition, group), and the shared final stage
   (`_twostage.merge_groups`) max-merges registers — the sketch's
   true associative merge law, which also makes cross-table HLL UNION
   (`hll_merge_sketches`) a plain elementwise max, something the builtin
   wrapper cannot express.

Registers use the murmur3-based 63-bit hash discipline shared by every
sketch in this engine (hashing.py): slot = low lg_k bits, rho = leading
zeros of the remaining 63−lg_k bits + 1.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    StructField,
    StructType,
)

from ..hashing import DEFAULT_SEED, hash63_int64, hash63_str_many
from ._twostage import fold_partials, merge_groups

HLL_NON_HIP_RSE_FACTOR = 1.03896  # sqrt(3·ln2 − 1), HllUtil.hpp:86
HLL_HIP_RSE_FACTOR = 0.8325546  # sqrt(ln 2), HllUtil.hpp:85


def rse(lg_k: int) -> float:
    return HLL_NON_HIP_RSE_FACTOR / math.sqrt(float(1 << lg_k))


# Reference RelativeErrorTables (RelativeErrorTables-internal.hpp:28-82):
# empirically measured relative errors for lg_k 4..12 at 1/2/3 standard
# deviations — the values HllUtil::getRelErr dispatches to below the
# analytic regime (HllUtil.hpp:163-174). Published Apache-2.0 measurement
# constants carried verbatim with this citation (same adjudicated pattern
# as the CPC confidence side constants).
_REL_ERR_TABLES = {
    # (oooFlag, upperBound) -> 9 rows of (sd1, sd2, sd3), lg_k 4..12
    (False, False): (  # HIP, LB
        (0.207316195, 0.502865572, 0.882303765),
        (0.146981579, 0.335426881, 0.557052),
        (0.104026721, 0.227683872, 0.365888317),
        (0.073614601, 0.156781585, 0.245740374),
        (0.05205248, 0.108783763, 0.168030442),
        (0.036770852, 0.075727545, 0.11593785),
        (0.025990219, 0.053145536, 0.080772263),
        (0.018373987, 0.037266176, 0.056271814),
        (0.012936253, 0.02613829, 0.039387631),
    ),
    (False, True): (  # HIP, UB
        (-0.207805347, -0.355574279, -0.475535095),
        (-0.146988328, -0.262390832, -0.360864026),
        (-0.103877775, -0.191503663, -0.269311582),
        (-0.073452978, -0.138513438, -0.198487447),
        (-0.051982806, -0.099703123, -0.144128618),
        (-0.036768609, -0.07138158, -0.104430324),
        (-0.025991325, -0.050854296, -0.0748143),
        (-0.01834533, -0.036121138, -0.05327616),
        (-0.012920332, -0.025572893, -0.037896952),
    ),
    (True, False): (  # NON_HIP, LB
        (0.254409839, 0.682266712, 1.304022158),
        (0.181817353, 0.443389054, 0.778776219),
        (0.129432281, 0.295782195, 0.49252279),
        (0.091640655, 0.201175925, 0.323664385),
        (0.064858051, 0.138523393, 0.218805328),
        (0.045851855, 0.095925072, 0.148635751),
        (0.032454144, 0.067009668, 0.102660669),
        (0.022921382, 0.046868565, 0.071307398),
        (0.016155679, 0.032825719, 0.049677541),
    ),
    (True, True): (  # NON_HIP, UB
        (-0.256980172, -0.411905944, -0.52651057),
        (-0.182332109, -0.310275547, -0.412660505),
        (-0.129314228, -0.230142294, -0.315636197),
        (-0.091584836, -0.16834013, -0.236346847),
        (-0.06487411, -0.122045231, -0.174112107),
        (-0.04591465, -0.08784505, -0.126917615),
        (-0.032433119, -0.062897613, -0.091862929),
        (-0.022960633, -0.044875401, -0.065736049),
        (-0.016186662, -0.031827816, -0.046973459),
    ),
}


def get_rel_err(
    upper_bound: bool, unioned: bool, lg_k: int, num_std_devs: int
) -> float:
    """HllUtil::getRelErr (HllUtil.hpp:163-174): signed relative error at
    n standard deviations — analytic factor/sqrt(K) above lg_k 12,
    table-driven (empirical) at lg_k 4..12. Bounds consume it as
    est / (1 + relErr); the UB entries are negative."""
    if not 1 <= num_std_devs <= 3:
        raise ValueError("num_std_devs must be 1..3 (reference checkNumStdDev)")
    if lg_k > 12:
        factor = HLL_NON_HIP_RSE_FACTOR if unioned else HLL_HIP_RSE_FACTOR
        return (-1.0 if upper_bound else 1.0) * (
            num_std_devs * factor / math.sqrt(float(1 << lg_k))
        )
    return _REL_ERR_TABLES[(unioned, upper_bound)][lg_k - 4][num_std_devs - 1]


def hll_distinct_agg(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    lg_k: int = 12,
    num_std_devs: int = 2,
) -> DataFrame:
    """groupBy(group_cols).approx_count_distinct(item) with reference-style
    (estimate, lower_bound, upper_bound) columns. Entirely JVM-side."""
    r = rse(lg_k)
    agg = F.approx_count_distinct(item_col, rsd=r).alias("estimate")
    out = df.groupBy(*group_cols).agg(agg) if group_cols else df.agg(agg)
    z = num_std_devs * r
    return (
        out.withColumn(
            "lower_bound", (F.col("estimate") / (1.0 + F.lit(z))).cast("double")
        ).withColumn(
            # reference bound is est / (1 - n*rse) (HllArray-internal.hpp
            # est/(1±n·rse)); est*(1+z) would be tighter than guaranteed and
            # under-cover the true cardinality.
            "upper_bound", (F.col("estimate") / (1.0 - F.lit(z))).cast("double")
        )
    )


# ---------------------------------------------------------------------------
# from-scratch HLL-8 register sketch (numpy two-stage aggregate)
# ---------------------------------------------------------------------------


def _bit_length_u64(x: np.ndarray) -> np.ndarray:
    """Vectorized bit_length for uint64 (exact — no float log2, which loses
    precision past 2^53 and would make rho off-by-one near powers of two)."""
    x = x.copy()
    r = np.zeros(x.shape, np.int64)
    for s in (32, 16, 8, 4, 2, 1):
        sh = np.uint64(s)
        m = x >= (np.uint64(1) << sh)
        r[m] += s
        x[m] >>= sh
    r += (x != 0).astype(np.int64)
    return r


def _rho(hashes: np.ndarray, lg_k: int) -> np.ndarray:
    """rho = #leading zeros of the top (63 - lg_k) hash bits, + 1.
    hashes are the engine's 63-bit murmur values (hashing.hash63_*)."""
    w = hashes.astype(np.uint64) >> np.uint64(lg_k)
    width = 63 - lg_k
    return (width - _bit_length_u64(w) + 1).astype(np.uint8)


def fold_registers(regs: np.ndarray, levels: int = 1) -> np.ndarray:
    """Downsample a K-register array to K/2^levels — the engine analog of
    the reference union's configured-lg-k fold (hll_union downsampling,
    HllUnion-internal.hpp union_impl / HllArray downsample), which lets
    sketches built at different lg_k merge.

    EXACT, not lossy-beyond-the-smaller-sketch: slot = low lg_k hash bits
    and rho = leading zeros of bits [lg_k, 63) + 1, so halving k appends
    the removed slot bit at the BOTTOM of the rho window.  That leaves
    every unsaturated rho unchanged; only a saturated register
    (rho = 64 - lg_k, window all zeros) feels the new bit — it stays
    saturated in the upper half (bit = 1) and grows by one in the lower
    (bit = 0).  Hence fold(state@lg_k) == state@(lg_k - levels) built
    from the same update stream, register for register."""
    regs = np.asarray(regs, np.uint8)
    for _ in range(levels):
        if regs.shape[0] <= 16:
            raise ValueError("cannot fold below lg_k = 4")
        k2 = regs.shape[0] // 2
        lg_k = k2.bit_length()  # source lg_k = log2(2*k2)
        sat = np.uint8(64 - lg_k)
        lo, hi = regs[:k2], regs[k2:]
        regs = np.maximum(np.where(lo == sat, lo + 1, lo).astype(np.uint8), hi)
    return regs


def _alpha(k: int) -> float:
    if k == 16:
        return 0.673
    if k == 32:
        return 0.697
    if k == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / k)


# ---------------------------------------------------------------------------
# Composite (non-HIP) estimator — full reference parity.
#
# The reference corrects the raw harmonic-mean estimate by cubic
# interpolation over empirically measured X tables (one 257-knot row per
# lg_k in 4..21, uniform Y stride per row;
# CompositeInterpolationXTable-internal.hpp), then blends with a
# harmonic-number linear-counting estimate at a measured crossover
# (HllArray-internal.hpp:367-409 getCompositeEstimate). The tables define
# the estimator and cannot be re-derived; they ship as _hll_tables.npz,
# extracted from the public Apache-2.0 header by scripts/gen_hll_tables.py
# (same adjudication as the CPC compression tables).

_TBL_MIN_LG_K, _TBL_MAX_LG_K = 4, 21
_hll_tables_cache: dict[str, np.ndarray] | None = None


def _hll_tables() -> dict[str, np.ndarray]:
    global _hll_tables_cache
    if _hll_tables_cache is None:
        import os

        with np.load(
            os.path.join(os.path.dirname(__file__), "_hll_tables.npz")
        ) as z:
            _hll_tables_cache = {k: z[k] for k in z.files}
    return _hll_tables_cache


# H(0)..H(24) exactly, then the Euler–Maclaurin expansion with the same
# term count as the reference (HarmonicNumbers-internal.hpp:30-87)
_EXACT_HARMONIC = [sum(1.0 / i for i in range(1, n + 1)) for n in range(25)]
_EULER_MASCHERONI = 0.577215664901532860606512090082


def _harmonic_number(x_i: int) -> float:
    if x_i < 25:
        return _EXACT_HARMONIC[x_i]
    x = float(x_i)
    inv_sq = 1.0 / (x * x)
    s = math.log(x) + _EULER_MASCHERONI + 1.0 / (2.0 * x)
    p = inv_sq
    s -= p / 12.0
    p *= inv_sq
    s += p / 120.0
    p *= inv_sq
    s -= p / 252.0
    p *= inv_sq
    s += p / 240.0
    return s


def _bitmap_estimate(k: int, num_hit: int) -> float:
    """Linear counting via harmonic numbers (HarmonicNumbers:30-32):
    k·(H(k) − H(k − numHit))."""
    return k * (_harmonic_number(k) - _harmonic_number(k - num_hit))


def _cubic_interpolate(xs: np.ndarray, ys: np.ndarray, x: float) -> float:
    """4-point Lagrange cubic (CubicInterpolation-internal.hpp:126-143)."""
    total = 0.0
    for i in range(4):
        numer, denom = 1.0, 1.0
        for j in range(4):
            if j != i:
                numer *= x - xs[j]
                denom *= xs[i] - xs[j]
        total += ys[i] * numer / denom
    return total


def _interp_x_arr_y_stride(x_arr: np.ndarray, y_stride: float, x: float) -> float:
    """CubicInterpolation::usingXArrAndYStride (internal.hpp:188-216):
    binary-search the straddle knot, shift the 4-point window off the
    table edges, Lagrange-interpolate against y = stride·index."""
    n = x_arr.shape[0]
    if x == x_arr[n - 1]:
        return y_stride * (n - 1)
    # straddle: j with x_arr[j] <= x < x_arr[j+1]
    offset = int(np.searchsorted(x_arr, x, side="right")) - 1
    if offset == 0:
        base = offset
    elif offset == n - 2:
        base = offset - 2
    else:
        base = offset - 1
    xs = x_arr[base : base + 4]
    ys = y_stride * np.arange(base, base + 4, dtype=np.float64)
    return _cubic_interpolate(xs, ys, x)


COUPON_RSE = 0.409 / (1 << 13)  # HllUtil.hpp:87-88 (transition-point RSE)


def coupon_estimate(coupon_count: int) -> float:
    """Coupon (LIST/SET) mode estimator: cubic interpolation over the
    precomputed coupon mapping (CubicInterpolation::usingXAndYTables,
    internal.hpp:77-104), floored at the exact coupon count
    (CouponList-internal.hpp:310-313)."""
    t = _hll_tables()
    xs, ys = t["coupon_x"], t["coupon_y"]
    n = xs.shape[0]
    x = float(coupon_count)
    if x == xs[n - 1]:
        return float(ys[n - 1])
    offset = int(np.searchsorted(xs, x, side="right")) - 1
    if offset == 0:
        base = offset
    elif offset == n - 2:
        base = offset - 2
    else:
        base = offset - 1
    est = _cubic_interpolate(xs[base : base + 4], ys[base : base + 4], x)
    return max(est, x)


def coupon_bounds(coupon_count: int, num_std_devs: int = 2) -> tuple[float, float]:
    """CouponList getLowerBound/getUpperBound (internal.hpp:315-328):
    est/(1 ± n·COUPON_RSE), both floored at the exact coupon count."""
    est = coupon_estimate(coupon_count)
    lb = max(est / (1.0 + num_std_devs * COUPON_RSE), float(coupon_count))
    ub = max(est / (1.0 - num_std_devs * COUPON_RSE), float(coupon_count))
    return lb, ub


def _composite_estimate(regs: np.ndarray) -> float:
    """Reference composite estimator (HllArray-internal.hpp:367-409):
    raw harmonic-mean estimate → table-driven cubic bias correction →
    harmonic-number linear counting below the measured crossover (0.64·K;
    0.718/0.672 at lg_k 4/5), averaging the two estimators at the
    threshold comparison exactly as the reference does."""
    k = regs.shape[0]
    lg_k = int(k).bit_length() - 1
    raw = _alpha(k) * k * k / np.sum(np.exp2(-regs.astype(np.float64)))
    t = _hll_tables()
    row = lg_k - _TBL_MIN_LG_K
    if not (_TBL_MIN_LG_K <= lg_k <= _TBL_MAX_LG_K):
        raise ValueError(f"lg_k {lg_k} outside reference range [4, 21]")
    x_arr = t["x_arr"][row]
    y_stride = float(t["y_stride"][row])
    n_knots = x_arr.shape[0]
    if raw < x_arr[0]:
        return 0.0
    if raw > x_arr[n_knots - 1]:
        final_y = y_stride * (n_knots - 1)
        return raw * (final_y / x_arr[n_knots - 1])
    adj = _interp_x_arr_y_stride(x_arr, y_stride, raw)
    # skip linear counting entirely when it could be wild (> 3K rule)
    if adj > float(3 << lg_k):
        return adj
    zeros = int(np.count_nonzero(regs == 0))
    if zeros == 0:
        lin = k * math.log(k / 0.5)
    else:
        lin = _bitmap_estimate(k, k - zeros)
    avg = (adj + lin) / 2.0
    cross_over = 0.718 if lg_k == 4 else (0.672 if lg_k == 5 else 0.64)
    return adj if avg > cross_over * k else lin


class HllState:
    """Streaming HLL-8 state with the reference's HIP accumulator.

    Mirrors HllArray's scalars and update law (HllArray-internal.hpp:
    hipAndKxQIncrementalUpdate, :545-553 — hip BEFORE kxq, kxq split at
    register value 32; getEstimate :322-327 — HIP unless out-of-order).
    A stream-built (never-merged) state reports the HIP estimate with
    RSE 0.8325546/√K (HllUtil.hpp:85); any merge sets the out-of-order
    flag and the estimate falls back to the composite path with the
    1.03896/√K envelope, exactly the reference's union rule.
    """

    __slots__ = ("lg_k", "regs", "kxq0", "kxq1", "hip", "ooo")

    def __init__(self, lg_k: int = 12):
        if not 4 <= lg_k <= 21:
            # same range the serde enforces; without it, the relErr
            # tables would WRAP (lg_k=3 -> row -1 == the lg_k=12 row),
            # a silent ~20x-too-tight bound
            raise ValueError(f"lg_k must be in [4, 21], got {lg_k}")
        self.lg_k = lg_k
        self.regs = np.zeros(1 << lg_k, np.uint8)
        self.kxq0 = float(1 << lg_k)
        self.kxq1 = 0.0
        self.hip = 0.0
        self.ooo = False

    def update_hashes(self, hashes: np.ndarray) -> None:
        """Sequential HIP update over 63-bit item hashes in stream order.

        Vectorized pre-filter: registers only grow, so any hash whose rho
        does not exceed its register AT BATCH START can never change state
        and is dropped wholesale — the Python loop touches only potential
        raisers, which number O(K·log(n/K)) over the whole stream, not n.
        """
        k = 1 << self.lg_k
        h = np.asarray(hashes, np.uint64)
        slots = (h & np.uint64(k - 1)).astype(np.int64)
        rhos = _rho(h, self.lg_k)
        regs = self.regs
        for i in np.flatnonzero(rhos > regs[slots]):
            s = slots[i]
            new, old = int(rhos[i]), int(regs[s])
            if new <= old:  # an earlier event in this batch already raised it
                continue
            # hip BEFORE kxq (reference order) — the increment is 1/p where
            # p = (kxq0+kxq1)/k is the current probability a fresh distinct
            # item changes some register
            if not self.ooo:
                self.hip += k / (self.kxq0 + self.kxq1)
            if old < 32:
                self.kxq0 -= 2.0 ** -old
            else:
                self.kxq1 -= 2.0 ** -old
            if new < 32:
                self.kxq0 += 2.0 ** -new
            else:
                self.kxq1 += 2.0 ** -new
            regs[s] = new

    def merge_registers(self, other_regs: np.ndarray) -> None:
        """Register-max union; HIP is forfeited (reference out-of-order
        rule) and kxq is rebuilt from the merged registers so the raw
        (kxq-based) estimator stays consistent."""
        other_regs = np.asarray(other_regs, np.uint8)
        if other_regs.shape != self.regs.shape:
            raise ValueError("merge requires equal lg_k (fold first)")
        self.regs = np.maximum(self.regs, other_regs)
        contrib = np.exp2(-self.regs.astype(np.float64))
        self.kxq0 = float(contrib[self.regs < 32].sum())
        self.kxq1 = float(contrib[self.regs >= 32].sum())
        self.ooo = True

    def get_estimate(self) -> float:
        return self.hip if not self.ooo else _composite_estimate(self.regs)

    def get_bounds(self, num_std_devs: int = 2) -> tuple[float, float]:
        """est/(1 + relErr) with the reference's full getRelErr dispatch
        (HIP vs non-HIP by the out-of-order flag; empirical tables at
        lg_k ≤ 12, analytic factors above); lower bound floored at the
        count of non-zero registers (getLowerBound numNonZeros floor)."""
        est = self.get_estimate()
        nonzeros = float(np.count_nonzero(self.regs))
        lb = est / (1.0 + get_rel_err(False, self.ooo, self.lg_k, num_std_devs))
        ub = est / (1.0 + get_rel_err(True, self.ooo, self.lg_k, num_std_devs))
        return max(lb, nonzeros), ub


def hll_stream_agg(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    lg_k: int = 12,
    seed: int = DEFAULT_SEED,
    num_std_devs: int = 2,
) -> DataFrame:
    """groupBy(group_cols).hll over a SINGLE canonical stream per group —
    the reference's never-merged HIP case (HllSketchTest.cpp streaming
    sections): each group's rows are shuffled to one task and updated
    sequentially, so the HIP accumulator is valid and the estimate gets
    the tighter 0.8325546/√K envelope.

    Determinism: HIP depends on stream order, so the stream is fixed to a
    canonical order — items sorted by an INDEPENDENT 63-bit hash (seed
    xor'd), decorrelated from the slot/rho bits the sketch consumes. Any
    fixed order of the multiset is a valid stream; pinning one makes the
    result partition-layout-invariant like every other engine operator.

    Scale shape: ONE shuffle of (group, item) raw rows — heavier than
    hll_sketch_agg's sketch-carrying shuffle. This is the fidelity lane
    for moderate per-group cardinality; at 100 TB use hll_sketch_agg
    (merged → composite estimate, exactly like the reference post-union).
    """
    from .theta import _hash_values, _hashable_rows

    item_dtype = dict(df.dtypes)[item_col]
    group_fields = [f for f in df.schema.fields if f.name in group_cols]
    out_schema = StructType(
        list(group_fields)
        + [
            StructField("estimate", DoubleType(), False),
            StructField("lower_bound", DoubleType(), False),
            StructField("upper_bound", DoubleType(), False),
        ]
    )
    order_seed = seed ^ 0x9E3779B97F4A7C15

    def final(rows: list[dict]) -> list[dict]:
        items = [r[item_col] for r in rows]
        hashes = _hash_values(items, item_dtype, seed)
        order_h = _hash_values(items, item_dtype, order_seed)
        st = HllState(lg_k)
        st.update_hashes(hashes[np.argsort(order_h, kind="stable")])
        lb, ub = st.get_bounds(num_std_devs)
        return [{"estimate": st.get_estimate(), "lower_bound": lb, "upper_bound": ub}]

    # unhashable items leave in Spark: the final hashes every item it gets
    sel = _hashable_rows(df, item_col).select(group_cols + [item_col])
    return merge_groups(sel, group_cols, final, out_schema)


def _hll_schema(group_fields) -> StructType:
    return StructType(list(group_fields) + [StructField("regs", BinaryType(), False)])


def hll_sketch_agg(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    lg_k: int = 12,
    seed: int = DEFAULT_SEED,
    num_std_devs: int = 2,
    keep_registers: bool = False,
) -> DataFrame:
    """groupBy(group_cols).hll_sketch(item_col): explicit two-stage HLL-8.

    Partial stage (`_twostage.fold_partials`, one pass per input
    partition): vectorized slot/rho extraction + `np.maximum.at` into K
    uint8 registers per group;
    emits ONE K-byte row per (partition, group) — the shuffle carries
    sketches, never raw rows. Final stage (`_twostage.merge_groups` after
    the shuffle on the group columns): elementwise register max (the HLL
    merge law, reference HllArray), then composite estimate +
    est/(1±n·rse) bounds.
    Empty input partitions yield nothing (round-1 Arrow-crash discipline,
    tests/test_empty_partitions.py)."""
    from .theta import _hash_series, _hashable_rows  # shared item-hash discipline

    k = 1 << lg_k
    mask_k = np.uint64(k - 1)
    item_dtype = dict(df.dtypes)[item_col]
    group_fields = [f for f in df.schema.fields if f.name in group_cols]
    part_schema = _hll_schema(group_fields)

    def slots_and_rhos(items: pd.Series) -> tuple[np.ndarray, np.ndarray]:
        hashes, _ = _hash_series(items, item_dtype, seed)
        return (hashes.astype(np.uint64) & mask_k).astype(np.int64), _rho(hashes, lg_k)

    partials = fold_partials(
        _hashable_rows(df, item_col), group_cols, [item_col], slots_and_rhos,
        lambda: np.zeros(k, np.uint8), np.maximum.at, lambda regs: [{"regs": regs.tobytes()}],
        part_schema,
    )
    return finalize_hll_sketches(
        partials, group_cols, group_fields, num_std_devs, keep_registers
    )


def finalize_hll_sketches(
    partials: DataFrame,
    group_cols: list[str],
    group_fields,
    num_std_devs: int = 2,
    keep_registers: bool = False,
) -> DataFrame:
    """Merge partial register rows (max) and read estimate + bounds.
    ``keep_registers`` also emits the merged K-byte register state (the
    input to hllserde.with_hll_bytes for cross-engine export)."""
    extra = [StructField("regs", BinaryType(), False)] if keep_registers else []
    out_schema = StructType(
        list(group_fields)
        + [
            StructField("estimate", DoubleType(), False),
            StructField("lower_bound", DoubleType(), False),
            StructField("upper_bound", DoubleType(), False),
        ]
        + extra
    )

    def final(rows: list[dict]) -> list[dict]:
        arrs = [np.frombuffer(r["regs"], np.uint8) for r in rows]
        k_min = min(a.shape[0] for a in arrs)
        # mixed lg_k (reference hll_union semantics): fold larger states
        # down to the group's smallest k before the register-max merge
        arrs = [
            a if a.shape[0] == k_min
            else fold_registers(a, (a.shape[0] // k_min).bit_length() - 1)
            for a in arrs
        ]
        regs = np.stack(arrs).max(axis=0)
        k = regs.shape[0]
        est = _composite_estimate(regs)
        # distributed two-stage agg == merged sketch: non-HIP (unioned)
        # relErr, table-driven at lg_k <= 12 like the reference
        lg_k_merged = int(k).bit_length() - 1
        # numNonZeros floor (reference HllArray getLowerBound): at least
        # as many distincts as provably-occupied registers — the relErr
        # quotient alone dips below that for tiny groups
        nnz = float(np.count_nonzero(regs))
        row = {
            "estimate": est,
            "lower_bound": max(
                est / (1.0 + get_rel_err(False, True, lg_k_merged, num_std_devs)), nnz
            ),
            "upper_bound": est / (1.0 + get_rel_err(True, True, lg_k_merged, num_std_devs)),
        }
        if keep_registers:
            row["regs"] = regs.tobytes()
        return [row]

    return merge_groups(partials, group_cols, final, out_schema)


def hll_merge_sketches(
    a: DataFrame, b: DataFrame, group_cols: list[str], num_std_devs: int = 2
) -> DataFrame:
    """HLL UNION across two sketch tables (reference hll_union semantics):
    register-wise max of the K-byte states — associative, idempotent, and
    expressible only because `hll_sketch_agg` carries real registers.
    Tables built at DIFFERENT lg_k merge too: larger states fold down to
    the smaller k first (`fold_registers` — the reference union's
    downsampling), losslessly vs a direct build at the smaller k."""
    both = a.select(group_cols + ["regs"]).unionByName(b.select(group_cols + ["regs"]))
    group_fields = [f for f in both.schema.fields if f.name in group_cols]
    return finalize_hll_sketches(both, group_cols, group_fields, num_std_devs)
